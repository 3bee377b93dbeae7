"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k vs a query vector. The dot
  product / norms are ``zip_with``/``aggregate`` Column expressions —
  JVM-side, no Python. Top-k executes as TakeOrderedAndProject (per-
  partition heap, no global sort), so brute force is a clean linear scan
  even at 100 TB — it's the *baseline*, not the scale path.
- ``cosine_near_dup_lsh``: random-hyperplane
  (sign) LSH. Hyperplanes are deterministic ±1 vectors derived from a
  seeded RNG, embedded as literals — so the same planes are expressible
  in the DuckDB oracle. Bucket join bounds the pair fan-out; exact cosine
  verifies candidates.

  Scale contract (the bucket-join is ~Σ bucket², so bucket size must not
  grow with n): total planes grow with log₂(n) via ``recommended_planes``
  and are split into ``bands`` independent tables (MinHash-style banding)
  — a pair is a candidate if it matches ALL bits in ANY band. More bands
  recover the recall that longer codes cost, so plane count can track
  data size without collapsing recall. Index fan-out is bands× rows —
  the standard LSH space/recall trade.
- ``ivf_topk``: IVF-style two-stage search — assign every vector to its
  nearest of C deterministic centroids, probe only the query's ``nprobe``
  nearest buckets. The scale path for repeated queries.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _py_norm(vec: list[float]) -> float:
    """Driver-side replica of ``_norm`` for a LITERAL query vector:
    the same sequential left-fold of v·v in IEEE doubles followed by a
    correctly-rounded sqrt — bit-identical to evaluating the Column
    expression, so embedding it as a literal changes no value (the
    ANN-tier oracles stay hash-green), it only stops the engine from
    re-folding the query's own norm once per scanned row."""
    import math

    s = 0.0
    for v in vec:
        fv = float(v)
        s += fv * fv
    return math.sqrt(s)


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact brute-force top-k by cosine similarity to ``query_vec``.
    The query norm is a precomputed literal (``_py_norm``) — one less
    64-element fold per scanned row, value-identical."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = F.lit(_py_norm(query_vec))
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        df.select(F.col(id_col),
                  (_dot(vec_d, q) / (_norm(vec_d) * qn)).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 hyperplanes (Rademacher vectors are valid sign-LSH
    projections and stay exactly representable in both engines)."""
    rng = random.Random(seed)
    return [[float(rng.choice((-1, 1))) for _ in range(dim)] for _ in range(n_planes)]


def recommended_planes(n: int, bands: int = 4, target_bucket_rows: int = 64) -> int:
    """Plane count that keeps expected bucket occupancy ≈ constant as n
    grows: bits-per-band r = max(4, ceil(log2(n / target_bucket_rows)))
    so the per-band self-join stays ~n·target instead of n²/2^r with
    fixed r. Returns bands·r (total planes)."""
    import math

    r = max(4, math.ceil(math.log2(max(2, n) / target_bucket_rows)))
    return bands * r


def banded_lsh_buckets(df: DataFrame, planes: list[list[float]], bands: int,
                       vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """One (band, bucket) row per vector per band: planes are split into
    ``bands`` contiguous groups; bucket_j packs that band's sign bits.
    Index fan-out is bands× — computed JVM-side, exploded once."""
    r, rem = divmod(len(planes), bands)
    if rem:
        raise ValueError(f"{len(planes)} planes not divisible into {bands} bands")
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    entries = []
    for j in range(bands):
        bucket = sum(
            F.when(_dot(vec_d, F.array(*[F.lit(p) for p in plane])) > 0,
                   F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
            for i, plane in enumerate(planes[j * r:(j + 1) * r])
        )
        entries.append(F.struct(F.lit(j).alias("band"), bucket.alias("bucket")))
    return (
        df.select(F.col(id_col), F.col(vec_col), F.explode(F.array(*entries)).alias("bb"))
        .select(id_col, vec_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def cosine_near_dup_lsh(df: DataFrame, planes: list[list[float]],
                        threshold: float = 0.9, bands: int = 1,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Near-duplicate vector pairs: candidates share ALL sign bits in at
    least one band; exact cosine ≥ threshold verifies. ``bands=1`` is
    classic single-table sign-LSH; use ``recommended_planes`` + bands>1
    at scale so code length can track log₂(n) without losing recall."""
    b = banded_lsh_buckets(df, planes, bands, vec_col, id_col)
    # per-vector norm precomputed before the bucket join (bit-identical
    # cosine — same expression tree per operand, evaluated once per
    # index row instead of once per candidate pair)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bn = b.withColumn("__norm", _norm(vec_d))
    a = bn.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                  "band", "bucket", F.col("__norm").alias("__na"))
    c = bn.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                  "band", "bucket", F.col("__norm").alias("__nb"))
    va = F.transform(F.col("va"), lambda x: x.cast("double"))
    vb = F.transform(F.col("vb"), lambda x: x.cast("double"))
    cands = (
        a.join(c, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "__na", "__nb")
        .dropDuplicates(["id_a", "id_b"])  # a pair can match in several bands
    )
    return (
        cands.select("id_a", "id_b",
                     (_dot(va, vb) / (F.col("__na") * F.col("__nb")))
                     .alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def assign_centroids(df: DataFrame, centroids: DataFrame,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """THE deterministic argmax-cosine assignment rule, written once:
    broadcast crossJoin + ``max_by(centroid_id, struct(csim,
    -centroid_id))`` (map-side combinable; -id = deterministic
    min-centroid tie-break). Returns (id_col, vec_col, centroid_id).
    Shared by ivf_topk, kmeans_refine, semantic_dedup and the
    quantizers so their equivalence contracts can never drift apart on
    the assignment expression.

    Norms are precomputed per OPERAND before the crossJoin — ‖v‖ once
    per row (not once per centroid) and ‖c‖ once per centroid (not
    once per corpus row): csim = dot/(‖v‖·‖c‖) is the identical
    expression tree per operand, so every value is bit-for-bit the one
    the fused form produced (hash-gated q38/q119/q125 re-verified
    on the change), at ~3× less array work on the n·C stage.

    Optimization-round-15 note (guide §1.1's empirical loop, recorded
    so the next round doesn't retry it): a map-side literal-centroid
    argmax (centroids collected, one array_max projection, zero
    shuffles) was prototyped, proven bit-identical, and MEASURED
    SLOWER — the C·d unrolled expression blows Janino's 64 KB
    per-method limit once fused into a join stage, dropping the whole
    stage to interpreted execution (q38 1.4 s → 2.7 s; "Code grows
    beyond 64 KB" in the codegen log), and the HOF-composed variant is
    interpreted without CSE (q38 3.7 s).  The crossJoin+max_by plan
    keeps whole-stage codegen and its groupBy is map-side partial
    (AQE-coalesced singleton-group merge), so it stays the production
    form at every scale this engine gates."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cvec_d = F.transform(F.col("cvec"), lambda x: x.cast("double"))
    lhs = df.select(F.col(id_col), F.col(vec_col),
                    _norm(vec_d).alias("__vnorm"))
    rhs = centroids.select("centroid_id", "cvec",
                           _norm(cvec_d).alias("__cnorm"))
    return (
        lhs.crossJoin(F.broadcast(rhs))
        .select(id_col, vec_col, "centroid_id",
                (_dot(vec_d, cvec_d)
                 / (F.col("__vnorm") * F.col("__cnorm"))).alias("csim"))
        # id is unique; vec rides along as a functionally-dependent key
        .groupBy(id_col, vec_col)
        .agg(F.expr(
            "max_by(centroid_id, struct(csim, -centroid_id))"
        ).alias("centroid_id"))
    )


def kmeans_refine(df: DataFrame, centroids: DataFrame, iters: int = 1,
                  vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Deterministic Lloyd refinement of IVF centroids, pure DataFrame ops:

    - assignment: broadcast crossJoin + ``max_by`` argmax (map-side
      combinable, deterministic centroid_id tie-break);
    - update: posexplode to (centroid, dim) → EXACT ``DECIMAL(28,14)``
      sums (order-free, so the result doesn't depend on partitioning —
      plain double sums would make centroids run-to-run nondeterministic)
      → per-dim mean → rebuild the vector with sort_array(collect_list).

    Empty clusters drop (inner aggregation) — k may shrink, identically
    in any engine. At 100 TB: refine on a sample, assign the full data;
    each iteration here is one broadcast join + one 64× posexplode
    shuffle of the training frame.

    Recall honesty (measured, sf0.01): on clusterless embeddings IVF
    recall ≈ probed fraction regardless of centroid quality (~0.5 at
    nprobe=4/16, +0.05 from Lloyd); on clustered data Lloyd recovers the
    cluster structure and recall → 1 at nprobe=1 (see
    tests/test_dedup_similarity.py). nprobe is the quality knob.
    """
    for _ in range(iters):
        best = assign_centroids(df, centroids, vec_col, id_col)
        exp = best.select(
            "centroid_id",
            F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("pos", "val"),
        )
        means = exp.groupBy("centroid_id", "pos").agg(
            (F.sum(F.col("val").cast("decimal(28,14)")).cast("double") / F.count(F.lit(1))).alias("m")
        )
        centroids = means.groupBy("centroid_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    return centroids


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 16, nprobe: int = 4, kmeans_iters: int = 0,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF-style ANN: centroids = a deterministic hash-sample of
    ``n_centroids`` vectors (order by md5 of the id — decorrelated from
    insertion order, unlike first-N, and no k-means dependency); every
    vector is assigned to its max-cosine centroid; the query probes its
    ``nprobe`` best buckets.

    Approximate by design — recall depends on nprobe/centroid quality
    (pinned ≥0.9 by tests/test_dedup_similarity.py recall test).
    At scale: centroid selection is one TakeOrdered, the assignment is
    one broadcast join (centroids are tiny) and the probe prunes
    ~(1 - nprobe/n_centroids) of the data.
    """
    centroids = sampled_centroids(df, n_centroids, vec_col, id_col)
    if kmeans_iters:
        centroids = kmeans_refine(df, centroids, kmeans_iters, vec_col, id_col)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cvec_d = F.transform(F.col("cvec"), lambda x: x.cast("double"))
    # assign via the ONE shared argmax rule (assign_centroids): keeps
    # the vector through the groupBy, so no join-back pass is needed
    assigned = assign_centroids(df, centroids, vec_col, id_col)
    q = [float(v) for v in query_vec]
    qcol = F.array(*[F.lit(v) for v in q])
    probe = (
        centroids.select("centroid_id", cosine(cvec_d, qcol).alias("qsim"))
        .orderBy(F.desc("qsim"), F.asc("centroid_id"))
        .limit(nprobe)
    )
    qn = F.lit(_py_norm(q))  # literal query norm — value-identical
    return (
        assigned.join(F.broadcast(probe.select("centroid_id")), "centroid_id", "left_semi")
        .select(F.col(id_col),
                (_dot(vec_d, qcol) / (_norm(vec_d) * qn)).alias("cosine_sim"))
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def sampled_centroids(df: DataFrame, n_centroids: int,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """THE deterministic centroid init, written once (shared by
    ivf_topk and semantic_dedup): a hash-sample of ``n_centroids``
    vectors — order by md5 of the id, decorrelated from insertion
    order, reproducible on any engine/partitioning. Returns (centroid_id, cvec)."""
    return (
        df.orderBy(F.md5(F.col(id_col).cast("string")), F.asc(id_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec"))
    )


def pair_side(assigned: DataFrame, tag: str,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """One side of the in-bucket pair join, written once (shared by
    ``semantic_dedup`` and the streaming fold in
    streaming/semantic_stream.py so the pair expression can never
    drift between the batch rule and its incremental twin): projects
    an ``assign_centroids`` frame to ``(id_{tag}, v{tag}, centroid_id,
    __n{tag})`` with the per-VECTOR norm precomputed BEFORE the join —
    cosine(a, b) = dot/(‖a‖·‖b‖) with each ‖·‖ the same
    sqrt-of-aggregate expression evaluated once per row instead of
    once per PAIR: bit-identical value (identical expression tree per
    operand), ~3× less per-pair array work on the Σ bucket² stage."""
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return assigned.select(
        F.col(id_col).alias(f"id_{tag}"),
        F.col(vec_col).alias(f"v{tag}"),
        "centroid_id",
        _norm(vec_d).alias(f"__n{tag}"))


def bucket_cosine_pairs(a: DataFrame, b: DataFrame,
                        threshold: float) -> DataFrame:
    """In-bucket ≥ ``threshold`` cosine pairs between two ``pair_side``
    frames (tags 'a'/'b'): returns (id_a, id_b, cosine_sim). Pure
    equi-join on centroid_id — Σ bucket² work, never all-pairs.
    Orientation/self-pair policy is the CALLER's (semantic_dedup
    filters id_a < id_b on the self-join; the streaming fold joins the
    batch side against the store side where ids are disjoint)."""
    va = F.transform(F.col("va"), lambda x: x.cast("double"))
    vb = F.transform(F.col("vb"), lambda x: x.cast("double"))
    return (
        a.join(b, "centroid_id")
        .select("id_a", "id_b",
                (_dot(va, vb) / (F.col("__na") * F.col("__nb")))
                .alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(df: DataFrame, centroids: DataFrame,
                   threshold: float = 0.3,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   two_level: bool = False) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning over an embedding column. Every vector is
    assigned to its max-cosine centroid (``assign_centroids``, the one
    shared argmax rule; ``two_level=True`` swaps in
    ``assign_centroids_two_level`` — the O(n·√C) coarse-quantized
    assignment for SemDeDup's C ∝ n sizing, where the flat rule's
    O(n·C) is quadratic: the x100 probe measured the flat rule
    superlinear and the two-level path ~linear per decade); ONLY
    within a centroid bucket are pairwise cosines computed; pairs ≥
    ``threshold`` are semantic duplicates;
    duplicate GROUPS are the connected components of that pair graph
    (transitive, like the text-dedup tier's q53 clusters) and each
    group keeps exactly one representative — the min id, the same
    deterministic survivor rule the MinHash cluster tier uses.

    Returns (id_col, centroid_id, group_id, keep): ``keep`` marks the
    survivor; filtering ``keep`` prunes the corpus. Docs with no ≥τ
    neighbor in their bucket form singleton groups (keep = true).

    Scale contract — the reason this beats all-pairs cosine dedup:
    pair work is Σ bucketᵢ², so grow ``n_centroids`` ∝ n to hold the
    mean bucket size constant (the paper uses ~√n-ish cluster counts at
    LAION scale); assignment stays one broadcast join, and CC runs on
    the ≥τ pair graph only (edge-endpoint iteration; the large-star/
    small-star variant, so a LOW τ producing long similarity chains
    inside a bucket can never blow the round budget — at the paper's
    high-τ settings groups are near-cliques and it converges in ~2
    rounds anyway). Like the LSH banding tier, the centroid partition
    is a RECALL trade: a ≥τ pair straddling two buckets is missed by
    design (the paper's accepted approximation).
    """
    from . import graph

    assign = assign_centroids_two_level if two_level else assign_centroids
    # localCheckpoint: the assignment is the dominant stage (O(n·C)
    # flat / O(n·√C) two-level) and is read THREE times — both sides of
    # the pair self-join and the final join-back; without
    # materialization the CC's eager checkpoint of the pair graph would
    # execute it once and the returned plan would recompute it again
    # (the round-9 review catch). Same pattern as graph.py's per-round
    # checkpoints.
    assigned = assign(df, centroids, vec_col=vec_col, id_col=id_col) \
        .localCheckpoint()
    pairs = (
        bucket_cosine_pairs(pair_side(assigned, "a", vec_col, id_col),
                            pair_side(assigned, "b", vec_col, id_col),
                            threshold)
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # EMPTY node frame (schema only) + LEFT join-back (optimization
    # round 16, the sampling.leakage_safe_splits posture): the CC's
    # labels already cover every edge endpoint (endpoints ⊆ df by
    # construction — pairs derive from ``assigned``), and every
    # unlabeled row is its own singleton via the coalesce below.  The
    # old shape joined the corpus INNER against a corpus-sized
    # (labels ∪ isolated) union, which re-shuffled the assignment
    # against an anti-join of itself; this one joins the corpus against
    # the PAIR-GRAPH-SIZED label table only — broadcast (zero corpus
    # movement) when the driver fast path bounded it, one shuffle-hash
    # exchange otherwise (never a sort — graph.py's rule).
    st: dict = {}
    labels = graph.connected_components_star(
        df.select(id_col).filter(F.lit(False)), pairs, id_col=id_col,
        stats=st,
    )
    group = F.coalesce(F.col("component"), F.col(id_col))
    return (
        assigned.select(id_col, "centroid_id")
        .join(labels.withColumnRenamed("id", id_col)
              .hint("broadcast" if st.get("driver_cc") else "shuffle_hash"),
              id_col, "left")
        .select(
            id_col,
            "centroid_id",
            group.alias("group_id"),
            (group == F.col(id_col)).alias("keep"),
        )
    )


def assign_centroids_two_level(df: DataFrame, centroids: DataFrame,
                               n_coarse: int | None = None,
                               vec_col: str = "embedding",
                               id_col: str = "vec_id") -> DataFrame:
    """Approximate argmax-cosine assignment in O(n·(√C + C/√C)) work
    instead of the flat rule's O(n·C) — the scale path when the
    centroid count grows with the corpus (SemDeDup sizing: C ∝ n makes
    flat assignment O(n²); measured superlinear in the x100 probe).

    Standard IVF coarse quantization, one level up: the centroids are
    THEMSELVES bucketed under ``n_coarse`` (default ⌈√C⌉) coarse
    centroids (hash-sampled from the centroid frame by the shared
    ``sampled_centroids`` rule, fine→coarse mapping by the shared
    ``assign_centroids`` argmax); a vector argmaxes the coarse table
    first (n·√C), then only the fine centroids in its coarse bucket
    (n·C/√C expected). Same output contract and tie-break as
    ``assign_centroids``. Deterministic end-to-end.

    Approximation (the IVF trade, restated at the assignment level): a
    vector whose true nearest fine centroid lives in a DIFFERENT coarse
    bucket gets its best in-bucket centroid instead. For SemDeDup this
    moves borderline vectors between buckets — a recall knob, never a
    correctness one (the survivor rule applies to whatever buckets
    form). Exact equality with the flat rule on well-separated data is
    pinned by test.

    The one driver action is ``centroids.count()`` — centroid-frame-
    sized, bounded (annotated per the repo's collect policy).

    Broadcast envelope: the (coarse_id, fine) table is the FULL
    centroid frame and is force-broadcast — ~0.5 GB at C = 10⁶,
    dim 64, comfortably inside executor memory for any C this
    operator's Σ bucket² pair stage could tolerate anyway; if C ever
    outgrows that, raise ``n_coarse`` (the per-vector candidate set is
    C/n_coarse — the knob trades coarse-pass cost against fine-table
    pressure) before reaching for a shuffle join here."""
    import math

    # one materialization of the (tiny) centroid frame: it feeds the
    # count, the coarse sample, the fine mapping and two broadcasts —
    # when it is itself a corpus-derived plan (sampled_centroids over
    # the data, the standard usage) each of those would otherwise
    # re-run a corpus-scale TakeOrdered (review catch)
    centroids = centroids.localCheckpoint()
    if n_coarse is None:
        n_c = centroids.count()
        s = math.isqrt(n_c)  # exact integer ⌈√C⌉, per the documented default
        n_coarse = max(1, s if s * s == n_c else s + 1)
    coarse = (
        sampled_centroids(centroids, n_coarse, vec_col="cvec",
                          id_col="centroid_id")
        .select(F.col("centroid_id").alias("coarse_id"),
                F.col("cvec").alias("coarse_vec"))
    )
    coarse_as_cents = coarse.select(
        F.col("coarse_id").alias("centroid_id"),
        F.col("coarse_vec").alias("cvec"))
    # a coarse REP's own fine→coarse assignment is pinned to ITSELF:
    # cos(v, v) computes to 1±ulp, so on near-parallel coarse reps the
    # argmax could put rep B into bucket C, leaving bucket B empty —
    # and a vector argmaxing B would then vanish through the inner
    # candidate join (review catch). The pin makes every coarse bucket
    # non-empty by construction, so the full-coverage contract (one
    # output row per input row) is structural. Mirrored in q126's SQL.
    is_rep = coarse.select(F.col("coarse_id").alias("fine_id"),
                           F.lit(True).alias("__is_rep"))
    fine = (
        assign_centroids(
            centroids.select(F.col("centroid_id").alias("fine_id"),
                             F.col("cvec").alias("fine_vec")),
            coarse_as_cents, vec_col="fine_vec", id_col="fine_id")
        .join(F.broadcast(is_rep), "fine_id", "left")
        .select(F.when(F.col("__is_rep"), F.col("fine_id"))
                .otherwise(F.col("centroid_id")).alias("coarse_id"),
                "fine_id", "fine_vec")
    )
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    fine_d = F.transform(F.col("fine_vec"), lambda x: x.cast("double"))
    # same per-operand norm precompute as assign_centroids: once per
    # vector / once per fine centroid, not once per candidate pair
    v2c = (assign_centroids(df, coarse_as_cents, vec_col, id_col)
           .select(id_col, vec_col, F.col("centroid_id").alias("coarse_id"),
                   _norm(vec_d).alias("__vnorm")))
    fine_n = fine.select("coarse_id", "fine_id", "fine_vec",
                         _norm(fine_d).alias("__fnorm"))
    return (
        v2c.join(F.broadcast(fine_n), "coarse_id")
        .select(id_col, vec_col, "fine_id",
                (_dot(vec_d, fine_d)
                 / (F.col("__vnorm") * F.col("__fnorm"))).alias("csim"))
        .groupBy(id_col, vec_col)
        .agg(F.expr(
            "max_by(fine_id, struct(csim, -fine_id))"
        ).alias("centroid_id"))
    )
