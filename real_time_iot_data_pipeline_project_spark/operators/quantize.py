"""Embedding compression: global-range int8 scalar quantization.

Vector stores over trillion-token corpora don't keep float32 embeddings;
8-bit scalar quantization (per-dimension affine, the FAISS ``SQ8``
baseline) cuts storage 4× with ~1e-5 reconstruction MSE on unit-norm
vectors. This operator is the distributed two-pass version:

pass 1  per-dimension ``min``/``max`` — one ``posexplode`` + grouped
        min/max (combinable, exact: no float-accumulation ambiguity),
        producing a dims table the size of the embedding width;
pass 2  the dims table joins back **broadcast** (64 rows at width 64 —
        never a shuffle) and the quantize/dequantize/error arithmetic is
        pure Column expressions in the scan stage.

Everything is elementwise IEEE arithmetic on identical expression trees,
so a SQL oracle reproduces the exact same doubles — the only reduction
(per-vector error sum) goes through DECIMAL for order-free exactness
(registry determinism rule 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LEVELS = 255  # int8 affine grid: q in [0, 255]


def dim_ranges(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (pos, mn, mx) over the corpus — 1-based pos."""
    return (
        emb.select(F.posexplode(vec_col).alias("pos0", "v"))
        .select((F.col("pos0") + 1).alias("pos"), F.col("v").cast("double").alias("v"))
        .groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )


def quantize_error(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Quantize each vector to the global int8 grid and report, per
    vector: ``q_sum`` (integer checksum of the quantized codes — an
    exact, float-free integrity signal) and ``mse`` (reconstruction
    mean-squared-error, DECIMAL-summed then rounded).

    Zero-range dimensions (mx == mn) quantize to code 0 and reconstruct
    exactly (deq = mn), so constant dimensions contribute 0 error."""
    dims = dim_ranges(emb, vec_col)
    flat = emb.select(
        id_col, *extra_cols, F.posexplode(vec_col).alias("pos0", "vf")
    ).select(
        id_col, *extra_cols,
        (F.col("pos0") + 1).alias("pos"),
        F.col("vf").cast("double").alias("v"),
    )
    scale = F.col("mx") - F.col("mn")
    qv = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.least(
            F.lit(float(LEVELS)),
            F.greatest(
                F.lit(0.0),
                F.floor((F.col("v") - F.col("mn")) * F.lit(float(LEVELS)) / scale).cast("double"),
            ),
        )
    )
    deq = F.col("mn") + F.col("qv") * scale / F.lit(float(LEVELS))
    err = (F.col("deq") - F.col("v")) * (F.col("deq") - F.col("v"))
    dim_width = F.broadcast(dims)
    return (
        flat.join(dim_width, "pos")
        .withColumn("qv", qv)
        .withColumn("deq", deq)
        .withColumn("err", err)
        .groupBy(id_col, *extra_cols)
        .agg(
            F.sum(F.col("qv").cast("long")).alias("q_sum"),
            F.round(
                F.sum(F.col("err").cast("decimal(28,18)")).cast("double")
                / F.count(F.lit(1)),
                12,
            ).alias("mse"),
        )
    )


# ---------------------------------------------------------------------
# Product quantization (round 13, X57): the vector-store memory tier.
# Jégou, Douze & Schmid 2011 ("Product Quantization for Nearest
# Neighbor Search", TPAMI): split each D-dim vector into m subvectors,
# code each subvector by its nearest entry in a per-subspace codebook
# of k centroids, and answer queries with ASYMMETRIC distance (ADC) —
# the query stays full precision, the corpus is m small ints per
# vector.  At (D=64, m=4) a float32 corpus compresses 64x (256 bytes
# -> 4 codes); at 100 TB of embeddings that is the difference between
# a vector store that fits executor memory and one that doesn't.
#
# Cross-engine determinism: every distance is the dot-product identity
# l2²(a, b) = dot(a,a) − 2·dot(a,b) + dot(b,b) over the SAME left-fold
# dot primitive the whole ANN tier hash-gates (similarity._dot versus
# DuckDB list_dot_product — q38/q121/q148's proven pairing), so both
# engines derive identical doubles; argmins break ties (dist ASC,
# code_id ASC) via min(struct); the one per-(query, vec) reduction of
# m lookup terms is DECIMAL-cast pre-sum (order-free, rule 1).
# Codebooks are the md5-ordered hash sample of k corpus vectors (the
# IVF centroid convention — kmeans_refine composes upstream).


def _dot_d(a, b):
    from .similarity import _dot

    return _dot(a, b)


def _l2sq(a, b):
    """l2² via the proven dot primitive (identical expression tree to
    the DuckDB list_dot_product identity, NOT a zip_with fold that has
    no cross-engine twin)."""
    return _dot_d(a, a) - F.lit(2.0) * _dot_d(a, b) + _dot_d(b, b)


def _subspaces(vec_col: str, m: int, d: int):
    """Array of the m subvector slices, double-cast — posexplode gives
    (sub_id 0..m-1, subvector)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return F.array(*[F.slice(v, j * d + 1, d) for j in range(m)])


def pq_codebooks(df: DataFrame, m: int = 4, k: int = 8,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Per-subspace codebooks from the md5-ordered k-vector hash
    sample: (sub_id 0..m-1, code_id 1..k, cvec array<double> of D/m).
    m·k rows — broadcast everywhere downstream."""
    from pyspark.sql import Window

    dim_row = df.select(F.size(vec_col).alias("dim")).head()
    if dim_row is None:
        raise ValueError("pq_codebooks: empty corpus")
    dim = int(dim_row["dim"])
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"m must be a positive divisor of the embedding width "
            f"(got m={m}, dim={dim})")
    d = dim // m
    sample = (df.orderBy(F.md5(F.col(id_col).cast("string")),
                         F.asc(id_col))
              .limit(k)
              .withColumn("code_id", F.row_number().over(
                  Window.orderBy(F.md5(F.col(id_col).cast("string")),
                                 F.asc(id_col)))))
    return (sample.select("code_id",
                          F.posexplode(_subspaces(vec_col, m, d))
                          .alias("sub_id", "cvec")))


def pq_encode(df: DataFrame, codebooks: DataFrame,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """PQ codes, tall form: (id, sub_id, code) — each subvector coded
    by its nearest codebook entry (l2² ASC, code_id ASC tie-break).
    One map-side posexplode to n·m subvectors, a broadcast join
    against the m·k codebook, one (id, sub_id)-keyed min(struct) —
    no corpus-sized wide shuffle, and the output is m small ints per
    vector (the compression that pays for everything)."""
    m = int(codebooks.agg(F.countDistinct("sub_id")).head()[0])
    d_row = codebooks.select(F.size("cvec").alias("d")).head()
    d = int(d_row["d"])
    flat = df.select(
        F.col(id_col),
        F.posexplode(_subspaces(vec_col, m, d)).alias("sub_id", "svec"))
    dist = _l2sq(F.col("svec"), F.col("cvec"))
    return (flat.join(F.broadcast(codebooks), "sub_id")
            .groupBy(id_col, "sub_id")
            .agg(F.min(F.struct(dist.alias("d"),
                                F.col("code_id").alias("c")))
                 .alias("__w"))
            .select(id_col, "sub_id", F.col("__w.c").alias("code")))


# --- unrolled-SQL expression generators (optimization round 15) -----
#
# Two measured pathologies motivate generating these expressions as
# SQL text instead of composing Column objects (guide §1.1's "the
# ideal plan is slower at first" loop, closed empirically):
#
# 1. CONSTRUCTION: every `F.aggregate(F.zip_with(...))` composition
#    costs ~90 py4j round-trips (~60-250 ms of driver wall); a
#    map-side argmin over m·k codewords built that way spends SECONDS
#    per query building expressions.  One `F.expr` parse is ONE
#    round-trip regardless of expression size (measured 3-7 ms).
# 2. EXECUTION: higher-order functions are interpreted (no whole-stage
#    codegen, no common-subexpression elimination), so a per-codeword
#    lambda re-evaluates the whole cast/slice subtree per entry.  The
#    unrolled arithmetic below is plain Add/Multiply/GetArrayItem
#    nodes — codegen'd, CSE'd, orders of magnitude cheaper per row.
#
# EXACTNESS: `repr` of a Python float round-trips the IEEE double and
# Spark's parser is correctly rounded, so literals are bit-identical
# to `F.lit` (verified incl. denormals).  A left-associative `+` chain
# equals `_dot`'s left fold exactly (the fold's seed contributes
# `0.0 + t0`, and IEEE `0.0 + x == x` for every x, including NaN and
# ±inf); each product pairs the same cast operand values.  Every
# consumer below is hash-gated against DuckDB oracles at 3 SFs.


def _lit_doubles(vals) -> F.Column:
    """A literal ``array<double>`` in one JVM parse — see the block
    comment above."""
    return F.expr(
        "array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")")


def _lut_side(lut: DataFrame, broadcast_lut: bool) -> DataFrame:
    """The ADC lookup-table join side: BROADCAST by default (the LUT
    is |queries|·m·k rows — bounded for the batch-serving shape every
    gated row uses), or shuffle-hash for an UNBOUNDED query table
    (``broadcast_lut=False``, the nb_classify broadcast_model
    precedent — ADVICE r13: a large query frame silently became an
    oversized broadcast; now the caller picks the shuffle fallback
    explicitly and results are identical, pinned by test)."""
    return F.broadcast(lut) if broadcast_lut else lut.hint("shuffle_hash")


def pq_adc_topk(queries: DataFrame, codebooks: DataFrame,
                codes: DataFrame, k: int = 10,
                query_id_col: str = "query_id",
                query_vec_col: str = "qvec",
                id_col: str = "vec_id",
                broadcast_lut: bool = True) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, the m×k
    lookup table of subquery-to-codeword l2² terms is computed ONCE
    (queries × the broadcast codebook — bounded), broadcast onto the
    tall codes, and each (query, vec) sums its m looked-up terms
    (DECIMAL pre-sum cast — order-free).  The corpus-sized input is
    the CODES table (m ints per vector), never the float vectors —
    ADC's whole point.  Returns (query_id, vec_id, adc_dist) with
    adc_dist rounded to 6 dp, (adc ASC, id ASC) top-k per query.

    ``broadcast_lut=False`` swaps the LUT broadcast for a shuffle-hash
    join — the escape hatch for an unbounded query table whose
    |queries|·m·k-row LUT would otherwise be an oversized broadcast."""
    from pyspark.sql import Window

    m = int(codebooks.agg(F.countDistinct("sub_id")).head()[0])
    d = int(codebooks.select(F.size("cvec").alias("d")).head()["d"])
    qsub = queries.select(
        F.col(query_id_col),
        F.posexplode(_subspaces(query_vec_col, m, d))
        .alias("sub_id", "qsvec"))
    lut = (qsub.join(F.broadcast(codebooks), "sub_id")
           .select(query_id_col, "sub_id",
                   F.col("code_id").alias("code"),
                   _l2sq(F.col("qsvec"), F.col("cvec"))
                   .cast("decimal(28,12)").alias("__term")))
    scored = (codes.join(_lut_side(lut, broadcast_lut), ["sub_id", "code"])
              .groupBy(query_id_col, id_col)
              .agg(F.round(F.sum("__term").cast("double"), 6)
                   .alias("adc_dist")))
    return (scored.withColumn("__rn", F.row_number().over(
        Window.partitionBy(query_id_col)
        .orderBy(F.asc("adc_dist"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, "adc_dist"))


def ivfpq_topk(df: DataFrame, queries: DataFrame,
               n_centroids: int = 16, nprobe: int = 4,
               m: int = 4, kc: int = 8, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id_col: str = "query_id",
               query_vec_col: str = "qvec",
               broadcast_lut: bool = True) -> DataFrame:
    """IVF-PQ batch search (X58): the FAISS `IVFPQ` production pattern
    composed from the two gated halves — coarse probe pruning (X45's
    per-query nprobe centroid ranking over the shared md5-sampled
    centroid set and argmax assignment) restricts the candidates to
    ~nprobe/n_centroids of the corpus, and ASYMMETRIC distance (X57's
    m×k lookup table over PQ codes) scores them without touching a
    float vector.  The corpus-sized inputs are the assignment (one
    int per vector) and the codes (m ints per vector); at 100 TB this
    is how a vector store both FITS (PQ's 64× compression) and
    answers in bounded work (IVF's pruning).

    Same determinism contracts as the parents: cosine probe ranking
    with (qsim DESC, centroid ASC) row_number, l2² ADC terms via the
    dot identity, DECIMAL pre-sum, (adc ASC, id ASC) top-k.  Returns
    (query_id, vec_id, adc_dist)."""
    from pyspark.sql import Window

    from .similarity import assign_centroids, cosine, sampled_centroids

    cents = sampled_centroids(df, n_centroids, vec_col, id_col)
    assigned = (assign_centroids(df, cents, vec_col, id_col)
                .select(id_col, "centroid_id"))
    cb = pq_codebooks(df, m=m, k=kc, vec_col=vec_col, id_col=id_col)
    codes = pq_encode(df, cb, vec_col=vec_col, id_col=id_col)
    d = int(cb.select(F.size("cvec").alias("d")).head()["d"])
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    cvec_d = F.transform(F.col("cvec"), lambda x: x.cast("double"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(query_id_col, "centroid_id",
                cosine(qvec_d, cvec_d).alias("qsim"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(query_id_col)
            .orderBy(F.desc("qsim"), F.asc("centroid_id"))))
        .where(F.col("__rn") <= nprobe)
        .select(query_id_col, "centroid_id"))
    qsub = queries.select(
        F.col(query_id_col),
        F.posexplode(_subspaces(query_vec_col, m, d))
        .alias("sub_id", "qsvec"))
    lut = (qsub.join(F.broadcast(cb), "sub_id")
           .select(query_id_col, "sub_id",
                   F.col("code_id").alias("code"),
                   _l2sq(F.col("qsvec"), F.col("cvec"))
                   .cast("decimal(28,12)").alias("__term")))
    # candidates: codes of vectors whose bucket a query probes — the
    # assignment join is int-keyed and the probe/LUT sides broadcast
    cand = (codes.join(assigned.hint("shuffle_hash"), id_col)
            .join(F.broadcast(probes), "centroid_id"))
    scored = (cand.join(_lut_side(lut, broadcast_lut),
                        [query_id_col, "sub_id", "code"])
              .groupBy(query_id_col, id_col)
              .agg(F.round(F.sum("__term").cast("double"), 6)
                   .alias("adc_dist")))
    return (scored.withColumn("__rn", F.row_number().over(
        Window.partitionBy(query_id_col)
        .orderBy(F.asc("adc_dist"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, "adc_dist"))


def recall_spine(spark, runs: DataFrame, exact: DataFrame,
                 queries: DataFrame, axis_col: str, axis_values,
                 k: int, query_id_col: str = "query_id",
                 id_col: str = "vec_id") -> DataFrame:
    """THE recall-curve tail, written once (round 14, VERDICT r13
    item 7): hits = inner join of the per-rung results against the
    exact set on (query, vec); an (axis × query) spine keeps
    zero-recall rows visible; all-integer recall_pct.  Shared by
    ann_recall_report (nprobe axis), pq_recall_report (k_codes axis)
    and pq_refined_recall_report (variant axis) so future curves
    can't drift from the gated arithmetic.  Both join sides are
    k-bounded (k·|queries|·|axis| rows at most) — broadcast."""
    hits = (runs.join(F.broadcast(exact), [query_id_col, id_col])
            .groupBy(axis_col, query_id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
    vals = list(axis_values)
    axis_type = "int" if all(isinstance(v, int) for v in vals) else "string"
    axis_frame = spark.createDataFrame(
        [((int(v) if axis_type == "int" else str(v)),) for v in vals],
        f"{axis_col} {axis_type}")
    spine = queries.select(query_id_col).crossJoin(F.broadcast(axis_frame))
    return (spine.join(F.broadcast(hits), [axis_col, query_id_col],
                       "left")
            .withColumn("n_hits",
                        F.coalesce("n_hits", F.lit(0).cast("long")))
            .withColumn("k", F.lit(int(k)))
            .withColumn("recall_pct",
                        F.expr(f"(n_hits * 100) DIV {int(k)}"))
            .select(axis_col, query_id_col, "n_hits", "k",
                    "recall_pct"))


def pq_recall_report(df: DataFrame, queries: DataFrame, k: int = 10,
                     kc_values: tuple[int, ...] = (2, 4, 8), m: int = 4,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "qvec") -> DataFrame:
    """Recall@k of the PQ/ADC tier vs the exact full-precision l2
    top-k (X60): the codebook-size sizing curve an operator reads
    before picking (m, k_codes) — PQ is LOSSY by construction
    (quantization error grows as codebooks shrink), so the memory win
    has a recall price this report measures, per query, at each
    ``kc_values`` codebook size.

    The md5-ordered codebook sample has the PREFIX property: the
    kc=4 codebook is literally the first 4 rows of the kc=8 one — so
    the whole curve shares ONE codebook table filtered per spine
    value, and both engines derive every rung from the same sampled
    vectors (the q138/q152 curve convention, with k_codes as the
    axis instead of nprobe).  The exact reference is the brute-force
    full-precision l2² top-k via the same dot identity; hits are an
    inner join on (query, vec); a (kc × query) spine keeps
    zero-recall rows visible.  All-integer recall.  Scale: one
    full-precision corpus scan for the exact pass (against the
    broadcast bounded query sample) + |kc_values| ADC runs that read
    only codes."""
    from pyspark.sql import Window

    spark = df.sparkSession
    cb_full = pq_codebooks(df, m=m, k=max(kc_values),
                           vec_col=vec_col, id_col=id_col)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    exact = (
        df.crossJoin(F.broadcast(queries))
        .select(query_id_col, id_col,
                _l2sq(vec_d, qvec_d).alias("__d"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(query_id_col)
            .orderBy(F.asc("__d"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col))
    runs = None
    for kc in kc_values:
        cb = cb_full.where(F.col("code_id") <= int(kc))
        got = (pq_adc_topk(queries, cb,
                           pq_encode(df, cb, vec_col=vec_col,
                                     id_col=id_col),
                           k=k, query_id_col=query_id_col,
                           query_vec_col=query_vec_col, id_col=id_col)
               .select(F.lit(int(kc)).alias("k_codes"),
                       query_id_col, id_col))
        runs = got if runs is None else runs.unionByName(got)
    return recall_spine(spark, runs, exact, queries, "k_codes",
                        [int(v) for v in kc_values], k,
                        query_id_col=query_id_col, id_col=id_col)


def ivfpq_residual_topk(df: DataFrame, queries: DataFrame,
                        n_centroids: int = 16, nprobe: int = 4,
                        m: int = 4, kc: int = 8, k: int = 10,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        query_id_col: str = "query_id",
                        query_vec_col: str = "qvec",
                        broadcast_lut: bool = True) -> DataFrame:
    """RESIDUAL IVF-PQ (X61): the quality-correct FAISS `IVFPQ`
    formulation — PQ codebooks are trained on and codes encode the
    RESIDUAL v − c(v) of each vector against its assigned coarse
    centroid, not the raw vector (Jégou et al. 2011 §IV-B: residuals
    concentrate around the origin, so the same k codes quantize them
    far more finely than the spread-out raw vectors; X58's raw
    variant trades that recall for one simpler LUT).  ADC becomes
    per-(query, PROBED centroid): the query's residual against each
    probed centroid gets its own m×k lookup table — still bounded
    (q·nprobe·m·k rows), still broadcast.

    Determinism: residuals are exact IEEE element subtractions on
    identical operands, everything downstream is X57's contracts
    (dot-identity l2², (dist ASC, code ASC) argmin, DECIMAL pre-sum,
    (adc ASC, id ASC) top-k).  Scale: same shape as X58 — the
    corpus-sized joins stay int-keyed (codes ⋈ assignment), one extra
    broadcast join (centroids onto the corpus) to form residuals at
    encode time; search still reads codes, never float vectors.
    Returns (query_id, vec_id, adc_dist)."""
    from pyspark.sql import Window

    from .similarity import assign_centroids, cosine, sampled_centroids

    cents = sampled_centroids(df, n_centroids, vec_col, id_col)
    # keep the vector through the assignment (assign_centroids returns
    # it), join the centroid vector back broadcast, form the residual
    assigned_v = assign_centroids(df, cents, vec_col, id_col)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cvec_d = F.transform(F.col("cvec"), lambda x: x.cast("double"))
    rdf = (assigned_v
           .join(F.broadcast(cents), "centroid_id")
           .select(F.col(id_col), F.col("centroid_id"),
                   F.zip_with(vec_d, cvec_d, lambda x, y: x - y)
                   .alias("rvec")))
    cb = pq_codebooks(rdf, m=m, k=kc, vec_col="rvec", id_col=id_col)
    codes = pq_encode(rdf, cb, vec_col="rvec", id_col=id_col)
    d = int(cb.select(F.size("cvec").alias("d")).head()["d"])
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(query_id_col, "centroid_id",
                cosine(qvec_d, cvec_d).alias("qsim"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(query_id_col)
            .orderBy(F.desc("qsim"), F.asc("centroid_id"))))
        .where(F.col("__rn") <= nprobe)
        .select(query_id_col, "centroid_id"))
    # per-(query, probed centroid) residual LUT — q·nprobe·m·k rows
    qres = (probes.join(queries, query_id_col)
            .join(F.broadcast(cents), "centroid_id")
            .select(query_id_col, "centroid_id",
                    F.zip_with(qvec_d, cvec_d, lambda x, y: x - y)
                    .alias("qrvec")))
    qsub = qres.select(
        query_id_col, "centroid_id",
        F.posexplode(_subspaces("qrvec", m, d)).alias("sub_id", "qsvec"))
    lut = (qsub.join(F.broadcast(cb), "sub_id")
           .select(query_id_col, "centroid_id", "sub_id",
                   F.col("code_id").alias("code"),
                   _l2sq(F.col("qsvec"), F.col("cvec"))
                   .cast("decimal(28,12)").alias("__term")))
    cand = (codes.join(rdf.select(id_col, "centroid_id")
                       .hint("shuffle_hash"), id_col)
            .join(F.broadcast(probes), "centroid_id"))
    scored = (cand.join(_lut_side(lut, broadcast_lut),
                        [query_id_col, "centroid_id", "sub_id", "code"])
              .groupBy(query_id_col, id_col)
              .agg(F.round(F.sum("__term").cast("double"), 6)
                   .alias("adc_dist")))
    return (scored.withColumn("__rn", F.row_number().over(
        Window.partitionBy(query_id_col)
        .orderBy(F.asc("adc_dist"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, "adc_dist"))


def pq_refine(df: DataFrame, codebooks: DataFrame, iters: int = 1,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Deterministic Lloyd refinement of PQ codebooks (round 14, X63
    — VERDICT r13 item 3): the per-subspace k-means step that turns
    the md5 hash sample into production-quality codebooks, one
    distributed job per iteration covering ALL m subspaces at once —
    similarity.kmeans_refine's contract applied to the product space:

    - assignment: each (vector, sub_id) subvector to its nearest
      codebook entry OF THAT SUBSPACE — the identical broadcast
      argmin expression pq_encode uses ((l2² ASC, code_id ASC) via
      min(struct)), so refine and encode can never drift apart;
    - update: per (sub_id, code_id, pos) EXACT ``DECIMAL(28,14)``
      sums (order-free — plain double sums would make codewords
      run-to-run nondeterministic) → per-dim mean → rebuild with
      sort_array(collect_list), kmeans_refine's exact convention.

    Empty codes drop (inner aggregation) — a codebook may shrink,
    identically in any engine.  Each Lloyd step is non-increasing in
    total quantization distortion Σ l2²(subvector, its codeword)
    (assignment picks the argmin, the mean minimizes summed l2² per
    cluster — pinned by test), which is exactly what ADC accuracy
    buys from.  At 100 TB: refine on a sample, encode the full
    corpus; each iteration is one broadcast join + one d× posexplode
    shuffle of the training frame."""
    for _ in range(iters):
        m = int(codebooks.agg(F.countDistinct("sub_id")).head()[0])
        d = int(codebooks.select(F.size("cvec").alias("d")).head()["d"])
        flat = df.select(
            F.col(id_col),
            F.posexplode(_subspaces(vec_col, m, d)).alias("sub_id", "svec"))
        dist = _l2sq(F.col("svec"), F.col("cvec"))
        # id is unique per (id, sub_id); svec rides the group key as a
        # functionally-dependent column (assign_centroids' pattern)
        assigned = (flat.join(F.broadcast(codebooks), "sub_id")
                    .groupBy(id_col, "sub_id", "svec")
                    .agg(F.min(F.struct(dist.alias("d"),
                                        F.col("code_id").alias("c")))
                         .alias("__w"))
                    .select("sub_id", "svec",
                            F.col("__w.c").alias("code_id")))
        exp = assigned.select(
            "sub_id", "code_id",
            F.posexplode(F.col("svec")).alias("pos", "val"))
        means = exp.groupBy("sub_id", "code_id", "pos").agg(
            (F.sum(F.col("val").cast("decimal(28,14)")).cast("double")
             / F.count(F.lit(1))).alias("m"))
        codebooks = means.groupBy("sub_id", "code_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"]).alias("cvec"))
    return codebooks


def pq_refined_recall_report(df: DataFrame, queries: DataFrame,
                             k: int = 10, m: int = 4, kc: int = 8,
                             iters: int = 1,
                             vec_col: str = "embedding",
                             id_col: str = "vec_id",
                             query_id_col: str = "query_id",
                             query_vec_col: str = "qvec") -> DataFrame:
    """Recall@k of RAW (md5-sampled) vs REFINED (pq_refine) codebooks
    at equal (m, kc) — the report that justifies paying for the Lloyd
    step before encoding a corpus (X63, VERDICT r13
    item 3): same memory, better codebooks, measured against the same
    brute-force full-precision l2 top-k.  Returns (variant ∈
    {'raw', 'refined'}, query_id, n_hits, k, recall_pct) on the
    shared spine convention.  Scale: one full-precision scan for the
    exact pass + one refine iteration + two code-only ADC runs."""
    spark = df.sparkSession
    from pyspark.sql import Window

    cb_raw = pq_codebooks(df, m=m, k=kc, vec_col=vec_col, id_col=id_col)
    cb_ref = pq_refine(df, cb_raw, iters=iters, vec_col=vec_col,
                       id_col=id_col)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    exact = (
        df.crossJoin(F.broadcast(queries))
        .select(query_id_col, id_col,
                _l2sq(vec_d, qvec_d).alias("__d"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(query_id_col)
            .orderBy(F.asc("__d"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col))
    runs = None
    for variant, cb in (("raw", cb_raw), ("refined", cb_ref)):
        got = (pq_adc_topk(queries, cb,
                           pq_encode(df, cb, vec_col=vec_col,
                                     id_col=id_col),
                           k=k, query_id_col=query_id_col,
                           query_vec_col=query_vec_col, id_col=id_col)
               .select(F.lit(variant).alias("variant"),
                       query_id_col, id_col))
        runs = got if runs is None else runs.unionByName(got)
    return recall_spine(spark, runs, exact, queries, "variant",
                        ["raw", "refined"], k,
                        query_id_col=query_id_col, id_col=id_col)


# ---------------------------------------------------------------------
# Scalar-quantized search (round 15, X76): the FAISS
# ``IndexScalarQuantizer`` (SQ8) serving pattern over the gated
# affine grid above — the corpus is stored as d int8 codes per vector
# (4x smaller than float32, a different memory point than PQ's m
# bytes), queries stay full precision, and distance is exact l2²
# against the DEQUANTIZED reconstruction (asymmetric, like ADC — the
# query side pays no quantization error).  Where PQ (X57) buys 64x at
# a recall price, SQ8 buys 4x at near-zero recall loss (~1e-5 MSE on
# unit-norm vectors, q66's gated number) — the tier an operator picks
# when memory is tight but recall must hold; the report below
# measures exactly that trade on the corpus itself.


def _sq_dim_arrays(df: DataFrame, vec_col: str):
    """Collect the per-dimension (mn, scale) grid to BOUNDED literal
    arrays (d rows — the embedding width, never the corpus; the
    centroid-collect convention), so encode/decode run scan-side with
    zero joins."""
    rows = dim_ranges(df, vec_col).orderBy("pos").collect()
    # one-parse literals (see the unrolled-SQL block comment): exact
    # repr round-trip, no per-element py4j cost
    mns = _lit_doubles([float(r.mn) for r in rows])
    scales = _lit_doubles([float(r.mx - r.mn) for r in rows])
    return mns, scales


def sq_encode(df: DataFrame, vec_col: str = "embedding",
              id_col: str = "vec_id",
              dims: tuple | None = None,
              carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Encode every vector to its int8 codes on the global affine
    grid — ``floor((v - mn) * 255 / scale)`` clamped to [0, 255],
    zero-range dims to 0 (identical arithmetic to the gated
    quantize_error, so codes agree with q66's checksums).  One pure
    scan-stage ``transform`` over the array — no explode, no shuffle;
    the (mn, scale) grid rides along as d-sized literals.
    ``carry_cols`` ride through so callers (ivfsq_topk's bucket id)
    need no join-back."""
    mns, scales = dims if dims is not None else _sq_dim_arrays(df, vec_col)
    codes = F.transform(
        F.col(vec_col),
        lambda x, i: F.when(F.element_at(scales, i + 1) == 0,
                            F.lit(0.0))
        .otherwise(F.least(
            F.lit(float(LEVELS)),
            F.greatest(F.lit(0.0), F.floor(
                (x.cast("double") - F.element_at(mns, i + 1))
                * F.lit(float(LEVELS)) / F.element_at(scales, i + 1))
                .cast("double"))))
        .cast("int"))
    return df.select(id_col, codes.alias("sq_codes"),
                     *[F.col(c) for c in carry_cols])


def sq_topk(df: DataFrame, queries: DataFrame, k: int = 10,
            vec_col: str = "embedding", id_col: str = "vec_id",
            query_id_col: str = "query_id",
            query_vec_col: str = "qvec") -> DataFrame:
    """SQ8 asymmetric top-k: the full-precision query against each
    vector's DEQUANTIZED reconstruction (``mn + code * scale / 255``
    per dim — quantize_error's exact deq), distance via the proven
    dot identity, (dist ASC, id ASC) top-k per query.  The corpus
    side reads codes + two d-sized literal arrays — one scan, one
    broadcast of the bounded query sample, one per-query top-k; at
    serving scale the float tier never loads.  Returns
    (query_id, vec_id, sq_dist) rounded to 6."""
    from pyspark.sql import Window

    mns, scales = _sq_dim_arrays(df, vec_col)
    deq = F.transform(
        F.col("sq_codes"),
        lambda c, i: F.element_at(mns, i + 1)
        + c.cast("double") * F.element_at(scales, i + 1)
        / F.lit(float(LEVELS)))
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    scored = (sq_encode(df, vec_col=vec_col, id_col=id_col,
                        dims=(mns, scales))
              .withColumn("__deq", deq)
              .crossJoin(F.broadcast(queries))
              .select(query_id_col, id_col,
                      F.round(_l2sq(qvec_d, F.col("__deq")), 6)
                      .alias("sq_dist")))
    return (scored.withColumn("__rn", F.row_number().over(
        Window.partitionBy(query_id_col)
        .orderBy(F.asc("sq_dist"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, "sq_dist"))


def compression_recall_report(df: DataFrame, queries: DataFrame,
                              k: int = 10, m: int = 4, kc: int = 8,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              query_id_col: str = "query_id",
                              query_vec_col: str = "qvec") -> DataFrame:
    """Recall@k per COMPRESSION TIER against the exact full-precision
    top-k — the one table an operator reads before picking the
    store's memory tier: ``sq8`` stores d bytes/vector (4x smaller)
    and should hold recall ~100; ``pq`` stores m bytes (16x smaller
    at d=64, m=4) and pays the ADC recall price X60 measures.  Both
    tiers answer the SAME queries over the SAME corpus; hits join
    against the same exact set; the (tier × query) spine keeps
    zero-recall rows visible (recall_spine — the gated curve tail).
    Scale: one full-precision exact pass + one codes-only ADC run +
    one SQ scan — all against the broadcast bounded query sample."""
    from pyspark.sql import Window

    spark = df.sparkSession
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    exact = (
        df.crossJoin(F.broadcast(queries))
        .select(query_id_col, id_col, _l2sq(vec_d, qvec_d).alias("__d"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(query_id_col)
            .orderBy(F.asc("__d"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col))
    cb = pq_codebooks(df, m=m, k=kc, vec_col=vec_col, id_col=id_col)
    pq_run = (pq_adc_topk(queries, cb,
                          pq_encode(df, cb, vec_col=vec_col,
                                    id_col=id_col),
                          k=k, query_id_col=query_id_col,
                          query_vec_col=query_vec_col, id_col=id_col)
              .select(F.lit("pq").alias("tier"), query_id_col, id_col))
    sq_run = (sq_topk(df, queries, k=k, vec_col=vec_col, id_col=id_col,
                      query_id_col=query_id_col,
                      query_vec_col=query_vec_col)
              .select(F.lit("sq8").alias("tier"), query_id_col, id_col))
    return recall_spine(spark, pq_run.unionByName(sq_run), exact,
                        queries, "tier", ["pq", "sq8"], k,
                        query_id_col=query_id_col, id_col=id_col)


def ivfsq_topk(df: DataFrame, queries: DataFrame,
               n_centroids: int = 16, nprobe: int = 4, k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id",
               query_id_col: str = "query_id",
               query_vec_col: str = "qvec") -> DataFrame:
    """IVF-SQ batch search (round 15, X78): the FAISS
    ``IndexIVFScalarQuantizer`` production pattern composed from two
    gated halves — the X45 coarse probe pruning (per-query nprobe
    centroid ranking over the shared md5-sampled centroid set +
    argmax assignment) restricts candidates to ~nprobe/n_centroids of
    the corpus, and the X76 SQ8 asymmetric distance scores exactly
    those candidates against their dequantized reconstructions.  The
    recall trade differs from IVF-PQ's: SQ8's fine grid keeps
    in-bucket ranking essentially exact (the only recall loss is the
    pruning itself), at d bytes/vector instead of m — the middle tier
    between the float store and PQ.

    Same determinism contracts as the parents: cosine probe ranking
    (qsim DESC, centroid ASC), the gated quantize arithmetic, l2² via
    the dot identity, (dist ASC, id ASC) top-k.  Scale: assignment is
    one int per vector (int-keyed shuffle_hash join onto the codes),
    probes and queries broadcast; the float tier never loads."""
    from pyspark.sql import Window

    from .similarity import assign_centroids, cosine, sampled_centroids

    cents = sampled_centroids(df, n_centroids, vec_col, id_col)
    mns, scales = _sq_dim_arrays(df, vec_col)
    # assignment (literal map-side argmax) and encode fuse into ONE
    # scan — the int-keyed shuffle_hash join-back on id is gone
    # (optimization round 15, guide §2.4)
    enc = sq_encode(assign_centroids(df, cents, vec_col, id_col),
                    vec_col=vec_col, id_col=id_col,
                    dims=(mns, scales), carry_cols=("centroid_id",))
    qvec_d = F.transform(F.col(query_vec_col), lambda x: x.cast("double"))
    cvec_d = F.transform(F.col("cvec"), lambda x: x.cast("double"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select(query_id_col, "centroid_id",
                cosine(qvec_d, cvec_d).alias("qsim"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy(query_id_col)
            .orderBy(F.desc("qsim"), F.asc("centroid_id"))))
        .where(F.col("__rn") <= nprobe)
        .select(query_id_col, "centroid_id"))
    deq = F.transform(
        F.col("sq_codes"),
        lambda c, i: F.element_at(mns, i + 1)
        + c.cast("double") * F.element_at(scales, i + 1)
        / F.lit(float(LEVELS)))
    scored = (enc.join(F.broadcast(probes), "centroid_id")
              .withColumn("__deq", deq)
              .join(F.broadcast(queries), query_id_col)
              .select(query_id_col, id_col,
                      F.round(_l2sq(qvec_d, F.col("__deq")), 6)
                      .alias("sq_dist")))
    return (scored.withColumn("__rn", F.row_number().over(
        Window.partitionBy(query_id_col)
        .orderBy(F.asc("sq_dist"), F.asc(id_col))))
        .where(F.col("__rn") <= k)
        .select(query_id_col, id_col, "sq_dist"))
