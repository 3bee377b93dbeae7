"""Deduplication operators for the training-data pipeline: exact,
MinHash+LSH, SimHash, n-gram Jaccard
(BASELINE.json north-star; first-class alongside SURVEY.md §2).

Scale design
------------
- **exact**: hash-groupBy on a 128-bit fingerprint — one shuffle keyed by
  md5, perfectly uniform (no skew by construction).
- **MinHash+LSH**: shingle → k min-hashes → b bands; candidate pairs come
  from a self-join on (band_id, band_hash) — i.e. join fan-out is bounded
  per bucket instead of the O(n²) all-pairs. The only all-pairs step,
  verification, runs per bucket.
- **SimHash**: one grouped agg per doc (bit-majority over token hashes);
  near-dup = same band of the signature (bit-block LSH), hamming verify.
- **n-gram Jaccard**: exact pairwise via shingle inverted-index join —
  quadratic per shingle bucket; use only to verify candidates at scale.

All hashes are the portable md5-based family (functions.textfns), so
every operator here has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textfns

DEFAULT_SHINGLE_K = 5  # character shingle width
DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # 4 bands × 3 rows


def _xor_constants(n: int, seed: int = 42) -> list[int]:
    """Deterministic 60-bit XOR masks: the i-th MinHash function is
    h_i(s) = portable_hash60(s) XOR c_i — one md5 per shingle instead of
    k (12× less hashing in the scan), and bit-identical in DuckDB via
    xor(). XOR by a constant is a bijection on the hash space, the
    standard cheap MinHash family."""
    import random

    rng = random.Random(seed)
    return [rng.getrandbits(60) for _ in range(n)]


MINHASH_XOR_CONSTANTS = _xor_constants(DEFAULT_NUM_HASHES)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text fingerprint: keep the min-id doc per
    fingerprint group (deterministic winner)."""
    fp = df.select(F.col(id_col), textfns.fingerprint(text_col).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, id_col, "left_semi")


def char_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  k: int = DEFAULT_SHINGLE_K, distinct: bool = False) -> DataFrame:
    """Character k-shingles of the normalized text, one row per
    (id, shingle): explode(sequence) + substring — scalar codegen'd ops,
    ~6× faster than building per-doc shingle arrays. ``distinct=True``
    adds the per-(id,shingle) dedup shuffle set-semantics ops (Jaccard)
    need; MinHash skips it (min over multiset == min over set)."""
    norm = textfns.normalize_text(text_col)
    sh = (
        df.select(F.col(id_col), norm.alias("__n"))
        .filter(F.length("__n") >= k)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(1), F.length("__n") - (k - 1))).alias("__i"),
            "__n",
        )
        .select(id_col, F.expr(f"substring(__n, __i, {k})").alias("shingle"))
    )
    return sh.dropDuplicates([id_col, "shingle"]) if distinct else sh


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = DEFAULT_SHINGLE_K,
                        window: int = 4,
                        min_parallelism: int | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., the MOSS
    local fingerprinting algorithm): hash every char k-gram, slide a
    ``window`` of consecutive hashes, keep the minimum of each window,
    emit the distinct selected hashes per doc.

    Guarantees: any shared substring of length ≥ k + window − 1 yields at
    least one shared fingerprint — unlike sampling every i-th hash,
    robust to insertion/deletion offsets. Delta vs the paper: tail
    windows shorter than ``window`` also contribute (simpler, and the
    distinct-set output is unaffected by the paper's rightmost-tie rule
    since ties select equal hash values).

    Scale: winnowing is per-doc LOCAL, so the whole computation runs
    map-side as array higher-order functions over each doc row — no
    explode of char positions through a per-doc window sort (a shuffle
    ~24× the corpus size), no distinct shuffle. Per-row transient state
    is one long per character — fine for documents; re-chunk multi-MB
    blobs upstream first.

    Parallelism guard: map-side-only plans inherit the SOURCE's split
    count. A small local file is one parquet row group = ONE task doing
    all the hashing — and, worse, a downstream broadcast self-join then
    runs its quadratic pair stage at that same parallelism (measured
    88 s vs 4 s on the overlap-pairs query). Pass ``min_parallelism``
    (typically ``sparkContext.defaultParallelism``) to repartition the
    normalized docs to that width before hashing: a doc-sized shuffle
    (tiny next to the old position-level one). Explicit opt-in so the
    plan shape is deterministic — it never depends on the host's core
    count or the input's split count (an earlier auto-detect made plan
    audits and bench numbers environment-dependent, and paid a
    DataFrame->RDD planning conversion per call). Leave None at real
    scale, where scans already carry thousands of splits."""
    norm = textfns.normalize_text(text_col)
    hashes = F.transform(
        F.sequence(F.lit(1), F.length("__n") - (k - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(F.col("__n"), i, k)), F.lit(1), F.lit(15)),
            16, 10,
        ).cast("long"),
    )
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("__h")),
            lambda j: F.array_min(F.slice(F.col("__h"), j, window)),
        )
    )
    base = df.select(F.col(id_col), norm.alias("__n")).filter(F.length("__n") >= k)
    if min_parallelism is not None:
        base = base.repartition(min_parallelism)
    return (
        base.select(id_col, hashes.alias("__h"))
        .select(id_col, F.explode(mins).alias("fingerprint"))
    )


def winnow_overlap_pairs(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = DEFAULT_SHINGLE_K,
                         window: int = 4, threshold: float = 0.5,
                         max_doc_freq: int | None = None,
                         min_parallelism: int | None = None) -> DataFrame:
    """Fuzzy near-dup pairs by winnowed-fingerprint overlap
    (the MOSS similarity measure, complementary to MinHash: robust to
    LOCAL edits because fingerprints are positional window minima, and
    to length asymmetry because the denominator is the smaller set):

        overlap(a, b) = |fp(a) ∩ fp(b)| / min(|fp(a)|, |fp(b)|)

    Returns (id_a, id_b, overlap) with id_a < id_b, overlap ≥ threshold.

    Scale: inverted-index self-join on fingerprint — fan-out is bounded
    per fingerprint bucket (winnowing keeps ~2/(window+1) of hashes, and
    shared hashes mean shared 8-char substrings, which unrelated docs
    rarely have). At corpus scale pass ``max_doc_freq`` to drop
    boilerplate fingerprints shared by more than that many docs (license
    headers, templates) BEFORE the quadratic stage — the standard
    stop-fingerprint move; leave None for exact-oracle parity."""
    # Cache BEFORE the doc-frequency filter: the groupBy branch and the
    # left-semi probe both read the fingerprint set, and without the
    # cache each re-runs the full winnowing scan (per-doc array hashing).
    fps = winnow_fingerprints(df, text_col, id_col, k, window,
                              min_parallelism=min_parallelism).cache()
    if max_doc_freq is not None:
        keep = (fps.groupBy("fingerprint")
                .agg(F.count(F.lit(1)).alias("__df"))
                .filter(F.col("__df") <= max_doc_freq)
                .select("fingerprint"))
        fps = fps.join(keep, "fingerprint", "left_semi")
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = fps.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias("id_b"), "fingerprint")
    common = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
        .withColumn("overlap", F.col("n_common") / F.least("na", "nb"))
        .filter(F.col("overlap") >= threshold)
        .select("id_a", "id_b", "overlap")
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = DEFAULT_SHINGLE_K,
                        threshold: float = 0.5) -> DataFrame:
    """Exact pairwise Jaccard over character k-shingles via inverted-index
    self-join. Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥
    threshold."""
    sh = char_shingles(df, text_col, id_col, k, distinct=True).cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = DEFAULT_SHINGLE_K,
                       num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    (H(shingle) XOR c_i), H = portable 60-bit md5 hash. One md5 per
    shingle, one grouped agg."""
    sh = char_shingles(df, text_col, id_col, k).withColumn(
        "h", textfns.portable_hash60("shingle")
    )
    consts = _xor_constants(num_hashes)
    aggs = [
        F.min(F.col("h").bitwiseXOR(F.lit(consts[i]))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_rows(sig: DataFrame, id_col: str, num_hashes: int,
               bands: int) -> DataFrame:
    """Explode a signature table into (id_col, band_id, band_hash) rows —
    band_hash = md5 of the band's signature slice (the LSH bucket key)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_id"),
                     F.md5(F.concat_ws("|", *[p.cast("string") for p in parts])).alias("band_hash"))
        )
    return sig.select(
        id_col, F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")


def minhash_band_rows(signatures: DataFrame, id_col: str = "doc_id",
                      num_hashes: int = DEFAULT_NUM_HASHES,
                      bands: int = DEFAULT_BANDS) -> DataFrame:
    """Public band-row explode for a materialized signature store:
    (id_col, band_id, band_hash) rows ready to persist alongside the
    signatures, so incremental probes (``near_dedup_against``) scan
    precomputed buckets instead of re-hashing the whole store's
    signatures every increment."""
    return _band_rows(signatures, id_col, num_hashes, bands)


def _est_jaccard(num_hashes: int):
    """Signature-agreement estimate of Jaccard between a_i / b_i cols."""
    return sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = DEFAULT_SHINGLE_K,
                           num_hashes: int = DEFAULT_NUM_HASHES,
                           bands: int = DEFAULT_BANDS) -> DataFrame:
    """LSH banding: docs sharing any band (md5 of the band's signature
    slice) become candidate pairs. Returns (id_a, id_b, est_jaccard)
    where est_jaccard = fraction of matching signature components —
    the MinHash estimate of true Jaccard."""
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes).cache()
    banded = _band_rows(sig, id_col, num_hashes, bands)
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # estimate jaccard from full signatures for the surviving candidates
    sig_a = sig.select(*([F.col(id_col).alias("id_a")] + [F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)]))
    sig_b = sig.select(*([F.col(id_col).alias("id_b")] + [F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)]))
    return (
        pairs.join(sig_a, "id_a").join(sig_b, "id_b")
        .withColumn("est_jaccard", _est_jaccard(num_hashes))
        .select("id_a", "id_b", "est_jaccard")
    )


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash per doc: bit-majority over whitespace-token hashes.
    bit_j(sig) = 1 iff Σ_tokens (±1 by bit j of H(token)) > 0."""
    toks = (
        df.select(F.col(id_col), F.explode(textfns.whitespace_tokens(text_col)).alias("tok"))
        .withColumn("h", textfns.portable_hash60("tok"))
    )
    bit_sums = toks.groupBy(id_col).agg(*[
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{j}")
        for j in range(bits)
    ])
    sig = sum(
        F.when(F.col(f"s_{j}") > 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0).cast("long"))
        for j in range(bits)
    )
    return bit_sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", bits: int = 32,
                      max_hamming: int = 3, blocks: int = 4) -> DataFrame:
    """Near-dups by SimHash: block LSH (split signature into ``blocks``
    bit-blocks; pairs sharing ≥1 exact block are candidates — any pair
    within hamming < blocks must share a block), verified with
    bit_count(xor) ≤ max_hamming."""
    sig = simhash_signatures(df, text_col, id_col, bits).cache()
    block_bits = bits // blocks
    mask = (1 << block_bits) - 1
    blk = sig.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), i * block_bits).bitwiseAND(F.lit(mask)).alias("block_val"),
            )
            for i in range(blocks)
        ])).alias("b"),
    ).select(id_col, "simhash", "b.block_id", "b.block_val")
    a = blk.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "block_id", "block_val")
    b = blk.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "block_id", "block_val")
    return (
        a.join(b, ["block_id", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def doc_chunks(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               chunk_tokens: int = 8, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Explode each doc into consecutive ``chunk_tokens``-token chunks:
    (id_col, *extra_cols, cidx, chunk). Map-side array transform — no
    UDF, no shuffle; the chunk grid for chunk-dedup and leakage ops.

    Empty / whitespace-only docs yield ZERO chunks (filtered up front) —
    otherwise every degenerate doc would share the single chunk '' and
    chunk-dedup would collapse them all onto one survivor."""
    df = df.filter(F.length(textfns.normalize_text(text_col)) > 0)
    # tokens materialized once per row BEFORE the chunk lambda
    # references them (optimization round 15, guide §1.2): an inline
    # tokens expression inside an interpreted HOF lambda re-ran the
    # regex+split once per CHUNK — the q177 quadratic-retokenization
    # catch, same fix
    base = df.select(F.col(id_col), *extra_cols,
                     textfns.whitespace_tokens(text_col).alias("__toks"))
    toks = F.col("__toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "),
    )
    return base.select(
        F.col(id_col), *extra_cols, F.posexplode(chunks).alias("cidx", "chunk")
    )


def chunk_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                chunk_tokens: int = 8) -> DataFrame:
    """Corpus-level chunk dedup (the C4/CCNet *line*-dedup rule,
    generalized to fixed ``chunk_tokens``-token chunks for corpora
    without line structure): every chunk of normalized text is kept at
    its FIRST occurrence in the corpus (min (doc_id, chunk_idx)) and
    removed everywhere else; each doc is then reassembled from its
    surviving chunks in order.

    Output: (id_col, n_chunks, n_chunks_kept, kept_fp) — ``kept_fp`` is
    the md5 of the reassembled text ('' when every chunk was claimed by
    an earlier doc).

    Scale shape: chunking is a map-side array transform (no UDF); the
    first-occurrence winner is one shuffle keyed by the chunk hash
    (uniform, md5) carrying (id, idx, chunk) — the chunk payload is
    bounded at ``chunk_tokens`` tokens, so the shuffle width is fixed;
    reassembly is one shuffle back on doc_id."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    flat = doc_chunks(df, text_col, id_col, chunk_tokens).withColumn(
        "ch", F.md5("chunk")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ch").orderBy(id_col, "cidx")
    kept = flat.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("int")
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("kept").alias("n_chunks_kept"),
            _ordered_kept_md5("cidx", "chunk", "kept").alias("kept_fp"),
        )
    )


def _ordered_kept_join(order_col: str, value_col: str, keep_col: str):
    """The kept ``value_col`` pieces joined by single spaces in
    ``order_col`` order — the one reassembly rule shared by the chunk
    and span dedup families (their oracles replay its fingerprint as
    ``md5(coalesce(string_agg(CASE WHEN kept THEN v END, ' ' ORDER BY
    o), ''))``, so both engines' rules change together or not at all)."""
    return F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.when(F.col(keep_col) == 1,
                       F.struct(order_col, value_col))
            )),
            lambda s: s[value_col],
        ),
        " ",
    )


def _ordered_kept_md5(order_col: str, value_col: str, keep_col: str):
    """md5 of :func:`_ordered_kept_join` — the fingerprint form."""
    return F.md5(_ordered_kept_join(order_col, value_col, keep_col))


def source_overlap_matrix(df: DataFrame, group_col: str = "source",
                          text_col: str = "text", id_col: str = "doc_id",
                          chunk_tokens: int = 8) -> DataFrame:
    """Cross-source leakage matrix: for every pair of sources, the number
    of distinct verbatim ``chunk_tokens``-token chunks they share —
    the "is my eval split leaking into train via a mirrored site?"
    audit, aggregated at source granularity.

    Scale shape: the grid collapses to DISTINCT (source, chunk-hash)
    BEFORE the self-join, so join fan-out per hash bucket is bounded by
    the number of sources (not documents) squared — ≤ S(S-1)/2 pair rows
    per chunk regardless of corpus size; the pair rollup is one
    combinable agg keyed by a source pair (at most S² groups)."""
    grid = (
        doc_chunks(df, text_col, id_col, chunk_tokens, extra_cols=(group_col,))
        .select(F.col(group_col).alias("src"), F.md5("chunk").alias("ch"))
        .distinct()
    )
    a = grid.alias("a")
    b = grid.alias("b")
    return (
        a.join(b, (F.col("a.ch") == F.col("b.ch")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("src_a"), F.col("b.src").alias("src_b"))
        .agg(F.countDistinct(F.col("a.ch")).alias("n_shared_chunks"))
    )


def dedup_against(new_docs: DataFrame, base_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Incremental exact dedup: drop every NEW doc whose normalized-text
    fingerprint already exists in the BASE corpus (the daily-increment
    shape — dedup the crawl drop against the trillion-token store, never
    re-dedup the store itself). Also dedups within the increment
    (min-id winner), so the result is safe to append.

    Scale shape: the base side reduces to DISTINCT fingerprints before
    the anti-join — at a real store, keep that fingerprint table
    materialized/bucketed and each increment costs one join against it,
    shuffled by the uniform md5 key. For NEAR-dup increments, run
    minhash_lsh_candidates over (increment ∪ base-signatures) instead —
    the banded index composes the same way."""
    base_fps = base_docs.select(
        textfns.fingerprint(text_col).alias("fp")
    ).distinct()
    new_fp = new_docs.withColumn("fp", textfns.fingerprint(text_col))
    fresh = new_fp.join(base_fps, "fp", "left_anti")
    keep = fresh.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return fresh.join(keep, [id_col, "fp"], "left_semi").drop("fp")


def near_dedup_against(new_docs: DataFrame, base_signatures: DataFrame,
                       text_col: str = "text", id_col: str = "doc_id",
                       threshold: float = 0.7,
                       k: int = DEFAULT_SHINGLE_K,
                       num_hashes: int = DEFAULT_NUM_HASHES,
                       bands: int = DEFAULT_BANDS,
                       base_band_rows: DataFrame | None = None) -> DataFrame:
    """Incremental NEAR-dup dedup — the fuzzy twin of ``dedup_against``
    (the composition its docstring promises): drop every new doc whose
    MinHash signature estimates Jaccard ≥ ``threshold`` against (a) any
    doc already in the base signature store, or (b) a smaller-id doc in
    the increment itself. Returns the surviving new docs, columns intact.

    ``base_signatures`` is a MATERIALIZED signature table
    (id_col, mh_0..mh_{num_hashes-1}) as produced by
    ``minhash_signatures`` — at a real store you append survivors'
    signatures per increment and never re-read the corpus text. Pass an
    empty signature frame for the first increment.

    Within-increment rule: greedy min-id — a doc is dropped if it pairs
    (est ≥ threshold) with ANY smaller-id increment doc, even one that
    was itself dropped (transitive boilerplate collapses onto the
    earliest representative). The batch path (graph.dedup_survivors)
    resolves the same clusters by connected components; for an
    increment the greedy rule is one join cheaper and agrees on
    pair-shaped clusters.

    Scale shape: increment-sized signature computation; candidate
    generation is the banded bucket join against the store (bounded
    per-bucket fan-out, same as minhash_lsh_candidates); signature
    verification joins only candidate ids. The store is only ever
    probed, never re-deduped. Pass ``base_band_rows`` — the store's
    MATERIALIZED (id_col, band_id, band_hash) table, see
    ``minhash_band_rows`` — so the probe scans precomputed buckets; when
    omitted, band hashes are recomputed over the whole store (fine for a
    one-off batch call, O(store) per call on a per-trigger hot path).

    Eagerness: the dropped-id set (tiny — at most one id per new doc) is
    materialized via ``localCheckpoint(eager=True)`` before returning so
    the increment's cached signatures can be unpersisted immediately —
    a long-running caller (the streaming sink invokes this every
    micro-batch) must not accumulate one CacheManager entry per trigger."""
    sig_new = minhash_signatures(new_docs, text_col, id_col, k, num_hashes).cache()
    bn = _band_rows(sig_new, id_col, num_hashes, bands)
    bb = (base_band_rows if base_band_rows is not None
          else _band_rows(base_signatures, id_col, num_hashes, bands))
    if base_band_rows is not None:
        bb = bb.select(F.col(id_col), "band_id", "band_hash")

    new_a = sig_new.select(*([F.col(id_col).alias("id_a")]
                             + [F.col(f"mh_{i}").alias(f"a_{i}")
                                for i in range(num_hashes)]))
    base_b = base_signatures.select(*([F.col(id_col).alias("id_b")]
                                      + [F.col(f"mh_{i}").alias(f"b_{i}")
                                         for i in range(num_hashes)]))
    vs_base = (
        bn.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
        .join(bb.select(F.col(id_col).alias("id_b"), "band_id", "band_hash"),
              ["band_id", "band_hash"])
        .select("id_a", "id_b").distinct()
        .join(new_a, "id_a").join(base_b, "id_b")
        .filter(_est_jaccard(num_hashes) >= threshold)
        .select("id_a").distinct()
    )
    new_b = sig_new.select(*([F.col(id_col).alias("id_b")]
                             + [F.col(f"mh_{i}").alias(f"b_{i}")
                                for i in range(num_hashes)]))
    within = (
        bn.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
        .join(bn.select(F.col(id_col).alias("id_b"), "band_id", "band_hash"),
              ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
        .join(new_a, "id_a").join(new_b, "id_b")
        .filter(_est_jaccard(num_hashes) >= threshold)
        .select(F.col("id_b").alias("id_a")).distinct()
    )
    dropped = (vs_base.union(within).distinct()
               .withColumnRenamed("id_a", id_col)
               .localCheckpoint(eager=True))
    sig_new.unpersist()
    return new_docs.join(dropped, id_col, "left_anti")


def duplicate_span_removal(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           window_tokens: int = 8,
                           with_text: bool = False) -> DataFrame:
    """Stride-1 exact duplicate-SPAN removal (the ExactSubstr rule of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499, on a whitespace-token grid): every
    ``window_tokens``-token sliding window of normalized text that
    occurs more than once corpus-wide keeps its FIRST occurrence
    (min (doc, pos)) and is excised everywhere else; a token is removed
    iff some excised window covers it, so overlapping duplicate windows
    merge into maximal removed spans (gaps-and-islands, not the disjoint
    chunk grid of :func:`chunk_dedup`, which misses duplicates that
    straddle a chunk boundary or sit at a different alignment).

    Output (one row per non-empty doc):
    ``(id_col, n_tokens, n_tokens_kept, cleaned_fp)`` — ``cleaned_fp``
    is the md5 of the surviving tokens joined by single spaces (''
    when every token sat inside a duplicated span). ``with_text=True``
    additionally emits the reassembled ``cleaned_text`` — the
    release-job shape, where the scrubbed corpus is what ships: token
    CASE is preserved from the original text (matching still runs on
    the normalized grid), inter-token whitespace canonicalizes to
    single spaces (the rule is token-grid-granular), and ``cleaned_fp``
    stays the md5 of the NORMALIZED reassembly either way.

    Scale shape: windows and tokens are both map-side array transforms
    (no UDF); the first-occurrence winner is one shuffle keyed by the
    window md5 (uniform by construction) whose payload is just
    (hash, id, pos) — the window TEXT never travels. Flagged positions
    join back to the token grid on (id, pos); coverage is a per-doc
    running max over token position (``max(flag_end) OVER (ORDER BY t
    ROWS UNBOUNDED PRECEDING) >= t`` — correct because all windows have
    identical length, so the latest start before t has the furthest
    end), and the reassembly agg reuses the doc-keyed partitioning the
    window just established. Per-doc cost is O(n log n) in its token
    count regardless of how many spans are flagged — there is no
    per-token scan over the flag list. Empty/whitespace-only docs are
    dropped up front (same contract as chunk_dedup); docs shorter than
    ``window_tokens`` produce no windows and survive intact.

    Reference anchor: the C4/chunk rule (reference `data_prep` dedup
    stage) only removes grid-aligned repeats; this is the alignment-free
    production scrubber a 100 TB pretraining corpus needs.
    """
    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    from pyspark.sql import Window

    k = window_tokens
    base = _span_base(df, text_col, id_col)
    wins = _window_grid(base, id_col, k)
    wwin = Window.partitionBy("wh").orderBy(id_col, "pos")
    flagged = (
        wins.withColumn("rn", F.row_number().over(wwin))
        .filter(F.col("rn") > 1)
        .select(id_col, "pos")
    )
    return _excise_spans(base, flagged, id_col, k, with_text)


def _span_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, ts, ts_raw, n_tokens) over non-empty normalized docs — the
    shared input frame of the duplicate-span family. ``ts`` is the
    NORMALIZED token array (every matching/fingerprint rule runs on
    it); ``ts_raw`` is the same token grid with original CASE preserved
    (whitespace-collapsed only), so the with_text reassembly ships the
    user's casing instead of silently lowercasing the corpus. The two
    arrays are positionally identical: lowering never touches the
    spaces the split runs on."""
    df = df.filter(F.length(textfns.normalize_text(text_col)) > 0)
    toks = textfns.whitespace_tokens(text_col)
    toks_raw = F.split(
        F.trim(F.regexp_replace(F.col(text_col), "\\s+", " ")), " ")
    return df.select(F.col(id_col), toks.alias("ts"),
                     toks_raw.alias("ts_raw"),
                     F.size(toks).alias("n_tokens"))


def _window_grid(base: DataFrame, id_col: str, k: int) -> DataFrame:
    """Stride-1 window grid (id, pos, wh): one row per start pos
    0..n-k, hash only — the window text never leaves the doc row."""
    starts = F.when(
        F.col("n_tokens") >= k,
        F.sequence(F.lit(0), F.col("n_tokens") - k),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        id_col,
        F.explode(starts).alias("pos"),
        F.col("ts"),
    ).select(
        id_col, "pos",
        F.md5(F.array_join(F.slice("ts", F.col("pos") + 1, k), " ")).alias("wh"),
    )


def _excise_spans(base: DataFrame, flagged: DataFrame, id_col: str,
                  k: int, with_text: bool = False) -> DataFrame:
    """Token grid + coverage running-max + reassembly — flagged
    positions (id, pos) become removed [pos, pos+k-1] spans; one
    doc-keyed shuffle shared by the window and the final agg.
    ``with_text`` additionally emits the reassembled ``cleaned_text``
    with original token CASE preserved (inter-token whitespace is
    canonicalized to single spaces — the rule works on a token grid).
    ``cleaned_fp`` is ALWAYS md5 of the NORMALIZED reassembly (the
    cross-engine dedup contract), so with_text never changes hashes."""
    from pyspark.sql import Window

    tok = base.select(
        id_col,
        F.posexplode(F.arrays_zip("ts", "ts_raw")).alias("t", "z"),
    ).select(id_col, "t", F.col("z.ts").alias("tok"),
             F.col("z.ts_raw").alias("tok_raw"))
    dwin = (Window.partitionBy(id_col).orderBy("t")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cov = (
        tok.join(flagged.withColumnRenamed("pos", "t").withColumn(
            "is_flag", F.lit(True)), [id_col, "t"], "left")
        .withColumn("runmax", F.max(
            F.when(F.col("is_flag"), F.col("t") + (k - 1)).otherwise(F.lit(-1))
        ).over(dwin))
        .withColumn("keep", (F.col("runmax") < F.col("t")).cast("int"))
    )
    aggs = [
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("keep").alias("n_tokens_kept"),
        F.md5(_ordered_kept_join("t", "tok", "keep")).alias("cleaned_fp"),
    ]
    if with_text:
        aggs.append(
            _ordered_kept_join("t", "tok_raw", "keep").alias("cleaned_text"))
    cols = [id_col, "n_tokens", "n_tokens_kept", "cleaned_fp"] + (
        ["cleaned_text"] if with_text else [])
    return cov.groupBy(id_col).agg(*aggs).select(*cols)


def span_window_hashes(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       window_tokens: int = 8) -> DataFrame:
    """DISTINCT stride-1 window hashes of a corpus — the persistable
    store side of incremental/streaming duplicate-span removal (column:
    ``wh``). Feed back via ``duplicate_span_removal_against(...,
    base_hashes=...)`` so the store corpus is never re-tokenized."""
    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    return (
        _window_grid(_span_base(df, text_col, id_col), id_col, window_tokens)
        .select("wh").distinct()
    )


def duplicate_span_removal_against(new_docs: DataFrame,
                                   base_docs: DataFrame | None = None,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   window_tokens: int = 8,
                                   base_hashes: DataFrame | None = None) -> DataFrame:
    """Incremental duplicate-span removal (X39's daily-increment shape,
    the dedup_against pattern): excise from NEW docs every
    ``window_tokens``-token sliding window that (a) already occurs
    anywhere in the BASE corpus — the store always wins, regardless of
    id order — or (b) occurred earlier within the increment itself
    (min (doc, pos) first-occurrence, q127's rule). The base corpus is
    never re-scrubbed. When every base id sorts before every new id,
    the output equals the full-corpus rule restricted to new docs
    (pinned by test).

    Output: q127's schema, restricted to the increment.

    Pass EITHER ``base_docs`` (tokenized here) or ``base_hashes`` (a
    precomputed ``span_window_hashes`` frame — the persisted-store
    shape used by the streaming sink, where base text is long gone).

    Scale shape: the base side reduces to DISTINCT window hashes before
    the join — at a real store, keep that hash table materialized and
    bucketed by ``wh``; each increment then costs one join against it
    shuffled by the uniform md5 key, plus the increment-sized
    first-occurrence window. Base text is never tokenized twice across
    increments and never travels."""
    if window_tokens <= 0:
        raise ValueError(f"window_tokens must be positive, got {window_tokens}")
    if (base_docs is None) == (base_hashes is None):
        raise ValueError("pass exactly one of base_docs / base_hashes")
    from pyspark.sql import Window

    k = window_tokens
    if base_hashes is None:
        base_hashes = span_window_hashes(base_docs, text_col, id_col, k)
    base_hashes = (base_hashes.select("wh").distinct()
                   .withColumn("in_base", F.lit(True)))
    nb = _span_base(new_docs, text_col, id_col)
    nw = _window_grid(nb, id_col, k)
    wwin = Window.partitionBy("wh").orderBy(id_col, "pos")
    flagged = (
        nw.withColumn("rn", F.row_number().over(wwin))
        .join(base_hashes, "wh", "left")
        .filter((F.col("rn") > 1) | F.col("in_base").isNotNull())
        .select(id_col, "pos")
    )
    return _excise_spans(nb, flagged, id_col, k)


def edit_distance_verify(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         max_rel_dist: str | float = "0.2",
                         k: int = DEFAULT_SHINGLE_K,
                         num_hashes: int = DEFAULT_NUM_HASHES,
                         bands: int = DEFAULT_BANDS,
                         pairs: DataFrame | None = None,
                         abs_cap: int | None = None) -> DataFrame:
    """Exact edit-distance verification of the MinHash-LSH candidate
    set (X40): the standard LSH-then-verify contract with Levenshtein
    as the verify metric — a character-level complement to the
    bag-of-shingles Jaccard estimate (est_jaccard is blind to token
    ORDER; edit distance is not, so a shuffled near-dup that fools
    MinHash fails here).

    A pair (a, b) is verified when
    ``lev(norm_a, norm_b) · den ≤ max(len_a, len_b) · num`` with
    num/den = Fraction(str(max_rel_dist)) — the integer-exact threshold
    policy shared with the heavy-hitters tier (operators/heavy.py), so
    both engines agree at the boundary by construction; no IEEE
    division ever happens.

    ``pairs`` overrides the candidate source: any (id_a, id_b) frame —
    SimHash blocks, winnow overlaps — can feed the
    same verify stage; the default is the MinHash-LSH candidate set.

    Output: (id_a, id_b, edit_dist, len_a, len_b), all BIGINT —
    verified pairs only.

    ``abs_cap`` (the scale knob) switches the DP to Spark's banded
    ``levenshtein(l, r, threshold)`` — O(cap·len) per pair with an
    early exit the moment the whole band exceeds the cap, instead of
    the full O(len_a·len_b) table. It ADDS ``edit_dist ≤ abs_cap`` to
    the verify rule (the banded form returns -1 above the cap), so it
    only preserves exact semantics when ``abs_cap ≥ max_rel_dist ·
    max_doc_len`` over the corpus — pick it from the known length cap
    of the pipeline (q128 uses 120 against ≤577-char normalized docs at
    rel 0.2 → rel-verified dist can never exceed 116: provably
    non-binding there, measured ~4× cheaper).

    Scale shape: candidate generation is q32's banded LSH (bounded
    fan-out per band bucket — never all-pairs); the DP runs ONLY on the
    surviving candidate set, reached by two id-keyed joins that ship
    the normalized text once each.
    """
    from fractions import Fraction

    frac = Fraction(str(max_rel_dist))
    if not 0 < frac <= 1:
        raise ValueError(f"max_rel_dist must be in (0, 1], got {max_rel_dist}")
    if frac.denominator > 10**6:
        # a float that doesn't round-trip to a short decimal (e.g. 1/3)
        # yields den ~ 10^16, and edit_dist * den overflows BIGINT for
        # dist >= ~10^3 — ANSI mode crashes, non-ANSI silently wraps and
        # wrongly verifies pairs. Force an exact short-decimal spelling.
        raise ValueError(
            f"max_rel_dist={max_rel_dist!r} does not reduce to a short "
            f"decimal (denominator {frac.denominator}); pass a string "
            f"with <= 6 decimal places, e.g. '0.333333'")
    num, den = frac.numerator, frac.denominator
    if pairs is None:
        pairs = minhash_lsh_candidates(df, text_col, id_col, k, num_hashes,
                                       bands)
    pairs = pairs.select("id_a", "id_b")
    norm = df.select(
        F.col(id_col),
        textfns.normalize_text(text_col).alias("_ntext"),
    )
    na = norm.select(F.col(id_col).alias("id_a"),
                     F.col("_ntext").alias("_ta"))
    nb = norm.select(F.col(id_col).alias("id_b"),
                     F.col("_ntext").alias("_tb"))
    if abs_cap is None:
        dist = F.levenshtein("_ta", "_tb")
        extra = F.lit(True)
    else:
        if abs_cap <= 0:
            raise ValueError(f"abs_cap must be positive, got {abs_cap}")
        dist = F.levenshtein("_ta", "_tb", abs_cap)
        extra = F.col("edit_dist") >= 0   # banded form returns -1 above cap
    return (
        pairs.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b",
            dist.cast("long").alias("edit_dist"),
            F.length("_ta").cast("long").alias("len_a"),
            F.length("_tb").cast("long").alias("len_b"),
        )
        .filter(extra & (F.col("edit_dist") * den
                         <= F.greatest("len_a", "len_b") * num))
    )
