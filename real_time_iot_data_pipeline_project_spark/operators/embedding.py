"""Feature-hashing ("hashing trick") document embedder — a cheap,
vocabulary-free embedding the large-scale tier uses when a neural
embedder is too expensive to run over the whole corpus: each token is
hashed into one of ``dim`` buckets with a hash-derived ±1 sign
(Weinberger et al., "Feature Hashing for Large Scale Multitask
Learning", ICML'09), giving a sparse signed-count vector whose cosine
geometry approximates token-profile similarity.

It is ENTIRELY JVM-side — explode → hash → two doc-keyed aggregates,
zero Python, zero UDFs — so it runs at scan-shuffle speed over 100 TB.
Its one consumer is the semantic contamination screen
(contamination.semantic_decontam_hits, registry q169), which compares
the dense vectors with ``cosine``.

Determinism (cross-engine exact): bucket weights are INTEGER sums of
±1 (order-free), the L2 norm is sqrt of an integer-valued double
(IEEE sqrt is correctly rounded, hence exact), and the final division
is one exact IEEE op — so Spark and the SQL oracle produce
bit-identical doubles with no rounding fudge (registry q118).

Output is the SPARSE form (id, bucket, weight) with zero-sum buckets
dropped — the natural shuffle-friendly representation at corpus scale;
``to_dense`` assembles array<double> vectors when a consumer needs
them (broadcast-sized batches only — a 100 TB corpus stays sparse);
``hashing_embed_dense`` fuses embed→dense in one aggregation.

Round-16 measurement note (kept so the next round doesn't retry it):
collapsing the two exchanges into ONE doc-keyed aggregation of ``dim``
conditional sums (the explicit-values pivot form) was implemented and
measured 2.5× SLOWER at sf0.1 (q118 1.06→2.67 s, q169 2.67→6.77 s):
the partial aggregate evaluates dim=64 when()-updates per TOKEN row,
and token rows outnumber the aggregated (doc, bucket) rows the saved
exchange would have moved by orders of magnitude.  The two-exchange
tall shape is the right trade — both exchanges move only aggregated
rows (≤ dim per doc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import textfns


def _bucket_sums(df: DataFrame, text_col: str, id_col: str,
                 dim: int) -> DataFrame:
    """(id_col, bucket, __w) nonzero signed bucket sums — the shared
    front end: explode → hash → ONE (id, bucket)-keyed aggregation
    whose exchange moves partially aggregated rows, never token rows.

    bucket = hash60(token) mod dim; sign = ±1 from the next hash bit
    (integer DIV, not float division — a double quotient of a 60-bit
    hash would lose the low bits that carry the sign)."""
    toks = (df.select(id_col,
                      F.explode(F.split(F.lower(F.col(text_col)), " "))
                      .alias("__tok"))
            .where(F.col("__tok") != ""))
    hashed = toks.withColumn("__h", textfns.portable_hash60("__tok"))
    signed = hashed.select(
        id_col,
        F.pmod(F.col("__h"), F.lit(dim)).alias("bucket"),
        F.when(F.pmod(F.expr(f"__h DIV {dim}"), F.lit(2)) == 0,
               F.lit(1)).otherwise(F.lit(-1)).alias("__sign"),
    )
    return (signed.groupBy(id_col, "bucket")
            .agg(F.sum("__sign").alias("__w"))
            .where(F.col("__w") != 0))


def hashing_embed_sparse(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", dim: int = 64,
                         normalize: bool = True) -> DataFrame:
    """(id_col, bucket, weight) sparse hashing-trick embedding rows.

    Zero-sum buckets are dropped (they carry no geometry and would
    bloat the sparse form). With ``normalize`` the weights are
    L2-normalized per document so dot products ARE cosines.

    Plan shape: one shuffle for the (id, bucket) partial-aggregated
    sum, one doc-keyed exchange for the norm window — both move only
    aggregated rows (≤ dim per doc), never token rows."""
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    sums = _bucket_sums(df, text_col, id_col, dim)
    if not normalize:
        return sums.select(id_col, "bucket",
                           F.col("__w").cast("double").alias("weight"))
    w = Window.partitionBy(id_col)
    return (sums.withColumn(
        "__nrm",
        F.sqrt(F.sum(F.col("__w").cast("double") * F.col("__w")).over(w)))
        .select(id_col, "bucket",
                (F.col("__w") / F.col("__nrm")).alias("weight")))


def hashing_embed_dense(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", dim: int = 64) -> DataFrame:
    """(id_col, embedding array<double>) — ``to_dense`` ∘
    ``hashing_embed_sparse`` fused (optimization round 16): the
    second doc-keyed pass is ONE hash aggregation that collects the
    (bucket, w) map and the Σw² norm term together, and the dense
    vector is assembled from that row map-side.  The composition paid
    a WINDOW for the norm (Exchange + full SORT by id) and then
    re-aggregated the normalized rows in ``to_dense`` on the same key;
    this path keeps the same two exchanges but replaces sort + window
    + re-aggregation with one sort-free hash aggregate.

    Output is row-for-row identical to the composition (pinned by
    test): the norm is the same exact sqrt of an integer-valued sum
    (Σw² in LONG arithmetic, exact — |w| ≤ tokens/doc keeps it far
    below 2^53), each weight the same single IEEE division, missing
    buckets 0.0, and a document whose every bucket sums to zero is
    ABSENT exactly as the sparse form leaves it."""
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    sums = _bucket_sums(df, text_col, id_col, dim)
    per_doc = sums.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "__w"))).alias("__m"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sq"))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    nrm = F.sqrt(F.col("__sq").cast("double"))
    return per_doc.select(
        id_col,
        F.transform(idx, lambda i: F.coalesce(
            F.element_at("__m", i.cast("long")) / nrm, F.lit(0.0)))
        .alias("embedding"))


def to_dense(sparse: DataFrame, id_col: str = "doc_id",
             dim: int = 64) -> DataFrame:
    """Assemble (id_col, embedding array<double>) from the sparse form —
    for consumers that need fixed-width vectors. One doc-keyed aggregate;
    missing buckets are 0.0. Meant for bounded batches (a query set, a
    shard) — corpus-scale similarity should consume the sparse form.
    For the common embed→dense composition prefer
    ``hashing_embed_dense`` (sort-free fused plan)."""
    entries = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "weight"))).alias("__m"))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    return entries.select(
        id_col,
        F.transform(idx, lambda i: F.coalesce(
            F.element_at("__m", i.cast("long")), F.lit(0.0)))
        .alias("embedding"))


def cosine(a: Column, b: Column) -> Column:
    """Cosine of two array<double> Columns: a sequential left fold of
    the products over ``zip_with`` divided by the two folded L2 norms —
    the same expression order as the oracles' ``list_dot_product``
    template, so thresholding on the raw double agrees across engines."""
    def _dot(x, y):
        return F.aggregate(F.zip_with(x, y, lambda u, v: u * v),
                           F.lit(0.0), lambda acc, v: acc + v)

    def _norm(x):
        return F.sqrt(F.aggregate(x, F.lit(0.0),
                                  lambda acc, v: acc + v * v))

    return _dot(a, b) / (_norm(a) * _norm(b))
