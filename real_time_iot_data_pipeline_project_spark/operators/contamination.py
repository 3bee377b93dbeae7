"""Benchmark-contamination screening at probe scale.

The task: given a corpus and a list of eval-set canary strings
("probes"), find every (document, probe) pair where the probe occurs
verbatim in the document's normalized text. A real curation run screens
THOUSANDS of probes over 100 TB — a per-probe ``contains`` OR-chain
(fine for 3 probes, see ``screen_literal_probes``) scales as
O(docs × probes) string scans and recompiles the plan per probe list.

Scale design (``screen_probes``): winnowing-fingerprint intersection.
Both sides are fingerprinted with the SAME winnowing scheme
(operators.dedup.winnow_fingerprints, Schleimer et al.): any shared
substring of length ≥ k + window − 1 (= 8 chars at defaults) is
GUARANTEED to share a selected fingerprint, so a fingerprint equi-join
finds every true hit (no false negatives for probes ≥ 8 normalized
chars). The probe fingerprint dim is tiny (probes × ~probe_len hashes)
→ broadcast; docs are fingerprinted once (persist the fingerprint table
at real scale and screening N probe lists costs N broadcast joins, not
N corpus scans). Hash collisions (60-bit) produce rare false
candidates, removed by an exact ``contains`` verify on ONLY the
candidate pairs — the quadratic step never runs corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import textfns
from . import dedup


def screen_literal_probes(docs: DataFrame, probes: list[str],
                          text_col: str = "text") -> DataFrame:
    """Small-list fast path (≲ tens of probes): one codegen'd
    contains-OR chain, pure scan, no shuffle/join. The probe list rides
    the plan like a broadcast dim."""
    norm = textfns.normalize_text(text_col)
    n_hits = None
    for p in probes:
        h = F.when(norm.contains(p), 1).otherwise(0)
        n_hits = h if n_hits is None else n_hits + h
    return docs.withColumn("n_probes_hit", n_hits).filter(F.col("n_probes_hit") > 0)


def screen_probes(docs: DataFrame, probes: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  probe_text_col: str = "probe_text",
                  probe_id_col: str = "probe_id",
                  k: int = dedup.DEFAULT_SHINGLE_K,
                  window: int = 4,
                  min_parallelism: int | None = None) -> DataFrame:
    """Verified (doc_id, probe_id) contamination hits via
    winnowing-fingerprint intersection + exact contains verify.

    Exact semantics (what the oracle checks): hit iff
    ``contains(normalize(doc.text), probe_text)``. Probes must be ≥
    k + window − 1 normalized chars for the no-false-negative guarantee
    (8 at defaults); shorter probes raise."""
    min_len = k + window - 1
    short = probes.filter(
        F.length(textfns.normalize_text(probe_text_col)) < min_len
    ).limit(1).count()
    if short:
        raise ValueError(
            f"probes shorter than {min_len} normalized chars void the "
            "winnowing detection guarantee; lengthen them or lower k/window"
        )
    doc_fps = dedup.winnow_fingerprints(docs, text_col, id_col, k, window,
                                        min_parallelism=min_parallelism)
    probe_fps = dedup.winnow_fingerprints(
        probes, probe_text_col, probe_id_col, k, window
    )
    cands = (
        doc_fps.join(F.broadcast(probe_fps), "fingerprint")
        .select(id_col, probe_id_col)
        .distinct()
    )
    return (
        cands
        .join(docs.select(id_col, textfns.normalize_text(text_col).alias("__norm")),
              id_col)
        .join(F.broadcast(probes.select(probe_id_col, probe_text_col)), probe_id_col)
        .filter(F.col("__norm").contains(F.col(probe_text_col)))
        .select(id_col, probe_id_col)
    )


def synthetic_probe_dim(spark: SparkSession, docs: DataFrame,
                        n_synthetic: int = 1000, probe_len: int = 60,
                        min_text_len: int = 80,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic stand-in for a real eval-canary list (no eval sets
    ship in this sandbox): planted probes = verbatim substrings of the
    normalized text of every even-id doc (guaranteed hits), plus
    ``n_synthetic`` md5-hex strings (guaranteed misses). probe_id keeps
    the source doc_id for planted probes; synthetic ids start at 10^6."""
    norm = textfns.normalize_text(text_col)
    planted = (
        docs.filter((F.col(id_col) % 2 == 0) & (F.length(norm) >= min_text_len))
        .select(
            F.col(id_col).cast("long").alias("probe_id"),
            F.substring(norm, 21, probe_len).alias("probe_text"),
        )
    )
    synth = spark.range(n_synthetic).select(
        (F.col("id") + 1_000_000).alias("probe_id"),
        F.md5(F.col("id").cast("string")).alias("probe_text"),
    )
    return planted.unionByName(synth)


def scrub_probe_spans(docs: DataFrame, probes: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      probe_text_col: str = "probe_text",
                      probe_id_col: str = "probe_id",
                      window_tokens: int = 8) -> DataFrame:
    """Decontamination by EXCISION (X5's scrub tier): remove every
    ``window_tokens``-token sliding window of the corpus that appears
    verbatim inside any probe, and keep the REST of each document —
    the Lee et al. 2021 (arXiv:2107.06499) treatment of contaminated
    spans, where drop-the-doc (``screen_probes`` + anti-join, the
    GPT-3 §C policy) throws away an entire document for one quoted
    benchmark sentence.

    Mechanics are X39's excision machinery against the probes' window
    store: probe window hashes (dedup.span_window_hashes over the
    probe text) flag matching doc-grid windows, overlapping flags
    merge into maximal spans, docs reassemble from surviving tokens
    with original case (``cleaned_text``) — so an occurrence of a
    probe spanning ≥ window_tokens aligned tokens is excised in FULL
    at EVERY occurrence (all its internal windows are flagged).  The
    unit is the normalized token grid (the span family's contract):
    probes shorter than ``window_tokens`` tokens contribute no
    windows and scrub nothing — screen them with the char-level
    ``screen_probes`` instead.  Returns q127's with_text schema
    (id, n_tokens, n_tokens_kept, cleaned_fp, cleaned_text).

    Scale shape: the probe store reduces to DISTINCT 32-byte hashes
    (broadcastable dim); the corpus side is one map-side window grid
    + a hash join + the doc-keyed excision window — text never
    shuffles, probes are tokenized once."""
    probe_hashes = dedup.span_window_hashes(
        probes, probe_text_col, probe_id_col, window_tokens)
    base = dedup._span_base(docs, text_col, id_col)
    grid = dedup._window_grid(base, id_col, window_tokens)
    flagged = (grid.join(F.broadcast(probe_hashes.select("wh")
                                     .withColumnRenamed("wh", "__pwh")),
                         F.col("wh") == F.col("__pwh"), "left_semi")
               .select(id_col, "pos"))
    return dedup._excise_spans(base, flagged, id_col, window_tokens,
                               with_text=True)


def semantic_decontam_hits(docs, probes, threshold: float = 0.8,
                           text_col: str = "text",
                           id_col: str = "doc_id",
                           probe_id_col: str = "probe_id",
                           dim: int = 64):
    """Embedding-space contamination screen (round 14, X71): flag
    corpus docs whose hashing-trick embedding is within ``threshold``
    cosine of an eval probe's — the SEMANTIC tier of the
    decontamination family.  Exact n-gram screening (X5's chunk-hash
    overlap / q151's span excision) catches verbatim leakage;
    PARAPHRASED eval items — reworded questions, translated passages,
    boilerplate-stripped copies — share no 8-token chunk and sail
    through, but land near the original in embedding space.  Modern
    decontamination runs both tiers; this is the second.

    Composition of gated rules only: X31's vocabulary-free hashing
    embeddings on BOTH sides (no model artifact to ship or pin; the
    q118 determinism argument — integer sums, exact sqrt, one
    division — makes every vector bit-identical cross-engine) and
    embedding.cosine, thresholded on the raw double (identical
    expression trees both engines), reported at 6 dp.
    Returns (doc_id, probe_id, cosine_sim) — one row per flagged
    (doc, probe) pair; feed ``.select(id).distinct()`` to a left_anti
    join to drop, or audit the report directly.

    Scale shape: eval probe sets are BOUNDED (10²–10⁴ rows), so the
    probe embeddings broadcast and the screen is ONE scan-stage
    n·|probes| cosine pass over the corpus embeddings — no shuffle,
    no index required."""
    from pyspark.sql import functions as F

    from .embedding import cosine, hashing_embed_dense

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    demb = hashing_embed_dense(docs, text_col, id_col, dim)
    pemb = (hashing_embed_dense(probes, text_col, probe_id_col, dim)
            .withColumnRenamed("embedding", "__pvec"))
    cos = cosine(F.col("embedding"), F.col("__pvec"))
    return (demb.crossJoin(F.broadcast(pemb))
            .where(cos >= F.lit(float(threshold)))
            .select(id_col, probe_id_col,
                    F.round(cos, 6).alias("cosine_sim")))
