"""x100 scale probe (VERDICT r7 item 5): two decades of scaling
evidence for the three structurally riskiest queries.

The x10 stress harness (tools/scale_stress.py + STRESS_X10.md) gives
one decade; this probe replicates sf0.1 by 100 (≈10M events / ≈500k
documents, same key-remapped non-duplicating scheme) and measures:

- **q53 (LSH connected components)**: does the large-star/small-star
  round count stay logarithmic-flat on the 100× pair graph, and is
  wall time ~linear in edges?
- **q79 (bounded winnow overlap)**: does the stop-fingerprint cap keep
  the emitted pair count and wall time ~linear in documents?
- **q112-shape SCD2 fold (bucketed sink locality)**: with the
  accumulated dimension grown 100× and n_buckets scaled with it
  (production sizing: constant bucket bytes), does folding a FIXED
  50-key increment stay ~flat? This is the O(touched + increment),
  never O(accumulated dimension), claim measured directly.

Usage:
  python tools/x100_probe.py [--skip-build]
Writes replicas to /tmp/sfx10_probe and /tmp/sfx100_probe (outside the
repo); never touches /root/testdata. Single-run timings at x100 (the
queries are minutes-scale there; run-to-run noise is small relative to
the decade ratios being measured).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from real_time_iot_data_pipeline_project_spark import registry  # noqa: E402
from real_time_iot_data_pipeline_project_spark.session import get_spark  # noqa: E402

from scale_stress import scale_table  # noqa: E402

SF01 = "/root/testdata/sf0.1"
X10 = "/tmp/sfx10_probe"
X100 = "/tmp/sfx100_probe"


def build(spark, out_dir: str, factor: int) -> None:
    for t in ("documents", "events"):
        path = f"{out_dir}/{t}.parquet"
        if os.path.exists(path):
            continue
        scale_table(spark, t, factor).write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        print(f"BUILD {out_dir}/{t}: {n} rows", flush=True)


def probe_q53(spark, sf_dir: str) -> dict:
    """q53's exact pipeline, with the star round count captured."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        dedup, graph,
    )

    docs = registry._t(spark, sf_dir, "documents")
    t0 = time.monotonic()
    pairs = dedup.minhash_lsh_candidates(docs).filter(
        F.col("est_jaccard") >= 0.75)
    stats: dict = {}
    comp = graph.connected_components_star(
        docs.select("doc_id"), pairs, id_col="doc_id", stats=stats)
    n = comp.count()
    dt = time.monotonic() - t0
    return {"sec": round(dt, 2), "rows": n,
            "rounds": stats.get("rounds")}


def probe_q79(spark, sf_dir: str) -> dict:
    t0 = time.monotonic()
    df = registry.QUERIES["q79_winnow_overlap_bounded"](spark, sf_dir)
    n = df.count()
    return {"sec": round(time.monotonic() - t0, 2), "pairs": n}


def probe_query(name: str):
    """Generic registry-query probe (round 9: q76 near-dedup e2e and
    q48 training pipeline — the two headline compositions that only had
    x10 evidence; VERDICT r8 item 3)."""
    def p(spark, sf_dir: str) -> dict:
        t0 = time.monotonic()
        n = registry.QUERIES[name](spark, sf_dir).count()
        return {"sec": round(time.monotonic() - t0, 2), "rows": n}
    return p


def probe_semantic_fixed_probes(spark, sf_dir: str) -> dict:
    """X71 at the production shape: |probes| pinned to the sf0.1
    slice (~0.5% of 6k docs) at every decade while the CORPUS scales —
    the q169 registry probe lets probes grow with the replica (the
    1/211 slice), which makes pairs ~n²/211 by harness construction;
    an eval set is fixed in reality."""
    from pyspark.sql import functions as F

    from real_time_iot_data_pipeline_project_spark.operators import (
        contamination,
    )

    docs = registry._t(spark, sf_dir, "documents")
    probes = (registry._t(spark, SF01, "documents")
              .where(F.col("doc_id") % 211 == 0)
              .select(F.col("doc_id").alias("probe_id"), "text"))
    t0 = time.monotonic()
    n = contamination.semantic_decontam_hits(docs, probes,
                                             threshold=0.8).count()
    return {"sec": round(time.monotonic() - t0, 2), "rows": n}


def probe_waterfill_prethin(spark, sf_dir: str) -> dict:
    """q139's exact invocation with the round-12 ``prethin_margin``
    shortcut: rows above the (1+margin)*allocation/capacity hash
    percentile drop map-side BEFORE the per-stratum sorted window, so
    the cumsum stage runs on ~the allocation-sized head instead of the
    whole corpus.  Row counts must match q139_wf_sample's exactly (the
    operator raises on any shortfall; equality is also pinned by
    tests/test_curation_ops.py)."""
    from real_time_iot_data_pipeline_project_spark.functions import textfns
    from real_time_iot_data_pipeline_project_spark.operators import sampling

    t0 = time.monotonic()
    docs = registry._t(spark, sf_dir, "documents")
    total = int(docs.agg(
        F.sum(textfns.token_count("text")).cast("long")).head()[0])
    w = (F.when(F.col("source") == "src0", 50)
         .when(F.col("source") == "src1", 30).otherwise(1))
    n = sampling.waterfill_sample(docs, "source", "doc_id", w,
                                  total * 2 // 5,
                                  prethin_margin=0.5).count()
    return {"sec": round(time.monotonic() - t0, 2), "rows": n}


def probe_waterfill_prethin_smallbudget(spark, sf_dir: str) -> dict:
    """The pre-thin's actual production scenario: a small budget share
    (10% of corpus tokens — sampling a slice of a 100 TB corpus),
    where the per-stratum sorted window shrinks to ~the
    allocation-sized head.  Reports the window-input row counts (full
    corpus vs pre-thin survivors — the sort/spill driver at scale)
    alongside wall time, and asserts the kept sets match row-for-row.
    Margin 1.0: at sf0.1 the strata are a few hundred docs, so the
    greedy boundary's hash percentile still wobbles a few points —
    the x1 rung of this probe is exactly the small-stratum regime the
    operator's shortfall check exists for (at 0.5 it fires there, by
    design; tighter margins are for production-sized strata)."""
    from real_time_iot_data_pipeline_project_spark.functions import textfns
    from real_time_iot_data_pipeline_project_spark.operators import sampling
    from real_time_iot_data_pipeline_project_spark.operators.sampling import (
        portable_hash60,
    )

    docs = registry._t(spark, sf_dir, "documents")
    total = int(docs.agg(
        F.sum(textfns.token_count("text")).cast("long")).head()[0])
    w = F.lit(1)
    budget = total // 10
    margin = 1.0
    t0 = time.monotonic()
    n_base = sampling.waterfill_sample(docs, "source", "doc_id", w,
                                       budget).count()
    base_sec = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    n_thin = sampling.waterfill_sample(docs, "source", "doc_id", w,
                                       budget,
                                       prethin_margin=margin).count()
    thin_sec = round(time.monotonic() - t0, 2)
    assert n_base == n_thin, (n_base, n_thin)
    # window-input sizes: the full corpus (unthinned) vs the rate
    # survivors (same cutoff rule as the operator)
    rows_full = docs.count()
    alloc = sampling.mixture_waterfill(docs, "source", w, budget)
    a = F.broadcast(alloc.select(F.col("source").alias("__astratum"),
                                 "allocation_tokens", "capacity_tokens"))
    h = portable_hash60(F.concat(F.lit("wfill|"),
                                 F.col("doc_id").cast("string")))
    rate = F.least(F.lit(1.0),
                   F.lit(1.0 + margin) * F.col("allocation_tokens")
                   / F.greatest(F.col("capacity_tokens"), F.lit(1)))
    rows_thin = (docs.select("source", "doc_id").withColumn("__h", h)
                 .join(a, F.col("source").eqNullSafe(F.col("__astratum")))
                 .where(F.col("__h").cast("double")
                        < rate * float(1 << 60))).count()
    return {"sec": thin_sec, "base_sec": base_sec, "rows": n_thin,
            "window_rows_thin": rows_thin, "window_rows_full": rows_full}


def probe_epoch_prethin(spark, sf_dir: str) -> dict:
    """Round 13 (VERDICT r12 item 2): the partial-pass pre-thin
    threaded through epoch_expand, at its production scenario — a
    small budget share so the per-stratum sorted cumsum window (the
    expansion's one corpus-sized serialized stage) shrinks to ~the
    remainder-sized head.  Reports the PARTIAL-PASS window-input row
    counts (remainder>0 strata rows, full vs pre-thin survivors)
    alongside wall time, and asserts the expanded (doc, epoch) sets
    match row-for-row (also pinned by tests/test_curation_ops.py)."""
    from real_time_iot_data_pipeline_project_spark.functions import textfns
    from real_time_iot_data_pipeline_project_spark.operators import sampling
    from real_time_iot_data_pipeline_project_spark.operators.sampling import (
        portable_hash60,
    )

    docs = registry._t(spark, sf_dir, "documents")
    total = int(docs.agg(
        F.sum(textfns.token_count("text")).cast("long")).head()[0])
    w = F.lit(1)
    budget = total // 10
    margin = 1.0
    t0 = time.monotonic()
    n_base = sampling.epoch_expand(docs, "source", "doc_id", w, budget,
                                   max_epochs=4).count()
    base_sec = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    n_thin = sampling.epoch_expand(docs, "source", "doc_id", w, budget,
                                   max_epochs=4,
                                   prethin_margin=margin).count()
    thin_sec = round(time.monotonic() - t0, 2)
    assert n_base == n_thin, (n_base, n_thin)
    # partial-pass window-input sizes: all rows of remainder>0 strata
    # (unthinned) vs the rate survivors (the operator's cutoff rule)
    plan = sampling.epoch_plan(docs, "source", w, budget, max_epochs=4)
    p = F.broadcast(plan.select(F.col("source").alias("__ps"),
                                "epochs_full", "remainder_tokens",
                                "capacity_tokens"))
    joined = (docs.select("source", "doc_id")
              .join(p, F.col("source").eqNullSafe(F.col("__ps")))
              .where(F.col("remainder_tokens") > 0))
    rows_full = joined.count()
    h = portable_hash60(F.concat(
        F.lit("epoch|"), F.col("epochs_full").cast("string"),
        F.lit("|"), F.col("doc_id").cast("string")))
    rate = F.least(F.lit(1.0),
                   F.lit(1.0 + margin) * F.col("remainder_tokens")
                   / F.greatest(F.col("capacity_tokens"), F.lit(1)))
    rows_thin = joined.withColumn("__h", h).where(
        F.col("__h").cast("double") < rate * float(1 << 60)).count()
    return {"sec": thin_sec, "base_sec": base_sec, "rows": n_thin,
            "window_rows_thin": rows_thin, "window_rows_full": rows_full}


def probe_zorder_layout(spark, sf_dir: str) -> dict:
    """X43 at production file sizing (round 11): n_files scales with
    the corpus (constant rows-per-file ≈ 6.2k — at 100 TB this is
    'constant file bytes'), the write is re-timed, and the band-
    predicate files-read FRACTION is measured for the z layout vs the
    x-sorted twin. The scale claim: the z fraction stays ~flat as file
    count grows 100× (each file is a rectangle, the band covers a
    fixed share of rectangles), while x-sorted stays at 1.0 — reading
    EVERYTHING, 100× more bytes."""
    import hashlib
    import shutil

    from real_time_iot_data_pipeline_project_spark.operators import layout

    ev = (registry._t(spark, sf_dir, "events")
          .select("event_id",
                  F.pmod(F.col("user_id"), F.lit(256)).alias("x"),
                  F.pmod(F.expr("unix_timestamp(ts) div 3600"),
                         F.lit(256)).alias("y")))
    n = ev.count()
    n_files = max(16, n // 6250)
    # sf+pid tagged like registry._scratch_dir — fixed paths let two
    # concurrent probe runs measure a mix of each other's corpora
    tag = f"{hashlib.md5(sf_dir.encode()).hexdigest()[:10]}_{os.getpid()}"
    zdir, xdir = f"/tmp/zprobe_z_{tag}", f"/tmp/zprobe_x_{tag}"
    t0 = time.monotonic()
    layout.zorder_write(ev, zdir, "x", "y", bits=8, n_files=n_files)
    z_write = time.monotonic() - t0
    (ev.repartitionByRange(n_files, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(xdir))

    def band_frac(path):
        rows = layout.file_extents(spark, path, ["y"]).collect()
        hit = sum(1 for r in rows if r.min_y <= 111 and r.max_y >= 96)
        return hit, len(rows)

    zh, zn = band_frac(zdir)
    xh, xn = band_frac(xdir)
    shutil.rmtree(zdir, ignore_errors=True)
    shutil.rmtree(xdir, ignore_errors=True)
    return {"sec": round(z_write, 2), "rows": n, "n_files": n_files,
            "z_band_frac": round(zh / max(zn, 1), 3),
            "x_band_frac": round(xh / max(xn, 1), 3)}


def probe_edit_verify_sized(spark, sf_dir: str) -> dict:
    """X40 probe at the operator's own production sizing: with the
    gate's pinned (12 hashes, 4 bands) banding, the per-pair random
    band-collision probability is a CONSTANT, so noise candidates grow
    superlinearly (→ ~n² in the limit) while true near-dup pairs grow
    ~n — measured on the wrap-free affine harness: candidates
    170k → 2.7M → 22M per decade vs verified pairs 256 → 2.6k → 25.6k
    (exactly linear), and the DP wall time follows the candidates, not
    the answers. Production LSH sizing therefore grows rows-per-band
    with the corpus to hold per-doc candidate fan-out ~constant,
    adding bands to keep the probability knee t ≈ (1/b)^(1/r) in
    place: (12,4) → knee 0.63; (96,16) → 0.63; (256,32) → 0.65.
    Signature cost grows with num_hashes but is strictly linear in
    docs (one md5 per shingle, num_hashes XOR+min aggs) — which is why
    the sized leg COSTS MORE at x10 and wins 2× at x100 (the
    measured crossover; STRESS_X10.md round-10 section)."""
    from real_time_iot_data_pipeline_project_spark.operators import dedup

    num_hashes, bands = {SF01: (12, 4), X10: (96, 16),
                         X100: (256, 32)}[sf_dir]
    t0 = time.monotonic()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = dedup.edit_distance_verify(
        docs, max_rel_dist="0.2", abs_cap=120,
        num_hashes=num_hashes, bands=bands)
    n = out.count()
    return {"sec": round(time.monotonic() - t0, 2), "rows": n,
            "lsh": f"{num_hashes}x{bands}"}


def _hist_replicated(spark, factor: int):
    """sf0.1 events replicated with USER remapping: each replica's rows
    get fresh user_ids (and offset event_ids), so the SCD2 dimension's
    key population — and therefore the accumulated dimension — really
    grows ×factor. (The on-disk x10/x100 replicas keep user_id fixed so
    per-key join fan-out grows like production facts-per-dim growth;
    that collapses duplicate state runs and leaves the DIMENSION flat,
    which is the wrong axis for the fold-locality claim.)"""
    ev = registry._t(spark, SF01, "events").select(
        "user_id", "ts", "event_id", "value")
    row = ev.agg(F.max("event_id"), F.max("user_id")).head()
    eoff, uoff = row[0] + 1, row[1] + 1
    out = ev
    for i in range(1, factor):
        out = out.unionByName(ev.select(
            (F.col("user_id") + F.lit(i * uoff)).alias("user_id"),
            "ts",
            (F.col("event_id") + F.lit(i * eoff)).alias("event_id"),
            "value"))
    return out.select(
        "user_id", "ts", "event_id",
        F.when(F.col("value") < 20, "low")
        .when(F.col("value") < 60, "mid")
        .otherwise("high").alias("state"),
    )


def probe_scd2_fold(spark, factor: int, n_buckets: int, tag: str) -> dict:
    """Seed a bucketed SCD2 dimension from user-remapped ×factor events
    (one-time cost, reported separately), then time folding a FIXED
    50-key increment — the daily-changelog shape. Locality claim: the
    fold reads/rewrites only the buckets containing the 50 keys, so
    with n_buckets scaled to keep bucket bytes constant (production
    sizing), fold cost stays ~flat while the dimension grows ×factor."""
    import shutil

    from real_time_iot_data_pipeline_project_spark.streaming import scd2

    dim_dir = f"/tmp/x100_dim_{tag}"
    shutil.rmtree(dim_dir, ignore_errors=True)
    hist = _hist_replicated(spark, factor)
    t0 = time.monotonic()
    scd2.apply_scd2_batch(spark, hist, dim_dir, key_cols=["user_id"],
                          ts_col="ts", attr_col="state",
                          tiebreak_col="event_id", n_buckets=n_buckets)
    seed_sec = time.monotonic() - t0
    dim_rows = spark.read.parquet(dim_dir).count()

    # fixed increment: 50 replica-0 keys (present at every scale),
    # 3 observations each, strictly after every seeded ts
    keys = [r[0] for r in
            registry._t(spark, SF01, "events")
            .select("user_id").distinct().orderBy("user_id")
            .limit(50).collect()]
    inc_rows = [(int(k), f"2025-06-01 00:0{j}:00", 10_000_000 + i * 3 + j,
                 ["low", "mid", "high"][j])
                for i, k in enumerate(keys) for j in range(3)]
    inc = spark.createDataFrame(
        inc_rows, "user_id long, ts string, event_id long, state string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    t0 = time.monotonic()
    scd2.apply_scd2_batch(spark, inc, dim_dir, key_cols=["user_id"],
                          ts_col="ts", attr_col="state",
                          tiebreak_col="event_id", n_buckets=n_buckets)
    fold_sec = time.monotonic() - t0
    shutil.rmtree(dim_dir, ignore_errors=True)
    return {"seed_sec": round(seed_sec, 2), "dim_rows": dim_rows,
            "fold_sec": round(fold_sec, 2), "n_buckets": n_buckets}


def main() -> None:
    spark = get_spark(app_name="x100-probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{SF01}/region.parquet").count()  # warmup

    if "--skip-build" not in sys.argv:
        build(spark, X10, 10)
        build(spark, X100, 100)

    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))

    probes = (
        ("q53_cc", probe_q53),
        ("q79_winnow", probe_q79),
        ("q76_near_dedup", probe_query("q76_near_dedup_corpus")),
        ("q48_training", probe_query("q48_training_data_pipeline")),
        # round-9 tier: hashing embedder, streaming heavy-hitter fold
        ("q118_embed", probe_query("q118_hashing_embed")),
        ("q120_hh_fold", probe_query("q120_stream_heavy_fold")),
        ("q122_drift", probe_query("q122_drift_report")),
        # round-9 late tier: leakage-safe splits (q53's CC + label
        # join-back), temperature mixture (scan-bound)
        ("q123_splits", probe_query("q123_leakage_safe_splits")),
        ("q124_tmix", probe_query("q124_temperature_mix")),
        # round-9 third wave: stride-1 duplicate-span removal — cost
        # center is the token-level grid (one row per token and per
        # window start), so the expectation is ~linear in corpus tokens
        ("q127_dupspan", probe_query("q127_dup_span_removal")),
        # the incremental shape: half the corpus scrubbed against the
        # other half's DISTINCT hash store — expectation ~linear too
        # (the store side is one distinct + one hash-keyed join)
        ("q129_dupspan_inc", probe_query("q129_dup_span_incremental")),
        # the streaming fold (3 batches, store re-read per batch):
        # per-batch cost = increment join vs the growing store
        ("q130_span_stream", probe_query("q130_stream_span_scrub")),
        # edit-distance verify at the GATE's pinned (12,4) banding:
        # verified pairs grow ~linearly on the wrap-free harness, but
        # fixed banding makes random-collision candidates grow ~n² and
        # the DP time follows them (measured 34x for the last decade)
        ("q128_edit_verify", probe_query("q128_edit_distance_verify")),
        # ... and at production sizing: rows-per-band grows with the
        # corpus (constant per-doc fan-out, knee held at ~0.63-0.65)
        ("q128_edit_verify_sized", probe_edit_verify_sized),
        # round-11: waterfill is one corpus groupBy + a 20-row window
        # frame — expectation ~linear scan slope, dimension stage flat
        ("q137_waterfill", probe_query("q137_mixture_waterfill")),
        # round-11: z-order layout at production file sizing (n_files
        # scales with the corpus; band files-read FRACTION should stay
        # ~flat for z while x-sorted reads 1.0 of a 100x larger table)
        ("zorder_layout", probe_zorder_layout),
        # round-11 consumers: the waterfill applied (adds one
        # per-stratum sorted window over the corpus — expectation
        # ~linear in rows) and the corpus diff (one full-outer
        # shuffle-hash join of id+fp projections — ~linear)
        ("q139_wf_sample", probe_query("q139_waterfill_sample")),
        # round-12: the same invocation with the rate pre-thin — the
        # per-stratum window stage shrinks to the allocation-sized
        # head; rows must equal q139_wf_sample's at every decade
        ("q139_wf_prethin", probe_waterfill_prethin),
        ("wf_prethin_2pct", probe_waterfill_prethin_smallbudget),
        ("q140_corpus_diff", probe_query("q140_corpus_diff")),
        # round-12: the epoch plan is the exact waterfill reduction
        # (same one corpus groupBy + strata-sized solve — expectation
        # ~linear scan slope, dimension stages flat); the expansion
        # adds the map-side explode (output rows ∝ delivered tokens —
        # the 40% budget×epochs — so count() scales with the budget by
        # construction) plus the per-stratum partial-pass window
        ("q143_epoch_plan", probe_query("q143_epoch_plan")),
        ("q144_epoch_expand", probe_query("q144_epoch_expand")),
        # round-13: the partial-pass pre-thin threaded through the
        # expansion (VERDICT r12 item 2) at a 10% budget — the
        # window-input shrink is the lever, rows must equal the
        # unthinned expansion's at every decade
        ("epoch_prethin_10pct", probe_epoch_prethin),
        # round-12: source novelty — one explode to (source, 32-byte
        # hash) then hash-keyed groupBys; expectation ~linear in
        # corpus tokens (the grid), with the distinct/min stages
        # partial-aggregatable
        ("q145_source_novelty", probe_query("q145_source_novelty")),
        # round-12: Moore-Lewis selection — two vocab-sized broadcast
        # frequency tables onto the token stream + one doc-keyed
        # combinable reduction; expectation ~linear in corpus tokens
        ("q147_moore_lewis", probe_query("q147_moore_lewis")),
        # round-12: Naive Bayes — train groupBy + broadcast-model
        # classify; expectation ~linear in corpus tokens
        ("q149_naive_bayes", probe_query("q149_naive_bayes_langid")),
        # round-12: the streaming NB fold (3 direct batches + the
        # classify-at-read sum) — per-batch cost tracks the batch
        ("q150_nb_stream", probe_query("q150_stream_nb_train")),
        # round-12: decontamination by excision — X39's grid/excise
        # shape against a broadcast probe-hash dim; ~linear in tokens
        ("q151_decontam", probe_query("q151_decontam_scrub")),
        # round-11: incremental annotate — two shuffle-hash joins on
        # (id, md5) plus the annotator over the ~8% fresh slice only
        ("q141_inc_annotate", probe_query("q141_incremental_annotate")),
        # round-13: DSIR — two bucket-sized broadcast model tables onto
        # the map-side hashed {uni,bi}gram stream; expectation ~linear
        # in corpus tokens (the q147 shape, one more gram order)
        ("q153_dsir", probe_query("q153_dsir_scores")),
        # round-13: streaming DSIR fold (3 direct batches + the
        # score-at-read sum) — per-batch cost tracks the batch
        ("q156_dsir_stream", probe_query("q156_stream_dsir_pool")),
        # round-14: DSIR resample — q153's shape + a <=64x map-side
        # ticket explode over the SCORES (doc-sized, narrow) and one
        # combinable per-key max; expectation ~q153's slope
        ("q161_dsir_resample", probe_query("q161_dsir_resample")),
        # round-14: fertility report — one scan into a lang-keyed
        # combinable aggregate; expectation ~linear scan slope
        ("q168_fertility", probe_query("q168_tokenizer_fertility")),
        # round-14: semantic decontam — embed scan + one n*|probes|
        # scan-stage cosine pass vs the broadcast probe embeddings;
        # probes thin as 1/211 of docs, so the pair count grows ~n^2/211
        # on the wrap-free replica — watch the slope, the production
        # shape holds |probes| FIXED
        ("q169_semantic_decontam", probe_query("q169_semantic_decontam")),
        # ... and the PRODUCTION shape: the probe set held FIXED (an
        # eval set does not grow with the corpus) while docs scale —
        # expectation ~linear in docs at constant |probes|
        ("semantic_decontam_fixed", probe_semantic_fixed_probes),
        # round-15: the Stupid-Backoff bigram LM filter — LM tables
        # are reference-bounded (src0 slice, ~1/3 of docs on the
        # replica) and broadcast; the score side is one JVM-side pair
        # explode + three broadcast joins + a doc-keyed combinable
        # agg; expectation ~linear scan slope, corpus never shuffled
        ("q173_ngram_lm", probe_query("q173_ngram_lm_perplexity")),
        # round-15: top-n-gram report — one JVM-side gram scan + a
        # gram-keyed combinable count + a (doc, n)-keyed combinable
        # argmin; expectation ~linear scan slope
        ("q177_topgram", probe_query("q177_topgram_report")),
        # round-15: streaming LM fold — two batch-sized count appends
        # + q173's score pass over the folded model; expectation
        # q173's scan-bound slope plus batch-sized write costs
        ("q179_stream_lm", probe_query("q179_stream_lm_fold")),
    )
    for name, fn in probes:
        if only is not None and name not in only:
            continue
        fn(spark, SF01)           # throwaway: absorb first-run codegen
        r1 = fn(spark, SF01)
        r10 = fn(spark, X10)
        r100 = fn(spark, X100)
        s10 = r10["sec"] / max(r1["sec"], 1e-9)
        s100 = r100["sec"] / max(r10["sec"], 1e-9)
        print(f"RESULT {name} x1={r1} x10={r10} x100={r100} "
              f"slope_x1_x10={s10:.1f} slope_x10_x100={s100:.1f} "
              f"(linear=10.0)", flush=True)

    if only is not None and "scd2_fold" not in only:
        return
    probe_scd2_fold(spark, 1, 8, "warm")  # throwaway: absorb codegen
    f1 = probe_scd2_fold(spark, 1, 8, "x1")
    f10 = probe_scd2_fold(spark, 10, 80, "x10")
    f100 = probe_scd2_fold(spark, 100, 800, "x100")
    print(f"RESULT scd2_fold_locality x1={f1} x10={f10} x100={f100} "
          f"fold_slope_x1_x100="
          f"{f100['fold_sec'] / max(f1['fold_sec'], 1e-9):.1f} "
          f"(flat=1.0, dim grew "
          f"{f100['dim_rows'] / max(f1['dim_rows'], 1):.0f}x)", flush=True)


if __name__ == "__main__":
    main()
