"""End-to-end pipeline entry points — the engine's equivalents of the
reference's executables (SURVEY.md §3):

- ``consume_and_process`` — entry point A (``Solar_Processing.py:60-100``,
  ``Wind_Processing.py:68-111``): bounded read → validate → clean →
  dedup → features → sink, with the same CLI surface
  (``Wind_Processing.py:113-128``).
- entry point B lives in ``streaming/job.py`` (``start_parquet_sink``):
  the docx notebook transform on a live source (file/kafka),
  parquet+checkpoint sink.
- ``dashboard_panels`` — entry point C (``Solar_Dashboard.py``): the
  dashboard's fan-out of aggregate queries over one cached DataFrame.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .functions import physics
from .operators import analytics, features
from .sources import io as sio


def consume_and_process(
    spark: SparkSession,
    domain: str,
    input_path: str,
    output_path: str | None = None,
    max_messages: int | None = None,
    output_format: str = "parquet",
    show_details: bool = False,
) -> DataFrame:
    """Entry point A. ``max_messages`` bounds the read (the reference's
    bounded Kafka poll, L3); sinks CSV or parquet."""
    if domain not in schemas.DOMAINS:
        raise ValueError(f"unknown domain {domain!r}")
    raw = sio.read_log(spark, input_path, domain)
    if max_messages:
        raw = raw.limit(max_messages)
    processed = features.process(raw, domain, deterministic_dedup=True)
    if show_details:
        processed.show(5, truncate=False)
    if output_path:
        if output_format == "csv":
            sio.write_processed_csv(processed, output_path)
        else:
            sio.write_processed_parquet(processed, output_path, partition_by=["station_id"])
    return processed


def dashboard_panels(processed: DataFrame, domain: str) -> dict[str, DataFrame]:
    """Entry point C: every dashboard panel as an independent aggregate
    over ONE cached DataFrame (the Spark translation of @st.cache_data +
    per-panel pandas queries)."""
    d = schemas.DOMAINS[domain]
    df = processed.cache()
    power, energy = d.power_column, d.energy_column
    panels: dict[str, DataFrame] = {
        "global_metrics": analytics.global_metrics(df, [power, energy]),
        "station_energy": analytics.station_energy(df, "station_id", energy),
        "energy_by_hour": analytics.energy_by_hour(df, "timestamp", energy),
        "ranking": analytics.station_ranking(
            df, "station_id",
            {"total_energy": f"sum:{energy}", "avg_power": f"avg:{power}",
             "peak_power": f"max:{power}"},
        ),
        "value_dist": analytics.describe_stats(df, [power]),
        "pivot": analytics.pivot_align(df, "timestamp", "station_id", power),
    }
    if d.speed_column:
        speed = d.speed_column
        panels["speed_power_corr"] = analytics.correlation(df, speed, power)
        panels["regression"] = analytics.linear_regression(df, speed, power)
        panels["wind_class_counts"] = analytics.value_counts(
            df.withColumn("wind_class", physics.wind_class(speed)), "wind_class"
        )
    return panels


def curate_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str | None = None,
    min_quality: float = 0.45,
    langs: tuple[str, ...] = ("en",),
    show_funnel: bool = False,
) -> DataFrame:
    """Entry point D — the batch training-data curation pipeline as a
    runnable job (the registry q48/q69 chain): exact dedup → quality and
    language annotation → filter → parquet partitioned by detected
    language. One dedup shuffle + scan-stage scoring; the funnel report
    is one extra rollup over the same scored frame."""
    from .operators import dedup

    docs = spark.read.parquet(input_path)
    kept = dedup.exact_dedup(docs)
    scored = kept
    for name, expr in annotation_columns().items():
        scored = scored.withColumn(name, expr)
    final = scored.filter(
        (F.col("q") >= min_quality) & F.col("detected_lang").isin(*langs)
    )
    if show_funnel:
        passed = F.col("q") >= min_quality
        kept_ = passed & F.col("detected_lang").isin(*langs)
        scored.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum(passed.cast("long")).alias("n_quality"),
            F.sum(kept_.cast("long")).alias("n_final"),
            F.sum(F.when(kept_, F.col("n_tok")).otherwise(F.lit(0))).alias("tokens_final"),
        ).orderBy("source").show(50, truncate=False)
    if output_path:
        final.write.mode("overwrite").partitionBy("detected_lang").parquet(output_path)
    return final


def release_corpus(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    baseline_path: str | None = None,
    min_quality: float = 0.45,
    langs: tuple[str, ...] = ("en",),
    n_shards: int = 8,
    allow_drift: bool = False,
    mix_alpha: float | None = None,
    mix_budget: float = 0.5,
    span_scrub: bool = False,
    span_window: int = 8,
    bpe_manifest: bool = False,
    ml_seed_path: str | None = None,
    ml_threshold: float = 0.0,
    lm_ref_path: str | None = None,
    lm_max_bits: float | None = None,
    topgram_max_frac: float | None = None,
    recipe_weights: dict[str, int] | None = None,
    recipe_budget_frac: float = 0.5,
    recipe_epochs: int = 1,
    screen_probes_path: str | None = None,
    screen_probes_mode: str = "drop",
    screen_probes_semantic: float | None = None,
    nb_model_path: str | None = None,
    nb_keep_labels: tuple[str, ...] | None = None,
    dsir_seed_path: str | None = None,
    dsir_threshold: float = 0.0,
    dsir_resample_n: int | None = None,
) -> dict:
    """Entry point E — the full training-data RELEASE job: curate
    (q48's chain) → optional duplicate-span scrub (X39) → optional
    temperature domain mix (X37) → JSONL shard export (S16, the
    training interchange format) → manifest → drift gate vs the
    previous release (X33).

    ``span_scrub`` excises corpus-wide duplicated ``span_window``-token
    spans from the curated survivors (dedup.duplicate_span_removal with
    the rewritten text, q127's exact rule): released ``text`` becomes
    the scrubbed text — original token CASE preserved, inter-token
    whitespace canonicalized to single spaces (the rule is token-grid-
    granular; matching itself runs on the normalized grid) — ``n_tok``
    the surviving token count, and docs whose every token sat in a
    duplicated span are dropped (as are whitespace-only docs, counted
    under ``n_docs_dropped``: released = n_docs_in − n_docs_dropped).
    The scrub
    runs BEFORE mixing so the mixture rates reflect the corpus that
    actually ships. Quality/language gates keep their pre-scrub values
    (the scrub removes only text that already appears earlier in the
    corpus — gate decisions are about the doc, not the boilerplate).
    The manifest records the stage under ``span_scrub`` (window, doc
    and token counts) — and scrubbing a previously-unscrubbed corpus
    shifts the text profile, which the drift gate will surface, by
    design.

    ``mix_alpha`` switches on per-source temperature rebalancing
    (sampling.temperature_mix_rates: keep rate ∝ n^(α−1) at a
    ``mix_budget`` corpus budget) between curation and export; the
    integer per-source rates land in the manifest under ``mix`` so a
    release records exactly how its mixture was drawn. Membership is
    the same deterministic hash rule as the operator (salt "tmix"), so
    a re-release reproduces the identical sample.

    The drift gate is the publish gate: the released output's text
    profile (drift.default_text_features — the same bins q122
    hash-checks) is PSI-compared against the prior release's; any
    ``major_shift`` feature aborts the release (RuntimeError) unless
    ``allow_drift`` — corrections to the pipeline should change the
    corpus deliberately, not silently (turning mixing on for a
    previously-unmixed corpus is exactly the kind of change the gate
    makes explicit). ``bpe_manifest`` additionally records real BPE
    token totals (overall + per-lang, tokenize.bpe_token_counts — the
    q133-gated count path) under ``bpe``: training budgets are in
    tokenizer tokens, and whitespace counts under-state a BPE corpus
    by the merge ratio.

    ``recipe_weights`` (mutually exclusive with ``mix_alpha``) switches
    the mixing stage to the weights-based waterfill (X44) with
    multi-epoch expansion (X48, q143/q144's exact rule): the token
    budget (``recipe_budget_frac`` of the corpus) waterfills across
    sources at the given integer weights, under-sized sources repeat
    up to ``recipe_epochs`` full passes, and the released rows ARE the
    epoch-expanded (doc, epoch) training stream — each repeated doc
    ships once per epoch (manifest ``n_docs``/``n_tokens`` count
    (doc, epoch) rows: they are the training-budget numbers), with the
    per-source plan (capacity / allocation / epochs_full / remainder)
    recorded under ``recipe``.  ``nb_model_path`` (with
    ``nb_keep_labels``) keeps only docs a trained Naive Bayes count
    store (streaming/classify_stream.py's layout) assigns one of the
    allowed labels (X53's curation job — the GPT-3 §A
    quality-classifier / lang-id stage, q149's argmax rule) — runs
    after decontamination, before Moore-Lewis, recorded under
    ``nb_filter``.  ``topgram_max_frac`` applies the Gopher
    repetition cut first among the selection stages (no reference
    needed — the rule is per-doc): docs whose most frequent bigram
    covers more than that fraction of their tokens are dropped (X79,
    q177's rule), recorded under ``topgram_filter``.
    ``lm_ref_path`` (with ``lm_max_bits``) applies
    the CCNet perplexity cut BEFORE the in-domain selections: a
    Stupid-Backoff bigram LM trains on the reference corpus and docs
    scoring above ``lm_max_bits`` bits/token under it (the
    high-perplexity tail — gibberish, boilerplate soup,
    wrong-language) are dropped (X75, q173's rule), recorded under
    ``lm_filter``.  ``ml_seed_path`` (with
    ``ml_threshold``) keeps only docs the seed's unigram model prefers
    over the pool's by the threshold (X51, q147's rule) — the
    selection runs early among the optional stages and the manifest
    records it under ``ml_selection``.  ``dsir_seed_path`` (with
    ``dsir_threshold``) composes AFTER it: keep only docs whose
    hashed-ngram log importance weight ln p_seed/p_pool is at least
    the threshold (X56, q153's rule) — recorded under
    ``dsir_selection``.  ``screen_probes_path`` (an
    eval-canary parquet with ``probe_id``/``probe_text``) drops every
    doc carrying a verified verbatim probe hit (X5, q52's exact rule)
    BEFORE any other stage — the GPT-3 §C / PaLM decontamination
    policy — or, with ``screen_probes_mode="scrub"``, EXCISES the
    probe spans (q151's rule) and keeps the rest of each doc,
    recorded under ``decontamination``.  ``screen_probes_semantic``
    (a cosine threshold, round 15) runs the SECOND decontamination
    tier right after the verbatim one: any doc within that cosine of
    a probe's hashing embedding is also dropped (X71's rule — the
    paraphrase leakage the verbatim tier structurally misses),
    recorded under ``decontamination["semantic"]``. Returns the
    manifest dict (counts, token budget, per-lang breakdown, mix
    rates, drift verdicts)."""
    # persisted: the gate's collect, the shard write and the manifest
    # aggregate all read FINAL — without the persist the whole dedup
    # shuffle + scoring would recompute (up to) three times, and the
    # gated profile and written corpus would come from different
    # executions of the dedup
    if recipe_weights is not None and mix_alpha is not None:
        raise ValueError(
            "recipe_weights and mix_alpha are two mixing rules for the "
            "same stage — pass one")
    if screen_probes_semantic is not None and not screen_probes_path:
        # a requested decontamination tier must never be silently
        # skipped for want of its input
        raise ValueError(
            "screen_probes_semantic needs the eval-canary list — pass "
            "screen_probes_path/--screen-probes alongside it")
    curated = curate_corpus(spark, input_path, output_path=None,
                            min_quality=min_quality, langs=langs).persist()
    final = curated
    scrubbed = None
    persisted = []
    try:
        decontam_info = None
        if screen_probes_path:
            # benchmark decontamination (X5), FIRST among the optional
            # stages.  Two policies: mode="drop" (q52's exact rule —
            # any verified char-level probe hit removes the whole doc,
            # the GPT-3 §C / PaLM policy) or mode="scrub" (q151's rule
            # — every 8-token window appearing inside a probe is
            # EXCISED and the rest of the doc survives, the Lee et al.
            # span treatment; released text/n_tok become the scrubbed
            # values, fully-emptied docs drop).  Membership/rewrite
            # comes from the OPERATOR in both modes.
            probes = spark.read.parquet(screen_probes_path)
            n_in = final.count()
            if screen_probes_mode == "drop":
                from .operators.contamination import screen_probes

                hits = (screen_probes(final, probes)
                        .select("doc_id").distinct())
                final = final.join(hits, "doc_id", "left_anti").persist()
            elif screen_probes_mode == "scrub":
                from .functions import textfns
                from .operators.contamination import scrub_probe_spans

                # short-probe guard (ADVICE r12): a probe shorter than
                # the 8-token window contributes no windows to the
                # scrub grid, so switching drop→scrub would SILENTLY
                # lose decontamination coverage for short eval
                # canaries — refuse loudly, mirroring screen_probes'
                # short-probe guard in drop mode (sub-window probes
                # are structurally un-scrubbable; lengthen them or
                # use mode="drop", whose guarantee is char-level)
                n_short = probes.filter(
                    textfns.token_count("probe_text") < 8
                ).limit(1).count()
                if n_short:
                    raise ValueError(
                        "screen_probes_mode='scrub' with probes "
                        "shorter than the 8-token excision window — "
                        "they would contribute no windows and be "
                        "silently ignored; lengthen them or use "
                        "mode='drop' (char-level guarantee)")
                scrubbed_docs = scrub_probe_spans(final, probes)
                final = (final.drop("text", "n_tok").join(
                    scrubbed_docs.filter(F.col("n_tokens_kept") > 0)
                    .select("doc_id",
                            F.col("cleaned_text").alias("text"),
                            F.col("n_tokens_kept").cast("long")
                            .alias("n_tok")),
                    "doc_id").persist())
            else:
                raise ValueError(
                    f"screen_probes_mode must be 'drop' or 'scrub', "
                    f"got {screen_probes_mode!r}")
            persisted.append(final)
            decontam_info = {
                "probes": screen_probes_path,
                "mode": screen_probes_mode,
                "n_probes": probes.count(),
                "n_docs_in": n_in,
                "n_docs_dropped": n_in - final.count(),
            }
            if screen_probes_semantic is not None:
                # the SECOND decontamination tier (round 15, X71):
                # paraphrased eval items share no verbatim chunk with
                # their probe and survive the drop/scrub tier above,
                # but land near it in embedding space — any doc
                # within the cosine threshold of a probe's hashing
                # embedding is dropped.  Probe sets are bounded, so
                # the release runs the EXACT linear screen
                # (semantic_decontam_hits — one broadcast-probe scan).
                from .operators.contamination import (
                    semantic_decontam_hits,
                )

                if not 0.0 < screen_probes_semantic <= 1.0:
                    raise ValueError(
                        f"screen_probes_semantic must be a cosine in "
                        f"(0, 1], got {screen_probes_semantic}")
                sem_hits = semantic_decontam_hits(
                    final,
                    probes.select("probe_id",
                                  F.col("probe_text").alias("text")),
                    threshold=float(screen_probes_semantic))
                n_pre_sem = final.count()
                final = final.join(
                    sem_hits.select("doc_id").distinct(), "doc_id",
                    "left_anti").persist()
                persisted.append(final)
                decontam_info["semantic"] = {
                    "threshold": float(screen_probes_semantic),
                    "n_docs_dropped": n_pre_sem - final.count(),
                }
        nb_info = None
        if nb_model_path:
            # classifier-based curation (X53's stated job — the GPT-3
            # §A quality-classifier / lang-id stage): keep only docs
            # the trained NB model (a streaming/batch count store,
            # streaming/classify_stream.py's layout) assigns one of
            # ``nb_keep_labels``.  Runs after decontamination, before
            # Moore-Lewis — the classifier defines the corpus the
            # selection stages see.  Membership comes from the
            # OPERATOR (classify_from_store's argmax rule — the
            # --ml-seed wiring precedent), recorded under
            # ``nb_filter``.
            if not nb_keep_labels:
                raise ValueError(
                    "nb_model_path without nb_keep_labels keeps "
                    "nothing deterministically — pass the label "
                    "allowlist the classifier stage filters on")
            from .streaming.classify_stream import classify_from_store

            n_in = final.count()
            kept_ids = (classify_from_store(spark, nb_model_path, final)
                        .where(F.col("label").isin(*nb_keep_labels))
                        .select("doc_id"))
            final = final.join(kept_ids, "doc_id", "left_semi").persist()
            persisted.append(final)
            nb_info = {
                "model": nb_model_path,
                "keep_labels": list(nb_keep_labels),
                "n_docs_in": n_in,
                "n_docs_kept": final.count(),
            }
        topgram_info = None
        if topgram_max_frac is not None:
            # Gopher repetition cut (X79, q177's exact rule — Rae et
            # al. 2021): drop docs whose most frequent bigram covers
            # more than the cutoff fraction of their tokens (the
            # boilerplate-header signal the duplicate-bigram fraction
            # can't localize).  Needs no reference corpus — the rule
            # is per-doc — so it runs FIRST among the selection
            # stages.  Membership comes from the OPERATOR (the q147
            # wiring precedent).
            from .operators.textops import topgram_report

            n_in = final.count()
            drop_ids = (topgram_report(final, ns=(2,))
                        .where(F.col("token_frac")
                               > float(topgram_max_frac))
                        .select("doc_id"))
            final = final.join(drop_ids, "doc_id", "left_anti").persist()
            persisted.append(final)
            topgram_info = {
                "max_frac": float(topgram_max_frac),
                "n": 2,
                "n_docs_in": n_in,
                "n_docs_kept": final.count(),
            }
        lm_info = None
        if lm_max_bits is not None and not lm_ref_path:
            # a requested quality cut with no reference to train on
            # must refuse, not silently skip (the dsir_resample_n
            # precedent)
            raise ValueError(
                "lm_max_bits requires lm_ref_path — the perplexity "
                "filter has no model without a reference corpus")
        if lm_ref_path:
            # LM perplexity cut (X75, q173's exact rule — the CCNet
            # recipe): train the Stupid-Backoff bigram LM on the
            # curated REFERENCE corpus, keep docs scoring at most
            # lm_max_bits bits/token under it (the high-perplexity
            # tail is gibberish/boilerplate/wrong-language).  Runs
            # before Moore-Lewis: the generic quality cut first, then
            # in-domain selection — the stages compose, each
            # recording its own funnel row.  Threshold-based for the
            # same reason as --ml-seed (a fixed cutoff is a map-side
            # filter after reference-bounded broadcast joins).
            # Membership comes from the OPERATOR (the q147 wiring
            # precedent).
            if lm_max_bits is None:
                raise ValueError(
                    "lm_ref_path without lm_max_bits keeps everything "
                    "— pass the bits/token cutoff the filter applies")
            from .operators.textops import ngram_lm_scores, ngram_lm_train

            ref = spark.read.parquet(lm_ref_path)
            n_in = final.count()
            kept_ids = (ngram_lm_scores(final, ngram_lm_train(ref))
                        .where(F.col("bits_per_token") <= lm_max_bits)
                        .select("doc_id"))
            final = final.join(kept_ids, "doc_id", "left_semi").persist()
            persisted.append(final)
            lm_info = {
                "ref": lm_ref_path,
                "max_bits_per_token": lm_max_bits,
                "n_docs_in": n_in,
                "n_docs_kept": final.count(),
            }
        ml_info = None
        if ml_seed_path:
            # in-domain selection (X51, q147's exact rule): keep docs
            # the SEED unigram model prefers over the pool's own model
            # by at least -ml_threshold bits/token (ml_bits <=
            # threshold; 0.0 = "seed likes it at least as much").
            # Runs after decontamination, before scrub/mix — selection
            # defines the corpus those stages see.  Threshold-based
            # rather than fraction-based on purpose: a fixed cutoff is
            # a map-side filter after two broadcast joins; a fraction
            # would need a corpus-wide quantile.  Membership comes
            # from the OPERATOR (the q124/q127 wiring precedent).
            from .operators.textops import moore_lewis_scores

            seed = spark.read.parquet(ml_seed_path)
            n_in = final.count()
            kept_ids = (moore_lewis_scores(final, seed)
                        .where(F.col("ml_bits") <= ml_threshold)
                        .select("doc_id"))
            final = final.join(kept_ids, "doc_id", "left_semi").persist()
            persisted.append(final)
            ml_info = {
                "seed": ml_seed_path,
                "threshold_bits": ml_threshold,
                "n_docs_in": n_in,
                "n_docs_kept": final.count(),
            }
        dsir_info = None
        if dsir_resample_n is not None and not dsir_seed_path:
            # a requested selection stage with no seed to select
            # against must refuse, not silently skip
            raise ValueError(
                "dsir_resample_n requires dsir_seed_path — importance "
                "resampling has no weights without a seed corpus")
        if dsir_seed_path:
            # DSIR selection (X56, q153's exact rule): keep docs whose
            # hashed-ngram log importance weight ln p_seed/p_pool is at
            # least the threshold (POSITIVE = the seed model prefers
            # the doc; 0.0 = "seed likes it at least as much").  Runs
            # after Moore-Lewis — the two selection rules COMPOSE
            # (unigram cross-entropy then the bigram-aware likelihood
            # ratio), each recording its own stage.  Threshold-based
            # for the same reason as --ml-seed: a fixed cutoff is a
            # map-side filter after bucket-sized broadcast joins.
            # Membership comes from the OPERATOR (the q147 wiring
            # precedent).  With ``dsir_resample_n`` the membership is
            # instead the paper's importance RESAMPLE (X64, q161's
            # exact rule): the n lottery winners ∝ ticket-mapped
            # weight — diversity-preserving where the threshold keeps
            # only the most seed-like mass.
            from .operators.textops import dsir_resample, dsir_scores

            dseed = spark.read.parquet(dsir_seed_path)
            n_in = final.count()
            if dsir_resample_n is not None:
                kept_ids = (dsir_resample(final, dseed,
                                          n=dsir_resample_n)
                            .select("doc_id"))
            else:
                kept_ids = (dsir_scores(final, dseed)
                            .where(F.col("dsir_logw") >= dsir_threshold)
                            .select("doc_id"))
            final = final.join(kept_ids, "doc_id", "left_semi").persist()
            persisted.append(final)
            dsir_info = {
                "seed": dsir_seed_path,
                "mode": ("resample" if dsir_resample_n is not None
                         else "threshold"),
                "threshold_logw": (None if dsir_resample_n is not None
                                   else dsir_threshold),
                "resample_n": dsir_resample_n,
                "n_docs_in": n_in,
                "n_docs_kept": final.count(),
            }
        scrub_info = None
        if span_scrub:
            from .operators import dedup as dedup_ops

            # the rewrite is the OPERATOR itself (q127's hash-gated
            # rule, with_text form); persisted because the manifest
            # stats and the join below — and through it every _release_
            # body consumer — read it
            scrubbed = dedup_ops.duplicate_span_removal(
                final, window_tokens=span_window, with_text=True).persist()
            # coalesce: SUM over an empty curated corpus is NULL, and
            # the scrub stage must publish an empty release exactly
            # like the unscrubbed path (review catch)
            srow = scrubbed.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("tok_in"),
                F.coalesce(F.sum("n_tokens_kept"), F.lit(0))
                 .alias("tok_kept"),
                F.coalesce(F.sum((F.col("n_tokens_kept") == 0)
                                 .cast("long")), F.lit(0))
                 .alias("emptied")).head()  # 1-row manifest aggregate
            # n_docs_in counts the CURATED frame, not the scrub output:
            # whitespace-only docs never enter the token grid and are
            # dropped by the join below, and the manifest must
            # reconcile (released = in - dropped; review catch)
            n_in = final.count()
            n_dropped = n_in - (int(srow["n_docs"]) - int(srow["emptied"]))
            scrub_info = {
                "window_tokens": span_window,
                "n_docs_in": n_in,
                "n_docs_dropped": n_dropped,
                "n_docs_emptied": int(srow["emptied"]),
                "n_tokens_in": int(srow["tok_in"]),
                "n_tokens_removed": int(srow["tok_in"] - srow["tok_kept"]),
            }
            final = final.drop("text", "n_tok").join(
                scrubbed.filter(F.col("n_tokens_kept") > 0)
                .select("doc_id",
                        F.col("cleaned_text").alias("text"),
                        F.col("n_tokens_kept").alias("n_tok")),
                "doc_id")
        recipe_info = None
        if recipe_weights is not None:
            # weights-based mixture (X44/X48, q143/q144's exact rule):
            # waterfill the token budget across sources at the given
            # integer weights, repeating under-sized sources up to
            # recipe_epochs full passes; the released rows ARE the
            # epoch-expanded (doc, epoch) stream — a training
            # interchange where a repeated source ships each doc once
            # per epoch plus a budget-exact partial pass.  Membership
            # comes from the OPERATOR (the q124 wiring precedent);
            # the manifest's per-source table is the epoch plan.
            from .operators import sampling

            w = None
            for src, parts in recipe_weights.items():
                cond = F.col("source") == src
                w = (F.when(cond, parts) if w is None
                     else w.when(cond, parts))
            w = F.lit(1) if w is None else w.otherwise(1)
            # the solver only reads each source's token SUM, so it runs
            # on the collected strata-sized capacity table: the same
            # plan, without the solver's triangle self-joins each
            # re-planning the whole curated/selected/scrubbed lineage
            caps_q = final.groupBy("source").agg(
                F.sum(F.col("n_tok").cast("long")).alias("n_tok"))
            cap_rows = caps_q.collect()  # strata-sized
            total = sum(int(r["n_tok"] or 0) for r in cap_rows)
            budget = int(total * recipe_budget_frac)
            # solve ONCE: the collected strata-sized plan feeds both
            # the manifest AND the expansion as a literal frame, and
            # the expanded release persists — otherwise the corpus
            # groupBy + solver + window would re-run for every
            # downstream action (shards, manifest stats, drift gate,
            # diff, bpe rollup — review catch)
            plan_df = sampling.epoch_plan(
                spark.createDataFrame(cap_rows, caps_q.schema), "source",
                w, budget, max_epochs=recipe_epochs, tokens_col="n_tok")
            plan_rows = plan_df.collect()  # strata-sized
            expanded = sampling.epoch_expand(
                final, "source", "doc_id", w, budget,
                max_epochs=recipe_epochs, tokens_col="n_tok",
                plan=spark.createDataFrame(plan_rows, plan_df.schema))
            final = final.join(
                expanded.select("doc_id", "epoch"), "doc_id").persist()
            persisted.append(final)
            recipe_info = {
                "weights": {str(k): int(v)
                            for k, v in recipe_weights.items()},
                "budget_frac": recipe_budget_frac,
                "budget_tokens": budget,
                "max_epochs": recipe_epochs,
                "per_source": {
                    str(r["source"]): {
                        "weight": int(r["weight"]),
                        "capacity_tokens": int(r["capacity_tokens"]),
                        "capped": int(r["capped"]),
                        "allocation_tokens": int(r["allocation_tokens"]),
                        "epochs_full": int(r["epochs_full"]),
                        "remainder_tokens": int(r["remainder_tokens"]),
                    } for r in plan_rows
                },
            }
        mix_info = None
        if mix_alpha is not None:
            from .operators import sampling

            # membership comes from the OPERATOR itself — the exact
            # rule q124 hash-gates (a re-implementation here could
            # drift from the gated contract; review catch). The
            # manifest's rates are one extra tiny collect of the same
            # deterministic aggregate, so filter and record agree by
            # determinism rather than by code duplication.
            rate_rows = sampling.temperature_mix_rates(
                final, "source", mix_alpha, mix_budget).collect()
            final = sampling.temperature_sample(
                final, key="doc_id", stratum="source",
                alpha=mix_alpha, budget_frac=mix_budget).drop("rate_pct")
            mix_info = {
                "alpha": mix_alpha,
                "budget_frac": mix_budget,
                "rates": {str(r["source"]): int(r["rate_pct"])
                          for r in rate_rows},
            }
        if final is not curated:
            # every optional stage joins FINAL with a frame derived from
            # FINAL, so its plan grows with each stage, and re-analysing
            # that tree (and matching it against the cached stages) for
            # each gate, shard write and manifest rollup of the body
            # cost more than running them.  The checkpoint keeps one
            # materialized copy behind a one-node plan.
            final = final.localCheckpoint()
        return _release_body(spark, final, output_path, baseline_path,
                             min_quality, langs, n_shards, allow_drift,
                             mix_info, scrub_info, bpe_manifest,
                             ml_info, recipe_info,
                             decontam_info, nb_info, dsir_info, lm_info,
                             topgram_info)
    finally:
        curated.unpersist()
        for df_ in persisted:
            df_.unpersist()
        if scrubbed is not None:
            scrubbed.unpersist()


def _release_body(spark, final, output_path, baseline_path, min_quality,
                  langs, n_shards, allow_drift, mix_info=None,
                  scrub_info=None, bpe_manifest=False,
                  ml_info=None,
                  recipe_info=None, decontam_info=None,
                  nb_info=None, dsir_info=None, lm_info=None,
                  topgram_info=None) -> dict:
    import json as _json

    from pyspark.errors import AnalysisException

    from .operators.drift import default_text_features, psi_report

    drift_rows: list[dict] = []
    diff_info: dict | None = None
    baseline = None
    if baseline_path:
        # a prior release's JSONL data dir, read back with the PINNED
        # schema (the same job wrote it, so final's schema is its
        # schema — no inference scan); fall back to a plain parquet
        # corpus. Try/except instead of os.path checks so the paths
        # work on any Hadoop filesystem, not just local.
        # RECIPE baselines (ADVICE r12): a --recipe-weights release
        # ships one row per (doc, epoch), so a baseline may carry
        # duplicate doc_ids with IDENTICAL text.  Every join-based
        # consumer absorbs that shape by construction — corpus_diff
        # and incremental_annotate dedup on (id, fingerprint) before
        # joining (and corpus_diff REFUSES conflicting-content
        # duplicates), so DIFF.json counts per-DOC statuses, never
        # epochs×epochs fan-out (pinned by test).  The PSI gates are
        # deliberately NOT deduped: they compare the SHIPPED training
        # stream's profile (epoch multiplicity included) against the
        # shipped stream being published — a mix change is exactly
        # what the gate exists to surface.
        try:
            baseline = sio.read_jsonl(spark, f"{baseline_path}/data",
                                      schema=final.schema)
            baseline.head(1)
        except AnalysisException:
            baseline = spark.read.parquet(baseline_path)
        report = psi_report(baseline, final,
                            default_text_features("text"))
        drift_rows = [{"feature": r["feature"], "psi": r["psi"],
                       "verdict": r["verdict"]}
                      for r in report.collect()]  # ≤ n_features rows
        major = [d for d in drift_rows if d["verdict"] == "major_shift"]
        if major and not allow_drift:
            raise RuntimeError(
                "release blocked: major profile shift vs baseline on "
                + ", ".join(f"{d['feature']} (psi={d['psi']})"
                            for d in major)
                + " — pass allow_drift/--allow-drift to publish anyway")
        # per-doc release diff (X46, VERDICT r11 item 3): the release
        # note the corpus_diff operator exists for — how many docs this
        # release adds/removes/changes vs the baseline, by the same
        # normalized fingerprint rule q140 hash-gates.  One extra
        # full-outer join of id+fp projections (text never shuffles)
        # and a ≤4-row rollup; written as DIFF.json next to the
        # manifest after the publish succeeds.
        from .operators.audit import corpus_diff

        diff_rows = (corpus_diff(baseline, final)
                     .groupBy("status").count().collect())  # ≤ 4 rows
        diff_info = {s: 0 for s in
                     ("added", "removed", "changed", "unchanged")}
        diff_info.update({r["status"]: int(r["count"])
                          for r in diff_rows})
    sio.write_jsonl_shards(final, f"{output_path}/data",
                           n_shards=n_shards)
    # manifest from ONE aggregate over the released frame
    stats = final.groupBy("detected_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens")).collect()
    manifest = {
        "n_docs": int(sum(r["n_docs"] for r in stats)),
        "n_tokens": int(sum(r["n_tokens"] for r in stats)),
        "by_lang": {r["detected_lang"]: {"n_docs": int(r["n_docs"]),
                                         "n_tokens": int(r["n_tokens"])}
                    for r in stats},
        "min_quality": min_quality,
        "langs": list(langs),
        "n_shards": n_shards,
        "mix": mix_info,
        "span_scrub": scrub_info,
        "ml_selection": ml_info,
        "lm_filter": lm_info,
        "topgram_filter": topgram_info,
        "nb_filter": nb_info,
        "dsir_selection": dsir_info,
        "recipe": recipe_info,
        "decontamination": decontam_info,
        "drift": drift_rows,
    }
    if bpe_manifest:
        # real tokenizer-token totals alongside the whitespace counts
        # (X41's count-only path — per-word sizes on the vocabulary
        # encode, one integer sum per doc, one extra rollup here);
        # training budgets are in tokenizer tokens, and a release
        # manifest that only reports whitespace tokens under-states a
        # BPE corpus by the merge ratio
        from .operators import tokenize

        # counts are computed per UNIQUE doc, then the join-back
        # multiplies by occurrence: a recipe release repeats a doc
        # once per epoch, and its budget is epochs x the doc's tokens
        # (counting on the repeated frame would square the factor)
        uniq = final.select("doc_id", "text").dropDuplicates(["doc_id"])
        bstats = (
            final.select("doc_id", "detected_lang")
            .join(tokenize.bpe_token_counts(spark, uniq)
                  .hint("shuffle_hash"), "doc_id")
            .groupBy("detected_lang")
            .agg(F.sum("n_bpe_tokens").alias("n_bpe_tokens"))
            .collect()  # ≤ n_langs rows
        )
        manifest["bpe"] = {
            "n_tokens": int(sum(r["n_bpe_tokens"] for r in bstats)),
            "by_lang": {r["detected_lang"]: int(r["n_bpe_tokens"])
                        for r in bstats},
        }
    manifest["diff"] = diff_info
    with open(f"{output_path}/MANIFEST.json", "w") as fh:
        _json.dump(manifest, fh, indent=1, sort_keys=True)
    if diff_info is not None:
        with open(f"{output_path}/DIFF.json", "w") as fh:
            _json.dump({"baseline": baseline_path,
                        "fingerprint": "normalized-md5 (q140's rule)",
                        "by_status": diff_info}, fh,
                       indent=1, sort_keys=True)
    return manifest


ANNOTATION_COLS = ("q", "detected_lang", "n_tok")


def annotation_columns() -> dict[str, "F.Column"]:
    """THE standard per-doc annotation expressions, written once —
    consumed by both `curate_corpus` (full release) and
    `standard_annotator` (the refresh path), so the refresh ≡
    full-recompute invariant q141 gates cannot drift between two
    copies of the rule (review catch)."""
    from .functions import textfns

    return {
        "q": textfns.quality_score("text"),
        "detected_lang": textfns.detect_language("text"),
        "n_tok": textfns.token_count("text").cast("long"),
    }


def standard_annotator(d: DataFrame) -> DataFrame:
    """The release's standard per-doc annotation set (the q48 chain's
    quality / language / token-count columns) as a reusable callable —
    the annotator `refresh_annotations` re-runs on the fresh slice,
    built from the SAME expressions `curate_corpus` applies."""
    cols = annotation_columns()
    return d.select(
        "doc_id", *[expr.alias(name) for name, expr in cols.items()])


def refresh_annotations(
    spark: SparkSession,
    old_path: str,
    corpus_path: str,
    output_path: str,
) -> dict:
    """Entry point F — diff-driven annotation refresh (X47, VERDICT r11
    item 4): given the PREVIOUS release (its JSONL ``data`` dir or a
    parquet corpus carrying doc_id, text and the standard annotation
    columns) and the NEW corpus, re-run the standard annotator ONLY on
    docs whose raw text is new or changed; byte-identical docs reuse
    their stored values (audit.incremental_annotate — the exact rule
    q141 hash-gates as refresh ≡ full recompute).  At 100 TB with an
    expensive annotator this touches the increment, never the world.

    Writes one parquet of (doc_id, q, detected_lang, n_tok) covering
    EVERY new-corpus row to ``output_path`` and returns a counts dict
    {n_docs, n_reused, n_fresh} for the CLI report."""
    from pyspark.errors import AnalysisException

    from .operators import audit as audit_ops

    # pinned schema (the _release_body baseline-read rule): the needed
    # columns are statically known, so the JSONL read must not run a
    # whole-release inference scan first — at scale the inference pass
    # alone would read the world (review catch).  A release missing an
    # annotation field surfaces as all-NULL columns; probe one row so
    # the error stays loud instead of silently re-annotating 100%.
    jsonl_schema = ("doc_id long, text string, q double, "
                    "detected_lang string, n_tok long")
    try:
        old = sio.read_jsonl(spark, f"{old_path}/data",
                             schema=jsonl_schema)
        old.head(1)
        if old.head(1) and not old.where(
                F.col("q").isNotNull()
                | F.col("detected_lang").isNotNull()
                | F.col("n_tok").isNotNull()).head(1):
            raise ValueError(
                f"previous release at {old_path} carries none of the "
                f"standard annotation columns {list(ANNOTATION_COLS)} "
                f"— refresh-annotations would re-annotate everything")
    except AnalysisException:
        old = spark.read.parquet(old_path)
        missing = [c for c in ("doc_id", "text", *ANNOTATION_COLS)
                   if c not in old.columns]
        if missing:
            raise ValueError(
                f"previous release at {old_path} lacks column(s) "
                f"{missing}; refresh-annotations needs doc_id, text "
                f"and the standard annotation columns "
                f"{list(ANNOTATION_COLS)}")
    new = spark.read.parquet(corpus_path).select("doc_id", "text")
    old_sel = old.select("doc_id", "text", *ANNOTATION_COLS)
    # n_tok may come back from JSONL inference or an older release as a
    # narrower integer — align to the annotator's long so reused and
    # fresh rows union to one schema
    old_sel = old_sel.withColumn("n_tok", F.col("n_tok").cast("long"))
    out = audit_ops.incremental_annotate(old_sel, new, standard_annotator)
    out.write.mode("overwrite").parquet(output_path)
    # report: same raw-md5 reuse key as the operator, on id+fp
    # projections only (one small extra join for the counts — the
    # increment-sized-refresh claim, made visible in the CLI output)
    fp = F.md5(F.col("text"))
    n_docs = new.count()
    n_reused = (new.select("doc_id", fp.alias("__fp"))
                .join(old_sel.select("doc_id", fp.alias("__fp"))
                      .dropDuplicates(["doc_id", "__fp"]),
                      ["doc_id", "__fp"]).count())
    return {"n_docs": int(n_docs), "n_reused": int(n_reused),
            "n_fresh": int(n_docs - n_reused)}


def _parse_label_list(raw: str) -> tuple[str, ...]:
    """Comma-separated list: strip whitespace, drop empty tokens,
    refuse an all-empty result.  '--nb-keep-labels "a, b"' previously
    yielded (' b',) which matches no classifier label and silently
    filtered those docs out — the exact 'keeps nothing' failure the
    nb_keep_labels guard exists to prevent (ADVICE r13)."""
    labels = tuple(s.strip() for s in raw.split(",") if s.strip())
    if not labels:
        raise ValueError(f"--nb-keep-labels {raw!r} parses to an empty list")
    return labels


def main(argv: list[str] | None = None) -> None:
    """CLI mirroring Wind_Processing.py:113-128."""
    from .session import get_spark

    p = argparse.ArgumentParser(description="batch consume-and-process pipeline")
    p.add_argument("domain",
                   choices=["solar", "wind", "curate", "release", "compact",
                            "compact-store", "compact-span-store",
                            "dq-audit", "cdc-apply",
                            "scd2-apply", "plan-audit",
                            "refresh-annotations"])
    p.add_argument("input_path",
                   help="input directory to consume — EXCEPT for the "
                        "plan-audit domain, where it is a registry "
                        "query name (e.g. q48_training_data_pipeline), "
                        "and refresh-annotations, where it is the "
                        "PREVIOUS release (JSONL release dir or "
                        "annotated parquet)")
    p.add_argument("--output", default=None,
                   help="output directory (write domains)")
    p.add_argument("--sf-dir", default=None,
                   help="parquet table directory to plan against "
                        "(plan-audit domain; default "
                        "/root/testdata/sf0.001)")
    p.add_argument("--store", default=None,
                   help="signature store to compact (compact-store domain)")
    p.add_argument("--format", choices=["csv", "parquet"], default="parquet")
    p.add_argument("--max-messages", type=int, default=None)
    p.add_argument("--show-details", action="store_true")
    p.add_argument("--min-quality", type=float, default=0.45)
    p.add_argument("--langs", default="en",
                   help="comma-separated language allowlist (curate domain)")
    p.add_argument("--baseline", default=None,
                   help="previous release dir for the drift gate "
                        "(release domain)")
    p.add_argument("--shards", type=int, default=8,
                   help="JSONL shard count (release domain)")
    p.add_argument("--allow-drift", action="store_true",
                   help="publish even on a major profile shift "
                        "(release domain)")
    p.add_argument("--mix-alpha", type=float, default=None,
                   help="temperature exponent for per-source mixture "
                        "rebalancing, e.g. 0.7 (release domain; off "
                        "when omitted)")
    p.add_argument("--mix-budget", type=float, default=0.5,
                   help="corpus fraction the temperature mix targets "
                        "(release domain; used with --mix-alpha)")
    p.add_argument("--span-scrub", action="store_true",
                   help="excise corpus-wide duplicated token spans "
                        "from the released text (release domain; "
                        "q127's exact rule)")
    p.add_argument("--bpe-manifest", action="store_true",
                   help="record real BPE token totals (X41's "
                        "count-only path) in the release manifest "
                        "alongside whitespace counts (release domain)")
    p.add_argument("--screen-probes", default=None,
                   help="eval-canary parquet (probe_id, probe_text): "
                        "decontaminate before any other stage (release "
                        "domain; X5)")
    p.add_argument("--screen-probes-mode", default="drop",
                   choices=["drop", "scrub"],
                   help="drop = remove any doc with a verified probe "
                        "hit (q52's rule); scrub = excise the probe "
                        "spans and keep the rest of the doc (q151's "
                        "rule)")
    p.add_argument("--screen-probes-semantic", type=float, default=None,
                   help="ALSO drop docs within this cosine of any "
                        "probe's hashing embedding (release domain; "
                        "X71's semantic tier, q169's rule — catches "
                        "paraphrased eval leakage the verbatim "
                        "drop/scrub tier structurally misses; runs "
                        "after it, needs --screen-probes)")
    p.add_argument("--recipe-weights", default=None,
                   help="weights-based mixture for the release: "
                        "'src0=80,src1=30' (unlisted sources weight 1); "
                        "waterfills the token budget across sources and "
                        "ships the epoch-expanded (doc, epoch) stream "
                        "(release domain; X44/X48, q143/q144's rule — "
                        "mutually exclusive with --mix-alpha)")
    p.add_argument("--recipe-budget", type=float, default=0.5,
                   help="corpus token fraction the recipe targets "
                        "(used with --recipe-weights)")
    p.add_argument("--recipe-epochs", type=int, default=1,
                   help="max full passes an under-sized source may "
                        "repeat (used with --recipe-weights)")
    p.add_argument("--nb-model", default=None,
                   help="trained Naive Bayes count store "
                        "(streaming/classify_stream.py layout): keep "
                        "only docs the classifier assigns one of "
                        "--nb-keep-labels (release domain; X53's "
                        "curation stage, q149's argmax rule — runs "
                        "after decontamination, before --ml-seed)")
    p.add_argument("--nb-keep-labels", default=None,
                   help="comma-separated label allowlist for the "
                        "--nb-model stage (required with it)")
    p.add_argument("--dsir-seed", default=None,
                   help="in-domain seed corpus parquet for DSIR "
                        "selection: keep only docs whose hashed-ngram "
                        "log importance weight ln p_seed/p_pool >= "
                        "--dsir-threshold (release domain; X56, "
                        "q153's rule — composes with --ml-seed, runs "
                        "after it)")
    p.add_argument("--dsir-threshold", type=float, default=0.0,
                   help="DSIR keep cutoff in log-weight units "
                        "(dsir_logw >= threshold; 0.0 = the seed "
                        "model likes the doc at least as much)")
    p.add_argument("--dsir-resample", type=int, default=None,
                   help="keep N docs by importance RESAMPLING instead "
                        "of the threshold (release domain; X64, "
                        "q161's ticket-lottery rule ∝ the DSIR "
                        "weight — requires --dsir-seed)")
    p.add_argument("--topgram-max-frac", type=float, default=None,
                   help="release: drop docs whose most frequent "
                        "bigram covers more than this fraction of "
                        "their tokens (the Gopher repetition rule, "
                        "X79)")
    p.add_argument("--lm-ref", default=None,
                   help="release: parquet reference corpus to train "
                        "the Stupid-Backoff bigram LM on (the CCNet "
                        "recipe); with --lm-max-bits keeps only docs "
                        "scoring at most that many bits/token")
    p.add_argument("--lm-max-bits", type=float, default=None,
                   help="release: bits/token cutoff for --lm-ref "
                        "(docs above it are the high-perplexity tail "
                        "the filter drops)")
    p.add_argument("--ml-seed", default=None,
                   help="in-domain seed corpus parquet: keep only docs "
                        "the seed unigram model prefers over the pool "
                        "model by --ml-threshold bits/token (release "
                        "domain; Moore-Lewis selection, q147's rule)")
    p.add_argument("--ml-threshold", type=float, default=0.0,
                   help="Moore-Lewis keep cutoff in bits/token "
                        "(ml_bits <= threshold; 0.0 = seed likes the "
                        "doc at least as much as the pool)")
    p.add_argument("--span-window", type=int, default=8,
                   help="duplicate-span window size in tokens "
                        "(release domain; used with --span-scrub)")
    p.add_argument("--corpus", default=None,
                   help="NEW corpus parquet (refresh-annotations "
                        "domain; input_path is the previous release)")
    p.add_argument("--keys", default=None,
                   help="comma-separated key columns (cdc-apply/scd2-apply)")
    p.add_argument("--order", default=None,
                   help="comma-separated total-order columns (cdc-apply)")
    p.add_argument("--op-col", default="op",
                   help="changelog op column (cdc-apply)")
    p.add_argument("--ts-col", default="ts",
                   help="observation timestamp column (scd2-apply)")
    p.add_argument("--attr-col", default=None,
                   help="tracked attribute column (scd2-apply)")
    p.add_argument("--tiebreak", default=None,
                   help="unique tiebreak column (scd2-apply)")
    p.add_argument("--buckets", type=int, default=16,
                   help="snapshot/dimension bucket count (fixed at creation)")
    args = p.parse_args(argv)
    spark = get_spark(app_name=f"{args.domain}-processing")
    if args.domain == "plan-audit":
        # the engine's own physical-plan anti-pattern report, as a CLI
        # (plans/inspect.py): input_path is a registry query name (see
        # its help string); --sf-dir picks the tables to plan against
        # (--output is still honored for back-compat with round-8
        # invocations). Exits non-zero on a scale-killing anti-pattern
        # (row-at-a-time Python in the plan, or full rows funneling
        # through one partition), so users can gate CI on the same
        # checks tests/test_plans.py pins for the headline queries.
        from . import registry
        from .plans import inspect as plan_inspect

        name = args.input_path
        if name not in registry.QUERIES:
            p.error(f"unknown query {name!r}; one of: "
                    + ", ".join(sorted(registry.QUERIES)))
        sf_dir = args.sf_dir or args.output or "/root/testdata/sf0.001"
        df = registry.QUERIES[name](spark, sf_dir)
        df.explain("formatted")
        flags = plan_inspect.audit(df)
        print(f"== plan-audit: {name} ==")
        for k, v in flags.items():
            print(f"  {k}: {v}")
        bad = []
        if flags["python_row_udf"]:
            bad.append("python_row_udf (row-at-a-time BatchEvalPython "
                       "in the plan — use Arrow/pandas boundaries)")
        if flags["single_partition_full_data"]:
            bad.append("single_partition_full_data (full rows funnel "
                       "through one task — a global-window smell)")
        if bad:
            raise SystemExit(
                "plan-audit: anti-pattern(s) found:\n  " + "\n  ".join(bad))
        print("plan-audit: no scale anti-patterns")
        return
    if args.domain == "dq-audit":
        # publish gate: tall violation report over a parquet table;
        # exit non-zero when any contract is broken so CI/schedulers
        # can gate on it directly
        from .operators import audit

        df = spark.read.parquet(args.input_path)
        checks = {
            f"{c}_not_null": F.col(c).isNull()
            for c in df.columns if not c.startswith("__")
        }
        report = audit.column_checks(df, checks=checks)
        # report is one row per CHECK (aggregated), never data-sized
        rows = report.collect()
        bad = 0
        for r in rows:
            print(f"{r['check_name']}: {r['n_violations']}")
            bad += int(r["n_violations"] > 0)
        if bad:
            raise SystemExit(f"dq-audit: {bad} check(s) failing")
        print("dq-audit: all checks clean")
        return
    if args.domain == "cdc-apply":
        # operational entry for the streaming CDC upsert sink's batch
        # core: fold one changelog parquet into the bucketed snapshot
        from .streaming.upsert import apply_cdc_batch

        if not (args.output and args.keys and args.order):
            p.error("cdc-apply requires --output (snapshot dir), --keys "
                    "and --order; input_path is the changelog batch")
        batch = spark.read.parquet(args.input_path)
        apply_cdc_batch(spark, batch, args.output,
                        key_cols=args.keys.split(","),
                        order_cols=args.order.split(","),
                        op_col=args.op_col, n_buckets=args.buckets)
        print(f"cdc-apply: folded {args.input_path} into {args.output}")
        return
    if args.domain == "scd2-apply":
        # operational entry for the streaming SCD2 sink's batch core:
        # fold one observation parquet into the bucketed dimension
        from .streaming.scd2 import apply_scd2_batch

        if not (args.output and args.keys and args.attr_col
                and args.tiebreak):
            p.error("scd2-apply requires --output (dimension dir), "
                    "--keys, --attr-col and --tiebreak; input_path is "
                    "the observation batch")
        batch = spark.read.parquet(args.input_path)
        apply_scd2_batch(spark, batch, args.output,
                         key_cols=args.keys.split(","), ts_col=args.ts_col,
                         attr_col=args.attr_col, tiebreak_col=args.tiebreak,
                         n_buckets=args.buckets)
        print(f"scd2-apply: folded {args.input_path} into {args.output}")
        return
    if args.domain == "compact":
        from .streaming.curation import compact_corpus

        if not args.output:
            p.error("compact requires --output (compaction is out-of-place)")
        stats = compact_corpus(spark, args.input_path, args.output)
        print(f"compacted: {stats}")
        return
    if args.domain == "compact-store":
        from .streaming.curation import compact_signature_store

        if not (args.output and args.store):
            p.error("compact-store requires --store and --output "
                    "(store compaction is out-of-place); input_path is "
                    "the corpus the store must mirror")
        stats = compact_signature_store(
            spark, args.input_path, args.store, args.output)
        print(f"store compacted: {stats}")
        return
    if args.domain == "compact-span-store":
        from .streaming.curation import compact_span_store

        if not args.output:
            p.error("compact-span-store requires --output (store "
                    "compaction is out-of-place); input_path is the "
                    "span store root")
        stats = compact_span_store(spark, args.input_path, args.output)
        print(f"span store compacted: {stats}")
        return
    if args.domain == "refresh-annotations":
        # entry point F: re-annotate ONLY the docs whose raw text is
        # new or changed vs the previous release (X47, q141's rule)
        if not (args.output and args.corpus):
            p.error("refresh-annotations requires --corpus (the new "
                    "corpus parquet) and --output (the refreshed "
                    "annotations parquet); input_path is the previous "
                    "release")
        counts = refresh_annotations(
            spark, args.input_path, args.corpus, args.output)
        print(f"refreshed annotations for {counts['n_docs']} docs to "
              f"{args.output}: {counts['n_reused']} reused, "
              f"{counts['n_fresh']} re-annotated")
        return
    if args.domain == "release":
        if not args.output:
            p.error("release requires --output (the release directory)")
        manifest = release_corpus(
            spark, args.input_path, args.output,
            baseline_path=args.baseline,
            min_quality=args.min_quality,
            langs=tuple(args.langs.split(",")),
            n_shards=args.shards,
            allow_drift=args.allow_drift,
            mix_alpha=args.mix_alpha,
            mix_budget=args.mix_budget,
            span_scrub=args.span_scrub,
            span_window=args.span_window,
            bpe_manifest=args.bpe_manifest,
            ml_seed_path=args.ml_seed,
            ml_threshold=args.ml_threshold,
            lm_ref_path=args.lm_ref,
            lm_max_bits=args.lm_max_bits,
            topgram_max_frac=args.topgram_max_frac,
            recipe_weights=(
                {k: int(v) for k, v in
                 (kv.split("=", 1) for kv in
                  args.recipe_weights.split(","))}
                if args.recipe_weights else None),
            recipe_budget_frac=args.recipe_budget,
            recipe_epochs=args.recipe_epochs,
            screen_probes_path=args.screen_probes,
            screen_probes_mode=args.screen_probes_mode,
            screen_probes_semantic=args.screen_probes_semantic,
            nb_model_path=args.nb_model,
            nb_keep_labels=(_parse_label_list(args.nb_keep_labels)
                            if args.nb_keep_labels else None),
            dsir_seed_path=args.dsir_seed,
            dsir_threshold=args.dsir_threshold,
            dsir_resample_n=args.dsir_resample,
        )
        print(f"released {manifest['n_docs']} docs / "
              f"{manifest['n_tokens']} tokens to {args.output}")
        for d in manifest["drift"]:
            print(f"  drift {d['feature']}: psi={d['psi']} "
                  f"{d['verdict']}")
        if manifest.get("diff") is not None:
            print("  diff vs baseline: " + ", ".join(
                f"{k}={v}" for k, v in sorted(manifest["diff"].items())))
        return
    if args.domain == "curate":
        out = curate_corpus(
            spark, args.input_path, args.output,
            min_quality=args.min_quality,
            langs=tuple(args.langs.split(",")),
            show_funnel=args.show_details,
        )
    else:
        out = consume_and_process(
            spark, args.domain, args.input_path, args.output,
            max_messages=args.max_messages, output_format=args.format,
            show_details=args.show_details,
        )
    print(f"processed rows: {out.count()}")


if __name__ == "__main__":
    main()
