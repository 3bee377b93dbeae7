"""Release job (pipelines.release_corpus / CLI `release` domain):
curate → JSONL shards → manifest → PSI drift gate vs the previous
release. The gate must pass on a same-profile re-release, BLOCK a
majorly-shifted corpus, and publish under --allow-drift."""

from __future__ import annotations

import glob
import json

import pytest

from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark import pipelines
from tests.conftest import SF_SMOKE


def _docs_path():
    return f"{SF_SMOKE}/documents.parquet"


def test_release_writes_shards_manifest_and_passes_stable_gate(spark, tmp_path):
    rel1 = str(tmp_path / "rel1")
    m1 = pipelines.release_corpus(spark, _docs_path(), rel1, n_shards=3)
    parts = [p for p in glob.glob(f"{rel1}/data/part-*")
             if not p.endswith(".crc")]
    assert len(parts) == 3
    on_disk = json.load(open(f"{rel1}/MANIFEST.json"))
    assert on_disk == m1 and m1["n_docs"] > 0
    back = spark.read.json(f"{rel1}/data")
    assert back.count() == m1["n_docs"]
    assert int(back.agg(F.sum("n_tok")).head()[0]) == m1["n_tokens"]

    # re-release of the SAME corpus against rel1: profile identical,
    # gate must pass and record the verdicts in the manifest
    rel2 = str(tmp_path / "rel2")
    m2 = pipelines.release_corpus(spark, _docs_path(), rel2,
                                  baseline_path=rel1, n_shards=2)
    assert m2["n_docs"] == m1["n_docs"]
    assert m2["drift"] and all(d["verdict"] == "stable"
                               for d in m2["drift"])


def test_release_gate_blocks_major_shift_unless_allowed(spark, tmp_path):
    rel1 = str(tmp_path / "rel1")
    pipelines.release_corpus(spark, _docs_path(), rel1, n_shards=2)

    # doctored next snapshot: every text truncated to its first ~6
    # tokens — the n_tok profile collapses into the lowest bin
    shifted_src = str(tmp_path / "shifted_docs")
    (spark.read.parquet(_docs_path())
     .withColumn("text", F.concat_ws(
         " ", F.slice(F.split(F.col("text"), " "), 1, 6)))
     .write.parquet(shifted_src))

    rel2 = str(tmp_path / "rel2")
    with pytest.raises(RuntimeError, match="release blocked"):
        pipelines.release_corpus(spark, shifted_src, rel2,
                                 baseline_path=rel1, n_shards=2)

    # explicit override publishes and records the major shift
    m = pipelines.release_corpus(spark, shifted_src, rel2,
                                 baseline_path=rel1, n_shards=2,
                                 allow_drift=True)
    assert any(d["verdict"] == "major_shift" for d in m["drift"])
    assert json.load(open(f"{rel2}/MANIFEST.json"))["drift"] == m["drift"]


def test_release_cli_end_to_end(spark, tmp_path):
    """The `release` CLI domain drives the same path (argparse wiring,
    gate exit, stdout summary)."""
    rel = str(tmp_path / "rel_cli")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "2"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["n_docs"] > 0 and m["n_shards"] == 2 and m["drift"] == []


def test_release_cli_with_baseline_gate(spark, tmp_path):
    """The CLI --baseline wiring: a stable re-release passes and prints
    drift lines; the gate error surfaces through the CLI too."""
    rel1 = str(tmp_path / "r1")
    pipelines.main(["release", _docs_path(), "--output", rel1,
                    "--shards", "2"])
    rel2 = str(tmp_path / "r2")
    pipelines.main(["release", _docs_path(), "--output", rel2,
                    "--shards", "2", "--baseline", rel1])
    m = json.load(open(f"{rel2}/MANIFEST.json"))
    assert m["drift"] and all(d["verdict"] == "stable"
                              for d in m["drift"])

    shifted = str(tmp_path / "shifted")
    (spark.read.parquet(_docs_path())
     .withColumn("text", F.concat_ws(
         " ", F.slice(F.split(F.col("text"), " "), 1, 6)))
     .write.parquet(shifted))
    with pytest.raises(RuntimeError, match="release blocked"):
        pipelines.main(["release", shifted,
                        "--output", str(tmp_path / "r3"),
                        "--baseline", rel1])
    # --allow-drift publishes through the CLI
    pipelines.main(["release", shifted, "--output", str(tmp_path / "r4"),
                    "--baseline", rel1, "--allow-drift"])
    m4 = json.load(open(f"{tmp_path}/r4/MANIFEST.json"))
    assert any(d["verdict"] == "major_shift" for d in m4["drift"])


def test_release_with_temperature_mix(spark, tmp_path):
    """--mix-alpha: the released corpus is the deterministic
    temperature sample of the curated corpus — membership replays from
    the manifest's own per-source rates (same salt, same bucket rule),
    the rates themselves match the operator, and the unmixed release is
    a strict superset."""
    import hashlib

    from real_time_iot_data_pipeline_project_spark.operators import sampling

    rel_plain = str(tmp_path / "plain")
    m_plain = pipelines.release_corpus(spark, _docs_path(), rel_plain,
                                       n_shards=2)
    assert m_plain["mix"] is None

    rel_mix = str(tmp_path / "mix")
    m_mix = pipelines.release_corpus(spark, _docs_path(), rel_mix,
                                     n_shards=2, mix_alpha=0.7)
    assert m_mix["mix"]["alpha"] == 0.7 and m_mix["mix"]["budget_frac"] == 0.5
    assert 0 < m_mix["n_docs"] < m_plain["n_docs"]

    plain = {(r.doc_id, r.source)
             for r in spark.read.json(f"{rel_plain}/data")
             .select("doc_id", "source").collect()}
    mixed = {r.doc_id: r.source
             for r in spark.read.json(f"{rel_mix}/data")
             .select("doc_id", "source").collect()}

    def bucket(key):
        return int(hashlib.md5(f"tmix|{key}".encode()).hexdigest()[:15], 16) % 100

    # exact membership: curated doc kept iff its bucket clears its
    # source's manifest rate
    rates = m_mix["mix"]["rates"]
    for doc_id, source in plain:
        assert ((doc_id in mixed) ==
                (bucket(doc_id) < rates[source])), (doc_id, source)
    assert set(mixed.items()) <= plain
    # and the manifest rates ARE the operator's rates
    curated = pipelines.curate_corpus(spark, _docs_path())
    op_rates = {r.source: r.rate_pct
                for r in sampling.temperature_mix_rates(
                    curated, "source", 0.7, 0.5).collect()}
    assert rates == {str(k): v for k, v in op_rates.items()}


def test_release_with_span_scrub(spark, tmp_path):
    """--span-scrub: released text is the q127-scrubbed text (the
    duplicated run survives only at its first corpus occurrence),
    n_tok is the surviving token count, emptied docs drop, and the
    manifest records the stage."""
    from real_time_iot_data_pipeline_project_spark.operators import dedup

    # the duplicated run must survive the curation gates (detected_lang
    # "en"), so it is a stopword-rich English 8-token window
    run = "the quick brown fox jumps over the lazy"
    rows = [
        (1, run + " dog near the River Bank", "en", "s1"),  # first occurrence
        (2, "Meanwhile " + run + " dog sits on the porch", "en", "s1"),
        (3, run, "en", "s2"),                           # fully duplicated
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"]) \
         .write.parquet(src)

    rel = str(tmp_path / "rel")
    m = pipelines.release_corpus(spark, src, rel, n_shards=1,
                                 min_quality=0.0, span_scrub=True)
    assert m["span_scrub"]["window_tokens"] == 8
    assert m["span_scrub"]["n_docs_emptied"] == 1        # doc 3
    assert m["span_scrub"]["n_tokens_removed"] >= 8
    # manifest reconciles: released = in - dropped
    assert m["n_docs"] == (m["span_scrub"]["n_docs_in"]
                           - m["span_scrub"]["n_docs_dropped"])
    back = {r.doc_id: r for r in spark.read.json(f"{rel}/data").collect()}
    assert set(back) == {1, 2}                           # doc 3 dropped
    assert back[1].text.startswith("the quick brown")    # first kept
    assert run not in back[2].text.lower()               # repeat excised
    # original token CASE is preserved in the released text (matching
    # runs on the normalized grid, shipping does not lowercase)
    assert back[1].text.endswith("River Bank")
    assert back[2].text.startswith("Meanwhile")
    # released text/n_tok match the operator's own with_text output
    expect = {r.doc_id: (r.cleaned_text, r.n_tokens_kept)
              for r in dedup.duplicate_span_removal(
                  spark.createDataFrame(rows,
                                        ["doc_id", "text", "lang", "source"]),
                  with_text=True).collect()}
    for d in (1, 2):
        assert (back[d].text, back[d].n_tok) == expect[d]
    # manifest token budget reflects the scrubbed corpus
    assert m["n_tokens"] == sum(v[1] for k, v in expect.items() if k != 3)


def test_release_without_scrub_manifest_null(spark, tmp_path):
    rel = str(tmp_path / "rel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1)
    assert m["span_scrub"] is None


def test_release_cli_span_scrub_wiring(spark, tmp_path):
    # non-default window so a broken --span-window mapping can't hide
    # behind the default (review catch)
    rel = str(tmp_path / "rel_scrub_cli")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--span-scrub", "--span-window", "3"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["span_scrub"]["window_tokens"] == 3
    assert m["span_scrub"]["n_docs_in"] > 0


def test_release_span_scrub_empty_corpus(spark, tmp_path):
    """An all-filtered corpus must publish an empty-but-valid release
    with the scrub on, exactly like the unscrubbed path (the SUM-over-
    zero-rows NULLs are coalesced)."""
    rel = str(tmp_path / "rel_empty")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 min_quality=9.9, span_scrub=True)
    assert m["n_docs"] == 0
    assert m["span_scrub"]["n_docs_in"] == 0
    assert m["span_scrub"]["n_tokens_removed"] == 0


def test_release_bpe_manifest_records_real_counts(spark, tmp_path):
    """--bpe-manifest adds real tokenizer-token totals under `bpe`,
    equal to summing tokenize.bpe_token_counts over the released
    frame — and they exceed the whitespace totals (merges split
    unseen/long words into multiple tokens, never below 1 per word)."""
    from real_time_iot_data_pipeline_project_spark.operators import tokenize

    rel = str(tmp_path / "rel_bpe")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=2,
                                 bpe_manifest=True)
    assert set(m["bpe"]["by_lang"]) == set(m["by_lang"])
    assert m["bpe"]["n_tokens"] == sum(m["bpe"]["by_lang"].values())
    assert m["bpe"]["n_tokens"] >= m["n_tokens"] > 0

    back = spark.read.json(f"{rel}/data")
    direct = (tokenize.bpe_token_counts(spark, back)
              .agg(F.sum("n_bpe_tokens")).head()[0])
    assert int(direct) == m["bpe"]["n_tokens"]

    # off by default: the field is absent, not null
    rel2 = str(tmp_path / "rel_nobpe")
    m2 = pipelines.release_corpus(spark, _docs_path(), rel2, n_shards=2)
    assert "bpe" not in m2


def test_release_cli_bpe_manifest_wiring(spark, tmp_path):
    rel = str(tmp_path / "rel_bpe_cli")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--bpe-manifest"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["bpe"]["n_tokens"] >= m["n_tokens"] > 0


def test_release_diff_json_vs_baseline(spark, tmp_path):
    """--baseline also publishes the per-doc release diff (X46, VERDICT
    r11 item 3): DIFF.json next to MANIFEST.json with the
    groupBy(status) rollup of audit.corpus_diff vs the baseline
    release.  A byte-identical re-release diffs as all-unchanged; a
    mutated corpus shows changed docs, and the four counts reconcile
    against both releases' doc totals."""
    rel1 = str(tmp_path / "d1")
    m1 = pipelines.release_corpus(spark, _docs_path(), rel1, n_shards=2)
    # no baseline -> no DIFF.json, manifest diff is null
    assert m1["diff"] is None
    assert not glob.glob(f"{rel1}/DIFF.json")

    rel2 = str(tmp_path / "d2")
    m2 = pipelines.release_corpus(spark, _docs_path(), rel2,
                                  baseline_path=rel1, n_shards=2)
    on_disk = json.load(open(f"{rel2}/DIFF.json"))
    assert on_disk["by_status"] == m2["diff"]
    assert on_disk["baseline"] == rel1
    assert m2["diff"] == {"added": 0, "removed": 0, "changed": 0,
                          "unchanged": m1["n_docs"]}

    # mutated next snapshot: ' v2' suffix on a doc_id slice -> those
    # docs (where they survive curation on both sides) read as changed
    mutated = str(tmp_path / "mutated_docs")
    (spark.read.parquet(_docs_path())
     .withColumn("text", F.when(F.pmod("doc_id", F.lit(7)) == 0,
                                F.concat(F.col("text"), F.lit(" v2")))
                 .otherwise(F.col("text")))
     .write.parquet(mutated))
    rel3 = str(tmp_path / "d3")
    m3 = pipelines.release_corpus(spark, mutated, rel3,
                                  baseline_path=rel1, n_shards=2,
                                  allow_drift=True)
    d = m3["diff"]
    assert d["changed"] > 0
    # reconciliation: old = unchanged+changed+removed,
    #                 new = unchanged+changed+added
    assert d["unchanged"] + d["changed"] + d["removed"] == m1["n_docs"]
    assert d["unchanged"] + d["changed"] + d["added"] == m3["n_docs"]
    assert json.load(open(f"{rel3}/DIFF.json"))["by_status"] == d


def test_refresh_annotations_cli_equivalence_and_reuse(spark, tmp_path):
    """Entry point F (VERDICT r11 item 4): `pipelines
    refresh-annotations <old-release> --corpus <new> --output <out>`
    (1) produces annotations equal to a full recompute over the new
    corpus (q141's invariant, through the CLI path), and (2) actually
    REUSES stored values — a sentinel planted in an unchanged doc's
    stored annotation survives into the output, proving the annotator
    never ran on that doc."""
    docs = spark.read.parquet(_docs_path())

    # previous release = annotated parquet (text + standard columns)
    old_annotated = (docs.select("doc_id", "text")
                     .join(pipelines.standard_annotator(docs), "doc_id"))
    old_path = str(tmp_path / "old_ann")
    old_annotated.write.parquet(old_path)

    # new corpus: one slice mutated, one slice brand new id-space
    new_corpus = (docs.withColumn(
        "text", F.when(F.pmod("doc_id", F.lit(5)) == 0,
                       F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")))
        .select("doc_id", "text"))
    new_path = str(tmp_path / "new_corpus")
    new_corpus.write.parquet(new_path)

    out = str(tmp_path / "refreshed")
    pipelines.main(["refresh-annotations", old_path,
                    "--corpus", new_path, "--output", out])
    got = spark.read.parquet(out)
    want = pipelines.standard_annotator(spark.read.parquet(new_path))
    assert got.count() == want.count()
    # full equivalence: refresh == recompute, row for row
    assert (got.exceptAll(want).count() == 0
            and want.exceptAll(got).count() == 0)

    # reuse proof: plant a sentinel n_tok on one UNCHANGED doc in the
    # stored release; the refreshed output must carry the sentinel
    # (reused), not the recomputed value
    probe = docs.where(F.pmod("doc_id", F.lit(5)) != 0).head()
    sentinel_path = str(tmp_path / "old_sentinel")
    (old_annotated.withColumn(
        "n_tok", F.when(F.col("doc_id") == probe["doc_id"],
                        F.lit(999_999).cast("long"))
        .otherwise(F.col("n_tok")))
     .write.parquet(sentinel_path))
    out2 = str(tmp_path / "refreshed2")
    counts = pipelines.refresh_annotations(spark, sentinel_path,
                                           new_path, out2)
    assert counts["n_reused"] > 0 and counts["n_fresh"] > 0
    assert counts["n_reused"] + counts["n_fresh"] == counts["n_docs"]
    got2 = {r["doc_id"]: r["n_tok"]
            for r in spark.read.parquet(out2).collect()}
    assert got2[probe["doc_id"]] == 999_999


def test_refresh_annotations_reads_jsonl_release(spark, tmp_path):
    """The old side can be a release directory as the `release` domain
    wrote it (JSONL data/ shards carry doc_id, text and the standard
    annotation columns)."""
    rel = str(tmp_path / "relx")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=2)
    out = str(tmp_path / "refreshed_jsonl")
    counts = pipelines.refresh_annotations(spark, rel, _docs_path(), out)
    # every doc the release kept is byte-identical -> reused; docs the
    # curation dropped are absent from the old side -> re-annotated
    assert counts["n_reused"] == m["n_docs"]
    assert spark.read.parquet(out).count() == counts["n_docs"]


def test_release_ml_selection_keeps_operator_membership(spark, tmp_path):
    """--ml-seed wiring (X51): the released doc set equals the
    moore_lewis_scores <= threshold membership computed directly on
    the curated frame (the operator IS the rule — q124's wiring
    precedent), the manifest records the stage, and the kept set is a
    strict subset when the threshold bites."""
    from real_time_iot_data_pipeline_project_spark.operators.textops import (
        moore_lewis_scores,
    )

    seed_path = str(tmp_path / "seed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src0").write.parquet(seed_path))

    rel = str(tmp_path / "mlrel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 ml_seed_path=seed_path,
                                 ml_threshold=0.0)
    assert m["ml_selection"]["n_docs_kept"] == m["n_docs"]
    assert m["ml_selection"]["n_docs_kept"] < m["ml_selection"]["n_docs_in"]

    curated = pipelines.curate_corpus(spark, _docs_path())
    seed = spark.read.parquet(seed_path)
    want = {r.doc_id for r in
            moore_lewis_scores(curated, seed)
            .where(F.col("ml_bits") <= 0.0).select("doc_id").collect()}
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert got == want


def test_release_cli_ml_selection_wiring(spark, tmp_path):
    """--ml-seed/--ml-threshold reach release_corpus through the CLI."""
    seed_path = str(tmp_path / "cseed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src1").write.parquet(seed_path))
    rel = str(tmp_path / "clirel")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--ml-seed", seed_path,
                    "--ml-threshold", "0.05"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["ml_selection"]["threshold_bits"] == 0.05
    assert 0 < m["ml_selection"]["n_docs_kept"] <= m["ml_selection"]["n_docs_in"]


def _train_nb_store(spark, store: str) -> None:
    """A deterministic 2-label NB count store: label the smoke docs by
    doc_id parity, fold them in two batches through the streaming
    writer (the store layout the release stage reads)."""
    from real_time_iot_data_pipeline_project_spark.streaming import (
        classify_stream,
    )

    docs = (spark.read.parquet(_docs_path())
            .select("doc_id", "text",
                    F.when(F.col("doc_id") % 2 == 0, "keepme")
                    .otherwise("dropme").alias("label")))
    classify_stream.process_nb_batch(
        docs.where(F.col("doc_id") % 3 == 0), 0, store)
    classify_stream.process_nb_batch(
        docs.where(F.col("doc_id") % 3 != 0), 1, store)


def test_release_nb_filter_keeps_operator_membership(spark, tmp_path):
    """--nb-model wiring (VERDICT r12 item 3): the released doc set
    equals classify_from_store's argmax membership on the curated
    frame restricted to the keep labels (the operator IS the rule —
    the --ml-seed wiring precedent), the manifest records the stage,
    and a missing label allowlist raises instead of keeping nothing."""
    import pytest

    from real_time_iot_data_pipeline_project_spark.streaming.classify_stream import (  # noqa: E501
        classify_from_store,
    )

    store = str(tmp_path / "nbstore")
    _train_nb_store(spark, store)

    rel = str(tmp_path / "nbrel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 nb_model_path=store,
                                 nb_keep_labels=("keepme",))
    curated = pipelines.curate_corpus(spark, _docs_path())
    want = {r.doc_id for r in
            classify_from_store(spark, store, curated)
            .where(F.col("label") == "keepme")
            .select("doc_id").collect()}
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert got == want
    assert m["nb_filter"]["keep_labels"] == ["keepme"]
    assert m["nb_filter"]["n_docs_kept"] == m["n_docs"] == len(want)
    # the stage bites: the parity-planted model must not be a no-op
    assert 0 < m["nb_filter"]["n_docs_kept"] < m["nb_filter"]["n_docs_in"]

    with pytest.raises(ValueError, match="nb_keep_labels"):
        pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "nbrel2"), n_shards=1,
                                 nb_model_path=store)


def test_release_cli_nb_filter_wiring(spark, tmp_path):
    """--nb-model/--nb-keep-labels reach release_corpus via the CLI."""
    store = str(tmp_path / "clistore")
    _train_nb_store(spark, store)
    rel = str(tmp_path / "clinbrel")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--nb-model", store,
                    "--nb-keep-labels", "keepme,dropme"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["nb_filter"]["model"] == store
    assert m["nb_filter"]["keep_labels"] == ["keepme", "dropme"]
    # both labels allowed -> the stage passes everything through
    assert m["nb_filter"]["n_docs_kept"] == m["nb_filter"]["n_docs_in"]


def test_release_recipe_weights_expansion(spark, tmp_path):
    """--recipe-weights (X44/X48): the released shards ARE the
    epoch-expanded (doc, epoch) stream of the curated corpus — heavy
    sources repeat across epochs, membership equals the operator's
    rule exactly, the manifest records the per-source plan, and
    combining with --mix-alpha is refused."""
    from real_time_iot_data_pipeline_project_spark.operators import sampling

    rel = str(tmp_path / "recipe_rel")
    m = pipelines.release_corpus(
        spark, _docs_path(), rel, n_shards=2,
        recipe_weights={"src0": 80, "src1": 30},
        recipe_budget_frac=0.4, recipe_epochs=3)
    assert m["recipe"]["max_epochs"] == 3
    # the manifest plan IS the operator's plan on the curated frame
    curated = pipelines.curate_corpus(spark, _docs_path())
    w = (F.when(F.col("source") == "src0", 80)
         .when(F.col("source") == "src1", 30).otherwise(1))
    total = int(curated.agg(F.sum("n_tok")).head()[0])
    plan = {r.source: r for r in sampling.epoch_plan(
        curated, "source", w, int(total * 0.4), max_epochs=3,
        tokens_col="n_tok").collect()}
    for src, rec in m["recipe"]["per_source"].items():
        p = plan[src]
        assert (rec["allocation_tokens"], rec["epochs_full"],
                rec["remainder_tokens"]) == (
            p.allocation_tokens, p.epochs_full, p.remainder_tokens)
    # repetition actually happened and membership matches the operator
    want = {(r.doc_id, r.epoch) for r in sampling.epoch_expand(
        curated, "source", "doc_id", w, int(total * 0.4),
        max_epochs=3, tokens_col="n_tok").collect()}
    got = {(r.doc_id, r.epoch) for r in
           spark.read.json(f"{rel}/data")
           .select("doc_id", "epoch").collect()}
    assert got == want
    assert any(e >= 1 for _, e in got)  # a source repeated
    assert m["n_docs"] == len(got)      # manifest counts (doc, epoch)

    with pytest.raises(ValueError, match="one"):
        pipelines.release_corpus(
            spark, _docs_path(), str(tmp_path / "both"), n_shards=1,
            recipe_weights={"src0": 80}, mix_alpha=0.7)


def test_release_cli_recipe_wiring(spark, tmp_path):
    """--recipe-weights parses 'k=v,k=v' through the CLI and the
    manifest records the plan."""
    rel = str(tmp_path / "cli_recipe")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--recipe-weights",
                    "src0=80,src1=30", "--recipe-budget", "0.4",
                    "--recipe-epochs", "2"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["recipe"]["weights"] == {"src0": 80, "src1": 30}
    assert m["recipe"]["max_epochs"] == 2
    assert m["recipe"]["per_source"]["src0"]["epochs_full"] >= 1


def test_release_screen_probes_drops_contaminated(spark, tmp_path):
    """--screen-probes (X21): every doc with a verified verbatim probe
    hit is dropped before any other stage — membership equals the
    operator's verified hit set on the curated frame, and the manifest
    records the scrub."""
    from real_time_iot_data_pipeline_project_spark.operators.contamination import (
        screen_probes, synthetic_probe_dim,
    )

    curated = pipelines.curate_corpus(spark, _docs_path())
    probes_path = str(tmp_path / "probes")
    synthetic_probe_dim(spark, curated, n_synthetic=50) \
        .write.parquet(probes_path)

    rel = str(tmp_path / "dc_rel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 screen_probes_path=probes_path)
    hits = {r.doc_id for r in
            screen_probes(curated, spark.read.parquet(probes_path))
            .select("doc_id").distinct().collect()}
    assert hits, "planted probes must actually hit"
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    want = {r.doc_id for r in curated.select("doc_id").collect()} - hits
    assert got == want
    assert m["decontamination"]["n_docs_dropped"] == len(hits)


def test_release_cli_screen_probes_wiring(spark, tmp_path):
    """--screen-probes reaches release_corpus through the CLI."""
    from real_time_iot_data_pipeline_project_spark.operators.contamination import (
        synthetic_probe_dim,
    )

    curated = pipelines.curate_corpus(spark, _docs_path())
    probes_path = str(tmp_path / "cprobes")
    synthetic_probe_dim(spark, curated, n_synthetic=10) \
        .write.parquet(probes_path)
    rel = str(tmp_path / "dc_cli")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--screen-probes", probes_path])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["decontamination"]["n_docs_dropped"] > 0


def test_release_screen_probes_scrub_mode(spark, tmp_path):
    """--screen-probes-mode scrub: released text is the probe-span-
    EXCISED text (q151's rule) — the doc survives minus the
    contaminated span, where drop mode would remove it entirely; the
    manifest records the mode."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        contamination,
    )

    curated = pipelines.curate_corpus(spark, _docs_path())
    # token-aligned probes: the first 12 normalized tokens of a few
    # curated docs (guaranteed occurrences)
    probes = (curated.where(F.col("doc_id") % 10 == 0)
              .select(F.col("doc_id").alias("probe_id"),
                      F.array_join(F.slice(F.split(F.lower(
                          F.trim(F.regexp_replace("text", "\\s+", " "))),
                          " "), 1, 12), " ").alias("probe_text")))
    probes_path = str(tmp_path / "sprobes")
    probes.write.parquet(probes_path)

    rel = str(tmp_path / "scrub_rel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 screen_probes_path=probes_path,
                                 screen_probes_mode="scrub")
    assert m["decontamination"]["mode"] == "scrub"
    # released text equals the operator's cleaned_text for kept docs
    want = {r.doc_id: r.cleaned_text for r in
            contamination.scrub_probe_spans(
                curated, spark.read.parquet(probes_path)).collect()
            if r.n_tokens_kept > 0}
    got = {r.doc_id: r.text for r in
           spark.read.json(f"{rel}/data")
           .select("doc_id", "text").collect()}
    assert got == want
    with pytest.raises(ValueError, match="drop' or 'scrub"):
        pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "bad"), n_shards=1,
                                 screen_probes_path=probes_path,
                                 screen_probes_mode="nope")


def test_release_scrub_mode_refuses_short_probes(spark, tmp_path):
    """ADVICE r12: a probe shorter than the 8-token excision window
    contributes no windows — scrub mode must refuse it loudly (a
    drop→scrub switch would otherwise silently lose decontamination
    coverage for short eval canaries), while drop mode still handles
    the same probe via its char-level guarantee."""
    probes = spark.createDataFrame(
        [(1, "only four tokens here")],
        "probe_id long, probe_text string")
    probes_path = str(tmp_path / "shortprobes")
    probes.write.parquet(probes_path)
    with pytest.raises(ValueError, match="8-token"):
        pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "shortrel"), n_shards=1,
                                 screen_probes_path=probes_path,
                                 screen_probes_mode="scrub")
    # the same probes pass drop mode's (char-level) guard
    m = pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "droprel"), n_shards=1,
                                 screen_probes_path=probes_path,
                                 screen_probes_mode="drop")
    assert m["decontamination"]["mode"] == "drop"


def test_release_recipe_baseline_diff_counts_per_doc(spark, tmp_path):
    """ADVICE r12: a --recipe-weights release ships one row per
    (doc, epoch); used later as --baseline, the DIFF.json counts must
    stay per-DOC (corpus_diff dedups identical-content duplicates
    before its join), never epochs×epochs fan-out."""
    rel1 = str(tmp_path / "recipe_base")
    m1 = pipelines.release_corpus(spark, _docs_path(), rel1, n_shards=1,
                                  recipe_weights={"src0": 80, "src1": 30},
                                  recipe_budget_frac=0.4,
                                  recipe_epochs=2)
    # the recipe must actually ship duplicates for this test to bite
    back = spark.read.json(f"{rel1}/data")
    n_rows = back.count()
    n_docs = back.select("doc_id").distinct().count()
    assert n_rows == m1["n_docs"] and n_rows > n_docs

    rel2 = str(tmp_path / "plain_on_recipe")
    m2 = pipelines.release_corpus(spark, _docs_path(), rel2, n_shards=1,
                                  baseline_path=rel1, allow_drift=True)
    d = m2["diff"]
    # every status is per-doc: the union of statuses covers exactly
    # the distinct docs of both releases, with no multiplicity
    n_new = m2["n_docs"]
    assert d["unchanged"] + d["changed"] + d["removed"] == n_docs
    assert d["unchanged"] + d["changed"] + d["added"] == n_new


def test_release_all_stages_compose(spark, tmp_path):
    """Round 13: the WHOLE optional stage chain in one release —
    decontamination (scrub mode) → NB classifier filter → Moore-Lewis
    selection → span scrub → multi-epoch recipe → text drift gate vs a
    baseline — proving the stages compose without
    interference: every stage's manifest section is recorded, counts
    reconcile monotonically through the funnel, and the (doc, epoch)
    output is draw n from the surviving membership only."""
    from real_time_iot_data_pipeline_project_spark.operators import (
        contamination,
    )

    curated = pipelines.curate_corpus(spark, _docs_path())
    # probes: 12-token prefixes of a slice of curated docs (the q151
    # shape — token-aligned, so scrub mode excises rather than drops)
    probes = (curated.where(F.col("doc_id") % 20 == 0)
              .select(F.col("doc_id").alias("probe_id"),
                      F.array_join(F.slice(F.split(F.lower(
                          F.trim(F.regexp_replace("text", "\\s+", " "))),
                          " "), 1, 12), " ").alias("probe_text")))
    probes_path = str(tmp_path / "all_probes")
    probes.write.parquet(probes_path)
    store = str(tmp_path / "all_nbstore")
    _train_nb_store(spark, store)
    seed_path = str(tmp_path / "all_seed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src0").write.parquet(seed_path))

    base = str(tmp_path / "all_base")
    pipelines.release_corpus(spark, _docs_path(), base, n_shards=1)

    rel = str(tmp_path / "all_rel")
    m = pipelines.release_corpus(
        spark, _docs_path(), rel, n_shards=2,
        baseline_path=base, allow_drift=True,
        screen_probes_path=probes_path, screen_probes_mode="scrub",
        nb_model_path=store, nb_keep_labels=("keepme", "dropme"),
        ml_seed_path=seed_path, ml_threshold=0.5,
        span_scrub=True,
        recipe_weights={"src0": 80, "src1": 30},
        recipe_budget_frac=0.4, recipe_epochs=2,
        bpe_manifest=True)
    # every stage recorded
    assert m["decontamination"]["mode"] == "scrub"
    assert m["nb_filter"]["keep_labels"] == ["keepme", "dropme"]
    assert m["ml_selection"]["threshold_bits"] == 0.5
    assert m["span_scrub"]["window_tokens"] == 8
    assert m["recipe"]["max_epochs"] == 2
    assert m["bpe"]["n_tokens"] > 0
    assert m["diff"] is not None
    feats = {d["feature"] for d in m["drift"]}
    assert len(feats) > 1
    # funnel reconciles monotonically: each stage's input is the
    # previous stage's survivors
    assert (m["decontamination"]["n_docs_in"]
            - m["decontamination"]["n_docs_dropped"]
            == m["nb_filter"]["n_docs_in"])
    assert m["nb_filter"]["n_docs_kept"] == m["ml_selection"]["n_docs_in"]
    assert m["ml_selection"]["n_docs_kept"] == m["span_scrub"]["n_docs_in"]
    # the released rows are (doc, epoch) draws from the surviving set
    back = spark.read.json(f"{rel}/data")
    assert back.count() == m["n_docs"] > 0
    n_docs_released = back.select("doc_id").distinct().count()
    assert n_docs_released <= (m["span_scrub"]["n_docs_in"]
                               - m["span_scrub"]["n_docs_dropped"])
    # scrub modes really ran: no released text carries a probe span
    hits = contamination.screen_probes(
        back.select("doc_id", "text").dropDuplicates(["doc_id"]),
        spark.read.parquet(probes_path))
    assert hits.count() == 0


def test_release_dsir_selection_keeps_operator_membership(spark, tmp_path):
    """--dsir-seed wiring (round 13): the released doc set equals the
    dsir_scores >= threshold membership computed directly on the
    curated frame (the operator IS the rule — the --ml-seed wiring
    precedent), the manifest records the stage, and the kept set is a
    strict subset when the threshold bites."""
    from real_time_iot_data_pipeline_project_spark.operators.textops import (
        dsir_scores,
    )

    seed_path = str(tmp_path / "dseed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src0").write.parquet(seed_path))

    # pick a threshold that BITES: the median operator score on the
    # curated frame (most pool docs score negative vs a sub-slice
    # seed — the expected logw under the pool is −n·KL(pool‖seed) —
    # so a fixed 0.0 would keep nothing on this synthetic corpus)
    curated = pipelines.curate_corpus(spark, _docs_path())
    seed = spark.read.parquet(seed_path)
    scores = sorted(r.dsir_logw for r in
                    dsir_scores(curated, seed).collect())
    thr = scores[len(scores) // 2]

    rel = str(tmp_path / "dsirrel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 dsir_seed_path=seed_path,
                                 dsir_threshold=thr)
    assert m["dsir_selection"]["n_docs_kept"] == m["n_docs"]
    assert 0 < m["dsir_selection"]["n_docs_kept"] \
        < m["dsir_selection"]["n_docs_in"]

    want = {r.doc_id for r in
            dsir_scores(curated, seed)
            .where(F.col("dsir_logw") >= thr).select("doc_id").collect()}
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert got == want


def test_release_cli_dsir_wiring(spark, tmp_path):
    """--dsir-seed/--dsir-threshold reach release_corpus via the CLI."""
    seed_path = str(tmp_path / "cdseed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src1").write.parquet(seed_path))
    rel = str(tmp_path / "clidsir")
    # -1e6 keeps everything: this test pins the argparse wiring, the
    # membership rule itself is pinned by the operator-equality test
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--dsir-seed", seed_path,
                    "--dsir-threshold", "-1000000"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["dsir_selection"]["threshold_logw"] == -1000000
    assert (m["dsir_selection"]["n_docs_kept"]
            == m["dsir_selection"]["n_docs_in"] > 0)


def test_parse_label_list_strips_and_refuses_empty():
    """ADVICE r13: '--nb-keep-labels "keepme, dropme"' previously
    yielded (' dropme',) which matches no classifier label — labels
    are stripped, empty tokens dropped, and an all-empty parse
    raises instead of silently filtering every doc out."""
    assert pipelines._parse_label_list("keepme, dropme") == (
        "keepme", "dropme")
    assert pipelines._parse_label_list(" a ,, b ,") == ("a", "b")
    with pytest.raises(ValueError, match="parses to an empty list"):
        pipelines._parse_label_list(" , ,")


def test_release_dsir_resample_keeps_lottery_membership(spark, tmp_path):
    """--dsir-resample N (round 14, X64): the released doc set equals
    dsir_resample's n lottery winners computed directly on the curated
    frame (the operator IS the rule), the manifest records mode
    'resample', and requesting a resample without a seed refuses."""
    import pytest as _pytest

    from real_time_iot_data_pipeline_project_spark.operators.textops import (
        dsir_resample,
    )

    seed_path = str(tmp_path / "rseed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src0").write.parquet(seed_path))
    curated = pipelines.curate_corpus(spark, _docs_path())
    seed = spark.read.parquet(seed_path)
    n = max(1, curated.count() // 3)

    rel = str(tmp_path / "resamplerel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 dsir_seed_path=seed_path,
                                 dsir_resample_n=n)
    assert m["dsir_selection"]["mode"] == "resample"
    assert m["dsir_selection"]["resample_n"] == n
    assert m["dsir_selection"]["n_docs_kept"] == n == m["n_docs"]

    want = {r.doc_id for r in
            dsir_resample(curated, seed, n=n).select("doc_id").collect()}
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert got == want

    with _pytest.raises(ValueError, match="requires dsir_seed_path"):
        pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "norel"), n_shards=1,
                                 dsir_resample_n=5)


def test_release_cli_dsir_resample_wiring(spark, tmp_path):
    """--dsir-resample reaches release_corpus via the CLI."""
    seed_path = str(tmp_path / "crseed")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src0").write.parquet(seed_path))
    rel = str(tmp_path / "cliresample")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--dsir-seed", seed_path,
                    "--dsir-resample", "7"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["dsir_selection"]["mode"] == "resample"
    assert m["dsir_selection"]["n_docs_kept"] == 7 == m["n_docs"]


def test_release_semantic_screen_drops_paraphrase(spark, tmp_path):
    """--screen-probes-semantic (round 15, X71's tier as a release
    stage): a REORDERED copy of an eval probe survives the verbatim
    drop tier (no shared chunk) but is dropped by the semantic tier
    (bag-identical hashing embedding, cosine 1.0); the verbatim copy
    falls to tier one; the manifest records both; without the flag
    the paraphrase ships — the exact leak the second tier exists to
    stop; the flag without a probe list refuses."""
    probe_text = ("the quick brown fox jumps over the lazy dog "
                  "while seven wizards watch quietly tonight")
    reordered = ("tonight quietly watch wizards seven while dog "
                 "lazy the over jumps fox brown quick the")
    base = spark.read.parquet(_docs_path())
    planted = spark.createDataFrame(
        [(9001, probe_text, "en", "src0", len(probe_text)),
         (9002, reordered, "en", "src0", len(reordered))],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    corpus = str(tmp_path / "corpus")
    base.unionByName(planted).write.parquet(corpus)
    probes_path = str(tmp_path / "probes")
    spark.createDataFrame([(500, probe_text)],
                          "probe_id long, probe_text string") \
        .write.parquet(probes_path)

    rel = str(tmp_path / "sem_rel")
    m = pipelines.release_corpus(spark, corpus, rel, n_shards=1,
                                 screen_probes_path=probes_path,
                                 screen_probes_semantic=0.95)
    ids = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert 9001 not in ids          # verbatim: tier one
    assert 9002 not in ids          # paraphrase: semantic tier
    assert m["decontamination"]["semantic"]["threshold"] == 0.95
    assert m["decontamination"]["semantic"]["n_docs_dropped"] >= 1

    # control: without the semantic tier the paraphrase SHIPS
    rel0 = str(tmp_path / "sem_off")
    pipelines.release_corpus(spark, corpus, rel0, n_shards=1,
                             screen_probes_path=probes_path)
    ids0 = {r.doc_id for r in
            spark.read.json(f"{rel0}/data").select("doc_id").collect()}
    assert 9001 not in ids0 and 9002 in ids0

    with pytest.raises(ValueError, match="screen_probes_semantic"):
        pipelines.release_corpus(spark, corpus,
                                 str(tmp_path / "bad"), n_shards=1,
                                 screen_probes_semantic=0.95)
    with pytest.raises(ValueError, match="cosine"):
        pipelines.release_corpus(spark, corpus,
                                 str(tmp_path / "bad2"), n_shards=1,
                                 screen_probes_path=probes_path,
                                 screen_probes_semantic=1.5)


def test_release_cli_semantic_screen_wiring(spark, tmp_path):
    """--screen-probes-semantic reaches release_corpus through the
    CLI and lands in the manifest."""
    from real_time_iot_data_pipeline_project_spark.operators.contamination import (
        synthetic_probe_dim,
    )

    curated = pipelines.curate_corpus(spark, _docs_path())
    probes_path = str(tmp_path / "cprobes")
    synthetic_probe_dim(spark, curated, n_synthetic=10) \
        .write.parquet(probes_path)
    rel = str(tmp_path / "sem_cli")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--screen-probes", probes_path,
                    "--screen-probes-semantic", "0.9"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["decontamination"]["semantic"]["threshold"] == 0.9
    assert m["decontamination"]["semantic"]["n_docs_dropped"] >= 0


def test_release_lm_filter_keeps_operator_membership(spark, tmp_path):
    """--lm-ref wiring (X75): the released doc set equals the
    ngram_lm_scores <= max-bits membership computed directly on the
    curated frame (the operator IS the rule — the --ml-seed wiring
    precedent), the manifest records the stage, and a biting cutoff
    keeps a strict subset while an infinite one keeps everything."""
    from real_time_iot_data_pipeline_project_spark.operators.textops import (
        ngram_lm_scores, ngram_lm_train,
    )

    ref_path = str(tmp_path / "lmref")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src0").write.parquet(ref_path))

    curated = pipelines.curate_corpus(spark, _docs_path())
    lm = ngram_lm_train(spark.read.parquet(ref_path))
    scores = ngram_lm_scores(curated, lm)
    cut = float(scores.agg(F.expr(
        "percentile_approx(bits_per_token, 0.5)")).head()[0])

    rel = str(tmp_path / "lmrel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 lm_ref_path=ref_path,
                                 lm_max_bits=cut)
    assert m["lm_filter"]["max_bits_per_token"] == cut
    assert (0 < m["lm_filter"]["n_docs_kept"]
            < m["lm_filter"]["n_docs_in"])
    want = {r.doc_id for r in
            scores.where(F.col("bits_per_token") <= cut)
            .select("doc_id").collect()}
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert got == want


def test_release_lm_filter_refusals_and_cli(spark, tmp_path):
    """Half-specified LM stages refuse loudly (the dsir_resample_n
    precedent) and the CLI flags reach release_corpus."""
    ref_path = str(tmp_path / "lmref2")
    (spark.read.parquet(_docs_path())
     .where(F.col("source") == "src1").write.parquet(ref_path))
    with pytest.raises(ValueError, match="lm_max_bits requires"):
        pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "x"), n_shards=1,
                                 lm_max_bits=5.0)
    with pytest.raises(ValueError, match="without lm_max_bits"):
        pipelines.release_corpus(spark, _docs_path(),
                                 str(tmp_path / "y"), n_shards=1,
                                 lm_ref_path=ref_path)
    rel = str(tmp_path / "clilm")
    pipelines.main(["release", _docs_path(), "--output", rel,
                    "--shards", "1", "--lm-ref", ref_path,
                    "--lm-max-bits", "99.0"])
    m = json.load(open(f"{rel}/MANIFEST.json"))
    assert m["lm_filter"]["max_bits_per_token"] == 99.0
    assert (m["lm_filter"]["n_docs_kept"]
            == m["lm_filter"]["n_docs_in"] == m["n_docs"])


def test_release_topgram_filter_keeps_operator_membership(spark, tmp_path):
    """--topgram-max-frac wiring (X79): the released doc set equals
    the topgram_report-over-threshold anti-membership computed
    directly on the curated frame, the manifest records the stage,
    and the CLI flag reaches release_corpus."""
    from real_time_iot_data_pipeline_project_spark.operators.textops import (
        topgram_report,
    )

    curated = pipelines.curate_corpus(spark, _docs_path())
    rep = topgram_report(curated, ns=(2,))
    cut = float(rep.agg(F.expr(
        "percentile_approx(token_frac, 0.5)")).head()[0])

    rel = str(tmp_path / "tgrel")
    m = pipelines.release_corpus(spark, _docs_path(), rel, n_shards=1,
                                 topgram_max_frac=cut)
    assert m["topgram_filter"]["max_frac"] == cut
    assert (0 < m["topgram_filter"]["n_docs_kept"]
            < m["topgram_filter"]["n_docs_in"])
    dropped = {r.doc_id for r in
               rep.where(F.col("token_frac") > cut)
               .select("doc_id").collect()}
    kept_all = {r.doc_id for r in curated.select("doc_id").collect()}
    got = {r.doc_id for r in
           spark.read.json(f"{rel}/data").select("doc_id").collect()}
    assert got == kept_all - dropped

    rel2 = str(tmp_path / "tgcli")
    pipelines.main(["release", _docs_path(), "--output", rel2,
                    "--shards", "1", "--topgram-max-frac", "0.99"])
    m2 = json.load(open(f"{rel2}/MANIFEST.json"))
    assert m2["topgram_filter"]["max_frac"] == 0.99
    assert (m2["topgram_filter"]["n_docs_kept"]
            == m2["topgram_filter"]["n_docs_in"] == m2["n_docs"])
