"""Snapshot drift monitor (operators/drift.py): PSI must read ~0 on
identical distributions, flag a planted shift as major, not depend on
partitioning (decimal term sum), and validate its inputs. The
cross-engine value check is registry q122's oracle."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from real_time_iot_data_pipeline_project_spark.operators import drift


def _bins(col):
    return F.when(F.col(col) < 10, "lo").when(F.col(col) < 20, "mid") \
        .otherwise("hi")


def test_identical_snapshots_read_stable(spark):
    df = spark.createDataFrame([(i % 30,) for i in range(300)], "v int")
    out = {r["feature"]: (r["psi"], r["verdict"]) for r in
           drift.psi_report(df, df, {"v": _bins("v")}).collect()}
    psi, verdict = out["v"]
    assert verdict == "stable"
    # identical proportions: every term is (p-p)*ln(1) = 0 exactly
    assert psi == 0.0


def test_planted_shift_reads_major(spark):
    a = spark.createDataFrame([(5,)] * 90 + [(15,)] * 10, "v int")
    b = spark.createDataFrame([(5,)] * 10 + [(15,)] * 90, "v int")
    out = drift.psi_report(a, b, {"v": _bins("v")}).head()
    assert out["verdict"] == "major_shift"
    # hand-computed PSI: bins lo (0.9 vs 0.1) and mid (0.1 vs 0.9)
    eps = 1e-6
    want = sum((pa + eps - pb - eps) * math.log((pa + eps) / (pb + eps))
               for pa, pb in ((0.9, 0.1), (0.1, 0.9)))
    assert abs(out["psi"] - round(want, 6)) < 2e-6


def test_psi_partitioning_invariant(spark):
    a = spark.createDataFrame([(i % 25,) for i in range(500)], "v int")
    b = spark.createDataFrame([((i * 7) % 25,) for i in range(400)],
                              "v int")
    feats = {"v": _bins("v")}
    base = drift.psi_report(a, b, feats).head()["psi"]
    for parts in (1, 13):
        got = drift.psi_report(a.repartition(parts),
                               b.repartition(parts), feats).head()["psi"]
        assert got == base, parts


def test_null_bins_excluded_and_empty_features_rejected(spark):
    a = spark.createDataFrame([(1,), (None,)], "v int")
    b = spark.createDataFrame([(1,), (None,)], "v int")
    nullable = F.when(F.col("v").isNotNull(), F.lit("one"))
    out = drift.psi_report(a, b, {"v": nullable}).head()
    assert out["psi"] == 0.0 and out["verdict"] == "stable"
    with pytest.raises(ValueError, match="at least one"):
        drift.psi_report(a, b, {})


def test_streaming_drift_fold_equals_batch_exactly(spark, tmp_path):
    """X34: after streaming N batches through the monitor, report()
    must equal psi_report(baseline, concatenated_batches) EXACTLY —
    the folded integer cells are the same cells, the arithmetic tail
    is the same code. Also: replay of the last batch_id is a no-op, a
    behind-horizon id raises, and a shifted stream flips the alarm."""
    from real_time_iot_data_pipeline_project_spark.streaming.drift_stream import (
        StreamingDriftMonitor,
    )

    feats = {"v": _bins("v")}
    baseline = spark.createDataFrame(
        [(i % 30,) for i in range(300)], "v int")
    # batches drift toward the 'hi' bin over time
    batches = [
        spark.createDataFrame([(i % 30,) for i in range(100)], "v int"),
        spark.createDataFrame([(25,)] * 80 + [(5,)] * 20, "v int"),
        spark.createDataFrame([(27,)] * 100, "v int"),
    ]
    mon = StreamingDriftMonitor(feats, baseline,
                                str(tmp_path / "drift.json"))
    concat = batches[0]
    for b, df in enumerate(batches):
        mon.process_batch(df, b)
        if b:
            concat = concat.unionByName(df)

    got = [(r["feature"], r["psi"], r["verdict"])
           for r in mon.report(spark).collect()]
    want = [(r["feature"], r["psi"], r["verdict"])
            for r in drift.psi_report(baseline, concat, feats).collect()]
    assert got == want
    assert got[0][2] == "major_shift"   # the planted drift is visible

    # replay of the folded horizon: no-op
    before = mon._load()
    mon.process_batch(batches[2], 2)
    assert mon._load() == before
    # behind-horizon id: state/checkpoint mismatch must raise
    import pytest as _pytest
    with _pytest.raises(ValueError, match="different checkpoint"):
        mon.process_batch(batches[0], 0)


def test_streaming_drift_via_real_stream(spark, tmp_path):
    """The monitor's foreachBatch hook driven by a REAL availableNow
    stream must land on the same report as direct folding."""
    from real_time_iot_data_pipeline_project_spark.streaming.drift_stream import (
        StreamingDriftMonitor,
    )

    feats = {"v": _bins("v")}
    baseline = spark.createDataFrame(
        [(i % 30,) for i in range(120)], "v int")
    src = tmp_path / "src"
    src.mkdir()
    dfs = [spark.createDataFrame([(i % 30,) for i in range(60)], "v int"),
           spark.createDataFrame([(3,)] * 50, "v int")]
    for i, df in enumerate(dfs):
        df.coalesce(1).write.parquet(str(src / f"b{i}"))

    mon = StreamingDriftMonitor(feats, baseline,
                                str(tmp_path / "s.json"))
    stream = (spark.readStream.schema("v int")
              .option("maxFilesPerTrigger", "1").parquet(f"{src}/*"))
    q = (stream.writeStream.foreachBatch(mon.process_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r["feature"]: (r["psi"], r["verdict"])
           for r in mon.report(spark).collect()}
    want = {r["feature"]: (r["psi"], r["verdict"]) for r in
            drift.psi_report(baseline, dfs[0].unionByName(dfs[1]),
                             feats).collect()}
    assert got == want


def test_streaming_drift_forward_gap_raises(spark, tmp_path):
    """A forward batch-id gap means a fresh/lost state file was paired
    with an ADVANCED checkpoint — folding would silently miss batches,
    so it must raise (the sequential-id contract, both directions)."""
    from real_time_iot_data_pipeline_project_spark.streaming.drift_stream import (
        StreamingDriftMonitor,
    )

    baseline = spark.createDataFrame([(1,)], "v int")
    mon = StreamingDriftMonitor({"v": _bins("v")}, baseline,
                                str(tmp_path / "g.json"))
    mon.process_batch(baseline, 0)
    with pytest.raises(ValueError, match="different checkpoint"):
        mon.process_batch(baseline, 5)
