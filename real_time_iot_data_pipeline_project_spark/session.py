"""SparkSession factory.

One place to encode the scale-aware defaults every job in this engine
relies on:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the static
  shuffle-partition count is always wrong; AQE re-plans per stage.
- Runtime Bloom-filter injection stays at its defaults (ON, 10 GB
  application-side scan threshold): at production sizes the
  contamination/chunk-overlap join family's big scans get
  might_contain pruned automatically (behavior pinned with lowered
  thresholds in tests/test_plans.py); LEFT ANTI probes — incremental
  dedup — are correctly never pruned (the anti side keeps exactly the
  rows a Bloom would drop).
- Arrow on — every Pandas-UDF boundary (EWMA, multimodal decode) moves
  data in columnar batches instead of pickled rows.
- Session timezone pinned to UTC — the reference mixes tz-aware and naive
  timestamps (SURVEY.md §1.2); pinning the session removes an entire class
  of environment-dependent drift between dev and cluster.
- Shuffle partitions default sized for local[32] testing; on a real
  cluster pass ``shuffle_partitions`` ≈ 2-3× total cores (AQE coalesces
  the excess). Streams of entry point B do not take their state-store
  count from it: ``streaming.job`` starts them with its
  ``STATE_PARTITIONS`` constant, which a new checkpoint records at first
  start and keeps on every restart (a checkpoint written with this
  session setting keeps that count).
- Stream checkpoints are written through Spark's FileSystem-based
  checkpoint manager, not its FileContext-based default. pip PySpark
  ships no native Hadoop library, so Hadoop's local file system forks a
  ``chmod`` for every file it creates, and ``FileContext.rename`` forks a
  ``readlink``; each atomic checkpoint write of the default manager forks
  several such processes, and every micro-batch makes five (source log,
  offset log, sink metadata log, state delta, commit log). On 4 vCPU with
  Spark 4.1.2 a write took 27-42 ms with the default and 6-9 ms with this
  one (``tools/fs_probe.py``, 40 writes of 300 bytes), and on perfbench
  ``live_ingest`` the fixed cost of a micro-batch fell from about 234 to
  114 ms and latency p50 from 0.97 to 0.72 s. Local and HDFS renames are
  atomic, so exactly-once holds; the files keep their names and format,
  so existing checkpoints restart unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# Spark 4.1 moved this class into the ``checkpointing`` package; a test
# loads it by name so an upgrade that moves it again fails there.
CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager")

# Python workers (mapInPandas / applyInPandas) import this package by name;
# driver-side sys.path edits don't propagate to them, so export the package
# root on PYTHONPATH before the JVM forks workers. Makes every entry point
# runnable from any cwd. On a real cluster, ship the package with --py-files.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _PKG_ROOT + os.pathsep + os.environ["PYTHONPATH"]
        if os.environ.get("PYTHONPATH")
        else _PKG_ROOT
    )


def get_spark(
    app_name: str = "real-time-iot-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession with engine defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        # Small dims (station registry, nation/region) must broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf_100tb(total_cores: int = 4000) -> dict[str, str]:
    """The documented conf profile for a multi-executor deployment at the
    ~100 TB design point — pass as ``extra_conf`` to :func:`get_spark`
    (or translate to ``--conf`` flags). Local test runs deliberately do
    NOT apply these: the values encode cluster arithmetic, and each line
    records the reasoning so the profile can be re-derived when the
    hardware changes.

    - shuffle.partitions = 3× total cores: at 100 TB a shuffle stage
      moves TBs; 3× gives AQE room to coalesce down rather than split
      up (splitting is only possible for skew-flagged partitions).
    - advisoryPartitionSizeInBytes 128m / minPartitionSize 16m: AQE's
      coalesce target — large enough to amortize task overhead, small
      enough that a task's working set stays in executor memory.
    - files.maxPartitionBytes 256m: scan tasks over columnar parquet can
      be bigger than shuffle tasks (no wide rows in flight); halves the
      scan task count of a 100 TB table vs the 128m default.
    - skewJoin thresholds (factor 5 / 256m): split a shuffle partition
      when it is 5× the median AND >256m — catches the hot-key events
      (one device flooding) without shredding mildly uneven stages.
    - autoBroadcastJoinThreshold 64m: every dim in this engine (stations,
      nation/region, vocab, centroids, probe sets) is far below this;
      the fact-side shuffle is the one to avoid.
    - Kryo: shuffle/broadcast serialization CPU is measurable at TB
      scale; all shuffled types here are Catalyst rows or simple tuples.
    - parquet aggregate pushdown: count/min/max-only plans read footers,
      not data — the difference between seconds and hours on 100 TB.
    """
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 3),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16m",
        "spark.sql.files.maxPartitionBytes": "256m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "5",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256m",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.parquet.filterPushdown": "true",
    }
