"""Per-operation cost of the file operations a stream checkpoint makes.

Usage (from anywhere):

    python3 tools/fs_probe.py [--ops 40] [--bytes 300] [--dir /some/local/dir]

It starts a session through ``session.get_spark`` and prints the Hadoop
version, whether Hadoop's native library is loaded
(``NativeIO.isAvailable()``), the checkpoint manager the session names,
and the milliseconds per operation (median and mean over ``--ops``, after
a few warm-up operations) of:

- ``createAtomic`` + write + close through the FileContext-based
  checkpoint manager (Spark's default) and the FileSystem-based one;
- ``FileSystem.create`` + write + close;
- ``FileSystem.mkdirs`` of a new directory.

Without the native library, Hadoop's local file system forks a process
for some of these (``chmod`` on every created file, ``readlink`` in
``FileContext.rename``), which is what makes a checkpoint write slow.
Rerun it on a new host or Spark/Hadoop version to recheck the session's
checkpoint-manager default. The probe directory is deleted at the end.
Nothing is imported from perfbench.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_iot_data_pipeline_project_spark.session import get_spark  # noqa: E402

MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing"
WARMUP = 5


def timed(op, n: int) -> tuple[float, float]:
    """(median, mean) ms per call of ``op(i)`` over ``n`` calls after warm-up."""
    for i in range(WARMUP):
        op(-1 - i)
    ms = []
    for i in range(n):
        t0 = time.perf_counter()
        op(i)
        ms.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(ms), statistics.fmean(ms)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ops", type=int, default=40, help="timed operations per kind")
    ap.add_argument("--bytes", type=int, default=300, help="bytes per written file")
    ap.add_argument("--dir", default=None, help="local parent dir of the probe dir")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="fs-probe")
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = tempfile.mkdtemp(prefix="fs_probe_", dir=args.dir)
    payload = bytearray(b"x" * args.bytes)
    try:
        Path = jvm.org.apache.hadoop.fs.Path
        print(f"hadoop {jvm.org.apache.hadoop.util.VersionInfo.getVersion()}")
        print(f"NativeIO.isAvailable() {jvm.org.apache.hadoop.io.nativeio.NativeIO.isAvailable()}")
        print("session checkpoint manager "
              f"{spark.conf.get('spark.sql.streaming.checkpointFileManagerClass', None)}")

        def write_through(stream):
            stream.write(payload)
            stream.close()

        results = {}
        for kind in ("FileContextBased", "FileSystemBased"):
            base = Path(f"file://{root}/{kind}")
            mgr = getattr(jvm, f"{MANAGERS}.{kind}CheckpointFileManager")(base, hconf)
            mgr.mkdirs(base)
            results[f"{kind} createAtomic"] = timed(
                lambda i: write_through(mgr.createAtomic(Path(base, f"f{i}"), False)),
                args.ops)

        base = Path(f"file://{root}/fs")
        fs = base.getFileSystem(hconf)
        fs.mkdirs(base)
        results["FileSystem.create"] = timed(
            lambda i: write_through(fs.create(Path(base, f"f{i}"), True)), args.ops)
        results["FileSystem.mkdirs"] = timed(
            lambda i: fs.mkdirs(Path(base, f"d{i}")), args.ops)

        print(f"ms per op over {args.ops} ops of {args.bytes} bytes (median, mean):")
        for name, (med, mean) in results.items():
            print(f"  {name:<32} {med:7.2f} {mean:7.2f}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
