"""Publish-contention scale smoke (VERDICT r13 Next #5): N concurrent
epoch appenders + 1 concurrent scoped OPTIMIZE against ONE z-store,
all publishing through the conditional-PUT pointer log (no lock).  It
records the publish retry count (pointer creates lost to a rival), the
append latency percentiles and the wall time, and proves zero rows
were lost.

Usage: python tools/lock_smoke.py [out_json]  (default
logs/lock_smoke_r14.json); uses a throwaway tmp store, ~5 min on a
4-vCPU host.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import time

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_APPENDERS = 8
APPENDS_EACH = 5
ROWS_PER_APPEND = 20_000
DAY_NS = 86_400 * 10**9


def pct(xs, q):
    if not xs:
        return None
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def batch(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.concat(F.lit("cpu host="),
                 (F.col("id") % 64).cast("string")).alias("series"),
        F.lit("cpu").alias("metric"),
        F.expr("map('host', cast(id % 64 as string))").alias("tags"),
        (F.col("id") * 10**7).alias("ts_ns"),
        (F.col("id") * 1.0 + tag).alias("value"),
    )


def run(spark) -> dict:
    import akumuli_spark.sources.fs as fsmod
    from akumuli_spark.sources.zorder import (
        zorder_append, zorder_metrics_table, zorder_optimize, zorder_select,
    )

    base = tempfile.mkdtemp(prefix="akumuli_lock_smoke_")
    path = base + "/metrics"

    # instrument: count every publish attempt that lost its pointer
    # create to a rival
    retries = [0]
    real_commit = fsmod.CasLog.try_commit

    def counted_commit(self, version, vname):
        ok = real_commit(self, version, vname)
        if not ok:
            retries[0] += 1
        return ok

    fsmod.CasLog.try_commit = counted_commit
    try:
        zorder_metrics_table(
            spark, batch(spark, 0, 200_000, 0), path,
            bucket_ns=DAY_NS, files_per_partition=4,
        )

        t_start = time.perf_counter()
        errors: list[str] = []
        append_s: list[float] = []

        def appender(worker: int) -> None:
            try:
                for k in range(APPENDS_EACH):
                    epoch = 1 + worker * APPENDS_EACH + k
                    lo = 200_000 + (epoch - 1) * ROWS_PER_APPEND
                    t0 = time.perf_counter()
                    zorder_append(
                        spark, batch(spark, lo, lo + ROWS_PER_APPEND, epoch),
                        path, epoch=epoch,
                    )
                    append_s.append(time.perf_counter() - t0)
            except Exception as exc:  # surfaced in the JSON, not lost
                errors.append(f"appender{worker}: {exc!r}")

        opt = {"buckets": 0, "s": 0.0}

        def optimizer() -> None:
            try:
                # wait until some appends have PUBLISHED (erosion needs
                # ≥ 2 writer generations in a bucket to select it), then
                # re-cluster while the remaining appenders keep racing
                deadline = time.time() + 120
                while len(append_s) < N_APPENDERS and time.time() < deadline:
                    time.sleep(1.0)
                t0 = time.perf_counter()
                opt["buckets"] = zorder_optimize(spark, path, min_epochs=2)
                opt["s"] = time.perf_counter() - t0
            except Exception as exc:
                errors.append(f"optimize: {exc!r}")

        threads = [threading.Thread(target=appender, args=(w,))
                   for w in range(N_APPENDERS)]
        threads.append(threading.Thread(target=optimizer))
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        total_s = time.perf_counter() - t_start

        expected = 200_000 + N_APPENDERS * APPENDS_EACH * ROWS_PER_APPEND
        got = zorder_select(spark, path, metric="cpu").count()
        return {
            "appenders": N_APPENDERS,
            "appends_total": N_APPENDERS * APPENDS_EACH,
            "rows_per_append": ROWS_PER_APPEND,
            "optimize_buckets": opt["buckets"],
            "optimize_s": round(opt["s"], 3),
            "wall_s": round(total_s, 3),
            "append_s_p50": round(pct(append_s, 0.50) or 0, 4),
            "append_s_p95": round(pct(append_s, 0.95) or 0, 4),
            "cas_retries": retries[0],
            "rows_expected": expected,
            "rows_got": got,
            "lost_rows": expected - got,
            "errors": errors,
        }
    finally:
        fsmod.CasLog.try_commit = real_commit
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "logs/lock_smoke_r14.json"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.scheduler.mode", "FAIR")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    report = {"smoke": "publish_contention", **run(spark)}
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
