"""Storage-layout tests: round-trip through the production layout, query
equivalence, and partition pruning evidence in the physical plan."""

from __future__ import annotations

import pytest

from akumuli_spark.query.engine import execute_query
from akumuli_spark.query.plan import parse_timestamp_ns
from akumuli_spark.sources.layout import read_metrics_table, write_metrics_table
from akumuli_spark.sources.testdata import app_metrics_view
from tests.conftest import SF_DIR

E0 = parse_timestamp_ns("20240101T000000")
E1 = parse_timestamp_ns("20240201T000000")
MID = parse_timestamp_ns("20240110T000000")

QUERY = {
    "group-aggregate": {"metric": "app.click", "step": "1d", "func": ["sum", "count"]},
    "range": {"from": E0, "to": MID},
}


@pytest.fixture(scope="module")
def layout_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "metrics")
    write_metrics_table(app_metrics_view(spark, SF_DIR), path)
    return path


def test_roundtrip_query_equivalence(spark, layout_path):
    source = app_metrics_view(spark, SF_DIR)
    stored = read_metrics_table(spark, layout_path)
    a = {tuple(r) for r in execute_query(spark, QUERY, source).collect()}
    b = {tuple(r) for r in execute_query(spark, QUERY, stored).collect()}
    assert a == b and a


def test_partition_pruning_in_plan(spark, layout_path):
    stored = read_metrics_table(spark, layout_path)
    df = execute_query(spark, QUERY, stored)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # metric partition filter must appear (pruning on the partition column)
    assert "PartitionFilters" in plan
    assert "metric" in plan.split("PartitionFilters")[1][:400]
    # ts_ns is physical here: the range predicate is pushed to parquet
    pushed = plan.split("PushedFilters")[1][:400]
    assert "ts_ns" in pushed


def test_compact_metrics_table(spark, tmp_path):
    """Fragmented multi-append table → one sorted file set per partition,
    identical rows."""
    import glob

    from akumuli_spark.sources.layout import (
        compact_metrics_table,
        read_metrics_table,
        write_metrics_table,
    )
    from akumuli_spark.sources.testdata import metrics_view
    from tests.conftest import SF_DIR

    path = str(tmp_path / "frag")
    view = metrics_view(spark, SF_DIR)
    bucket = 365 * 86_400 * 10**9
    # three appends = three file sets per partition (streaming-sink shape)
    write_metrics_table(view, path, bucket_ns=bucket)
    write_metrics_table(view, path, bucket_ns=bucket, mode="append")
    write_metrics_table(view, path, bucket_ns=bucket, mode="append")
    before_rows = read_metrics_table(spark, path).count()
    before_files = len(glob.glob(f"{path}/*/*/*.parquet"))

    compact_metrics_table(spark, path)

    after = read_metrics_table(spark, path)
    assert after.count() == before_rows
    after_files = len(glob.glob(f"{path}/*/*/*.parquet"))
    assert after_files < before_files
    # exactly one file per (metric, bucket) partition directory
    part_dirs = glob.glob(f"{path}/*/*")
    assert after_files == len([d for d in part_dirs if glob.glob(f"{d}/*.parquet")])
    # rows within each file are (series, ts)-sorted
    import pyarrow.parquet as pq
    f = glob.glob(f"{path}/*/*/*.parquet")[0]
    t = pq.read_table(f, columns=["series", "ts_ns"]).to_pandas()
    assert list(t.itertuples(index=False)) == sorted(
        t.itertuples(index=False), key=lambda r: (r.series, r.ts_ns)
    )


def test_compaction_crash_window_self_heals(spark, tmp_path, monkeypatch):
    """A crash in the one-syscall window between the swap's two renames
    leaves no table at `path`; the next read must roll the swap forward
    (the compacted tmp dir carries _SUCCESS, so it is known-whole) and
    GC the leftovers.  A crash before the tmp write completed must roll
    BACK to the original instead."""
    import os as _os
    import shutil

    from akumuli_spark.sources.layout import (
        compact_metrics_table,
        read_metrics_table,
        write_metrics_table,
    )
    from akumuli_spark.sources.testdata import metrics_view
    from tests.conftest import SF_DIR

    path = str(tmp_path / "tbl")
    bucket = 365 * 86_400 * 10**9
    write_metrics_table(metrics_view(spark, SF_DIR), path, bucket_ns=bucket)
    write_metrics_table(metrics_view(spark, SF_DIR), path, bucket_ns=bucket,
                        mode="append")
    n = read_metrics_table(spark, path).count()

    real_rename = _os.rename

    def crash_on_swap_in(src, dst, *a, **kw):
        if dst == path:  # the second rename (tmp -> path)
            raise OSError("injected crash mid-swap")
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(_os, "rename", crash_on_swap_in)
    with pytest.raises(OSError, match="injected crash"):
        compact_metrics_table(spark, path)
    monkeypatch.undo()
    assert not _os.path.exists(path)  # the window is real

    healed = read_metrics_table(spark, path)  # roll-forward on read
    assert healed.count() == n
    assert not _os.path.exists(f"{path}.compact-tmp")
    assert not _os.path.exists(f"{path}.compact-old")

    # incomplete tmp (no _SUCCESS) must roll back, not forward
    _os.rename(path, f"{path}.compact-old")
    _os.makedirs(f"{path}.compact-tmp")
    assert read_metrics_table(spark, path).count() == n
    shutil.rmtree(f"{path}.compact-tmp", ignore_errors=True)


def test_reader_leaves_live_compactor_tmp_alone(spark, tmp_path):
    """While the table is healthy, a concurrent compactor may be mid-write
    into compact-tmp.  A reader touching the table must not delete that
    in-progress directory (the pre-r7 behavior crashed the compactor's
    Spark write); only the compactor's own recovery path GCs."""
    import os as _os

    from akumuli_spark.sources.fs import recover_compaction
    from akumuli_spark.sources.layout import (
        read_metrics_table,
        write_metrics_table,
    )
    from akumuli_spark.sources.testdata import metrics_view
    from tests.conftest import SF_DIR

    path = str(tmp_path / "tbl")
    write_metrics_table(metrics_view(spark, SF_DIR), path,
                        bucket_ns=365 * 86_400 * 10**9)
    n = read_metrics_table(spark, path).count()
    tmp = f"{path}.compact-tmp"
    _os.makedirs(f"{tmp}/metric=x")  # simulated in-flight compactor write
    read_metrics_table(spark, path)
    assert _os.path.exists(f"{tmp}/metric=x")  # reader left it alone
    recover_compaction(path)  # explicit reader-recover: same contract
    assert _os.path.exists(f"{tmp}/metric=x")
    recover_compaction(path, gc=True)  # compactor path DOES clean it
    assert not _os.path.exists(tmp)
    assert read_metrics_table(spark, path).count() == n


def test_enforce_retention_drops_old_partitions(spark, tmp_path):
    """Volume-recycling analogue: partitions strictly older than the
    retention window disappear; the cutoff bucket and everything newer
    survive with identical rows; untouched data never rescans."""
    import glob

    from pyspark.sql import functions as F

    from akumuli_spark.sources.layout import DAY_NS, enforce_retention

    path = str(tmp_path / "metrics")
    src = app_metrics_view(spark, SF_DIR)
    write_metrics_table(src, path)
    buckets = sorted(
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(f"{path}/metric=*/ts_bucket=*")
    )
    assert len(set(buckets)) > 2, "need multiple buckets to evict"
    cutoff = sorted(set(buckets))[1]  # keep from the 2nd bucket onward
    now_ns = (cutoff + 5) * DAY_NS
    dropped = enforce_retention(path, keep_ns=5 * DAY_NS, now_ns=now_ns)
    assert dropped == sum(1 for b in buckets if b < cutoff) > 0

    left = {
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(f"{path}/metric=*/ts_bucket=*")
    }
    assert min(left) == cutoff
    # surviving rows identical to the source filtered at the bucket line
    stored = read_metrics_table(spark, path)
    want = src.withColumn(
        "__b", (F.col("ts_ns") / F.lit(DAY_NS)).cast("long")
    ).filter(F.col("__b") >= cutoff).drop("__b")
    assert stored.count() == want.count()
    a = {tuple(r) for r in stored.select("series", "ts_ns", "value").collect()}
    b = {tuple(r) for r in want.select("series", "ts_ns", "value").collect()}
    assert a == b


def test_concurrent_writers_totals_consistent(spark, tmp_path):
    """The reference's test_concurrency.py analogue: parallel writers
    ingest disjoint slices concurrently (its writer/reader processes);
    afterwards a reader's totals equal the union exactly — parquet
    appends are whole-file atomic, so concurrent appends into the same
    partitioned table interleave without torn or double rows."""
    import threading

    from pyspark.sql import functions as F

    path = str(tmp_path / "metrics")
    view = app_metrics_view(spark, SF_DIR)
    slices = [
        view.filter(F.col("ts_ns") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    # seed the table so concurrent writers all run in append mode
    write_metrics_table(slices[0], path)
    errs: list[Exception] = []

    def work(df):
        try:
            write_metrics_table(df, path, mode="append")
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=work, args=(s,)) for s in slices[1:]]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    got = read_metrics_table(spark, path).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).collect()[0]
    want = view.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    ).collect()[0]
    assert got["n"] == want["n"]
    assert abs(got["s"] - want["s"]) < 1e-6 * max(1.0, abs(want["s"]))
