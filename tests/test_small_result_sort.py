"""The size rule of the final order-by (engine._finalize): a result whose
estimated size fits one post-shuffle partition is sorted in one task
(``coalesce(1).sortWithinPartitions``), a large or unknown-size one takes
the global range sort, and ``limit``/``offset`` queries keep their plans.
Both sort paths must return the same rows in the same order."""

from __future__ import annotations

import uuid

import pandas as pd
import pytest

from akumuli_spark.api import open_database
from akumuli_spark.query import engine
from akumuli_spark.query.engine import execute_query
from akumuli_spark.query.parser import parse_query
from akumuli_spark.query.rollup import rollup_from_frame
from akumuli_spark.sources.layout import read_metrics_table, write_metrics_table

NS = 10**9
STEP_NS = 10 * NS
MIN_NS = 60 * NS
T0 = 1_704_067_200 * NS  # minute-aligned
N_POINTS = 120
T1 = T0 + N_POINTS * STEP_NS
MID = T0 + 10 * MIN_NS
HOSTS = ("h1", "h2", "h3")
METRICS = ("cpu", "mem")
ADVISORY = engine._ADVISORY_BYTES_CONF

RANGE = {"from": T0, "to": T1}
QUERIES = {
    "select": {"select": "cpu", "range": RANGE, "where": {"host": ["h1", "h3"]}},
    "select-backward": {"select": "cpu", "range": {"from": T1, "to": T0}},
    "select-order-by-series": {"select": "mem", "range": RANGE,
                               "order-by": "series"},
    "aggregate": {"aggregate": {"cpu": ["count", "sum", "min", "max", "mean",
                                        "first", "last"]},
                  "range": RANGE},
    "group-aggregate": {"group-aggregate": {"metric": "cpu", "step": "1m",
                                            "func": ["mean", "max"]},
                        "range": RANGE},
    "join": {"join": list(METRICS), "range": RANGE},
    "group-aggregate-join": {"group-aggregate-join": {
        "metric": list(METRICS), "step": "1m", "func": "sum"},
        "range": RANGE},
}
#: served by Database._try_tiered: the rollup covers [T0, MID), raw the rest
TIERED = {"group-aggregate": {"metric": "cpu", "step": "2m",
                              "func": ["count", "sum", "min", "max"]},
          "range": RANGE}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A small table in the storage layout: unique (series, ts) and
    integer values, so every aggregate is exact and row order is total."""
    rows = [
        (f"{m} host={h}", m, T0 + i * STEP_NS, float((i * 7 + hi * 13 + mi) % 50))
        for mi, m in enumerate(METRICS)
        for hi, h in enumerate(HOSTS)
        for i in range(N_POINTS)
    ]
    pdf = pd.DataFrame(rows, columns=["series", "metric", "ts_ns", "value"])
    path = str(tmp_path_factory.mktemp("small_sort") / "table")
    write_metrics_table(spark.createDataFrame(pdf), path)
    return read_metrics_table(spark, path)


def _both_paths(spark, build):
    """(plan, rows) of ``build()`` as is, then with the range-sort path
    forced: no result fits in one byte."""
    small = build()
    small_plan, small_rows = _plan(small), _rows(small)
    spark.conf.set(ADVISORY, "1b")
    try:
        large = build()
        large_plan, large_rows = _plan(large), _rows(large)
    finally:
        spark.conf.unset(ADVISORY)
    return small_plan, small_rows, large_plan, large_rows


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_small_result_sorts_in_one_task(spark, table, name):
    small_plan, small_rows, large_plan, large_rows = _both_paths(
        spark, lambda: execute_query(spark, QUERIES[name], table))
    assert "rangepartitioning" not in small_plan
    assert "rangepartitioning" in large_plan
    assert small_rows and small_rows == large_rows


def test_tiered_rollup_sorts_in_one_task(spark, table):
    db = open_database(spark, table)
    db.attach_rollup(rollup_from_frame(table.filter(f"ts_ns < {MID}"), MIN_NS),
                     MIN_NS, complete_through_ns=MID)
    # the query must be served by the tiered router, not the raw path
    assert db._try_tiered(parse_query(TIERED),
                          TIERED["group-aggregate"]["func"]) is not None
    small_plan, small_rows, large_plan, large_rows = _both_paths(
        spark, lambda: db.query(TIERED))
    assert "rangepartitioning" not in small_plan
    assert "rangepartitioning" in large_plan
    assert small_rows and small_rows == large_rows
    assert small_rows == _rows(execute_query(spark, TIERED, table))


@pytest.mark.parametrize("paging", [{"limit": 5}, {"limit": 5, "offset": 3}])
def test_limit_queries_keep_take_ordered(spark, table, paging):
    q = dict(QUERIES["select"], **paging)
    df = execute_query(spark, q, table)
    assert "TakeOrderedAndProject" in _plan(df)
    full = _rows(execute_query(spark, QUERIES["select"], table))
    off = paging.get("offset", 0)
    assert _rows(df) == full[off:off + paging["limit"]]


def test_offset_only_keeps_range_sort(spark, table):
    q = dict(QUERIES["select"], offset=4)
    df = execute_query(spark, q, table)
    assert "rangepartitioning" in _plan(df)
    assert _rows(df) == _rows(execute_query(spark, QUERIES["select"], table))[4:]


def test_unknown_size_keeps_range_sort(spark, table):
    """An in-memory frame has no size statistics: unknown is not small."""
    mem = spark.createDataFrame(table.collect(), table.schema)
    assert engine._estimated_bytes(mem) is None
    df = execute_query(spark, QUERIES["select"], mem)
    assert "rangepartitioning" in _plan(df)
    assert _rows(df) == _rows(execute_query(spark, QUERIES["select"], table))


def test_estimate_without_jvm_is_unknown():
    class NoJdf:  # a connect-mode DataFrame has no _jdf
        pass

    assert engine._estimated_bytes(NoJdf()) is None
    assert not engine._fits_one_task(NoJdf())


def test_narrow_select_runs_one_job(spark, table):
    """A narrow ``where`` select over a table in the storage layout is one
    Spark job: scan, filter and sort in one task, no sampling job and no
    range-shuffle map job."""
    db = open_database(spark, table)
    q = {"select": "cpu", "range": {"from": T1 - 5 * MIN_NS, "to": T1},
         "where": {"host": "h2"}}
    df = db.query(q)
    sc = spark.sparkContext
    group = f"narrow-select-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "narrow select")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 30
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
