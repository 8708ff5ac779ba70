"""Shared fixtures: one local SparkSession, one DuckDB connection with the
testdata registered as views, and a comparator that mimics the driver's
correctness gate (row count + schema + order-insensitive values)."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from akumuli_spark.session import get_spark
from akumuli_spark.sources.testdata import TABLES

SF_DIR = os.environ.get("AKUMULI_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("akumuli-spark-tests",
                  cpus=int(os.environ.get("AKUMULI_TEST_CPUS", "8")))
    if os.environ.get("AKUMULI_TEST_AQE") == "0":
        s.conf.set("spark.sql.adaptive.enabled", "false")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by value so comparison is
    order-insensitive, like the driver's value-hash."""
    df = df[sorted(df.columns)].copy()
    sort_frame = {}
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
            sort_frame[c] = df[c]
        elif np.issubdtype(df[c].dtype, np.floating):
            # sort on rounded floats so FP last-bit noise can't reorder rows
            sort_frame[c] = df[c].round(6)
        else:
            sort_frame[c] = df[c]
    order = pd.DataFrame(sort_frame).sort_values(
        by=list(df.columns), kind="mergesort"
    ).index
    return df.loc[order].reset_index(drop=True)


def assert_matches_oracle(spark_df, duck_con, sql: str, *, rtol=1e-9, atol=1e-9):
    actual = normalize(spark_df.toPandas())
    expected = normalize(duck_con.sql(sql).df())
    assert len(actual) == len(expected), (
        f"row count mismatch: spark={len(actual)} duckdb={len(expected)}"
    )
    assert list(actual.columns) == list(expected.columns), (
        f"column mismatch: spark={list(actual.columns)} duckdb={list(expected.columns)}"
    )
    for c in actual.columns:
        a, e = actual[c], expected[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
            a = a.astype(float).to_numpy()
            e = e.astype(float).to_numpy()
            both_nan = np.isnan(a) & np.isnan(e)
            close = np.isclose(a, e, rtol=rtol, atol=atol)
            bad = ~(both_nan | close)
            assert not bad.any(), (
                f"column {c!r}: {bad.sum()} mismatches, first at row "
                f"{np.argmax(bad)}: spark={a[bad][:3]} duckdb={e[bad][:3]}"
            )
        else:
            pd.testing.assert_series_equal(
                a.reset_index(drop=True),
                e.reset_index(drop=True),
                check_dtype=False,
                check_names=False,
                obj=f"column {c!r}",
            )


def drop_newest_snapshot(path: str, table: str = "_zmanifest") -> None:
    """Roll one z-store metadata table back a version, as if the writer
    of its newest snapshot crashed before creating the pointer: remove
    the newest pointer and the snapshot dir it names.  Data files the
    writer moved in stay on disk, unlisted."""
    import posixpath

    from akumuli_spark.sources.fs import CasLog, get_fs

    fs = get_fs(path)
    log = CasLog(fs, posixpath.join(path, table))
    version, snapshot = log.current()
    fs.rmtree(snapshot)
    fs.remove(posixpath.join(log.log_dir, f"{version:020d}{log.PTR_SUFFIX}"))


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted in its own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
