"""ZorderDatabase: every engine query kind answered from the z-store
must equal the plain database over the same rows, with manifest file
skipping observable per query — including the where-clause path, where
the tag predicate is resolved to series names and prunes FILES."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from akumuli_spark.api import open_database, open_zorder_database
from akumuli_spark.query.plan import parse_timestamp_ns
from akumuli_spark.sources.testdata import app_metrics_view
from akumuli_spark.sources.zorder import zorder_metrics_table
from tests.conftest import SF_DIR, count_jobs

NS = 10**9
DAY = 86_400 * NS
E0 = parse_timestamp_ns("20240101T000000")
E1 = parse_timestamp_ns("20240201T000000")


@pytest.fixture(scope="module")
def dbs(spark, tmp_path_factory):
    frame = app_metrics_view(spark, SF_DIR)
    path = str(tmp_path_factory.mktemp("zdb") / "metrics")
    zorder_metrics_table(spark, frame, path, bucket_ns=7 * DAY,
                         files_per_partition=4)
    return open_zorder_database(spark, path), open_database(spark, frame)


def _match(a_df, b_df):
    a = sorted(map(tuple, a_df.collect()))
    b = sorted(map(tuple, b_df.collect()))
    if len(a) != len(b) or not a:
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float):
                if not math.isclose(x, y, rel_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


QUERIES = [
    ("select_fwd", {"select": "app.click",
                    "range": {"from": E0, "to": E0 + 10 * DAY}}),
    ("select_bwd", {"select": "app.click",
                    "range": {"from": E0 + 10 * DAY, "to": E0}}),
    ("group_aggregate", {
        "group-aggregate": {"metric": "app.view", "step": "1d",
                            "func": ["sum", "count"]},
        "range": {"from": E0, "to": E1}}),
    ("join", {"join": ["app.click", "app.view"],
              "range": {"from": E0, "to": E0 + 7 * DAY}}),
    ("aggregate_no_range", {"aggregate": {"app.error": "count"}}),
    ("apply_rate", {"select": "app.click",
                    "range": {"from": E0, "to": E0 + 10 * DAY},
                    "apply": [{"name": "rate"}]}),
]


@pytest.mark.parametrize("name,qjson", QUERIES, ids=[q[0] for q in QUERIES])
def test_query_kinds_match_plain_database(dbs, name, qjson):
    zdb, db = dbs
    assert _match(zdb.query(qjson), db.query(qjson))


def test_where_clause_resolves_series_and_prunes_files(dbs):
    zdb, db = dbs
    qjson = {
        "select": "app.click",
        "range": {"from": E0, "to": E0 + 10 * DAY},
        "where": {"user": "3"},
    }
    assert _match(zdb.query(qjson), db.query(qjson))
    st = zdb.last_prune_stats
    assert st and 0 < st["files_selected"] < st["files_total"]


def test_narrow_range_prunes_files(dbs):
    zdb, db = dbs
    qjson = {"select": "app.view",
             "range": {"from": E0 + 14 * DAY, "to": E0 + 15 * DAY}}
    assert _match(zdb.query(qjson), db.query(qjson))
    st = zdb.last_prune_stats
    assert st and 0 < st["files_selected"] < st["files_total"]


def test_warm_narrow_where_select_runs_three_jobs(spark, dbs):
    """A warm narrow ``where`` select runs no manifest job: the manifest
    snapshot is held on the driver, so the request pays two jobs to
    resolve the where to series names and one for the query itself."""
    zdb, db = dbs
    qjson = {"select": "app.click", "range": {"from": E0, "to": E0 + DAY},
             "where": {"user": "3"}}
    for _ in range(2):
        zdb.query(qjson).toPandas()
    assert count_jobs(spark, lambda: zdb.query(qjson).toPandas()) <= 3
    st = zdb.last_prune_stats
    assert 0 < st["files_selected"] < st["files_total"]


def test_metadata_endpoints_unchanged(dbs):
    zdb, db = dbs
    a = sorted(r.name for r in zdb.suggest(
        {"select": "metric-names"}).collect())
    b = sorted(r.name for r in db.suggest(
        {"select": "metric-names"}).collect())
    assert a == b and a


# ---------------------------------------------------------------------------
# Events z-store through the facade
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def event_dbs(spark, tmp_path_factory):
    from akumuli_spark.api import open_zorder_database
    from akumuli_spark.sources.testdata import events_view

    mv = app_metrics_view(spark, SF_DIR)
    ev = events_view(spark, SF_DIR)
    base = tmp_path_factory.mktemp("ezdb")
    zorder_metrics_table(spark, mv, str(base / "m"), bucket_ns=7 * DAY,
                         files_per_partition=4)
    zorder_metrics_table(spark, ev, str(base / "e"), bucket_ns=7 * DAY,
                         files_per_partition=4)
    zdb = open_zorder_database(spark, str(base / "m"),
                               events_zorder_path=str(base / "e"))
    return zdb, open_database(spark, mv, ev)


EVENT_QUERIES = [
    ("events_regex", {"select-events": "!error",
                      "range": {"from": E0, "to": E1},
                      "filter": '"k": 8[0-9]'}),
    ("events_where", {"select-events": "!click",
                      "range": {"from": E0 + 7 * DAY, "to": E0 + 9 * DAY},
                      "where": {"user": "3"}}),
    ("events_bwd", {"select-events": "!view",
                    "range": {"from": E1, "to": E0}}),
]


@pytest.mark.parametrize("name,qjson", EVENT_QUERIES,
                         ids=[q[0] for q in EVENT_QUERIES])
def test_event_queries_match_plain_database(event_dbs, name, qjson):
    zdb, db = event_dbs
    assert _match(zdb.query(qjson), db.query(qjson))


def test_event_narrow_slice_prunes_files(event_dbs):
    zdb, db = event_dbs
    qjson = {"select-events": "!click",
             "range": {"from": E0 + 14 * DAY, "to": E0 + 15 * DAY}}
    assert _match(zdb.query(qjson), db.query(qjson))
    st = zdb.last_prune_stats
    assert st and 0 < st["files_selected"] < st["files_total"]


def test_events_and_metrics_paths_coexist(event_dbs):
    zdb, db = event_dbs
    m = {"select": "app.click", "range": {"from": E0, "to": E0 + 7 * DAY}}
    e = {"select-events": "!click",
         "range": {"from": E0, "to": E0 + 7 * DAY}}
    assert _match(zdb.query(m), db.query(m))
    assert _match(zdb.query(e), db.query(e))


def test_zdb_composes_with_rollup_tiering(spark, tmp_path):
    """The facade's file-pruned frame and the router's rollup tiers are
    independent layers: attach a completeness-bounded rollup to a
    ZorderDatabase and a group-aggregate past the bound serves cold
    from partials + hot from the z-store, equal to the plain database's
    direct answer."""
    import math

    from akumuli_spark.api import open_zorder_database
    from akumuli_spark.query.rollup import rollup_from_frame

    frame = app_metrics_view(spark, SF_DIR)
    path = str(tmp_path / "m")
    zorder_metrics_table(spark, frame, path, bucket_ns=7 * DAY,
                         files_per_partition=4)
    zdb = open_zorder_database(spark, path)
    boundary = E0 + 14 * DAY
    zdb.attach_rollup(
        rollup_from_frame(frame.filter(F.col("ts_ns") < boundary), DAY),
        DAY, complete_through_ns=boundary,
    )
    qjson = {
        "group-aggregate": {"metric": "app.view", "step": "7d",
                            "func": ["sum", "count"]},
        "range": {"from": E0, "to": E0 + 28 * DAY},
    }
    served = sorted(map(tuple, zdb.query(qjson).collect()))
    st = zdb.last_prune_stats  # the hot tier read the pruned z-store
    assert st and st["files_selected"] < st["files_total"]
    direct = sorted(map(tuple, open_database(spark, frame)
                        .query(qjson).collect()))
    assert len(served) == len(direct) and served
    for ra, rb in zip(served, direct):
        assert ra[:2] == rb[:2]
        assert all(math.isclose(x, y, rel_tol=1e-9)
                   for x, y in zip(ra[2:], rb[2:]))


def test_zdb_observes_appends_and_recluster(spark, tmp_path):
    """A ZorderDatabase held across store publishes re-opens its
    snapshot per query (pointer-log version token): appended series show
    up in query/search/stats, and a full re-cluster that replaces every
    file path (here also changing files_per_partition) does not break
    the held object (ADVICE r11)."""
    from akumuli_spark.sources.zorder import vacuum_zorder, zorder_append

    frame = app_metrics_view(spark, SF_DIR)
    early = frame.filter(F.col("ts_ns") < E0 + 10 * DAY)
    late = frame.filter(F.col("ts_ns") >= E0 + 10 * DAY)
    path = str(tmp_path / "live")
    zorder_metrics_table(spark, early, path, bucket_ns=7 * DAY,
                         files_per_partition=4)
    zdb = open_zorder_database(spark, path)
    q = {"select": "app.click", "range": {"from": E0, "to": E1}}
    pre = zdb.query(q).count()
    pre_series = zdb.stats()["n_series"]

    zorder_append(spark, late.withColumn(
        "series", F.concat(F.col("series"), F.lit("x"))
    ).withColumn("tags", F.expr(
        "map_concat(tags, map('late', '1'))")), path)
    post = zdb.query(q).count()
    assert post > pre  # the held object sees the new snapshot
    assert zdb._series is None  # the refresh dropped the cached dim
    assert zdb.stats()["n_series"] > pre_series  # new series in the dim

    # a re-cluster (+ vacuum) deletes every old file path; the held
    # object must re-open, not FileNotFound on the baked list
    zorder_metrics_table(spark, frame, path, bucket_ns=7 * DAY,
                         files_per_partition=8)
    vacuum_zorder(spark, path, grace_s=0, snapshots_keep=1)
    assert zdb.query(q).count() == frame.filter(
        "metric = 'app.click'").count()


def test_wide_where_cap_falls_back_to_column_predicate(dbs):
    """Past WIDE_WHERE_CAP matched series, file pruning skips the
    per-series manifest arms (metric+time only) and the engine applies
    the tag predicate as an ordinary column filter — identical rows,
    bounded driver memory and plan size."""
    zdb, db = dbs
    qjson = {
        "select": "app.click",
        "range": {"from": E0, "to": E0 + 10 * DAY},
        "where": {"user": "3"},
    }
    narrow = zdb.query(qjson)
    old_cap = zdb.WIDE_WHERE_CAP
    try:
        zdb.WIDE_WHERE_CAP = 0  # force every where past the cap
        wide = zdb.query(qjson)
        assert _match(wide, db.query(qjson))
        assert _match(wide, narrow)
        st = zdb.last_prune_stats  # still prunes on metric+time
        assert st and st["files_selected"] <= st["files_total"]
    finally:
        zdb.WIDE_WHERE_CAP = old_cap


def test_zdb_maintenance_loop(spark, tmp_path):
    """The facade owns the maintenance cadence: appends erode, the
    erosion report names the buckets, optimize() re-clusters them,
    vacuum() reclaims the replaced files, and the NEXT query serves the
    repaired snapshot with identical rows."""
    from akumuli_spark.sources.zorder import zorder_append

    frame = app_metrics_view(spark, SF_DIR)
    path = str(tmp_path / "maint")
    # three epochs (build + two appends) erode every bucket past the
    # epochs >= 2 threshold; the fourth append bought no extra coverage
    # (driver verify window, OPTIMIZATION_r15.md §11)
    part = F.pmod(F.xxhash64("series", "ts_ns"), F.lit(3))
    zorder_metrics_table(spark, frame.filter(part == 0), path,
                         bucket_ns=7 * DAY, files_per_partition=4)
    for k in (1, 2):
        zorder_append(spark, frame.filter(part == k), path, epoch=k)
    zdb = open_zorder_database(spark, path)
    q = {"select": "app.view",
         "range": {"from": E0 + 14 * DAY, "to": E0 + 15 * DAY}}
    pre_rows = sorted(map(tuple, zdb.query(q).collect()))
    pre_files = zdb.last_prune_stats["files_selected"]
    eroded = zdb.erosion().filter("epochs >= 2").count()
    assert eroded > 0
    assert zdb.optimize() == eroded
    assert zdb.vacuum(grace_s=0) > 0
    post_rows = sorted(map(tuple, zdb.query(q).collect()))
    assert post_rows == pre_rows and pre_rows
    assert zdb.last_prune_stats["files_selected"] < pre_files


# ---------------------------------------------------------------------------
# ZorderCatalog: name → store routing through the CasLog pointer log (r14)
# ---------------------------------------------------------------------------


def test_zorder_catalog_register_route_and_replace(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from akumuli_spark.api import open_zorder_catalog, open_zorder_database
    from akumuli_spark.sources.zorder import zorder_metrics_table

    day = 86_400 * 10**9
    rows = [(f"m.cpu host={i % 4}", "m.cpu", t * day // 10 + i, float(i + t))
            for i in range(4) for t in range(30)]
    df = spark.createDataFrame(
        rows, "series string, metric string, ts_ns long, value double"
    ).withColumn("tags", F.expr("map('host', substring(series, -1, 1))"))
    store_a = str(tmp_path / "a")
    store_b = str(tmp_path / "b")
    zorder_metrics_table(spark, df, store_a, bucket_ns=day)
    zorder_metrics_table(spark, df.withColumn("value", F.col("value") + 100),
                         store_b, bucket_ns=day)

    cat = open_zorder_catalog(spark, str(tmp_path / "catalog"))
    # registering a non-store is caught at register time, not first query
    with pytest.raises(ValueError, match="layout contract"):
        cat.register("oops", str(tmp_path / "nothing"))

    cat.register("cpu", store_a)
    ent = {r.name: (r.kind, r.path) for r in cat.entries().collect()}
    assert ent == {"cpu": ("metrics", store_a)}
    assert cat.entries().collect()[0].bucket_ns == day
    assert "bucket_ns" in cat.entries().collect()[0].layout

    # catalog-routed database answers exactly like the path-opened one
    q = {"select": "m.cpu", "range": {"from": 0, "to": 10**18}}
    via_cat = cat.open_database("cpu").query(q).collect()
    via_path = open_zorder_database(spark, store_a).query(q).collect()
    assert sorted(map(tuple, via_cat)) == sorted(map(tuple, via_path))

    # replace: the name re-routes to the new store atomically
    cat.register("cpu", store_b)
    assert cat.path_of("cpu") == store_b
    vals = [r.value for r in cat.open_database("cpu").query(q).collect()]
    assert min(vals) >= 100.0

    cat.unregister("cpu")
    with pytest.raises(KeyError):
        cat.path_of("cpu")
    cat.unregister("cpu")  # absent: a no-op, not an error


def test_zorder_catalog_concurrent_register_linearizes(spark, tmp_path):
    """Two concurrent register calls (different names) both survive —
    the CAS pointer-log merge re-runs the loser against the winner's
    snapshot instead of last-writer-wins dropping a row."""
    import threading

    from pyspark.sql import functions as F

    from akumuli_spark.api import open_zorder_catalog
    from akumuli_spark.sources.zorder import zorder_metrics_table

    day = 86_400 * 10**9
    df = spark.createDataFrame(
        [("m.x host=0", "m.x", 1, 1.0)],
        "series string, metric string, ts_ns long, value double",
    ).withColumn("tags", F.expr("map('host','0')"))
    stores = []
    for i in range(4):
        p = str(tmp_path / f"s{i}")
        zorder_metrics_table(spark, df, p, bucket_ns=day)
        stores.append(p)

    cat = open_zorder_catalog(spark, str(tmp_path / "catalog"))
    errs = []

    def reg(i):
        try:
            cat.register(f"store{i}", stores[i])
        except Exception as exc:  # pragma: no cover - surfaced in assert
            errs.append(exc)

    threads = [threading.Thread(target=reg, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    names = sorted(r.name for r in cat.entries().collect())
    assert names == ["store0", "store1", "store2", "store3"]
