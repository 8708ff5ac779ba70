"""Lakehouse-style maintenance + serving loop for the metrics store —
the two round-11 layout services composed end to end:

    OPTIMIZE ZORDER   → z-order re-cluster + manifest     (sources/zorder.py)
    file skipping     → manifest-pruned selects           (zorder_select)
    engine-over-store → JSON query on the pruned frame    (query/engine.py)
    rollup partials   → per-day HLL + histogram sketches  (sources/sketch_store.py)
    streaming rollup  → foreachBatch epoch appends        (streaming/sketch.py)
    compaction        → epoch fold behind two-rename swap (compact_sketch_store)
    retention         → zero-scan partition drop          (drop_expired_buckets)

    python examples/lakehouse_maintenance.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from akumuli_spark import get_spark  # noqa: E402
from akumuli_spark.query.engine import execute_query  # noqa: E402
from akumuli_spark.query.plan import parse_timestamp_ns  # noqa: E402
from akumuli_spark.sources.sketch_store import (  # noqa: E402
    build_sketch_store,
    compact_sketch_store,
    distinct_over_range,
    drop_expired_buckets,
    quantiles_over_range,
)
from akumuli_spark.sources.testdata import load_table, metrics_view, ts_ns_expr  # noqa: E402
from akumuli_spark.sources.zorder import zorder_metrics_table, zorder_select  # noqa: E402
from akumuli_spark.streaming.sketch import start_streaming_sketch_store  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
NS = 10**9
DAY = 86_400 * NS
T96 = parse_timestamp_ns("19960101T000000")
E0 = parse_timestamp_ns("20240101T000000")


def main() -> None:
    spark = get_spark("lakehouse-maintenance")
    work = tempfile.mkdtemp(prefix="lakehouse_demo_")
    try:
        # -- OPTIMIZE ZORDER: re-cluster the metrics view ----------------
        zpath = os.path.join(work, "metrics_z")
        t = time.time()
        zorder_metrics_table(spark, metrics_view(spark, SF_DIR), zpath,
                             bucket_ns=365 * DAY, files_per_partition=4)
        print(f"zorder re-cluster: {time.time() - t:.1f}s")

        st: dict = {}
        series = "lineitem.price linestatus=O returnflag=N"
        n = zorder_select(spark, zpath, metric="lineitem.price",
                          series=series, ts_from=T96,
                          ts_to=T96 + 180 * DAY, stats=st).count()
        print(f"series probe: {n} rows, scanned "
              f"{st['files_selected']}/{st['files_total']} files")

        st2: dict = {}
        n2 = zorder_select(spark, zpath, metric="lineitem.qty",
                           ts_from=T96 + 100 * DAY,
                           ts_to=T96 + 107 * DAY, stats=st2).count()
        print(f"time slice: {n2} rows, scanned "
              f"{st2['files_selected']}/{st2['files_total']} files")

        # the JSON engine runs unchanged on the pruned frame
        frame = zorder_select(spark, zpath, metric="lineitem.price",
                              ts_from=T96, ts_to=T96 + 180 * DAY)
        ga = execute_query(spark, {
            "group-aggregate": {"metric": "lineitem.price", "step": "30d",
                                "func": ["sum", "count"]},
            "range": {"from": T96, "to": T96 + 180 * DAY},
        }, frame)
        print(f"engine group-aggregate over pruned frame: {ga.count()} rows")

        # the database facade: where-clause -> series -> pruned files,
        # automatically for every query
        from akumuli_spark.api import open_zorder_database

        zdb = open_zorder_database(spark, zpath)
        where_q = zdb.query({
            "select": "lineitem.price",
            "range": {"from": T96, "to": T96 + 90 * DAY},
            "where": {"returnflag": "N", "linestatus": "O"},
        })
        pst = zdb.last_prune_stats
        print(f"zdb where-select: {where_q.count()} rows, scanned "
              f"{pst['files_selected']}/{pst['files_total']} files")

        # grow by one snapshot append, then expire the oldest year
        from akumuli_spark.sources.zorder import (
            zorder_append,
            zorder_retention,
        )

        late = metrics_view(spark, SF_DIR).filter(
            F.col("metric") == "lineitem.disc").limit(1000)
        zorder_append(spark, late, zpath, epoch=1)
        yr = 365 * DAY
        t98 = parse_timestamp_ns("19981231T000000")
        dropped = zorder_retention(spark, zpath, keep_ns=2 * yr, now_ns=t98)
        print(f"append published atomically; retention expired {dropped} "
              f"partitions (zero scan; vacuum frees their files)")

        # the r12 maintenance loop: evidence-driven scoped OPTIMIZE —
        # the erosion report (manifest-only) names the buckets appends
        # degraded; optimize re-clusters ONLY those; vacuum (with its
        # live-append grace) reclaims the replaced files
        from akumuli_spark.sources.zorder import (
            vacuum_zorder,
            zorder_erosion,
            zorder_optimize,
        )

        eroded = zorder_erosion(spark, zpath).filter("epochs >= 2")
        n_eroded = eroded.count()
        t = time.time()
        n_opt = zorder_optimize(spark, zpath)
        reclaimed = vacuum_zorder(spark, zpath, grace_s=0, snapshots_keep=1)
        print(f"erosion report: {n_eroded} eroded buckets; scoped "
              f"optimize re-clustered {n_opt} in {time.time() - t:.1f}s; "
              f"vacuum reclaimed {reclaimed} replaced/expired files "
              f"and snapshots")

        # events in their own z-store: select-events file-pruned too
        from akumuli_spark.sources.testdata import events_view

        epath = os.path.join(work, "events_z")
        zorder_metrics_table(spark, events_view(spark, SF_DIR), epath,
                             bucket_ns=7 * DAY, files_per_partition=4)
        ezdb = open_zorder_database(spark, zpath, events_zorder_path=epath)
        ev_rows = ezdb.query({
            "select-events": "!error",
            "range": {"from": E0 + 7 * DAY, "to": E0 + 14 * DAY},
        }).count()
        est = ezdb.last_prune_stats
        print(f"select-events week slice: {ev_rows} rows, scanned "
              f"{est['files_selected']}/{est['files_total']} event files")

        # bucketed co-located join: zero-Exchange docs ⋈ embeddings
        from akumuli_spark.sources.bucketed import bucket_table, bucketed_join
        from akumuli_spark.sources.testdata import load_table

        bucket_table(load_table(spark, SF_DIR, "documents"),
                     "demo_bdocs", os.path.join(work, "bdocs"), 8)
        bucket_table(
            load_table(spark, SF_DIR, "embeddings").withColumnRenamed(
                "vec_id", "doc_id"),
            "demo_bembs", os.path.join(work, "bembs"), 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = bucketed_join(spark, "demo_bdocs", "demo_bembs")
            n_ex = j._jdf.queryExecution().executedPlan().toString() \
                .count("Exchange")
            print(f"bucketed docs⋈embeddings: {j.count()} rows, "
                  f"{n_ex} Exchange nodes in the plan")
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS demo_bdocs")
            spark.sql("DROP TABLE IF EXISTS demo_bembs")

        # -- sketch rollups: batch bootstrap + streamed growth -----------
        store = os.path.join(work, "rollups")
        ev = load_table(spark, SF_DIR, "events")
        ev = ev.withColumn("ts_ns", ts_ns_expr(ev, "ts"))
        first_half = ev.filter(F.col("ts_ns") < E0 + 14 * DAY)
        t = time.time()
        build_sketch_store(first_half, store, group_col="event_type",
                           distinct_col="user_id", value_col="value")
        print(f"rollup bootstrap (first 14 days): {time.time() - t:.1f}s")

        # stream the remainder in micro-batches (epoch-keyed appends)
        rest = ev.filter(F.col("ts_ns") >= E0 + 14 * DAY)
        in_dir = os.path.join(work, "stream_in")
        os.makedirs(in_dir)
        cols = "event_type string, user_id bigint, value double, ts_ns long"
        rest_rows = rest.select("event_type", "user_id", "value", "ts_ns")
        for i in range(3):
            rest_rows.filter(F.col("user_id") % 3 == i).coalesce(1) \
                .write.parquet(os.path.join(in_dir, f"c{i}"))
        stream = (
            spark.readStream.schema(cols)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(in_dir, "*"))
        )
        q = start_streaming_sketch_store(
            stream, store, os.path.join(work, "chk"))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        # serve a two-week window from partials only — no fact scan
        t = time.time()
        d = distinct_over_range(spark, store, E0 + 7 * DAY, E0 + 21 * DAY)
        rows = {r["group"]: round(r["approx_distinct"], 1)
                for r in d.collect()}
        print(f"distinct users days 7-21 (from partials, "
              f"{time.time() - t:.1f}s): {rows}")
        qd = quantiles_over_range(spark, store, E0 + 7 * DAY,
                                  E0 + 21 * DAY, [0.5, 0.99])
        print(f"value quantiles days 7-21: {qd.count()} rows")

        # the honest dashboard range is never day-aligned: tiered serve
        # folds raw-computed head/tail sketches into the stored partials
        lo, hi = E0 + 7 * DAY + 9 * 3600 * NS, E0 + 21 * DAY - 3 * 3600 * NS
        t = time.time()
        dt = distinct_over_range(spark, store, lo, hi, raw_tail=ev)
        print(f"tiered distinct over misaligned range "
              f"({time.time() - t:.1f}s): {dt.count()} groups")

        # compaction folds the stream's epochs; serving is unchanged
        before = sorted(tuple(r) for r in d.collect())
        compact_sketch_store(spark, store)
        after = sorted(tuple(r) for r in distinct_over_range(
            spark, store, E0 + 7 * DAY, E0 + 21 * DAY).collect())
        print(f"post-compaction serve identical: {before == after}")

        # retention: drop partial days older than 21 days, zero scan
        dropped = drop_expired_buckets(store, keep_ns=21 * DAY,
                                       now_ns=E0 + 31 * DAY)
        still = distinct_over_range(
            spark, store, E0 + 14 * DAY, E0 + 21 * DAY).count()
        print(f"retention dropped {dropped} partition dirs; "
              f"in-window serve still answers {still} groups")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
