"""Rollup-backed fast path for ``group-aggregate`` queries.

The reference answers whole-range and bucketed aggregates from the
NB+tree's precomputed inner-node aggregates without touching leaves
(/root/reference/libakumuli/storage_engine/nbtree.cpp:1154-1206,
README.md:16-17).  The Spark-native analogue: the streaming ingest
maintains a base-step rollup table (count/sum/min/max per (series,
base-bucket) — akumuli_spark.streaming.ingest.windowed_rollup_stream);
a group-aggregate whose range and step are aligned to the base step can
be answered by *combining* those partials — I/O proportional to
series × base-buckets instead of raw points.

Combination rules are the reference's ``AggregationResult::combine``
(operators/operator.h:47-59): count=Σcount, sum=Σsum, min=min(min),
max=max(max), mean=Σsum/Σcount.  Functions that need raw points
(first/last/…_timestamp) are not servable from this rollup and raise.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, functions as F

from akumuli_spark.query import engine
from akumuli_spark.query.errors import QueryValidationError
from akumuli_spark.query.parser import parse_query
from akumuli_spark.query.plan import Query, QueryRange, parse_duration_ns

#: funcs servable from {count, sum, min, max} partials
SERVABLE = {"count", "sum", "min", "max", "mean"}

_COMBINE = {
    "count": lambda: F.sum("count").cast("double"),
    "sum": lambda: F.sum("sum"),
    "min": lambda: F.min("min"),
    "max": lambda: F.max("max"),
    "mean": lambda: F.sum("sum") / F.sum("count"),
}


def can_serve(begin_ns: int, end_ns: int, step_ns: int, base_step_ns: int,
              funcs: list[str]) -> bool:
    return (
        set(funcs) <= SERVABLE
        and step_ns % base_step_ns == 0
        and begin_ns % base_step_ns == 0
        and end_ns % base_step_ns == 0
    )


def group_aggregate_from_rollup(
    rollup: DataFrame,
    begin_ns: int,
    end_ns: int,
    step_ns: int,
    funcs: list[str],
    base_step_ns: int,
) -> DataFrame:
    """Answer a forward begin-anchored group-aggregate from the rollup.

    ``rollup`` schema: (series, bucket_us, count, sum, min, max, min_ts)
    as produced by ``windowed_rollup_stream``.  Output matches the
    engine's group-aggregate shape: (series renamed ``m:f1|m:f2 tags``,
    ts_ns = first sample's timestamp in the bin, one column per func).
    """
    if not can_serve(begin_ns, end_ns, step_ns, base_step_ns, funcs):
        raise QueryValidationError(
            "rollup cannot serve this query (unaligned range/step or "
            f"non-servable funcs {set(funcs) - SERVABLE or ''})"
        )
    base = rollup.withColumn("bucket_ns", F.col("bucket_us") * F.lit(1000)).filter(
        (F.col("bucket_ns") >= F.lit(begin_ns)) & (F.col("bucket_ns") < F.lit(end_ns))
    )
    label = F.expr(
        f"{begin_ns}L + ((bucket_ns - {begin_ns}L) div {step_ns}L) * {step_ns}L"
    )
    # ts = the bin's first sample timestamp (AggregationResult::_begin),
    # recovered from the min_ts partial — mirrors the direct path
    agged = base.groupBy("series", label.alias("__bucket")).agg(
        F.min("min_ts").alias("ts_ns"),
        *[_COMBINE[f]().alias(f) for f in funcs],
    )
    # rename series `metric:f1|metric:f2 tags` like the direct path
    metric = F.expr("split_part(series, ' ', 1)")
    tagstr = F.expr("substring(series, length(split_part(series, ' ', 1)) + 2)")
    head = F.concat_ws(
        "|", *[F.concat(metric, F.lit(f":{f}")) for f in funcs]
    )
    renamed = F.when(tagstr == "", head).otherwise(F.concat(head, F.lit(" "), tagstr))
    return agged.select(
        renamed.alias("series"), "ts_ns",
        *[F.col(f).cast("double").alias(f) for f in funcs],
    )


def rollup_from_frame(frame: DataFrame, base_step_ns: int) -> DataFrame:
    """Batch materialization of the SAME rollup table
    ``windowed_rollup_stream`` maintains continuously — (series,
    bucket_us, count, sum, min, max, min_ts) at the base step — for
    bootstrap over historical data or for rebuilding after a base-step
    change.  One shuffle, map-side combinable."""
    # integer arithmetic end-to-end: double division would round the
    # microsecond bucket for ns values above 2^53, mis-bucketing vs the
    # streaming twin's exact unix_micros (ADVICE r11)
    bucket_us = F.expr(
        f"((ts_ns div {int(base_step_ns)}L) * {int(base_step_ns)}L) div 1000L"
    )
    return (
        frame.groupBy("series", bucket_us.alias("bucket_us"))
        .agg(
            F.count("value").alias("count"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.min("ts_ns").alias("min_ts"),
        )
    )


def group_aggregate_tiered(
    spark,
    raw_frame: DataFrame,
    rollup: DataFrame,
    metric: str,
    begin_ns: int,
    boundary_ns: int,
    end_ns: int,
    step: str,
    funcs: list[str],
    base_step_ns: int,
) -> DataFrame:
    """Tiered group-aggregate: the COLD span ``[begin, boundary)`` is
    answered from rollup partials (I/O ∝ series × base-buckets — raw
    points may already be retention-evicted), the HOT span
    ``[boundary, end)`` from raw rows through the ordinary engine path;
    the union is exactly the direct full-range answer.

    This is the serving shape a TSDB tiers into at scale: raw data ages
    out of the fast store (``layout.enforce_retention``) while the
    stream-maintained rollup keeps the full history at base-step
    resolution — the reference gets the same effect from its
    aggregate-carrying inner nodes surviving leaf eviction only within
    a volume's lifetime (nbtree.cpp:1154-1206); here the tiers are
    explicit tables.

    Correctness needs no bin to straddle the tier boundary:
    ``boundary - begin`` must be a whole number of steps (then
    boundary-anchored hot bins coincide with begin-anchored bins), and
    begin/boundary must be base-step-aligned for the rollup side
    (:func:`can_serve`).  Empty bins are omitted by both tiers, the
    engine's contract.
    """
    step_ns = parse_duration_ns(step)
    if not begin_ns < boundary_ns < end_ns:
        raise QueryValidationError("need begin < boundary < end")
    if (boundary_ns - begin_ns) % step_ns:
        raise QueryValidationError(
            "tier boundary must be a whole number of steps after begin "
            "(a straddling bin would need raw rows the cold tier no "
            "longer has)"
        )
    q = parse_query({
        "group-aggregate": {"metric": metric, "step": step, "func": funcs},
        "range": {"from": begin_ns, "to": end_ns},
    })
    return serve_tiers(spark, q, rollup, base_step_ns, boundary_ns,
                       lambda _hot: (raw_frame, None))


def serve_tiers(spark, q: Query, rollup: DataFrame, base_step_ns: int,
                boundary_ns: int, frames) -> DataFrame:
    """The one composition of a rollup-served group-aggregate ``q``:
    the cold span ``[begin, boundary)`` combined from ``rollup``
    partials of ``q``'s metrics, HAVING applied per bucket, unioned
    with the hot span ``[boundary, end)`` run raw through the engine
    over ``frames(hot_query) -> (metrics, events)``.  ``boundary ==
    end`` is full coverage: no hot tier.  The result is not ordered;
    the caller finalizes it."""
    funcs = list(q.agg_funcs[0][1])
    end_ns = q.range.end_ns
    cold = group_aggregate_from_rollup(
        rollup.filter(
            F.expr("split_part(series, ' ', 1)").isin(list(q.metrics))
        ),
        q.range.begin_ns, boundary_ns, q.step_ns, funcs, base_step_ns,
    )
    if q.filter is not None:  # HAVING is per bucket: same on each tier
        cold = engine._having(cold, q.filter, {f: f for f in funcs})
    if boundary_ns == end_ns:
        return cold
    hot = dataclasses.replace(q, range=QueryRange(boundary_ns, end_ns))
    return cold.unionByName(engine.execute_query(spark, hot, *frames(hot)))
