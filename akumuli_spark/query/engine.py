"""Query plan → DataFrame compilation.

The reference hard-wires one of five two-tier iterator plans
(/root/reference/libakumuli/query_processing/queryplan.cpp:1407-1428); here
every query kind compiles to a declarative DataFrame expression and Catalyst
picks the physical strategy.  Scale notes per kind:

* ``select``/``select-events`` — pure filter + the final sort; metric/tag/time
  predicates push down to the parquet scan (partition pruning when the
  table is laid out by metric/time bucket).
* ``aggregate``/``group-aggregate`` — hash aggregate with map-side partial
  combine, the Spark-native analogue of the reference's
  ``AggregationResult::combine`` (operators/aggregate.cpp).
* ``join``/``group-aggregate-join`` — the reference's per-tag-set
  timestamp merge-join (operators/join.cpp:1-109) is a pivot: one shuffle
  on (tagset, ts), no N-way join.

The final order-by (:func:`_finalize` through :func:`sort_by_size`, which
the metadata queries share) is sized by the result.  When the
query has no ``limit``/``offset`` and Catalyst's size estimate of the
unsorted result is at most ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
(the size AQE would coalesce into one reducer anyway), the result is
sorted in ONE task: ``coalesce(1).sortWithinPartitions`` — no sampling
job, no range exchange, one Spark job for a narrow select.  Larger or
unknown-size results keep the global ``orderBy`` range sort; ``limit``
queries keep TakeOrderedAndProject.  The reference builds order-by
output the same way, with an in-process k-way merge of the per-series
streams (operators/merge.h).

Determinism: where the reference leaves ties unspecified (min_by over equal
values, first/last over duplicate timestamps), we pin tie-breaks with
struct-ordering (min/max over ``struct(value, ts)``) so results are stable
across engines — the DuckDB oracle mirrors the same rule.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from akumuli_spark.query import apply as apply_mod
from akumuli_spark.query.errors import QueryValidationError
from akumuli_spark.query.parser import parse_query
from akumuli_spark.query.plan import (
    FilterClause,
    GroupByOp,
    GroupByTag,
    OrderBy,
    Query,
    QueryKind,
    QueryRange,
    ValueFilter,
    WherePredicate,
    percentile_fraction,
)


class Result:
    """A compiled query result: the frame plus which columns carry values
    (the analogue of the reference's tuple components —
    queryprocessor_framework.h:180-214 ``MutableSample``)."""

    def __init__(self, df: DataFrame, value_cols: list[str], query: Query,
                 presorted: bool = False):
        self.df = df
        self.value_cols = value_cols
        self.query = query
        self.presorted = presorted


# ---------------------------------------------------------------------------
# predicate builders
# ---------------------------------------------------------------------------


def range_predicate(rng: QueryRange, ts_col: Column) -> Column:
    """Semi-open [from, to): from-side inclusive, to-side exclusive in both
    directions (operators/operator.h:77-104)."""
    if rng.forward:
        return (ts_col >= F.lit(rng.begin_ns)) & (ts_col < F.lit(rng.end_ns))
    return (ts_col <= F.lit(rng.begin_ns)) & (ts_col > F.lit(rng.end_ns))


def where_predicate(where: WherePredicate, tags_col: Column) -> Column:
    combo_preds = []
    for combo in where.combinations:
        conj = None
        for tag, values in combo.tags:
            p = tags_col.getItem(tag).isin(list(values))
            conj = p if conj is None else (conj & p)
        combo_preds.append(conj)
    pred = combo_preds[0]
    for p in combo_preds[1:]:
        pred = pred | p
    return pred


def value_filter_predicate(vf: ValueFilter, col: Column) -> Column:
    pred = F.lit(True)
    if vf.gt is not None:
        pred = pred & (col > F.lit(vf.gt))
    if vf.ge is not None:
        pred = pred & (col >= F.lit(vf.ge))
    if vf.lt is not None:
        pred = pred & (col < F.lit(vf.lt))
    if vf.le is not None:
        pred = pred & (col <= F.lit(vf.le))
    return pred


def _tagstr() -> Column:
    """The tag part of the canonical series name (everything after
    'metric ')."""
    return F.expr("substring(series, length(metric) + 2)")


def _rekey_group_by(df: DataFrame, gb: GroupByTag) -> DataFrame:
    """group-by-tag (drop listed tags) / pivot-by-tag (keep only listed):
    rebuild the canonical series key from the filtered tag map
    (index/seriesparser.h:271-312 GroupByTag)."""
    # Column-API lambdas only: tag names are user input from the query JSON
    # and must never be interpolated into a SQL string.
    listed = F.array(*[F.lit(t) for t in gb.tags])
    if gb.op is GroupByOp.GROUP:
        keep = lambda k, v: ~F.array_contains(listed, k)  # noqa: E731
    else:
        keep = lambda k, v: F.array_contains(listed, k)  # noqa: E731
    kept_tags = F.map_filter(F.col("tags"), keep)
    tagstr = F.array_join(
        F.transform(
            F.array_sort(F.map_keys(kept_tags)),
            lambda k: F.concat(k, F.lit("="), F.element_at(F.col("tags"), k)),
        ),
        " ",
    )
    new_series = F.when(tagstr == "", F.col("metric")).otherwise(
        F.concat(F.col("metric"), F.lit(" "), tagstr)
    )
    return df.withColumn("series", new_series).withColumn("tags", kept_tags)


def _base_scan(df: DataFrame, q: Query, metrics: list[str],
               extra: Column | None = None) -> DataFrame:
    """Metric, range, ``where`` and the caller's ``extra`` row predicate as
    ONE filter: every DataFrame op is another analysis pass over the
    growing plan, which is a visible share of a small query's latency."""
    pred = F.col("metric").isin(metrics) if len(metrics) > 1 else (
        F.col("metric") == metrics[0]
    )
    pred = pred & range_predicate(q.range, F.col("ts_ns"))
    if q.where is not None:
        pred = pred & where_predicate(q.where, F.col("tags"))
    if extra is not None:
        pred = pred & extra
    out = df.filter(pred)
    if q.group_by is not None:
        out = _rekey_group_by(out, q.group_by)
    return out


# ---------------------------------------------------------------------------
# aggregation functions (the 11 of operator.h:20-32)
# ---------------------------------------------------------------------------


def agg_expr(func: str, value: str = "value", ts: str = "ts_ns") -> Column:
    v, t = F.col(value), F.col(ts)
    if func == "count":
        return F.count(v).cast("double")
    if func == "sum":
        return F.sum(v)
    if func == "min":
        return F.min(v)
    if func == "max":
        return F.max(v)
    if func == "mean":
        # sum/count, not avg(): both engines then divide their own exact
        # partials the same way, keeping results reproducible cross-engine
        # (mean = sum/cnt is also how the reference materializes it,
        # tuples.h:66-68)
        return F.sum(v) / F.count(v)
    if func == "min_timestamp":
        # ts at which the min value occurred; ties → smallest ts (struct order)
        return F.min(F.struct(v.alias("v"), t.alias("t"))).getField("t").cast("double")
    if func == "max_timestamp":
        return F.max(F.struct(v.alias("v"), t.alias("t"))).getField("t").cast("double")
    if func == "first":
        # value at the smallest ts; ties → smallest value
        return F.min(F.struct(t.alias("t"), v.alias("v"))).getField("v")
    if func == "last":
        return F.max(F.struct(t.alias("t"), v.alias("v"))).getField("v")
    if func == "first_timestamp":
        return F.min(t).cast("double")
    if func == "last_timestamp":
        return F.max(t).cast("double")
    frac = percentile_fraction(func)
    if frac is not None:
        # Engine EXTENSION (see plan.percentile_fraction): EXACT percentile
        # with linear interpolation — identical to DuckDB's quantile_cont.
        # Exact percentile shuffles the bucket's values to one reducer per
        # group key; for unbounded groups at 100 TB use the repo's
        # mergeable log-histogram sketch (operators/quantile_sketch —
        # deterministic, oracle-replayable, ≤ a few hundred bins of state
        # per group) rather than approx_percentile, whose t-digest is
        # engine-private and not cross-checkable.
        return F.percentile(v, F.lit(frac))
    raise QueryValidationError(f"unknown aggregate function {func!r}")


# ---------------------------------------------------------------------------
# kind builders
# ---------------------------------------------------------------------------


def _build_select(df: DataFrame, q: Query) -> Result:
    vf_pred = None
    if q.filter is not None:
        # select has a single metric: the one (or shorthand) filter applies
        # to the value column
        for _, vf in q.filter.by_key:
            p = value_filter_predicate(vf, F.col("value"))
            vf_pred = p if vf_pred is None else (vf_pred & p)
    base = _base_scan(df, q, list(q.metrics), vf_pred)
    return Result(base.select("series", "ts_ns", "value"), ["value"], q)


def _build_select_events(df: DataFrame, q: Query) -> Result:
    base = _base_scan(df, q, list(q.metrics))
    if q.event_regex:
        # Parse-time validation parity: the reference compiles the body
        # filter when parsing the query and rejects a bad pattern with
        # AKU_EQUERY_PARSING_ERROR (queryparser.cpp:343-349) rather than
        # failing mid-scan.  Compile the Java pattern up front so an
        # invalid regex (e.g. a lone '{', legal in Python but not Java —
        # see tests/test_properties.py dialect notes) raises a clean
        # validation error instead of an executor stage failure.
        try:
            jvm = df.sparkSession._jvm
        except AttributeError:  # connect-mode session: no JVM handle
            jvm = None
        if jvm is not None:
            try:
                jvm.java.util.regex.Pattern.compile(q.event_regex)
            except Exception as exc:
                raise QueryValidationError(
                    f"invalid event filter regex: {q.event_regex!r}"
                ) from exc
        base = base.filter(F.col("body").rlike(q.event_regex))
    return Result(base.select("series", "ts_ns", "body"), ["body"], q)


#: the four functions whose tie-break encoding (min/max over a two-field
#: struct) Spark cannot keep in a HashAggregate buffer — their presence
#: forces the whole aggregation into SortAggregate, which locally sorts
#: every input row by the group key
_STRUCT_FUNCS = frozenset({"min_timestamp", "max_timestamp", "first", "last"})
#: the 11 reference functions — all decomposable over per-timestamp
#: partials (count/sum/min/max); percentiles are not (they need the raw
#: value multiset) and keep the one-level path.
#:
#: Two documented assumptions of the decomposition (both hold for every
#: in-repo view; revisit if a nullable-value source is ever added):
#:
#: * ``value`` is never NULL.  The one-level struct forms
#:   min(struct(v, t)) / min(struct(t, v)) would rank a NULL field
#:   first, while the two-level partials (__mn/__mx) drop NULLs before
#:   the struct merge — a NULL value at the extreme timestamp could
#:   make first/last/min_timestamp/max_timestamp differ between the
#:   paths (ADVICE r14).
#: * ``mean``/``sum`` accumulate as sums of per-timestamp partials in
#:   the two-level path — a different double-addition grouping than the
#:   one-level flat fold, so the two paths agree only up to the last
#:   ulp (the oracle's rounding masks it); which path plans depends on
#:   the requested function set and, at scale, on the probe below.
_DECOMPOSABLE = frozenset({
    "count", "sum", "min", "max", "mean", "min_timestamp", "max_timestamp",
    "first", "last", "first_timestamp", "last_timestamp",
})

#: inputs whose optimizer-estimated size exceeds this many bytes get a
#: cheap cardinality probe before the two-level decomposition plans
#: (see _partials_compress); -1 disables the probe entirely
_AGG_PROBE_BYTES_CONF = "spark.akumuli.aggregate.probeBytes"
_AGG_PROBE_BYTES_DEFAULT = 4 * 1024**3
#: the probe reads a key sample worth about this many estimated input bytes
_AGG_PROBE_SAMPLE_BYTES = 16 * 1024**2
#: fixed hash seed of the probe's key sample, so the route is reproducible
_AGG_PROBE_SEED = 0x5EED
_AGG_PROBE_BUCKETS = 1 << 20


def _estimated_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``, or None when it is unknown:
    Catalyst reports ~Long.MaxValue when statistics are unavailable
    (in-memory relations), and a connect-mode session has no ``_jdf`` to
    ask.  The estimate is taken on the analyzed plan: the same statistics
    visitor the optimizer uses, at under 1 ms instead of the ~10 ms of an
    optimizer run that the executed query repeats anyway (measured on a
    narrow select, 4 cores)."""
    try:
        size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except Exception:
        return None
    return None if size >= 1 << 62 else size


def _partials_compress(base: DataFrame) -> bool:
    """Scale-adaptive guard for the two-level aggregate decomposition
    (guide §2.3): at ns-unique timestamps the (metric, tagstr, ts_ns)
    partials do not compress, so level 1 exchanges ~the whole input —
    strictly worse at cluster scale than the one-level SortAggregate,
    whose map-side partial reduces to O(groups) rows per task before
    the exchange.  A small-sample ``approx_count_distinct`` probe
    detects that case and routes to the one-level path.

    The probe is itself a Spark job, so it only runs when the
    optimizer's size estimate says the input is big enough for the
    exchange trade to matter (``spark.akumuli.aggregate.probeBytes``,
    default 4 GiB — far above the local bench inputs, so bench plans
    and timings are untouched; set -1 to disable, 0 to always probe).
    Unknown size is not big: it keeps the measured-default two-level
    path without a probe.  Routing never changes results: both paths
    compute the same aggregates (up to the documented mean/sum ulp
    grouping)."""
    try:
        thresh = int(base.sparkSession.conf.get(
            _AGG_PROBE_BYTES_CONF, str(_AGG_PROBE_BYTES_DEFAULT)))
        if thresh < 0:
            return True
        size = _estimated_bytes(base)
        if thresh > 0 and (size is None or size < thresh):
            # small input: two-level measured faster (r14 A/B)
            return True
        # The sample keeps WHOLE keys (a fixed-seed hash of the partial
        # key picks them), so every duplicate of a kept key is kept and
        # the sample's distinct/rows ratio estimates the input's.  A row
        # sample would split duplicates and drift toward "unique" as it
        # shrinks; a leading prefix would only see the first files, which
        # on time-sorted data are not representative.  The 0-threshold
        # test hook with unknown size reads everything.
        key = F.xxhash64(F.lit(_AGG_PROBE_SEED), "metric", "tagstr", "ts_ns")
        probe = base.select(key.alias("__k"))
        frac = 1.0 if size is None else _AGG_PROBE_SAMPLE_BYTES / max(size, 1)
        if frac < 1.0:
            keep = int(frac * _AGG_PROBE_BUCKETS) + 1
            probe = probe.filter(
                F.pmod(F.col("__k"), F.lit(_AGG_PROBE_BUCKETS)) < keep)
        row = probe.agg(
            F.count(F.lit(1)).alias("__n"),
            F.approx_count_distinct("__k").alias("__d"),
        ).first()
        # approx_count_distinct's default rsd is 5%: ratios near 1 mean
        # the partials would not compress — use the one-level path
        return bool(row["__n"]) and row["__d"] < 0.9 * row["__n"]
    except Exception:
        # malformed threshold or failed probe job: keep the
        # measured-default two-level path
        return True


def _two_level_agg_expr(func: str) -> Column:
    """Final-level expression over the per-(series, ts) partials
    ``__c/__s/__mn/__mx`` — exactly :func:`agg_expr`'s result:

    * struct tie-breaks survive the decomposition because within one
      timestamp the extreme value IS the partial (``first`` = value at
      the smallest ts, value ties → smallest value = ``__mn`` of that
      ts), and across split partials of the same ts the outer struct
      min/max re-merges them to the same extreme;
    * the partials are primitive, so level 1 is a HashAggregate (no
      input-wide sort), and the struct aggregation runs over the
      deduplicated (series, ts) frame only.
    """
    t = F.col("ts_ns")
    if func == "count":
        return F.sum("__c").cast("double")
    if func == "sum":
        return F.sum("__s")
    if func == "min":
        return F.min("__mn")
    if func == "max":
        return F.max("__mx")
    if func == "mean":
        return F.sum("__s") / F.sum("__c")
    if func == "min_timestamp":
        return F.min(F.struct(F.col("__mn").alias("v"), t.alias("t"))).getField("t").cast("double")
    if func == "max_timestamp":
        return F.max(F.struct(F.col("__mx").alias("v"), t.alias("t"))).getField("t").cast("double")
    if func == "first":
        return F.min(F.struct(t.alias("t"), F.col("__mn").alias("v"))).getField("v")
    if func == "last":
        return F.max(F.struct(t.alias("t"), F.col("__mx").alias("v"))).getField("v")
    if func == "first_timestamp":
        return F.min(t).cast("double")
    if func == "last_timestamp":
        return F.max(t).cast("double")
    raise QueryValidationError(f"not decomposable: {func!r}")  # pragma: no cover


def _build_aggregate(df: DataFrame, q: Query) -> Result:
    """One aggregation pass for all (metric, func) outputs: the per-func
    rows are produced by exploding an array of (fn, value) structs over
    the single aggregated frame — a union of per-func branches would
    re-execute the whole scan+aggregate subplan once per branch.

    When a struct-tie-break function is requested (and every requested
    function is partial-decomposable), the aggregation runs in TWO
    levels: a HashAggregate of primitive partials keyed by
    (metric, tagstr, ts_ns), then the struct aggregation over that
    frame.  One level would plan a SortAggregate whose map side sorts
    EVERY input row; the decomposition trades that full-input sort for
    one extra exchange of map-combined per-timestamp partials (measured
    0.71 s → 0.47 s on the sf0.1 bench; at ns-unique timestamps the
    exchange approaches input size, which is the documented trade — the
    100 TB serving path for whole-series summaries is the rollup/sketch
    store, not this raw scan)."""
    metrics = list(q.metrics)
    base = _base_scan(df, q, metrics).withColumn("tagstr", _tagstr())
    funcs_needed = sorted({f for _, fns in q.agg_funcs for f in fns})
    ts_out = F.min("ts_ns") if q.range.forward else F.max("ts_ns")
    if (_STRUCT_FUNCS & set(funcs_needed)) and all(
        f in _DECOMPOSABLE for f in funcs_needed
    ) and _partials_compress(base):
        pre = base.groupBy("metric", "tagstr", "ts_ns").agg(
            F.count("value").alias("__c"),
            F.sum("value").alias("__s"),
            F.min("value").alias("__mn"),
            F.max("value").alias("__mx"),
        )
        agged = pre.groupBy("metric", "tagstr").agg(
            ts_out.alias("ts_ns"),
            *[_two_level_agg_expr(f).alias(f"__{f}") for f in funcs_needed],
        )
    else:
        agged = base.groupBy("metric", "tagstr").agg(
            ts_out.alias("ts_ns"),
            *[agg_expr(f).alias(f"__{f}") for f in funcs_needed],
        )
    fn_structs = F.array(*[
        F.struct(F.lit(fn).alias("fn"), F.col(f"__{fn}").cast("double").alias("val"))
        for fn in funcs_needed
    ])
    wanted = [f"{metric} {fn}" for metric, fns in q.agg_funcs for fn in fns]
    exploded = agged.select(
        "metric", "tagstr", "ts_ns", F.explode(fn_structs).alias("e")
    ).filter(
        F.concat_ws(" ", F.col("metric"), F.col("e.fn")).isin(wanted)
    )
    # output series renamed `metric:func tags` (queryparser.cpp:1447-1472)
    head = F.concat(F.col("metric"), F.lit(":"), F.col("e.fn"))
    renamed = F.when(F.col("tagstr") == "", head).otherwise(
        F.concat(head, F.lit(" "), F.col("tagstr"))
    )
    out = exploded.select(
        renamed.alias("series"), F.col("ts_ns"), F.col("e.val").alias("value")
    )
    return Result(out, ["value"], q)


def _bucket_label(rng: QueryRange, step_ns: int) -> Column:
    """Begin-anchored buckets (nbtree.cpp:1228-1247): label = bucket start,
    anchored at the query's `from`, direction-aware.  Integer floor-div is
    safe: operands are non-negative by the range predicate."""
    if rng.forward:
        return F.expr(
            f"{rng.begin_ns}L + ((ts_ns - {rng.begin_ns}L) div {step_ns}L) * {step_ns}L"
        )
    return F.expr(
        f"{rng.begin_ns}L - (({rng.begin_ns}L - ts_ns) div {step_ns}L) * {step_ns}L"
    )


def _having(df: DataFrame, filt: FilterClause, col_of: dict[str, str]) -> DataFrame:
    preds = [value_filter_predicate(vf, F.col(col_of[key])) for key, vf in filt.by_key]
    pred = preds[0]
    for p in preds[1:]:
        pred = (pred & p) if filt.require_all else (pred | p)
    return df.filter(pred)


def _build_group_aggregate(df: DataFrame, q: Query) -> Result:
    metrics = list(q.metrics)
    funcs = list(q.agg_funcs[0][1])
    base = _base_scan(df, q, metrics).withColumn("tagstr", _tagstr())
    bucket = _bucket_label(q.range, q.step_ns)
    # Output ts = the first sample's timestamp in the bin, not the aligned
    # bucket label (nbtree.cpp:1237/1251 emit AggregationResult::_begin,
    # which operator.cpp:48-73 leaves at the smallest added ts in BOTH scan
    # directions: forward sets it once at cnt==0, backward overwrites it
    # every add while ts decreases).
    agged = base.groupBy("metric", "tagstr", bucket.alias("__bucket")).agg(
        F.min("ts_ns").alias("ts_ns"),
        *[agg_expr(f).alias(f) for f in funcs],
    )
    if q.filter is not None:
        # group-aggregate filters apply to output components = HAVING
        # (queryparser.cpp:1726-1738)
        agged = _having(agged, q.filter, {f: f for f in funcs})
    # series renamed `metric:f1|metric:f2 tags` (queryparser.cpp:1588-1664);
    # the head is a function of the metric column, so one select covers all
    # metrics — per-metric union branches would re-execute the aggregation
    head_of = {m: "|".join(f"{m}:{f}" for f in funcs) for m in metrics}
    head = None
    for m, h in head_of.items():
        branch = F.when(F.col("metric") == m, F.lit(h))
        head = branch if head is None else head.when(F.col("metric") == m, F.lit(h))
    renamed = F.when(F.col("tagstr") == "", head).otherwise(
        F.concat(head, F.lit(" "), F.col("tagstr"))
    )
    out = agged.select(
        renamed.alias("series"),
        "ts_ns",
        *[F.col(f).cast("double").alias(f) for f in funcs],
    )
    return Result(out, funcs, q)


def _metric_filter_pred(q: Query) -> Column | None:
    """Per-sample value filters for join queries, applied during the scan
    like the reference (queryplan.cpp:1251-1339): a row survives if its
    metric has no filter or passes it."""
    if q.filter is None:
        return None
    pred = F.lit(True)
    filtered = dict(q.filter.by_key)
    cases = None
    for metric in q.metrics:
        if metric in filtered:
            p = value_filter_predicate(filtered[metric], F.col("value"))
        else:
            p = F.lit(True)
        branch = F.when(F.col("metric") == metric, p)
        cases = branch if cases is None else cases.when(F.col("metric") == metric, p)
    return cases.otherwise(F.lit(True)) if cases is not None else pred


def _join_series_name(metrics: list[str]) -> Column:
    head = "|".join(metrics)
    return F.when(F.col("tagstr") == "", F.lit(head)).otherwise(
        F.concat(F.lit(head + " "), F.col("tagstr"))
    )


def _apply_join_require(df: DataFrame, q: Query) -> DataFrame:
    """ALL ⇒ every filtered metric's component must be present post-filter;
    ANY ⇒ at least one (queryparser.cpp:759-870 combiner)."""
    if q.filter is None:
        return df
    filtered_metrics = [m for m, _ in q.filter.by_key]
    preds = [F.col(f"`{m}`").isNotNull() for m in filtered_metrics]
    pred = preds[0]
    for p in preds[1:]:
        pred = (pred & p) if q.filter.require_all else (pred | p)
    return df.filter(pred)


def _build_join(df: DataFrame, q: Query) -> Result:
    """Align N metrics sharing a tag-set on exact timestamp
    (operators/join.cpp:1-109) — expressed as groupBy+pivot: one shuffle on
    (tagset, ts), which scales linearly instead of an N-way join.

    DataFrame semantics are set-based, so duplicate samples of one series
    at the same timestamp (possible in the driver data) are combined with
    SUM before alignment; absent components are NULL (the reference's
    presence bitmap, join.h:40-47).
    """
    metrics = list(q.metrics)
    base = _base_scan(df, q, metrics, _metric_filter_pred(q)).withColumn(
        "tagstr", _tagstr())
    # Conditional aggregation instead of .pivot(): pivot plans TWO
    # aggregations (groupBy(keys+metric) then PivotFirst over keys), i.e.
    # two hash exchanges; sum(when(metric=m, value)) per metric computes
    # the identical result (absent component ⇒ sum of no rows ⇒ NULL, the
    # presence bitmap of join.h:40-47) in ONE map-side-combinable pass —
    # one exchange on (tagstr, ts_ns).
    pivoted = base.groupBy("tagstr", "ts_ns").agg(
        *[
            F.sum(F.when(F.col("metric") == m, F.col("value"))).alias(m)
            for m in metrics
        ]
    )
    pivoted = _apply_join_require(pivoted, q)
    out = pivoted.select(
        _join_series_name(metrics).alias("series"),
        "ts_ns",
        *[F.col(f"`{m}`").alias(m) for m in metrics],
    )
    return Result(out, metrics, q)


def _build_group_aggregate_join(df: DataFrame, q: Query) -> Result:
    metrics = list(q.metrics)
    func = q.agg_funcs[0][1][0]
    base = _base_scan(df, q, metrics).withColumn("tagstr", _tagstr())
    bucket = _bucket_label(q.range, q.step_ns)
    # Each per-metric bucketed aggregate emits its first sample's ts
    # (AggregationResult::_begin, see _build_group_aggregate) and the Join
    # materializer then aligns components on those exact timestamps
    # (queryplan.cpp:1296-1338 + join.cpp) — so the pivot key is the
    # emitted min-ts, not the aligned bucket label.
    agged = base.groupBy("metric", "tagstr", bucket.alias("__bucket")).agg(
        F.min("ts_ns").alias("ts_ns"), agg_expr(func).alias("__v")
    )
    if q.filter is not None:
        agged = _having(agged, q.filter, {func: "__v"})
    # same single-pass conditional aggregation as _build_join (pivot would
    # add a second aggregation + exchange on (tagstr, ts_ns, metric))
    pivoted = agged.groupBy("tagstr", "ts_ns").agg(
        *[
            F.sum(F.when(F.col("metric") == m, F.col("__v"))).alias(m)
            for m in metrics
        ]
    )
    out = pivoted.select(
        _join_series_name(metrics).alias("series"),
        "ts_ns",
        *[F.col(f"`{m}`").cast("double").alias(m) for m in metrics],
    )
    return Result(out, metrics, q)


_BUILDERS = {
    QueryKind.SELECT: _build_select,
    QueryKind.SELECT_EVENTS: _build_select_events,
    QueryKind.AGGREGATE: _build_aggregate,
    QueryKind.GROUP_AGGREGATE: _build_group_aggregate,
    QueryKind.JOIN: _build_join,
    QueryKind.GROUP_AGGREGATE_JOIN: _build_group_aggregate_join,
}


# ---------------------------------------------------------------------------
# output stage: order-by, limit/offset
# ---------------------------------------------------------------------------


#: Spark's own target size of one post-shuffle partition: AQE coalesces a
#: range-sort exchange smaller than this into one reducer anyway
_ADVISORY_BYTES_CONF = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@functools.lru_cache(maxsize=4)
def _java_utils(jvm):
    # one lookup per gateway: resolving the class walks the package path
    # in five JVM round trips (~3 ms)
    return jvm.org.apache.spark.network.util.JavaUtils


def _fits_one_task(df: DataFrame) -> bool:
    """True when ``df``'s estimated size is known and at most
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, read as bytes
    the way Spark reads it."""
    size = _estimated_bytes(df)
    if size is None:
        return False
    try:
        spark = df.sparkSession
        limit = _java_utils(spark._jvm).byteStringAsBytes(
            spark.conf.get(_ADVISORY_BYTES_CONF))
    except Exception:  # connect-mode session: no JVM handle
        return False
    return size <= int(limit)


def sort_by_size(df: DataFrame, *keys) -> DataFrame:
    """``df`` sorted by ``keys``: in one task (``coalesce(1)
    .sortWithinPartitions``: no sampling job, no range exchange) when it
    fits one, else with the global range sort."""
    if _fits_one_task(df):
        return df.coalesce(1).sortWithinPartitions(*keys)
    return df.orderBy(*keys)


def _finalize(res: Result) -> DataFrame:
    """Order-by, then offset/limit.  The sort strategy follows the result
    size (see the module docstring): a result that fits one task is
    sorted in that task; a large or unknown-size one takes the global
    range sort; ``limit`` queries plan TakeOrderedAndProject."""
    q = res.query
    df = res.df
    if not res.presorted:
        ts = F.col("ts_ns").asc() if q.range.forward else F.col("ts_ns").desc()
        if q.order_by is OrderBy.TIME:
            keys = [ts, F.col("series").asc()]
        else:
            keys = [F.col("series").asc(), ts]
        if q.limit is None and not q.offset:
            df = sort_by_size(df, *keys)
        else:
            df = df.orderBy(*keys)
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def execute_query(
    spark: SparkSession,
    query: dict | Query,
    metrics: DataFrame,
    events: DataFrame | None = None,
    allow_irregular: bool = False,
) -> DataFrame:
    """Execute one JSON query (or pre-parsed plan) against the long
    ``metrics`` frame (and ``events`` frame for select-events).

    ``allow_irregular`` relaxes AKU_EREGULLAR_EXPECTED parity — see
    :func:`akumuli_spark.query.apply.apply_pipeline`."""
    q = query if isinstance(query, Query) else parse_query(query)
    if q.kind is QueryKind.SELECT_EVENTS:
        if events is None:
            raise QueryValidationError("select-events requires an events frame")
        res = _build_select_events(events, q)
    else:
        res = _BUILDERS[q.kind](metrics, q)
    if q.apply:
        res = apply_mod.apply_pipeline(res, q, allow_irregular=allow_irregular)
    return _finalize(res)


def execute_events_query(
    spark: SparkSession, query: dict | Query, events: DataFrame
) -> DataFrame:
    return execute_query(spark, query, metrics=events, events=events)
