"""Driver-contract registry: every implemented operator from SURVEY.md §2
as a (spark_query, duckdb_oracle_sql) pair over the driver's testdata.

Each Spark callable runs through the real JSON query engine
(akumuli_spark.query.engine) over the series-model views
(akumuli_spark.sources.testdata); each oracle re-states the same semantics
in ANSI SQL for DuckDB.  Column names are aliased identically on both
sides, and *every* double-typed output column is rounded to 4 decimals on
both sides so the driver's order-insensitive value-hash is insensitive to
summation-order FP noise.

Queries with no SQL-expressible oracle (EWMA's recursive warm-up) omit the
oracle — the driver records a weaker rows-only check (per the contract).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from akumuli_spark.smallframe import local_frame
from akumuli_spark.query.engine import execute_query
from akumuli_spark.query.metadata import search, suggest
from akumuli_spark.query.parser import parse_query
from akumuli_spark.query.plan import parse_timestamp_ns
from akumuli_spark.sources.testdata import (
    APP_METRICS_SQL,
    EVENTS_SQL,
    METRICS_SQL,
    app_metrics_view,
    events_view,
    metrics_view,
    series_dim,
)

NS = 10**9
T96 = parse_timestamp_ns("19960101T000000")
T97 = parse_timestamp_ns("19970101T000000")
E0 = parse_timestamp_ns("20240101T000000")
E1 = parse_timestamp_ns("20240201T000000")
WEEK = 7 * 86400 * NS
MONTH30 = 30 * 86400 * NS

TAGSTR = "'linestatus=' || tag_linestatus || ' returnflag=' || tag_returnflag"
W = "OVER (PARTITION BY series ORDER BY ts_ns)"

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

REGISTRY: dict[str, QuerySpec] = {}


# Canonical rounding: floor(x·10⁴ + 0.5)/10⁴, the SAME IEEE formula on both
# engines.  Native ROUND()s disagree near boundaries (Spark = BigDecimal
# HALF_UP on the decimal expansion, DuckDB = FP-based), which flips the last
# digit for values parked on a boundary by FP summation noise.  A shared
# formula evaluated in double arithmetic is bit-identical by construction.
# The tie-break threshold is shifted by 1e-3/pi: data values are short
# terminating decimals (money, quantities, exact-rational means), so none
# can land within FP-summation noise of the shifted boundary — which kills
# the remaining class of noise-decided rounding flips (e.g. sum/2^k means
# that sit exactly on .00005).
# Values ≥ 1e12 (timestamps-as-doubles) pass through: they are exact copies
# of the same integers on both sides and floor(x·1e4) would overflow.


def _canon_round_expr(col: str) -> str:
    c = f"`{col}`"
    return (
        f"CASE WHEN isnan({c}) THEN {c} "
        f"WHEN abs({c}) < 1e12 THEN floor({c} * 10000.0 + 0.50031830988618379) / 10000.0 "
        f"ELSE {c} END"
    )


def _round_doubles(df: DataFrame) -> DataFrame:
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DoubleType):
            cols.append(F.expr(_canon_round_expr(f.name)).alias(f.name))
        else:
            cols.append(F.col(f"`{f.name}`"))
    return df.select(*cols)


def _sql_canon_round(col: str) -> str:
    c = f'"{col}"'
    return (
        f"CASE WHEN isnan({c}) THEN {c} "
        f"WHEN abs({c}) < 1e12 THEN floor({c} * 10000.0 + 0.50031830988618379) / 10000.0 "
        f"ELSE {c} END AS {c}"
    )


def _wrap_round(inner_sql: str, double_cols: list[str], other_cols: list[str]) -> str:
    sel = ", ".join(
        [f'"{c}"' for c in other_cols] + [_sql_canon_round(c) for c in double_cols]
    )
    return f"SELECT {sel} FROM (\n{inner_sql}\n) __r"


def _register(name: str, view: str, query_json: dict, oracle: str | None,
              double_cols: list[str] | None = None,
              other_cols: list[str] | None = None,
              exec_kwargs: dict | None = None) -> None:
    kw = exec_kwargs or {}

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # Parse once and hand the view the query's time range so the scan
        # is opened at [lo, hi) on the RAW timestamp column — that is what
        # makes the range reach PushedFilters (row-group skipping); the
        # engine's exact ts_ns filter still runs above it.
        q = parse_query(query_json)
        rng = (q.range.lo_ns, q.range.hi_ns)
        if view == "metrics":
            frame = metrics_view(spark, sf_dir, ns_range=rng)
            df = execute_query(spark, q, frame, **kw)
        elif view == "app_metrics":
            frame = app_metrics_view(spark, sf_dir, ns_range=rng)
            df = execute_query(spark, q, frame, **kw)
        elif view == "events":
            frame = events_view(spark, sf_dir, ns_range=rng)
            df = execute_query(spark, q, metrics=None, events=frame, **kw)
        else:  # pragma: no cover
            raise ValueError(view)
        return _round_doubles(df)

    if oracle is not None:
        oracle = _wrap_round(
            oracle,
            double_cols if double_cols is not None else ["value"],
            other_cols if other_cols is not None else ["series", "ts_ns"],
        )
    REGISTRY[name] = (run, oracle)


# ---------------------------------------------------------------------------
# select family
# ---------------------------------------------------------------------------

_register(
    "select_fwd",
    "metrics",
    {
        "select": "lineitem.price",
        "range": {"from": T96, "to": T97},
        "where": {"returnflag": ["A", "R"]},
    },
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {T96} AND ts_ns < {T97}
      AND tag_returnflag IN ('A', 'R')""",
)

_register(
    "select_bwd",
    "metrics",
    {"select": "lineitem.qty", "range": {"from": T97, "to": T96}},
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.qty' AND ts_ns <= {T97} AND ts_ns > {T96}""",
)

_register(
    "select_value_filter",
    "metrics",
    {
        "select": "lineitem.qty",
        "range": {"from": T96, "to": T97},
        "filter": {"gt": 10, "le": 40},
    },
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.qty' AND ts_ns >= {T96} AND ts_ns < {T97}
      AND value > 10 AND value <= 40""",
)

_register(
    "select_where_list_form",
    "metrics",
    {
        "select": "lineitem.disc",
        "range": {"from": T96, "to": T97},
        "where": [
            {"returnflag": "A", "linestatus": "F"},
            {"returnflag": "N", "linestatus": "O"},
        ],
    },
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.disc' AND ts_ns >= {T96} AND ts_ns < {T97}
      AND ((tag_returnflag = 'A' AND tag_linestatus = 'F')
        OR (tag_returnflag = 'N' AND tag_linestatus = 'O'))""",
)

_register(
    "select_limit_offset",
    "app_metrics",
    {
        "select": "app.click",
        "range": {"from": E0, "to": E1},
        "order-by": "time",
        "limit": 100,
        "offset": 10,
    },
    f"""WITH {APP_METRICS_SQL}
    SELECT series, ts_ns, value FROM app_metrics
    WHERE metric = 'app.click' AND ts_ns >= {E0} AND ts_ns < {E1}
    ORDER BY ts_ns, series LIMIT 100 OFFSET 10""",
)

_register(
    "select_group_by_tag",
    "metrics",
    {
        "select": "lineitem.price",
        "range": {"from": T96, "to": T97},
        "group-by-tag": ["linestatus"],
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price returnflag=' || tag_returnflag AS series, ts_ns, value
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {T96} AND ts_ns < {T97}""",
)

_register(
    "select_pivot_by_tag",
    "metrics",
    {
        "select": "lineitem.price",
        "range": {"from": T96, "to": T97},
        "pivot-by-tag": ["linestatus"],
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price linestatus=' || tag_linestatus AS series, ts_ns, value
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {T96} AND ts_ns < {T97}""",
)

# ---------------------------------------------------------------------------
# aggregate family
# ---------------------------------------------------------------------------

_AGG_ORACLE = {
    "count": "CAST(count(value) AS DOUBLE)",
    "sum": "sum(value)",
    "min": "min(value)",
    "max": "max(value)",
    "mean": "sum(value) / count(value)",
    "min_timestamp": "CAST((min(struct_pack(v := value, t := ts_ns))).t AS DOUBLE)",
    "max_timestamp": "CAST((max(struct_pack(v := value, t := ts_ns))).t AS DOUBLE)",
    "first": "(min(struct_pack(t := ts_ns, v := value))).v",
    "last": "(max(struct_pack(t := ts_ns, v := value))).v",
    "first_timestamp": "CAST(min(ts_ns) AS DOUBLE)",
    "last_timestamp": "CAST(max(ts_ns) AS DOUBLE)",
}

_funcs = list(_AGG_ORACLE)
_branches = "\nUNION ALL\n".join(
    f"SELECT 'lineitem.qty:{fn} ' || tagstr AS series, first_ts AS ts_ns, f_{i} AS value FROM g"
    for i, fn in enumerate(_funcs)
)
_register(
    "aggregate_all_funcs",
    "metrics",
    {"aggregate": {"lineitem.qty": _funcs}, "range": {"from": T96, "to": T97}},
    f"""WITH {METRICS_SQL},
    g AS (
      SELECT {TAGSTR} AS tagstr, min(ts_ns) AS first_ts,
             {", ".join(f"{_AGG_ORACLE[fn]} AS f_{i}" for i, fn in enumerate(_funcs))}
      FROM metrics
      WHERE metric = 'lineitem.qty' AND ts_ns >= {T96} AND ts_ns < {T97}
      GROUP BY 1
    )
    {_branches}""",
)

_register(
    "aggregate_group_by_tag",
    "metrics",
    {
        "aggregate": {"lineitem.price": "sum"},
        "range": {"from": T96, "to": T97},
        "group-by-tag": ["linestatus", "returnflag"],
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price:sum' AS series, min(ts_ns) AS ts_ns, sum(value) AS value
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {T96} AND ts_ns < {T97}""",
)

_T96_OFF = T96 + 3 * 86400 * NS
_register(
    "group_aggregate",
    "metrics",
    {
        "group-aggregate": {
            "metric": "lineitem.price",
            "step": "7d",
            "func": ["sum", "count", "mean"],
        },
        "range": {"from": _T96_OFF, "to": T97},
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price:sum|lineitem.price:count|lineitem.price:mean ' || {TAGSTR} AS series,
           min(ts_ns) AS ts_ns,
           sum(value) AS sum, CAST(count(value) AS DOUBLE) AS count, sum(value) / count(value) AS mean
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {_T96_OFF} AND ts_ns < {T97}
    GROUP BY 1, (ts_ns - {_T96_OFF}) // {WEEK}""",
    double_cols=["sum", "count", "mean"],
)

# Percentile funcs (engine extension, plan.percentile_fraction): exact
# per-bucket latency-style quantiles; DuckDB twin is quantile_cont (same
# linear interpolation at rank (n-1)·p).
_register(
    "group_aggregate_percentiles",
    "metrics",
    {
        "group-aggregate": {
            "metric": "lineitem.price",
            "step": "7d",
            "func": ["p50", "p90", "p99"],
        },
        "range": {"from": _T96_OFF, "to": T97},
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price:p50|lineitem.price:p90|lineitem.price:p99 ' || {TAGSTR} AS series,
           min(ts_ns) AS ts_ns,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.9) AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {_T96_OFF} AND ts_ns < {T97}
    GROUP BY 1, (ts_ns - {_T96_OFF}) // {WEEK}""",
    double_cols=["p50", "p90", "p99"],
)

_register(
    "group_aggregate_bwd",
    "metrics",
    {
        "group-aggregate": {"metric": "lineitem.qty", "step": "30d", "func": "max"},
        "range": {"from": T97, "to": T96},
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.qty:max ' || {TAGSTR} AS series,
           min(ts_ns) AS ts_ns,
           max(value) AS max
    FROM metrics
    WHERE metric = 'lineitem.qty' AND ts_ns <= {T97} AND ts_ns > {T96}
    GROUP BY 1, ({T97} - ts_ns) // {MONTH30}""",
    double_cols=["max"],
)

# group-aggregate × group-by-tag: the FanInAggregateOperator analogue
# (/root/reference/libakumuli/storage_engine/operators/aggregate.h:47-70) —
# series that differ only in the grouped-away tag fan into one bucketed
# aggregate stream.  group-by-tag is applied in the shared base scan
# (engine.py:135), so the bucket groups by the MERGED tagset.
_register(
    "group_aggregate_group_by_tag",
    "metrics",
    {
        "group-aggregate": {
            "metric": "lineitem.qty",
            "step": "7d",
            "func": ["sum", "count"],
        },
        "range": {"from": T96, "to": T97},
        "group-by-tag": ["returnflag"],
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.qty:sum|lineitem.qty:count linestatus=' || tag_linestatus AS series,
           min(ts_ns) AS ts_ns,
           sum(value) AS sum, CAST(count(value) AS DOUBLE) AS count
    FROM metrics
    WHERE metric = 'lineitem.qty' AND ts_ns >= {T96} AND ts_ns < {T97}
    GROUP BY 1, (ts_ns - {T96}) // {WEEK}""",
    double_cols=["sum", "count"],
)

_register(
    "group_aggregate_having",
    "metrics",
    {
        "group-aggregate": {
            "metric": "lineitem.qty",
            "step": "7d",
            "func": ["min", "max"],
        },
        "range": {"from": T96, "to": T97},
        "filter": {"max": {"gt": 45}},
    },
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.qty:min|lineitem.qty:max ' || {TAGSTR} AS series,
           min(ts_ns) AS ts_ns,
           min(value) AS min, max(value) AS max
    FROM metrics
    WHERE metric = 'lineitem.qty' AND ts_ns >= {T96} AND ts_ns < {T97}
    GROUP BY 1, (ts_ns - {T96}) // {WEEK}
    HAVING max(value) > 45""",
    double_cols=["min", "max"],
)

# ---------------------------------------------------------------------------
# join family
# ---------------------------------------------------------------------------

_JOIN3 = ["lineitem.price", "lineitem.qty", "lineitem.disc"]

_register(
    "join_metrics",
    "metrics",
    {"join": _JOIN3, "range": {"from": T96, "to": T97}},
    f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price|lineitem.qty|lineitem.disc ' || {TAGSTR} AS series, ts_ns,
      sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS "lineitem.price",
      sum(CASE WHEN metric = 'lineitem.qty'  THEN value END) AS "lineitem.qty",
      sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS "lineitem.disc"
    FROM metrics
    WHERE ts_ns >= {T96} AND ts_ns < {T97}
    GROUP BY 1, 2""",
    double_cols=_JOIN3,
)

_register(
    "join_filter_any",
    "metrics",
    {
        "join": ["lineitem.price", "lineitem.qty"],
        "range": {"from": T96, "to": T97},
        "filter": {
            "lineitem.price": {"gt": 30000},
            "lineitem.qty": {"lt": 5},
            "=": {"require": "any"},
        },
    },
    f"""WITH {METRICS_SQL},
    filtered AS (
      SELECT * FROM metrics
      WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND ((metric = 'lineitem.price' AND value > 30000)
          OR (metric = 'lineitem.qty' AND value < 5))
    ),
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS "lineitem.price",
        sum(CASE WHEN metric = 'lineitem.qty' THEN value END) AS "lineitem.qty"
      FROM filtered GROUP BY 1, 2
    )
    SELECT 'lineitem.price|lineitem.qty ' || tagstr AS series, ts_ns,
           "lineitem.price", "lineitem.qty"
    FROM p
    WHERE "lineitem.price" IS NOT NULL OR "lineitem.qty" IS NOT NULL""",
    double_cols=["lineitem.price", "lineitem.qty"],
)

_register(
    "group_aggregate_join",
    "metrics",
    {
        "group-aggregate-join": {
            "metric": ["lineitem.price", "lineitem.qty"],
            "step": "30d",
            "func": "mean",
        },
        "range": {"from": T96, "to": T97},
    },
    f"""WITH {METRICS_SQL},
    b AS (
      SELECT metric, {TAGSTR} AS tagstr,
             min(ts_ns) AS ts_ns,
             sum(value) / count(value) AS v
      FROM metrics
      WHERE metric IN ('lineitem.price', 'lineitem.qty')
        AND ts_ns >= {T96} AND ts_ns < {T97}
      GROUP BY 1, 2, (ts_ns - {T96}) // {MONTH30}
    )
    SELECT 'lineitem.price|lineitem.qty ' || tagstr AS series, ts_ns,
      sum(CASE WHEN metric = 'lineitem.price' THEN v END) AS "lineitem.price",
      sum(CASE WHEN metric = 'lineitem.qty'  THEN v END) AS "lineitem.qty"
    FROM b GROUP BY 1, 2""",
    double_cols=["lineitem.price", "lineitem.qty"],
)

# backward group-aggregate-join: buckets anchor at `to` and grow toward
# `from` (semi-open (from, to]), mirroring group_aggregate_bwd — closes
# the last un-oracled §2 kind×direction combination
_register(
    "group_aggregate_join_bwd",
    "metrics",
    {
        "group-aggregate-join": {
            "metric": ["lineitem.price", "lineitem.qty"],
            "step": "30d",
            "func": "max",
        },
        "range": {"from": T97, "to": T96},
    },
    f"""WITH {METRICS_SQL},
    b AS (
      SELECT metric, {TAGSTR} AS tagstr,
             min(ts_ns) AS ts_ns,
             max(value) AS v
      FROM metrics
      WHERE metric IN ('lineitem.price', 'lineitem.qty')
        AND ts_ns <= {T97} AND ts_ns > {T96}
      GROUP BY 1, 2, ({T97} - ts_ns) // {MONTH30}
    )
    SELECT 'lineitem.price|lineitem.qty ' || tagstr AS series, ts_ns,
      sum(CASE WHEN metric = 'lineitem.price' THEN v END) AS "lineitem.price",
      sum(CASE WHEN metric = 'lineitem.qty'  THEN v END) AS "lineitem.qty"
    FROM b GROUP BY 1, 2""",
    double_cols=["lineitem.price", "lineitem.qty"],
)

# ---------------------------------------------------------------------------
# events
# ---------------------------------------------------------------------------

_register(
    "select_events_regex",
    "events",
    {
        "select-events": "!error",
        "range": {"from": E0, "to": E1},
        "filter": '"k": 8[0-9]',
    },
    f"""WITH {EVENTS_SQL}
    SELECT series, ts_ns, body FROM evt
    WHERE metric = '!error' AND ts_ns >= {E0} AND ts_ns < {E1}
      AND regexp_matches(body, '"k": 8[0-9]')""",
    double_cols=[],
    other_cols=["series", "ts_ns", "body"],
)

_register(
    "select_events_where_tag",
    "events",
    {
        "select-events": "!view",
        "range": {"from": E0, "to": E1},
        "where": {"user": ["2", "5"]},
    },
    f"""WITH {EVENTS_SQL}
    SELECT series, ts_ns, body FROM evt
    WHERE metric = '!view' AND ts_ns >= {E0} AND ts_ns < {E1}
      AND tag_user IN ('2', '5')""",
    double_cols=[],
    other_cols=["series", "ts_ns", "body"],
)

_register(
    "select_events_bwd",
    "events",
    {
        "select-events": "!purchase",
        "range": {"from": E1, "to": E0},
        "where": {"user": ["0", "4", "7"]},
    },
    f"""WITH {EVENTS_SQL}
    SELECT series, ts_ns, body FROM evt
    WHERE metric = '!purchase' AND ts_ns <= {E1} AND ts_ns > {E0}
      AND tag_user IN ('0', '4', '7')""",
    double_cols=[],
    other_cols=["series", "ts_ns", "body"],
)

# ---------------------------------------------------------------------------
# apply pipeline
# ---------------------------------------------------------------------------


def _app_base(metric: str, backward: bool = False) -> str:
    if backward:
        rng = f"ts_ns <= {E1} AND ts_ns > {E0}"
    else:
        rng = f"ts_ns >= {E0} AND ts_ns < {E1}"
    return (
        f"SELECT series, ts_ns, value FROM app_metrics "
        f"WHERE metric = '{metric}' AND {rng}"
    )


_register(
    "apply_rate",
    "app_metrics",
    {"select": "app.click", "range": {"from": E0, "to": E1},
     "apply": [{"name": "rate"}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.click')})
    SELECT series, ts_ns,
           (value - lag(value, 1, 0.0) {W}) / (ts_ns - lag(ts_ns, 1, 0) {W}) * 1e9 AS value
    FROM base""",
)

_register(
    "apply_rate_bwd",
    "app_metrics",
    {"select": "app.click", "range": {"from": E1, "to": E0},
     "apply": [{"name": "rate"}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.click', backward=True)})
    SELECT series, ts_ns,
           (value - lag(value, 1, 0.0) OVER (PARTITION BY series ORDER BY ts_ns DESC))
           / (ts_ns - lag(ts_ns, 1, 0) OVER (PARTITION BY series ORDER BY ts_ns DESC)) * 1e9 AS value
    FROM base""",
)

# counter-rate (engine extension): reset-aware rate — a decrease is a
# counter restart and the delta is the post-reset value (Prometheus rate
# rule).  app.click values are non-monotone, so the reset branch fires on
# most adjacent pairs — maximally discriminative vs plain rate.
_register(
    "apply_counter_rate",
    "app_metrics",
    {"select": "app.click", "range": {"from": E0, "to": E1},
     "apply": [{"name": "counter-rate"}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.click')})
    SELECT series, ts_ns,
           (CASE WHEN value >= lag(value, 1, 0.0) {W}
                 THEN value - lag(value, 1, 0.0) {W}
                 ELSE value END)
           / (ts_ns - lag(ts_ns, 1, 0) {W}) * 1e9 AS value
    FROM base""",
)

_register(
    "apply_cusum",
    "app_metrics",
    {"select": "app.view", "range": {"from": E0, "to": E1},
     "apply": [{"name": "cusum"}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.view')})
    SELECT series, ts_ns,
           sum(value) OVER (PARTITION BY series ORDER BY ts_ns
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
    FROM base""",
)

# sma/ewma/sax require REGULLAR (group-aggregate) input in the reference
# (AKU_EREGULLAR_EXPECTED, sliding_window.cpp:76,170 / sax.cpp:53), so the
# conformant entries run over a bucketed mean series; *_raw variants keep
# the engine's documented allow_irregular extension oracle-gated too.
_STEP6H = 6 * 3600 * NS


def _gb_mean_base(metric: str, step_ns: int = _STEP6H) -> str:
    """Bucketed per-series mean, shaped exactly like the engine's
    group-aggregate output: series ``metric:mean user=U``, ts = first
    sample's timestamp in the bin, value = sum/count mean."""
    return f"""SELECT '{metric}:mean user=' || tag_user AS series,
             min(ts_ns) AS ts_ns, sum(value) / count(value) AS value
      FROM app_metrics
      WHERE metric = '{metric}' AND ts_ns >= {E0} AND ts_ns < {E1}
      GROUP BY tag_user, (ts_ns - {E0}) // {step_ns}"""


_register(
    "apply_sma",
    "app_metrics",
    {"group-aggregate": {"metric": "app.click", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1},
     "apply": [{"name": "sma", "window-width": 4}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_gb_mean_base('app.click')})
    SELECT series, ts_ns,
           coalesce(sum(value) OVER (PARTITION BY series ORDER BY ts_ns
                    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 0.0) / 4 AS mean
    FROM base""",
    double_cols=["mean"],
    other_cols=["series", "ts_ns"],
)

# cma demo runs on lineitem.qty: integer-valued, so the RANGE-frame running
# sums are exact in both engines and sum/count is bit-identical (2-decimal
# money values would park some quotients exactly on a rounding boundary,
# where cross-engine FP association noise flips the rounded digit).
_register(
    "apply_cma",
    "metrics",
    {"select": "lineitem.qty", "range": {"from": T96, "to": T97},
     "apply": [{"name": "cma"}]},
    f"""WITH {METRICS_SQL},
    base AS (SELECT series, ts_ns, value FROM metrics
             WHERE metric = 'lineitem.qty' AND ts_ns >= {T96} AND ts_ns < {T97})
    SELECT series, ts_ns,
           sum(value) {W} / count(value) {W} AS value
    FROM base""",
)

# EWMA: the warm-up recursion (sliding_window.cpp:15-51) is replayed in
# DuckDB as a per-series recursive CTE executing the SAME sequence of
# float ops as the engine's applyInPandas loop (v = x·d + v·(1−d), seed
# by 11-point running sum), so results are bit-identical by construction.
# warm = rn−1: rows 1..11 emit the raw value; row 11 collapses the state
# to the 11-point mean then EWMA-updates it.
def _ewma_rec_sql(base_sql: str, decay: float, delta: bool = False,
                  vcol: str = "value") -> str:
    out = "value - out" if delta else "out"
    return f"""WITH RECURSIVE {APP_METRICS_SQL},
    src AS ({base_sql}),
    base AS (
      SELECT series, ts_ns, value,
             CAST(row_number() OVER (PARTITION BY series ORDER BY ts_ns) AS BIGINT) AS rn
      FROM src
    ),
    rec AS (
      SELECT series, ts_ns, rn, value, value AS out, value AS state
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.series, b.ts_ns, b.rn, b.value,
             CASE WHEN b.rn <= 11 THEN b.value ELSE r.state END,
             CASE WHEN b.rn < 11 THEN r.state + b.value
                  WHEN b.rn = 11 THEN b.value * {decay} + ((r.state + b.value) / 11.0) * (1.0 - {decay})
                  ELSE b.value * {decay} + r.state * (1.0 - {decay}) END
      FROM rec r JOIN base b ON b.series = r.series AND b.rn = r.rn + 1
    )
    SELECT series, ts_ns, {out} AS {vcol} FROM rec"""


_register(
    "apply_ewma",
    "app_metrics",
    {"group-aggregate": {"metric": "app.error", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1},
     "apply": [{"name": "ewma", "decay": 0.3}]},
    _ewma_rec_sql(_gb_mean_base("app.error"), 0.3, vcol="mean"),
    double_cols=["mean"],
    other_cols=["series", "ts_ns"],
)

# chain: group-aggregate → HAVING → ewma (the HAVING filter drops
# buckets BEFORE the apply stage, so the EWMA recursion only sees
# surviving rows — queryparser.cpp applies filters inside the scan)
_register(
    "apply_chain_ga_having_ewma",
    "app_metrics",
    {"group-aggregate": {"metric": "app.error", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1},
     "filter": {"mean": {"gt": 40}},
     "apply": [{"name": "ewma", "decay": 0.5}]},
    _ewma_rec_sql(
        _gb_mean_base("app.error") + "\n      HAVING sum(value) / count(value) > 40",
        0.5, vcol="mean",
    ),
    double_cols=["mean"],
    other_cols=["series", "ts_ns"],
)

_register(
    "apply_ewma_error",
    "app_metrics",
    {"group-aggregate": {"metric": "app.view", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1},
     "apply": [{"name": "ewma-error", "decay": 0.8}]},
    _ewma_rec_sql(_gb_mean_base("app.view"), 0.8, delta=True, vcol="mean"),
    double_cols=["mean"],
    other_cols=["series", "ts_ns"],
)

# engine extension: the same recursion over raw (irregular) series — the
# reference rejects this with AKU_EREGULLAR_EXPECTED; here it is opt-in
# via allow_irregular and still driver-proven against the oracle.
_register(
    "apply_ewma_raw",
    "app_metrics",
    {"select": "app.error", "range": {"from": E0, "to": E1},
     "apply": [{"name": "ewma", "decay": 0.3}]},
    _ewma_rec_sql(_app_base("app.error"), 0.3),
    exec_kwargs={"allow_irregular": True},
)

_register(
    "apply_top",
    "app_metrics",
    {"select": "app.purchase", "range": {"from": E0, "to": E1},
     "apply": [{"name": "top", "N": 3}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.purchase')}),
    c AS (SELECT series, ts_ns, (lead(ts_ns) {W} - ts_ns) / 1e9 * value AS contrib
          FROM base)
    SELECT series, max(ts_ns) AS ts_ns, sum(contrib) AS value
    FROM c GROUP BY series
    ORDER BY value DESC, series LIMIT 3""",
)

_register(
    "apply_heavy_hitters",
    "app_metrics",
    {"select": "app.purchase", "range": {"from": E0, "to": E1},
     "apply": [{"name": "heavy-hitters", "error": 0.01, "portion": 0.12}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.purchase')}),
    g AS (SELECT series, max(ts_ns) AS ts_ns, sum(value) AS value FROM base GROUP BY series)
    SELECT series, ts_ns, value FROM g
    WHERE value > 0.12 * (SELECT sum(value) FROM g)""",
)

_register(
    "apply_frequent_items",
    "app_metrics",
    {"select": "app.signup", "range": {"from": E0, "to": E1},
     "apply": [{"name": "frequent-items", "error": 0.01, "portion": 0.13}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_app_base('app.signup')}),
    g AS (SELECT series, max(ts_ns) AS ts_ns, CAST(count(*) AS DOUBLE) AS value
          FROM base GROUP BY series)
    SELECT series, ts_ns, value FROM g
    WHERE value > 0.13 * (SELECT sum(value) FROM g)""",
)

# ε-bounded SpaceSaving sketch mode (approx: true) — the reference's actual
# algorithm (spacesaver.h:12-190): M = ceil(1/error) counters, evict-min
# with error inheritance, report count − error > portion·N.  Distributed as
# chunked mergeable summaries (apply.py:_spacesaver_sketch).  The oracle
# replays the identical fold as a recursive CTE: per-chunk parallel streams
# (one row per chunk per level) carrying the counter table as a LIST of
# STRUCT(cnt, series, err, ts) — list_sort's struct ordering (cnt first,
# then series) IS the deterministic evict-min tie-break — then the same
# commutative merge.  Both sides add the same IEEE doubles in the same
# (ts, series) order, so values agree bit-for-bit before canon rounding.
# error=0.15 → M=7 < the metric's 8 series, so evictions genuinely happen
# and the reported counts are sketch overestimates, not exact counts.


def _spacesaver_sketch_sql(metric: str, M: int, portion: float, k: int,
                           weighted: bool) -> str:
    step = -(-(E1 - E0) // k)
    w = "value" if weighted else "CAST(1.0 AS DOUBLE)"
    guard = " AND value IS NOT NULL AND NOT isnan(value)" if weighted else ""
    return f"""WITH RECURSIVE {APP_METRICS_SQL},
    base AS MATERIALIZED (
      SELECT series, ts_ns, CAST({w} AS DOUBLE) AS w,
             CAST(floor((ts_ns - {E0}) / {step}) AS BIGINT) AS chunk,
             CAST(row_number() OVER (
               PARTITION BY CAST(floor((ts_ns - {E0}) / {step}) AS BIGINT)
               ORDER BY ts_ns, series) AS BIGINT) AS rn
      FROM app_metrics
      WHERE metric = '{metric}' AND ts_ns >= {E0} AND ts_ns < {E1}{guard}
    ),
    rec AS (
      SELECT chunk, CAST(0 AS BIGINT) AS rn,
             CAST([] AS STRUCT(cnt DOUBLE, series VARCHAR, err DOUBLE, ts BIGINT)[]) AS state,
             CAST(0.0 AS DOUBLE) AS n
      FROM (SELECT DISTINCT chunk FROM base)
      UNION ALL
      SELECT b.chunk, b.rn,
        CASE
          WHEN len(list_filter(r.state, x -> x.series = b.series)) > 0 THEN
            list_transform(r.state, x -> CASE WHEN x.series = b.series
              THEN {{'cnt': x.cnt + b.w, 'series': x.series, 'err': x.err, 'ts': x.ts}}
              ELSE x END)
          WHEN len(r.state) < {M} THEN
            list_append(r.state,
              {{'cnt': b.w, 'series': b.series, 'err': CAST(0.0 AS DOUBLE), 'ts': b.ts_ns}})
          ELSE
            list_append(
              list_filter(r.state, x -> x.series != list_sort(r.state)[1].series),
              {{'cnt': b.w + list_sort(r.state)[1].cnt, 'series': b.series,
                'err': list_sort(r.state)[1].cnt, 'ts': b.ts_ns}})
        END AS state,
        r.n + b.w AS n
      FROM rec r JOIN base b ON b.chunk = r.chunk AND b.rn = r.rn + 1
    ),
    fin AS (
      SELECT chunk, state, n FROM rec
      QUALIFY rn = max(rn) OVER (PARTITION BY chunk)
    ),
    chunkstats AS (
      SELECT chunk, n,
             CASE WHEN len(state) >= {M}
                  THEN list_aggregate(list_transform(state, x -> x.cnt), 'min')
                  ELSE CAST(0.0 AS DOUBLE) END AS cmin,
             state
      FROM fin
    ),
    cstruct AS (SELECT chunk, cmin, unnest(state) AS x FROM chunkstats),
    cflat AS (
      SELECT chunk, cmin, x.series AS series, x.cnt AS cnt, x.err AS err,
             x.ts AS ts
      FROM cstruct
    ),
    totals AS (SELECT sum(n) AS N, sum(cmin) AS minsum FROM chunkstats),
    merged AS (
      SELECT series, sum(cnt) AS cnt_p, sum(err) AS err_p,
             sum(cmin) AS min_p, arg_min(ts, chunk) AS ts_ns
      FROM cflat GROUP BY series
    )
    SELECT m.series, m.ts_ns, m.cnt_p + (t.minsum - m.min_p) AS value
    FROM merged m, totals t
    WHERE m.cnt_p - m.err_p > t.N * {portion}"""


_register(
    "apply_frequent_items_sketch",
    "app_metrics",
    {"select": "app.signup", "range": {"from": E0, "to": E1},
     "apply": [{"name": "frequent-items", "error": 0.15, "portion": 0.03,
                "approx": True, "merge-chunks": 4}]},
    _spacesaver_sketch_sql("app.signup", 7, 0.03, 4, weighted=False),
)

_register(
    "apply_heavy_hitters_sketch",
    "app_metrics",
    {"select": "app.purchase", "range": {"from": E0, "to": E1},
     "apply": [{"name": "heavy-hitters", "error": 0.15, "portion": 0.03,
                "approx": True, "merge-chunks": 4}]},
    _spacesaver_sketch_sql("app.purchase", 7, 0.03, 4, weighted=True),
)

_register(
    "apply_eval_revenue",
    "metrics",
    {
        "join": ["lineitem.price", "lineitem.disc"],
        "range": {"from": T96, "to": T97},
        "apply": [{"name": "eval", "expr": "lineitem.price * (1 - lineitem.disc)"}],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND metric IN ('lineitem.price', 'lineitem.disc')
      GROUP BY 1, 2
    )
    SELECT 'lineitem.price|lineitem.disc ' || tagstr AS series, ts_ns,
           price * (1 - disc) AS value
    FROM p""",
)

_register(
    "apply_scale_sum_abs",
    "metrics",
    {
        "join": ["lineitem.qty", "lineitem.disc"],
        "range": {"from": T96, "to": T97},
        "apply": [
            {"name": "scale", "weights": [2.0, 100.0]},
            {"name": "sum"},
            {"name": "abs"},
        ],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.qty' THEN value END) AS qty,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND metric IN ('lineitem.qty', 'lineitem.disc')
      GROUP BY 1, 2
    )
    SELECT 'lineitem.qty|lineitem.disc ' || tagstr AS series, ts_ns,
           abs(qty * 2.0 + disc * 100.0) AS value
    FROM p""",
)

# ---------------------------------------------------------------------------
# metadata queries (search / suggest)
# ---------------------------------------------------------------------------

_DIM_SQL = f"""{APP_METRICS_SQL},
dim AS (SELECT DISTINCT series, metric, tag_user FROM app_metrics)"""


def _register_meta(name: str, fn: Callable, oracle: str) -> None:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        dim = series_dim(app_metrics_view(spark, sf_dir))
        return fn(dim)

    REGISTRY[name] = (run, oracle)


_register_meta(
    "search_series",
    lambda dim: search(dim, {"select": "app.click", "where": {"user": ["1", "3"]}}),
    f"""WITH {_DIM_SQL}
    SELECT series AS name FROM dim
    WHERE metric = 'app.click' AND tag_user IN ('1', '3')""",
)

_register_meta(
    "suggest_metric_names",
    lambda dim: suggest(dim, {"select": "metric-names", "starts-with": "app.c"}),
    f"""WITH {_DIM_SQL}
    SELECT DISTINCT metric AS name FROM dim WHERE metric LIKE 'app.c%'""",
)

_register_meta(
    "suggest_tag_values",
    lambda dim: suggest(
        dim, {"select": "tag-values", "metric": "app.view", "tag": "user"}
    ),
    f"""WITH {_DIM_SQL}
    SELECT DISTINCT tag_user AS name FROM dim WHERE metric = 'app.view'""",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec[0] for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec[1] for name, spec in REGISTRY.items() if spec[1] is not None}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: discounted-revenue eval over a 2-metric join — exercises
    scan, pivot-join, and the apply pipeline in one plan."""
    return REGISTRY["apply_eval_revenue"][0](spark, sf_dir)


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings tables)
# ---------------------------------------------------------------------------

from akumuli_spark.pipeline import dedup as _dedup  # noqa: E402
from akumuli_spark.pipeline import multimodal as _mm  # noqa: E402
from akumuli_spark.pipeline import similarity as _sim  # noqa: E402
from akumuli_spark.pipeline import text as _text  # noqa: E402
from akumuli_spark.sources.testdata import load_table  # noqa: E402


def _register_pipeline(name: str, build, oracle: str | None,
                       double_cols: list[str], other_cols: list[str]) -> None:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _round_doubles(build(spark, sf_dir))

    if oracle is not None:
        oracle = _wrap_round(oracle, double_cols, other_cols)
    REGISTRY[name] = (run, oracle)


_register_pipeline(
    "dedup_exact",
    lambda spark, sf: _dedup.exact_duplicates(load_table(spark, sf, "documents")),
    _dedup.EXACT_SQL,
    [],
    ["fingerprint", "keep_id", "n_copies"],
)

# Scale default: the max_df skew guard is ON (shingles with df > 64 are
# boilerplate whose candidate fan-out is df² and whose signal is nil);
# the oracle applies the same cap, so this is the audited semantics, not
# a silent approximation.
_register_pipeline(
    "dedup_ngram_jaccard",
    lambda spark, sf: _dedup.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), n=5, threshold=0.5, max_df=64
    ),
    _dedup.ngram_jaccard_sql(5, 0.5, max_df=64),
    ["jaccard"],
    ["doc_a", "doc_b"],
)

_register_pipeline(
    "dedup_minhash_lsh",
    lambda spark, sf: _dedup.minhash_lsh_pairs(
        load_table(spark, sf, "documents"), n=5, threshold=0.5
    ),
    _dedup.minhash_lsh_sql(5, 0.5),
    ["jaccard"],
    ["doc_a", "doc_b"],
)

_register_pipeline(
    "dedup_simhash",
    lambda spark, sf: _dedup.simhash_pairs(
        load_table(spark, sf, "documents"), n=3, max_hamming=3
    ),
    _dedup.simhash_sql(3, 3),
    [],
    ["doc_a", "doc_b", "hamming"],
)

# Indexed (signatures=) production paths — the exact code path bench.py
# times from stored signature tables, oracle-gated here so the benchmarked
# branch isn't trusted on test_pipeline equivalence alone (ADVICE r4).
# Results are identical to the one-shot entries by construction (the
# signature table is a deterministic function of the text), so the oracle
# SQL is shared.  The signature frame is localCheckpoint'ed like a stored
# table (ADVICE r5): without it the chunk self-join recomputes the whole
# signature aggregation once per join side, which is neither the stored-
# table shape bench.py times nor the one-shot path's own behavior.
_register_pipeline(
    "dedup_minhash_lsh_indexed",
    lambda spark, sf: _dedup.minhash_lsh_pairs(
        load_table(spark, sf, "documents"), n=5, threshold=0.5,
        signatures=_dedup.minhash_signatures(
            load_table(spark, sf, "documents"), n=5
        ).localCheckpoint(eager=True),
    ),
    _dedup.minhash_lsh_sql(5, 0.5),
    ["jaccard"],
    ["doc_a", "doc_b"],
)


def _dedup_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Daily-ingest shape: docs with doc_id % 7 == 3 are 'today's batch',
    the rest the already-indexed corpus; the batch is deduped against the
    corpus's stored signatures without re-pairing the corpus.  Oracle:
    the full-corpus LSH twin restricted to pairs touching a batch id."""
    docs = load_table(spark, sf, "documents")
    batch = docs.filter(F.col("doc_id") % 7 == 3)
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    stored = _dedup.minhash_signatures(corpus, n=5)
    return _dedup.minhash_lsh_pairs_incremental(
        docs, stored, batch, n=5, threshold=0.5
    )


_register_pipeline(
    "dedup_minhash_incremental",
    _dedup_minhash_incremental,
    _dedup.minhash_lsh_incremental_sql("{id} % 7 = 3", 5, 0.5),
    ["jaccard"],
    ["doc_a", "doc_b"],
)


def _dedup_simhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Same daily-ingest split as dedup_minhash_incremental; simhash's
    verification is signature arithmetic, so the corpus text is never
    read — only its stored (id, simhash) rows."""
    docs = load_table(spark, sf, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 3)
    stored = _dedup.simhash_signatures(corpus, n=3)
    return _dedup.simhash_pairs_incremental(
        stored, docs.filter(F.col("doc_id") % 7 == 3), n=3, max_hamming=3
    )


_register_pipeline(
    "dedup_simhash_incremental",
    _dedup_simhash_incremental,
    _dedup.simhash_incremental_sql("{id} % 7 = 3", 3, 3),
    [],
    ["doc_a", "doc_b", "hamming"],
)


def _dedup_semantic_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Grow-and-reprune over the persisted IVF index: vectors with
    vec_id % 4 == 3 arrive as the batch; the index (frozen full-corpus
    codebook) is built on the rest, the batch is appended, and only the
    clusters that grew are re-pruned.  Oracle: full SemDeDup twin
    restricted to clusters containing a batch vector."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"akumuli_semdedup_inc_{os.getpid()}"
    )
    embs = load_table(spark, sf, "embeddings")
    cents = _sim._centroids(embs, 16)
    _sim.build_ivf_index(
        embs.filter(F.col("vec_id") % 4 != 3), path, centroids=cents
    )
    return _dedup.semantic_dedup_incremental(
        spark, path, embs.filter(F.col("vec_id") % 4 == 3), threshold=0.4
    )


_register_pipeline(
    "dedup_semantic_incremental",
    _dedup_semantic_incremental,
    _dedup.semantic_dedup_incremental_sql("vec_id % 4 = 3", 16, 0.4),
    [],
    ["vec_id", "cid", "pruned"],
)

_register_pipeline(
    "dedup_simhash_indexed",
    lambda spark, sf: _dedup.simhash_pairs(
        load_table(spark, sf, "documents"), n=3, max_hamming=3,
        signatures=_dedup.simhash_signatures(
            load_table(spark, sf, "documents"), n=3
        ).localCheckpoint(eager=True),
    ),
    _dedup.simhash_sql(3, 3),
    [],
    ["doc_a", "doc_b", "hamming"],
)

# High-recall SimHash preset (h ≤ 9 → 10 pigeonhole chunks, measured
# 0.988 recall vs Jaccard≥0.5 truth — the operating-point table in
# simhash_pairs' docstring): gates the radius-derived chunk count
# cross-engine, not just the default 4-chunk shape.
_register_pipeline(
    "dedup_simhash_h9",
    lambda spark, sf: _dedup.simhash_pairs(
        load_table(spark, sf, "documents"), n=3, max_hamming=9
    ),
    _dedup.simhash_sql(3, 9),
    [],
    ["doc_a", "doc_b", "hamming"],
)

_register_pipeline(
    "dedup_embedding_cosine",
    lambda spark, sf: _dedup.embedding_near_dup_pairs(
        load_table(spark, sf, "embeddings"), threshold=0.4
    ),
    _dedup.embedding_near_dup_sql(0.4),
    ["cosine"],
    ["id_a", "id_b"],
)

_ANN_QUERY_IDS = [0, 1, 2, 3, 4]

_register_pipeline(
    "ann_cosine_topk",
    lambda spark, sf: _sim.cosine_topk(
        load_table(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=10
    ),
    _sim.cosine_topk_sql(_ANN_QUERY_IDS, 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)

_register_pipeline(
    "ann_lsh_topk",
    lambda spark, sf: _sim.lsh_bucketed_topk(
        load_table(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=10
    ),
    _sim.lsh_bucketed_topk_sql(_ANN_QUERY_IDS, 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)

_register_pipeline(
    "ann_ivf_topk",
    lambda spark, sf: _sim.ivf_topk(
        load_table(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=10
    ),
    _sim.ivf_topk_sql(_ANN_QUERY_IDS, 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)


def _ann_ivf_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-serving shape: the query set is a DataFrame (every 50th
    corpus vector here — a stand-in for a second corpus), joined against
    the IVF lists on list_id instead of collected to a driver-side id
    list.  Cross-corpus retrieval is this exact plan with the queries
    loaded from another table."""
    embs = load_table(spark, sf, "embeddings")
    queries = embs.filter(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _sim.ivf_topk_batch(embs, queries, k=10)


_register_pipeline(
    "ann_ivf_batch",
    _ann_ivf_batch,
    _sim.ivf_topk_batch_sql("q.vec_id % 50 = 3", 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)


# One exact Lloyd iteration from the deterministic seed codebook — the
# oracle-auditable core of the IVF codebook build.
_register_pipeline(
    "kmeans_lloyd_step",
    lambda spark, sf: _sim.kmeans_lloyd_step(
        load_table(spark, sf, "embeddings"), nlist=16
    ),
    _sim.kmeans_lloyd_step_sql(nlist=16),
    ["mean"],
    ["cid", "dim", "n_assigned"],
)


_IVF_IDX_CACHE: dict[str, str] = {}


def _ivf_index_path(spark: SparkSession, sf: str, grow: bool) -> str:
    """Build-once-per-(process, corpus) IVF index dir — the same
    amortization contract as the bench's dedup signature index and the
    BM25 entries (ADVICE r9 #4): repeated invocations serve from the
    materialized index, so the timed rows measure the SERVING path; the
    one-time build/append costs surface separately as bench's
    ``ivf_index_build_s`` / ``ivf_append_s``.  ``grow=True`` is the
    growth layout: built over 3/4 of the corpus, the rest appended
    against the frozen full-corpus codebook (build+append ≡ fresh build
    on the union — the append equivalence contract)."""
    key = f"{'grow' if grow else 'full'}:{sf}"
    if key not in _IVF_IDX_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="akumuli_ivf_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        embs = load_table(spark, sf, "embeddings")
        if grow:
            cents = _sim._centroids(embs, _sim.IVF_NLIST)
            _sim.build_ivf_index(
                embs.filter(F.col("vec_id") % 4 != 3), path, centroids=cents
            )
            _sim.append_ivf_index(embs.filter(F.col("vec_id") % 4 == 3), path)
        else:
            _sim.build_ivf_index(embs, path)
        _IVF_IDX_CACHE[key] = path
    return _IVF_IDX_CACHE[key]


def _ann_ivf_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Serve from the persisted IVF index (partition-pruned probe) —
    the index is a pure materialization, so the oracle is unchanged."""
    path = _ivf_index_path(spark, sf, grow=False)
    return _sim.ivf_topk_from_index(spark, path, _ANN_QUERY_IDS, k=10)


_register_pipeline(
    "ann_ivf_indexed",
    _ann_ivf_indexed,
    _sim.ivf_topk_sql(_ANN_QUERY_IDS, 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)


def _ann_ivf_append(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-growth serving path: the index was built over 3/4 of
    the corpus and the remaining quarter appended against the frozen
    full-corpus codebook
    (:func:`akumuli_spark.pipeline.similarity.append_ivf_index`) — the
    production pattern (codebook frozen, corpus grows).  The oracle is
    the unchanged full-corpus ivf_topk twin: assignment is a pure
    function of (vector, codebook), so build+append ≡ fresh build on
    the union and every probe answers identically."""
    path = _ivf_index_path(spark, sf, grow=True)
    return _sim.ivf_topk_from_index(spark, path, _ANN_QUERY_IDS, k=10)


_register_pipeline(
    "ann_ivf_append",
    _ann_ivf_append,
    _sim.ivf_topk_sql(_ANN_QUERY_IDS, 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)


def _ann_ivf_retrain(spark: SparkSession, sf: str) -> DataFrame:
    """The drift-loop closer measured end to end: build over 3/4,
    append the rest, RETRAIN (re-assign every stored vector against a
    fresh deterministic codebook and atomically swap the index root —
    :func:`akumuli_spark.pipeline.similarity.retrain_ivf_index`), then
    serve.  The retrain's default codebook is ``_centroids`` over the
    stored corpus — the same seed a fresh full-corpus build derives —
    so the served answer equals the unchanged ivf_topk twin, and the
    stats baseline provably reset (drift reports None until the next
    append).  Mutates a per-run temp store, so NOT memoized (the
    dedup_semantic_incremental rule: reuse would re-swap a
    already-retrained index and time nothing)."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="akumuli_ivf_retrain_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    embs = load_table(spark, sf, "embeddings")
    cents = _sim._centroids(embs, _sim.IVF_NLIST)
    _sim.build_ivf_index(
        embs.filter(F.col("vec_id") % 4 != 3), path, centroids=cents
    )
    _sim.append_ivf_index(embs.filter(F.col("vec_id") % 4 == 3), path)
    _sim.retrain_ivf_index(spark, path)
    if _sim.ivf_drift(spark, path) is not None:  # baseline must reset
        raise AssertionError("retrain left a stale drift baseline")
    return _sim.ivf_topk_from_index(spark, path, _ANN_QUERY_IDS, k=10)


_register_pipeline(
    "ann_ivf_retrain",
    _ann_ivf_retrain,
    _sim.ivf_topk_sql(_ANN_QUERY_IDS, 10),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)


def _dedup_semantic_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup over the persisted IVF lists (per-run temp dir) —
    one stored index serving both ANN and dedup; the oracle is the
    direct semantic_dedup twin because the index build uses the same
    seed codebook (default nlist) and the index is a materialization."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"akumuli_semdedup_idx_{os.getpid()}"
    )
    _sim.build_ivf_index(
        load_table(spark, sf, "embeddings"), path, nlist=16
    )
    return _dedup.semantic_dedup_from_index(spark, path, threshold=0.4)


_register_pipeline(
    "dedup_semantic_indexed",
    _dedup_semantic_indexed,
    _dedup.semantic_dedup_sql(nlist=16, threshold=0.4),
    [],
    ["vec_id", "cid", "pruned"],
)

_register_pipeline(
    "text_langid",
    lambda spark, sf: _text.language_id(load_table(spark, sf, "documents")),
    _text.language_id_sql(),
    ["score"],
    ["doc_id", "pred_lang"],
)

# BPE first-merge pair statistics over the distinct-word table.
_register_pipeline(
    "bpe_pair_counts",
    lambda spark, sf: _text.bpe_pair_counts(load_table(spark, sf, "documents")),
    _text.bpe_pair_counts_sql(),
    [],
    ["left", "right", "count"],
)

# Iterated BPE merge training: 3 rounds of count-pairs → argmax →
# replace-based greedy merge apply; one driver row per round.
_register_pipeline(
    "bpe_train_merges",
    lambda spark, sf: _text.bpe_train(
        load_table(spark, sf, "documents"), n_merges=3
    ),
    _text.bpe_train_sql(3),
    [],
    ["step", "left", "right", "count"],
)

# Train-then-tokenize: the learned merges applied back to the corpus,
# per-doc post-merge symbol counts (the packing-budget token count).
_register_pipeline(
    "bpe_tokenize_counts",
    lambda spark, sf: _text.bpe_tokenize(
        load_table(spark, sf, "documents"), n_merges=3
    ),
    _text.bpe_tokenize_sql(3),
    [],
    ["doc_id", "n_words", "n_symbols"],
)

# CCNet-style bigram-LM perplexity (corpus-trained, add-1 smoothing).
_register_pipeline(
    "text_perplexity",
    lambda spark, sf: _text.perplexity_scores(load_table(spark, sf, "documents")),
    _text.perplexity_scores_sql(),
    ["avg_logp", "ppl"],
    ["doc_id", "n_bigrams"],
)

_register_pipeline(
    "text_quality",
    lambda spark, sf: _text.quality_score(load_table(spark, sf, "documents")),
    _text.quality_score_sql(),
    ["mean_word_len", "stop_ratio", "uniq_ratio", "quality"],
    ["doc_id", "n_words"],
)

_register_pipeline(
    "text_tokens",
    lambda spark, sf: _text.token_counts(load_table(spark, sf, "documents")),
    _text.token_counts_sql(),
    [],
    ["doc_id", "n_ws_tokens", "n_bpe_tokens", "n_chars_seen"],
)

_register_pipeline(
    "text_repetition",
    lambda spark, sf: _text.repetition_signals(load_table(spark, sf, "documents")),
    _text.repetition_signals_sql(),
    ["rep_2gram_frac", "rep_3gram_frac"],
    ["doc_id", "n_2grams", "n_3grams"],
)

_register_pipeline(
    "corpus_report",
    lambda spark, sf: _text.corpus_report(load_table(spark, sf, "documents")),
    _text.corpus_report_sql(),
    ["mean_quality"],
    ["pred_lang", "q_decile", "n_docs", "n_tokens"],
)

# fastText/CCNet-shape hashed linear classifier scoring (deterministic
# stand-in weights; production swaps a broadcast trained-weights table).
_register_pipeline(
    "text_classifier_score",
    lambda spark, sf: _text.classifier_score(load_table(spark, sf, "documents")),
    _text.classifier_score_sql(),
    ["logit", "prob"],
    ["doc_id", "n_tokens"],
)

# End-to-end curation slice: feature gate → exact dedup → deterministic
# sample composed into one plan (single scan + one fingerprint shuffle).
# The gates are real at these params: quality >= 0.3 drops the low tail,
# the language gate drops everything outside en/de, and the en sample
# halves the survivors.
_register_pipeline(
    "curate_corpus",
    lambda spark, sf: _text.curate_corpus(
        load_table(spark, sf, "documents"), min_quality=0.3,
        langs=("en", "de"), rates={"en": 0.5, "de": 1.0},
    ),
    _text.curate_corpus_sql(
        min_quality=0.3, langs=("en", "de"), rates={"en": 0.5, "de": 1.0}
    ),
    ["quality"],
    ["doc_id", "pred_lang", "n_tokens"],
)

_register_pipeline(
    "text_fingerprint",
    lambda spark, sf: _text.fingerprint_clusters(load_table(spark, sf, "documents")),
    _text.FINGERPRINT_SQL,
    [],
    ["fingerprint", "keep_id", "n_docs"],
)

_register_pipeline(
    "multimodal_decode",
    lambda spark, sf: _mm.decode_metadata(
        _mm.with_binary_payload(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_METADATA_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

# Real-kernel round trip: Spark synthesizes genuine BITMAPINFOHEADER BMP
# payloads with dims derived from length(text), decode_header must parse
# those dims back out of the bytes, and the oracle recomputes them
# arithmetically — a regression in the binary parser (offsets, endianness,
# signedness) breaks the value hash.
_register_pipeline(
    "multimodal_decode_bmp",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_bmp_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_BMP_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

# JPEG twin of the BMP round trip: genuine JFIF bytes (SOI → APP0 → DHT →
# SOF0 → body); the embedded DHT forces the SOFn marker walk to skip
# non-frame segments by length AND exclude 0xC4 from the frame-header set.
_register_pipeline(
    "multimodal_decode_jpeg",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_jpeg_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_JPEG_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

# PNG and WAV twins: every real header kernel (PNG/BMP/JPEG/WAV) now has
# an oracle round trip over genuine container bytes — big-endian IHDR
# with a true CRC32 for PNG, little-endian RIFF chunk walk for WAV.
_register_pipeline(
    "multimodal_decode_png",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_png_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_PNG_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

# Totality gate: NULL / empty / garbage / valid payloads mixed by
# doc_id % 4 — decode must emit a typed (possibly corrupt) row for every
# blob, never raise inside mapInPandas (a corrupt row is routine at 10⁹
# blobs; a stage-fatal decode is a job-killer).
_register_pipeline(
    "multimodal_decode_dirty",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_dirty_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_DIRTY_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

_register_pipeline(
    "multimodal_decode_wav",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_wav_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_WAV_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

# WebP (real RIFF/WEBP + VP8L header walk): dims and alpha from the
# packed 14-bit bit layout — web corpora are increasingly WebP, so the
# decode stage must report REAL metadata for them; pixel decode stays
# an honest fallback (VP8 entropy decode is a codec library's job),
# which the decode-report counters make visible rather than silent.
_register_pipeline(
    "multimodal_decode_webp",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_webp_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_WEBP_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

# GIF (real 87a/89a logical-screen walk + the r14 LZW pixel decoder):
# dims from the LSD over the pixel-corpus fixture; the file size is
# LZW-compressed (not SQL-computable), so the metadata oracle audits
# the arithmetic dims/channels/format columns.
_register_pipeline(
    "multimodal_decode_gif",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_gif_pixel_payloads(load_table(spark, sf, "documents"))
    ).select("doc_id", "width", "height", "channels", "format"),
    _mm.DECODE_GIF_SQL,
    [],
    ["doc_id", "width", "height", "channels", "format"],
)

# GIF arm of the payload dHash: real LZW decompress (code-width growth,
# KwKwK), corpus-wide interlace undo, palette map — audited by the SAME
# arithmetic twin as the other containers (identical _PX pixels ⇒
# identical oracle).  The r14 coverage win that flips GIF out of the
# decode report's fallback column.
_register_pipeline(
    "multimodal_image_dhash_payload_gif",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_gif_pixel_payloads(load_table(spark, sf, "documents")),
        pixel_source="payload",
    ),
    _mm.image_dhash_payload_sql(),
    [],
    ["doc_id", "dhash"],
)

# PNG variant shapes (r14): 8-bit PALETTE and Adam7-INTERLACED streams
# — per-pass independent filtering reconstructed and scattered — hash
# against the same arithmetic twin; both shapes are common in real
# crawls (indexed screenshots/logos, progressive-render PNGs).
_register_pipeline(
    "multimodal_image_dhash_payload_png_variants",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_png_variant_pixel_payloads(
            load_table(spark, sf, "documents")),
        pixel_source="payload",
    ),
    _mm.image_dhash_payload_sql(),
    [],
    ["doc_id", "dhash"],
)

# Video modality (real RIFF/AVI header walk): decode, declared-frame
# sampling onto the movi byte stream, and the shared 60-bit gradient
# fingerprint (near-dup pairs ride the same pigeonhole machinery as
# text/image/audio — pytest-pinned; the pair entry would be 0 rows on
# this corpus, so the gated surface here is the hash itself)
_register_pipeline(
    "multimodal_decode_avi",
    lambda spark, sf: _mm.decode_metadata(
        _mm.synth_avi_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.DECODE_AVI_SQL,
    [],
    ["doc_id", "n_bytes", "width", "height", "channels", "format"],
)

_register_pipeline(
    "multimodal_video_frame_sample",
    lambda spark, sf: _mm.sample_video_frames(
        _mm.synth_avi_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.sample_video_frames_sql(),
    ["frame_mean"],
    ["doc_id", "n_frames", "n_sampled"],
)

_register_pipeline(
    "multimodal_video_fingerprint",
    lambda spark, sf: _mm.video_fingerprint(
        _mm.synth_avi_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.video_fingerprint_sql(),
    [],
    ["doc_id", "vfp"],
)


# SAX symbolization: sliding-window z-norm + quantization + numerosity
# reduction has no SQL form — rows-only check (like apply_ewma).
# SAX (saxencoder.cpp:189-227): the per-series window walk is replayed in
# DuckDB with list windows + lambdas, mirroring the engine's float-op order
# exactly (explicit left-to-right sums, (n·Σx² − (Σx)²)/(n(n−1)) variance,
# 1e-10 z-norm threshold, numerosity reduction via lag).  Cutpoints are the
# same inverse-normal-CDF doubles the engine embeds.
_SAX_CUTS = (-0.6744897501960817, 0.0, 0.6744897501960817)


def _sax_sql(base_sql: str) -> str:
    z = "CASE WHEN std < 1e-10 THEN v - mean ELSE (v - mean) / std END"
    return f"""WITH {APP_METRICS_SQL},
    src AS ({base_sql}),
    base AS (SELECT series, ts_ns, value FROM src WHERE NOT isnan(value)),
    win AS (
      SELECT series, ts_ns,
             list(value) OVER (PARTITION BY series ORDER BY ts_ns
                               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS w
      FROM base
    ),
    stats AS (
      SELECT series, ts_ns, w,
             w[1] + w[2] + w[3] + w[4] + w[5] AS s,
             w[1]*w[1] + w[2]*w[2] + w[3]*w[3] + w[4]*w[4] + w[5]*w[5] AS sqr
      FROM win WHERE len(w) = 5
    ),
    norm AS (
      SELECT series, ts_ns, w, s / 5 AS mean,
             CASE WHEN (5 * sqr - s * s) / 20 > 0.0
                  THEN sqrt((5 * sqr - s * s) / 20) ELSE 0.0 END AS std
      FROM stats
    ),
    words AS (
      SELECT series, ts_ns,
             array_to_string(list_transform(w, v ->
               CASE WHEN ({z}) < {_SAX_CUTS[0]} THEN 'a'
                    WHEN ({z}) < {_SAX_CUTS[1]} THEN 'b'
                    WHEN ({z}) < {_SAX_CUTS[2]} THEN 'c'
                    ELSE 'd' END), '') AS sax
      FROM norm
    )
    SELECT series, ts_ns, sax FROM (
      SELECT series, ts_ns, sax,
             lag(sax) OVER (PARTITION BY series ORDER BY ts_ns) AS prev
      FROM words
    ) WHERE prev IS NULL OR prev <> sax"""


_register(
    "apply_sax",
    "app_metrics",
    {"group-aggregate": {"metric": "app.view", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1},
     "apply": [{"name": "sax", "alphabet_size": 4, "window_width": 5}]},
    _sax_sql(_gb_mean_base("app.view")),
    double_cols=[],
    other_cols=["series", "ts_ns", "sax"],
)

# engine extension: sax over raw series (reference: AKU_EREGULLAR_EXPECTED)
_register(
    "apply_sax_raw",
    "app_metrics",
    {"select": "app.view", "range": {"from": E0, "to": E1},
     "apply": [{"name": "sax", "alphabet_size": 4, "window_width": 5}]},
    _sax_sql(_app_base("app.view")),
    double_cols=[],
    other_cols=["series", "ts_ns", "sax"],
    exec_kwargs={"allow_irregular": True},
)


# Anomaly detection (forecast + threshold, anomalydetector.cpp:540-600).
# The query runs over join→eval output: lineitem timestamps are a shared
# day grid, so each frame holds all 6 tagset series and the cross-series
# F2 norm is meaningful (anomaly-detector has no REGULLAR gate in the
# reference — it is a dormant v1 node — so raw-chain input is valid).
# Oracle: the per-series EWMA forecast is a recursive CTE executing the
# same float ops as the engine, including the reference warm-up
# (EWMASlidingWindow, anomalydetector.cpp:332-368): the first 10 frames
# accumulate with NO forecast; the first forecast is their mean (·0.1);
# decay α·x + (1−α)·state thereafter.  F2 = Σ err² per frame; a row is
# anomalous iff |err| > θ·sqrt(F2).
_T96_120D = T96 + 120 * 86400 * NS

_register(
    "apply_anomaly_ewma",
    "metrics",
    {
        "join": ["lineitem.price", "lineitem.disc"],
        "range": {"from": T96, "to": _T96_120D},
        "apply": [
            {"name": "eval", "expr": "lineitem.price * (1 - lineitem.disc)"},
            {"name": "anomaly-detector", "method": "ewma",
             "alpha": 0.4, "threshold": 0.35},
        ],
    },
    f"""WITH RECURSIVE {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {_T96_120D}
        AND metric IN ('lineitem.price', 'lineitem.disc')
      GROUP BY 1, 2
    ),
    ev AS (
      SELECT 'lineitem.price|lineitem.disc ' || tagstr AS series, ts_ns,
             price * (1 - disc) AS value
      FROM p WHERE price IS NOT NULL AND disc IS NOT NULL
    ),
    base AS MATERIALIZED (
      SELECT series, ts_ns, value,
             CAST(row_number() OVER (PARTITION BY series ORDER BY ts_ns) AS BIGINT) AS rn
      FROM ev
    ),
    rec AS (
      SELECT series, ts_ns, rn, value, NULL::DOUBLE AS pred, value AS state
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.series, b.ts_ns, b.rn, b.value,
             CASE WHEN r.rn >= 10 THEN r.state END AS pred,
             CASE WHEN r.rn < 9 THEN r.state + b.value
                  WHEN r.rn = 9 THEN (r.state + b.value) * 0.1
                  ELSE 0.4 * b.value + (1.0 - 0.4) * r.state END AS state
      FROM rec r JOIN base b ON b.series = r.series AND b.rn = r.rn + 1
    ),
    -- warm-up rows (the first 10 frames) have no forecast: their error
    -- is NULL and is EXCLUDED from the frame's F2 (sum skips NULLs —
    -- the engine's Arrow path nulls the seed errors the same way), so
    -- mixed frames where one series starts late still score the others
    errs AS (
      SELECT series, ts_ns, value, pred - value AS err FROM rec
    ),
    f2 AS (SELECT ts_ns, sum(err * err) AS f2 FROM errs GROUP BY ts_ns)
    SELECT e.series, e.ts_ns, e.value
    FROM errs e JOIN f2 USING (ts_ns)
    WHERE e.err IS NOT NULL AND abs(e.err) > sqrt(f2.f2) * 0.35""",
)


# The remaining anomaly-detector methods (sma / double-exp-smoothing /
# holt-winters, anomalydetector.cpp:15-739 semantics) share the ewma
# entry's frame: eval revenue over the lineitem day grid, F2-thresholded.
# Each oracle replays the engine's per-series float-op sequence exactly —
# sma needs no recursion (a list window + left-fold mean); the smoothing
# state machines are recursive CTEs carrying (level, trend[, season])
# state columns, season updated in place via list_transform's 1-based
# index lambda.


def _anomaly_oracle(preds_cte: str, threshold: float) -> str:
    """Shared skeleton: join→eval base, per-series rn, the method's
    ``preds(series, ts_ns, value, pred)`` CTE, then F2 threshold."""
    return f"""WITH RECURSIVE {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {_T96_120D}
        AND metric IN ('lineitem.price', 'lineitem.disc')
      GROUP BY 1, 2
    ),
    ev AS (
      SELECT 'lineitem.price|lineitem.disc ' || tagstr AS series, ts_ns,
             price * (1 - disc) AS value
      FROM p WHERE price IS NOT NULL AND disc IS NOT NULL
    ),
    base AS MATERIALIZED (
      SELECT series, ts_ns, value,
             CAST(row_number() OVER (PARTITION BY series ORDER BY ts_ns) AS BIGINT) AS rn
      FROM ev
    ),
    {preds_cte},
    errs AS (
      SELECT series, ts_ns, value, pred - value AS err FROM preds
    ),
    f2 AS (SELECT ts_ns, sum(err * err) AS f2 FROM errs GROUP BY ts_ns)
    SELECT e.series, e.ts_ns, e.value
    FROM errs e JOIN f2 USING (ts_ns)
    WHERE e.err IS NOT NULL AND abs(e.err) > sqrt(f2.f2) * {threshold}"""


def _anomaly_query(method_node: dict) -> dict:
    return {
        "join": ["lineitem.price", "lineitem.disc"],
        "range": {"from": T96, "to": _T96_120D},
        "apply": [
            {"name": "eval", "expr": "lineitem.price * (1 - lineitem.disc)"},
            method_node,
        ],
    }


# sma forecast: reference warm-up (SMASlidingWindow forecast() is empty
# until `period` frames are queued) — no forecast until the window holds
# exactly 5 samples, then mean of the previous 5, always divided by the
# period; list_reduce is a left fold, matching Python sum()'s order
_register(
    "apply_anomaly_sma",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "sma",
                    "period": 5, "threshold": 0.35}),
    _anomaly_oracle(
        """preds AS (
      SELECT series, ts_ns, value,
             CASE WHEN len(w) = 5
                  THEN list_reduce(w, (a, b) -> a + b) / 5 END AS pred
      FROM (
        SELECT series, ts_ns, value,
               list(value) OVER (PARTITION BY series ORDER BY ts_ns
                                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS w
        FROM base
      )
    )""",
        0.35,
    ),
)

# double-exp-smoothing: level/trend state machine with the reference
# seeding (DoubleExpSmoothingSlidingWindow: step 0 seeds level=x0, step 1
# seeds slope=x1−x0 and level=x1, first forecast at step 2); new_level is
# spelled out twice in the trend column — same expression, same doubles
_DES_NL = "0.4 * b.value + (1.0 - 0.4) * (r.level + r.trend)"

_register(
    "apply_anomaly_double_exp",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "double-exp-smoothing",
                    "alpha": 0.4, "gamma": 0.3, "threshold": 0.35}),
    _anomaly_oracle(
        f"""rec AS (
      SELECT series, ts_ns, rn, value, NULL::DOUBLE AS pred,
             value AS level, NULL::DOUBLE AS trend
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.series, b.ts_ns, b.rn, b.value,
             CASE WHEN r.rn >= 2 THEN r.level + r.trend END AS pred,
             CASE WHEN r.rn = 1 THEN b.value ELSE {_DES_NL} END AS level,
             CASE WHEN r.rn = 1 THEN b.value - r.level
                  ELSE 0.3 * (({_DES_NL}) - r.level)
                       + (1.0 - 0.3) * r.trend END AS trend
      FROM rec r JOIN base b ON b.series = r.series AND b.rn = r.rn + 1
    ),
    preds AS (SELECT series, ts_ns, value, pred FROM rec)""",
        0.35,
    ),
)

# holt-winters with the reference seeding (HoltWintersSlidingWindow):
# the season deque fills with the first `period` RAW frames (level=x1,
# slope=x1−x0 seeded on the way), first forecast at step `period`, and —
# as upstream — the forecast adds season[last] (the seasonal updated at
# the previous position).  The deque is a list column: warm-up appends,
# steady state pops the front (season[2:]) and appends the update.
_HW_NL = ("0.4 * (b.value - r.season[1]) "
          "+ (1.0 - 0.4) * (r.level + r.trend)")

_register(
    "apply_anomaly_holt_winters",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "holt-winters",
                    "alpha": 0.4, "beta": 0.2, "gamma": 0.3, "period": 7,
                    "threshold": 0.3}),
    _anomaly_oracle(
        f"""rec AS (
      SELECT series, ts_ns, rn, value, NULL::DOUBLE AS pred,
             value AS level, NULL::DOUBLE AS trend,
             [value]::DOUBLE[] AS season
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.series, b.ts_ns, b.rn, b.value,
             CASE WHEN r.rn >= 7
                  THEN r.level + r.trend + r.season[len(r.season)] END AS pred,
             CASE WHEN r.rn = 1 THEN b.value
                  WHEN r.rn < 7 THEN r.level
                  ELSE {_HW_NL} END AS level,
             CASE WHEN r.rn = 1 THEN b.value - r.level
                  WHEN r.rn < 7 THEN r.trend
                  ELSE 0.2 * (({_HW_NL}) - r.level)
                       + (1.0 - 0.2) * r.trend END AS trend,
             CASE WHEN r.rn < 7 THEN list_append(r.season, b.value)
                  ELSE list_append(r.season[2:],
                       0.3 * (b.value - ({_HW_NL}))
                       + (1.0 - 0.3) * r.season[1]) END AS season
      FROM rec r JOIN base b ON b.series = r.series AND b.rn = r.rn + 1
    ),
    preds AS (SELECT series, ts_ns, value, pred FROM rec)""",
        0.3,
    ),
)


# Counting-sketch anomaly detection (approx: true, anomalydetector.cpp:
# 15-175): per time step the frame is hashes × 2^bits cells (cell = Σ
# value over series hashing there); per-cell forecast, abs-diff error
# frame, then the reference's unbiased estimate / AMS F2-estimate with
# median-of-rows (see _anomaly_sketch's docstring for the two documented
# corrections: deterministic md5 hash family, un-sqrt'd F2).  The oracle
# replays the whole pipeline: dense grid CTE, per-cell forecast, the
# same estimator arithmetic.  K = 256, N = 3 throughout.


def _sketch_oracle(cellpred_cte: str, threshold: float) -> str:
    """Shared sketch skeleton; ``cellpred_cte`` supplies the per-cell
    forecast as CTE(s) ending in ``cellpred(ts_ns, i, cell, v, pred)``
    computed from ``grid(ts_ns, rn, i, cell, v)``."""
    return f"""WITH RECURSIVE {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {_T96_120D}
        AND metric IN ('lineitem.price', 'lineitem.disc')
      GROUP BY 1, 2
    ),
    ev AS (
      SELECT 'lineitem.price|lineitem.disc ' || tagstr AS series, ts_ns,
             price * (1 - disc) AS value
      FROM p WHERE price IS NOT NULL AND disc IS NOT NULL
    ),
    steps AS MATERIALIZED (
      SELECT ts_ns, CAST(row_number() OVER (ORDER BY ts_ns) AS BIGINT) AS rn
      FROM (SELECT DISTINCT ts_ns FROM ev)
    ),
    scells AS MATERIALIZED (
      SELECT series, CAST(i.i AS INT) AS i,
             ('0x' || substr(md5(i.i || '|' || series), 1, 15))::BIGINT % 256 AS cell
      FROM (SELECT DISTINCT series FROM ev) CROSS JOIN range(3) i(i)
    ),
    sparse AS (
      SELECT e.ts_ns, sc.i, sc.cell, sum(e.value) AS v
      FROM ev e JOIN scells sc USING (series) GROUP BY 1, 2, 3
    ),
    grid AS MATERIALIZED (
      SELECT s.ts_ns, s.rn, i.i, c.cell, coalesce(sp.v, 0.0) AS v
      FROM steps s
      CROSS JOIN (SELECT CAST(i AS INT) AS i FROM range(3) t(i)) i
      CROSS JOIN (SELECT CAST(cell AS BIGINT) AS cell FROM range(256) t(cell)) c
      LEFT JOIN sparse sp
        ON sp.ts_ns = s.ts_ns AND sp.i = i.i AND sp.cell = c.cell
    ),
    {cellpred_cte},
    errs AS (
      SELECT ts_ns, i, cell, abs(pred - v) AS err
      FROM cellpred WHERE pred IS NOT NULL
    ),
    sums AS (
      SELECT ts_ns, sum(err) AS sum_err FROM errs WHERE i = 0 GROUP BY 1
    ),
    rowstat AS (
      SELECT e.ts_ns, e.i,
             (256.0 / 255.0) * sum(e.err * e.err)
               - s.sum_err * s.sum_err / 255.0 AS stat
      FROM errs e JOIN sums s USING (ts_ns)
      GROUP BY e.ts_ns, e.i, s.sum_err
    ),
    f2 AS (
      SELECT ts_ns, (list_sort(list(stat)))[2] AS f2est
      FROM rowstat GROUP BY 1
    ),
    est AS (
      SELECT e.series, e.ts_ns, e.value,
             (list_sort(list((er.err - s.sum_err / 256.0)
                             / (1.0 - 1.0 / 256.0))))[2] AS est
      FROM ev e
      JOIN scells sc USING (series)
      JOIN errs er ON er.ts_ns = e.ts_ns AND er.i = sc.i AND er.cell = sc.cell
      JOIN sums s ON s.ts_ns = e.ts_ns
      GROUP BY e.series, e.ts_ns, e.value, s.sum_err
    )
    SELECT series, ts_ns, value
    FROM est JOIN f2 USING (ts_ns)
    WHERE f2est >= 0 AND est > sqrt(f2est) * {threshold}"""


_register(
    "apply_anomaly_ewma_sketch",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "ewma",
                    "alpha": 0.4, "threshold": 0.35, "approx": True,
                    "bits": 8, "hashes": 3}),
    _sketch_oracle(
        """rec AS (
      SELECT i, cell, rn, ts_ns, v, NULL::DOUBLE AS pred, v AS state
      FROM grid WHERE rn = 1
      UNION ALL
      SELECT g.i, g.cell, g.rn, g.ts_ns, g.v,
             CASE WHEN r.rn >= 10 THEN r.state END AS pred,
             CASE WHEN r.rn < 9 THEN r.state + g.v
                  WHEN r.rn = 9 THEN (r.state + g.v) * 0.1
                  ELSE 0.4 * g.v + (1.0 - 0.4) * r.state END AS state
      FROM rec r JOIN grid g
        ON g.i = r.i AND g.cell = r.cell AND g.rn = r.rn + 1
    ),
    cellpred AS (SELECT ts_ns, i, cell, v, pred FROM rec)""",
        0.35,
    ),
)

# double-exp / holt-winters sketch: the precise oracles' state machines
# keyed (i, cell) over the dense grid (lambda index renamed j to avoid
# shadowing the grid's hash-row column i)
_DES_NL_G = "0.4 * g.v + (1.0 - 0.4) * (r.level + r.trend)"

_register(
    "apply_anomaly_double_exp_sketch",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "double-exp-smoothing",
                    "alpha": 0.4, "gamma": 0.3, "threshold": 0.35,
                    "approx": True, "bits": 8, "hashes": 3}),
    _sketch_oracle(
        f"""rec AS (
      SELECT i, cell, rn, ts_ns, v, NULL::DOUBLE AS pred,
             v AS level, NULL::DOUBLE AS trend
      FROM grid WHERE rn = 1
      UNION ALL
      SELECT g.i, g.cell, g.rn, g.ts_ns, g.v,
             CASE WHEN r.rn >= 2 THEN r.level + r.trend END AS pred,
             CASE WHEN r.rn = 1 THEN g.v ELSE {_DES_NL_G} END AS level,
             CASE WHEN r.rn = 1 THEN g.v - r.level
                  ELSE 0.3 * (({_DES_NL_G}) - r.level)
                       + (1.0 - 0.3) * r.trend END AS trend
      FROM rec r JOIN grid g
        ON g.i = r.i AND g.cell = r.cell AND g.rn = r.rn + 1
    ),
    cellpred AS (SELECT ts_ns, i, cell, v, pred FROM rec)""",
        0.35,
    ),
)

_HW_NL_G = ("0.4 * (g.v - r.season[1]) "
            "+ (1.0 - 0.4) * (r.level + r.trend)")

_register(
    "apply_anomaly_holt_winters_sketch",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "holt-winters",
                    "alpha": 0.4, "beta": 0.2, "gamma": 0.3, "period": 7,
                    "threshold": 0.3, "approx": True, "bits": 8,
                    "hashes": 3}),
    _sketch_oracle(
        f"""rec AS (
      SELECT i, cell, rn, ts_ns, v, NULL::DOUBLE AS pred,
             v AS level, NULL::DOUBLE AS trend,
             [v]::DOUBLE[] AS season
      FROM grid WHERE rn = 1
      UNION ALL
      SELECT g.i, g.cell, g.rn, g.ts_ns, g.v,
             CASE WHEN r.rn >= 7
                  THEN r.level + r.trend + r.season[len(r.season)] END AS pred,
             CASE WHEN r.rn = 1 THEN g.v
                  WHEN r.rn < 7 THEN r.level
                  ELSE {_HW_NL_G} END AS level,
             CASE WHEN r.rn = 1 THEN g.v - r.level
                  WHEN r.rn < 7 THEN r.trend
                  ELSE 0.2 * (({_HW_NL_G}) - r.level)
                       + (1.0 - 0.2) * r.trend END AS trend,
             CASE WHEN r.rn < 7 THEN list_append(r.season, g.v)
                  ELSE list_append(r.season[2:],
                       0.3 * (g.v - ({_HW_NL_G}))
                       + (1.0 - 0.3) * r.season[1]) END AS season
      FROM rec r JOIN grid g
        ON g.i = r.i AND g.cell = r.cell AND g.rn = r.rn + 1
    ),
    cellpred AS (SELECT ts_ns, i, cell, v, pred FROM rec)""",
        0.3,
    ),
)

# sma sketch: reference warm-up (no forecast until the per-cell window
# holds `period` frames, then mean ÷ period) — same list-window +
# left-fold mean as the precise sma oracle, keyed (i, cell) over the
# dense grid
_register(
    "apply_anomaly_sma_sketch",
    "metrics",
    _anomaly_query({"name": "anomaly-detector", "method": "sma",
                    "period": 5, "threshold": 0.35, "approx": True,
                    "bits": 8, "hashes": 3}),
    _sketch_oracle(
        """cellpred AS (
      SELECT ts_ns, i, cell, v,
             CASE WHEN len(w) = 5
                  THEN list_reduce(w, (a, b) -> a + b) / 5 END AS pred
      FROM (
        SELECT ts_ns, rn, i, cell, v,
               list(v) OVER (PARTITION BY i, cell ORDER BY rn
                             ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS w
        FROM grid
      )
    )""",
        0.35,
    ),
)


# Candlesticks (internal NB+tree plotting operator, nbtree.h:218-219):
# OHLC per pixel bucket = group-aggregate with first/max/min/last/count.
from akumuli_spark.operators.candlesticks import candlesticks as _candles  # noqa: E402

_CANDLE_STEP = (E1 - E0) // 100
_CANDLE_HEAD = "|".join(
    f"app.view:{f}" for f in ("first", "max", "min", "last", "count")
)

_register_pipeline(
    "candlesticks",
    lambda spark, sf: _candles(
        spark, app_metrics_view(spark, sf), "app.view", E0, E1, 100
    ),
    f"""WITH {APP_METRICS_SQL},
    base AS (SELECT series, ts_ns, value FROM app_metrics
             WHERE metric = 'app.view' AND ts_ns >= {E0} AND ts_ns < {E1})
    SELECT '{_CANDLE_HEAD} user=' || split_part(series, '=', 2) AS series,
           min(ts_ns) AS ts_ns,
           (min(struct_pack(t := ts_ns, v := value))).v AS open,
           max(value) AS high, min(value) AS low,
           (max(struct_pack(t := ts_ns, v := value))).v AS close,
           CAST(count(*) AS DOUBLE) AS count
    FROM base GROUP BY 1, (ts_ns - {E0}) // {_CANDLE_STEP}""",
    ["open", "high", "low", "close", "count"],
    ["series", "ts_ns"],
)


_register(
    "apply_sma_error",
    "app_metrics",
    {"group-aggregate": {"metric": "app.click", "step": "6h", "func": "mean"},
     "range": {"from": E0, "to": E1},
     "apply": [{"name": "sma-error", "window-width": 4}]},
    f"""WITH {APP_METRICS_SQL}, base AS ({_gb_mean_base('app.click')})
    SELECT series, ts_ns,
           value - coalesce(sum(value) OVER (PARTITION BY series ORDER BY ts_ns
                    ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 0.0) / 4 AS mean
    FROM base""",
    double_cols=["mean"],
    other_cols=["series", "ts_ns"],
)

# horizontal diff then divide chained over a 3-metric join
_register(
    "apply_diff",
    "metrics",
    {
        "join": ["lineitem.price", "lineitem.qty", "lineitem.disc"],
        "range": {"from": T96, "to": T97},
        "apply": [{"name": "diff"}],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS a,
        sum(CASE WHEN metric = 'lineitem.qty'  THEN value END) AS b,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS c
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97} GROUP BY 1, 2
    )
    SELECT 'lineitem.price|lineitem.qty|lineitem.disc ' || tagstr AS series,
           ts_ns, 0 - a - b - c AS value
    FROM p""",
)

_register(
    "apply_divide",
    "metrics",
    {
        "join": ["lineitem.price", "lineitem.qty"],
        "range": {"from": T96, "to": T97},
        "apply": [{"name": "divide"}],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS a,
        sum(CASE WHEN metric = 'lineitem.qty'  THEN value END) AS b
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97} GROUP BY 1, 2
    )
    SELECT 'lineitem.price|lineitem.qty ' || tagstr AS series, ts_ns,
           1 / a / b AS value
    FROM p""",
)


_register(
    "apply_multiply",
    "metrics",
    {
        "join": ["lineitem.qty", "lineitem.disc"],
        "range": {"from": T96, "to": T97},
        "apply": [{"name": "multiply"}],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.qty' THEN value END) AS a,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS b
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97} GROUP BY 1, 2
    )
    SELECT 'lineitem.qty|lineitem.disc ' || tagstr AS series, ts_ns,
           a * b AS value
    FROM p""",
)

# aggregate may omit the range entirely (= whole retention,
# queryparser.cpp:637-690 parse_range_timestamp(…, allow_empty=true))
_register(
    "aggregate_no_range",
    "metrics",
    {"aggregate": {"lineitem.disc": ["mean", "count"]}},
    f"""WITH {METRICS_SQL},
    g AS (SELECT {TAGSTR} AS tagstr, min(ts_ns) AS ts_ns,
                 sum(value) / count(value) AS m,
                 CAST(count(value) AS DOUBLE) AS c
          FROM metrics WHERE metric = 'lineitem.disc' GROUP BY 1)
    SELECT 'lineitem.disc:mean ' || tagstr AS series, ts_ns, m AS value FROM g
    UNION ALL
    SELECT 'lineitem.disc:count ' || tagstr, ts_ns, c FROM g""",
)

_register(
    "aggregate_multi_metric",
    "metrics",
    {
        "aggregate": {"lineitem.qty": "sum", "lineitem.disc": ["mean", "max"]},
        "range": {"from": T96, "to": T97},
    },
    f"""WITH {METRICS_SQL},
    g AS (
      SELECT metric, {TAGSTR} AS tagstr, min(ts_ns) AS first_ts,
             sum(value) AS s, sum(value) / count(value) AS m, max(value) AS mx
      FROM metrics
      WHERE metric IN ('lineitem.qty', 'lineitem.disc')
        AND ts_ns >= {T96} AND ts_ns < {T97}
      GROUP BY 1, 2
    )
    SELECT 'lineitem.qty:sum ' || tagstr AS series, first_ts AS ts_ns, s AS value
    FROM g WHERE metric = 'lineitem.qty'
    UNION ALL
    SELECT 'lineitem.disc:mean ' || tagstr, first_ts, m FROM g WHERE metric = 'lineitem.disc'
    UNION ALL
    SELECT 'lineitem.disc:max ' || tagstr, first_ts, mx FROM g WHERE metric = 'lineitem.disc'""",
)

_register(
    "select_order_by_series_limit",
    "app_metrics",
    {
        "select": "app.signup",
        "range": {"from": E0, "to": E1},
        "order-by": "series",
        "limit": 50,
    },
    f"""WITH {APP_METRICS_SQL}
    SELECT series, ts_ns, value FROM app_metrics
    WHERE metric = 'app.signup' AND ts_ns >= {E0} AND ts_ns < {E1}
    ORDER BY series, ts_ns LIMIT 50""",
)


from akumuli_spark.pipeline import cluster as _cluster  # noqa: E402

# pairs → groups → canonical survivor: the end of the dedup pipeline.
# Same pair semantics as dedup_ngram_jaccard; the cluster label is the
# component's min doc_id, replayed in DuckDB via recursive-CTE closure.
_register_pipeline(
    "dedup_clusters",
    lambda spark, sf: _cluster.dedup_clusters(
        load_table(spark, sf, "documents"), n=5, threshold=0.5, max_df=64
    ),
    _cluster.dedup_clusters_sql(5, 0.5, max_df=64),
    [],
    ["doc_id", "cluster_id", "is_canonical"],
)

# decontamination vs a "benchmark" slice of the corpus (every 10th doc):
# flags any doc sharing >= 1 distinct 8-gram with a benchmark doc —
# catches the planted near-dups whose partner landed in the benchmark.
# Benchmark shingles are broadcast; the corpus is never shuffled.
_register_pipeline(
    "decontaminate_ngram",
    lambda spark, sf: _dedup.benchmark_contamination(
        load_table(spark, sf, "documents"),
        load_table(spark, sf, "documents").filter("doc_id % 10 = 0"),
        n=8, min_overlap=1,
    ),
    _dedup.benchmark_contamination_sql("id % 10 = 0", n=8, min_overlap=1),
    [],
    ["doc_id", "n_shared"],
)

# next-fit sequence packing into 256-token packs per language — the
# training-data "pack documents into context windows" stage; DuckDB
# replays the per-(stratum, shard) (pack_id, running) recursion.
# n_shards=1 keeps the classic one-stream-per-stratum semantics.
_register_pipeline(
    "pack_sequences",
    lambda spark, sf: _cluster.pack_sequences(
        load_table(spark, sf, "documents"), budget=256, n_shards=1
    ),
    _cluster.pack_sequences_sql(budget=256, n_shards=1),
    [],
    ["doc_id", "stratum", "shard", "n_tokens", "pack_id"],
)

# the scale path: shard key bounds the per-task pack stream at
# ~|stratum|/n_shards rows, so a skewed language distribution (en ≫
# rest at 100 TB) cannot collapse packing to one straggler task; both
# engines derive the shard from the same md5 hash, so the full sharded
# assignment is hash-checked, not just the budget invariant
_register_pipeline(
    "pack_sequences_sharded",
    lambda spark, sf: _cluster.pack_sequences(
        load_table(spark, sf, "documents"), budget=256, n_shards=4
    ),
    _cluster.pack_sequences_sql(budget=256, n_shards=4),
    [],
    ["doc_id", "stratum", "shard", "n_tokens", "pack_id"],
)

_SAMPLE_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1}

_register_pipeline(
    "sample_stratified",
    lambda spark, sf: _cluster.stratified_sample(
        load_table(spark, sf, "documents"), _SAMPLE_RATES
    ),
    _cluster.stratified_sample_sql(_SAMPLE_RATES),
    ["sample_key"],
    ["doc_id", "stratum"],
)

# SemDeDup with the paper's exact keep rule: components over the
# within-cluster pair list, one canonical survivor per near-dup SET
_register_pipeline(
    "dedup_semantic_clusters",
    lambda spark, sf: _cluster.semantic_clusters(
        load_table(spark, sf, "embeddings"), nlist=16, threshold=0.4
    ),
    _cluster.semantic_clusters_sql(nlist=16, threshold=0.4),
    [],
    ["vec_id", "cluster_id", "is_canonical"],
)

# mixture sizing: weights + token budget → the per-language rates the
# stratified sampler consumes ("en" under-budget, "zh" needs upsampling)
_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "zh": 0.3}

_register_pipeline(
    "sample_mixture_plan",
    lambda spark, sf: _cluster.mixture_plan(
        load_table(spark, sf, "documents"), _MIX_WEIGHTS, budget_tokens=20_000
    ),
    _cluster.mixture_plan_sql(_MIX_WEIGHTS, budget_tokens=20_000),
    ["target_tokens", "rate", "epochs"],
    ["stratum", "n_docs", "avail_tokens"],
)

# rank-and-cut counterpart of the rate-based stratified sample: the top-N
# best docs per language (quotas sized so the en cut bites mid-corpus)
_QUOTAS = {"en": 80, "de": 40, "zh": 25}

_register_pipeline(
    "sample_quota",
    lambda spark, sf: _cluster.quota_sample(
        load_table(spark, sf, "documents"), _QUOTAS
    ),
    _cluster.quota_sample_sql(_QUOTAS),
    ["quality"],
    ["doc_id", "stratum", "rank"],
)

_register_pipeline(
    "dedup_embedding_lsh",
    lambda spark, sf: _dedup.embedding_near_dup_lsh(
        load_table(spark, sf, "embeddings"), threshold=0.4
    ),
    _dedup.embedding_near_dup_lsh_sql(0.4),
    ["cosine"],
    ["id_a", "id_b"],
)

# Multi-table sign-LSH: disjoint component blocks, candidate = collide
# in ANY table — the standard recall repair over the single-table path.
_register_pipeline(
    "dedup_embedding_lsh_multi",
    lambda spark, sf: _dedup.embedding_near_dup_lsh_multi(
        load_table(spark, sf, "embeddings"), threshold=0.4
    ),
    _dedup.embedding_near_dup_lsh_multi_sql(0.4),
    ["cosine"],
    ["id_a", "id_b"],
)

# SemDeDup: k-means-cluster-bucketed embedding dedup — the published
# curation method's bucket choice (density-following clusters), third
# path beside the exact self-join and the sign-LSH buckets.
_register_pipeline(
    "dedup_semantic",
    lambda spark, sf: _dedup.semantic_dedup(
        load_table(spark, sf, "embeddings"), nlist=16, threshold=0.4
    ),
    _dedup.semantic_dedup_sql(nlist=16, threshold=0.4),
    [],
    ["vec_id", "cid", "pruned"],
)

# apply-chain composition: eval collapses the join tuple to revenue, then
# rate differentiates it per series (join output has unique (series, ts)
# after pivot, so the window order is deterministic)
_register(
    "apply_eval_rate_chain",
    "metrics",
    {
        "join": ["lineitem.price", "lineitem.disc"],
        "range": {"from": T96, "to": T97},
        "apply": [
            {"name": "eval", "expr": "lineitem.price * (1 - lineitem.disc)"},
            {"name": "rate"},
        ],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND metric IN ('lineitem.price', 'lineitem.disc')
      GROUP BY 1, 2
    ),
    ev AS (
      SELECT 'lineitem.price|lineitem.disc ' || tagstr AS series, ts_ns,
             price * (1 - disc) AS value
      FROM p
    )
    SELECT series, ts_ns,
           (value - lag(value, 1, 0.0) {W}) / (ts_ns - lag(ts_ns, 1, 0) {W}) * 1e9 AS value
    FROM ev""",
)


# Adversarial eval: a metric named 'x' is a substring of the function name
# 'max' — token-level _var_i substitution (eval.cpp:52-76) must leave the
# function call intact.  Metrics renamed on the fly: lineitem.qty → x,
# lineitem.disc → y.
def _short_name_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = metrics_view(spark, sf_dir)
    new_metric = (
        F.when(F.col("metric") == "lineitem.qty", F.lit("x"))
        .when(F.col("metric") == "lineitem.disc", F.lit("y"))
        .otherwise(F.col("metric"))
    )
    tagpart = F.expr("substring(series, length(metric) + 1)")
    return mv.select(
        F.concat(new_metric, tagpart).alias("series"),
        new_metric.alias("metric"),
        "tags",
        "ts_ns",
        "value",
    )


_register_pipeline(
    "apply_eval_adversarial",
    lambda spark, sf: execute_query(
        spark,
        {
            "join": ["x", "y"],
            "range": {"from": T96, "to": T97},
            "apply": [{"name": "eval", "expr": "max(x, 2) * y - min(x, 30)"}],
        },
        _short_name_metrics(spark, sf),
    ),
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.qty'  THEN value END) AS x,
        sum(CASE WHEN metric = 'lineitem.disc' THEN value END) AS y
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND metric IN ('lineitem.qty', 'lineitem.disc')
      GROUP BY 1, 2
    )
    SELECT 'x|y ' || tagstr AS series, ts_ns,
           greatest(x, 2) * y - least(x, 30) AS value
    FROM p""",
    ["value"],
    ["series", "ts_ns"],
)


# muParser's full default grammar (eval.cpp embeds stock muParser, whose
# grammar also ships comparisons / logical ops / lazy ternary): alerting-
# style conditional eval.  Booleans are doubles (1.0/0.0), condition true
# iff != 0 — evalexpr.py mirrors the muParser precedence table.
_register(
    "apply_eval_ternary",
    "metrics",
    {
        "join": ["lineitem.qty", "lineitem.price"],
        "range": {"from": T96, "to": T97},
        "apply": [
            {"name": "eval", "expr": "lineitem.qty > 30 ? lineitem.price : 0"}
        ],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.qty'   THEN value END) AS qty,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND metric IN ('lineitem.qty', 'lineitem.price')
      GROUP BY 1, 2
    )
    SELECT 'lineitem.qty|lineitem.price ' || tagstr AS series, ts_ns,
           CASE WHEN qty > 30 THEN price ELSE 0 END AS value
    FROM p""",
)

# comparison + && / || chain and muParser's variadic avg(), all in one
# expression — precedence per the muParser table (cmp > && > ||)
_register(
    "apply_eval_logic",
    "metrics",
    {
        "join": ["lineitem.qty", "lineitem.price", "lineitem.disc"],
        "range": {"from": T96, "to": T97},
        "apply": [
            {
                "name": "eval",
                "expr": "avg(lineitem.qty, lineitem.disc) * "
                        "(lineitem.disc >= 0.05 && lineitem.disc != 0.08 "
                        "|| lineitem.qty < 5)",
            }
        ],
    },
    f"""WITH {METRICS_SQL},
    p AS (
      SELECT {TAGSTR} AS tagstr, ts_ns,
        sum(CASE WHEN metric = 'lineitem.qty'   THEN value END) AS qty,
        sum(CASE WHEN metric = 'lineitem.price' THEN value END) AS price,
        sum(CASE WHEN metric = 'lineitem.disc'  THEN value END) AS disc
      FROM metrics WHERE ts_ns >= {T96} AND ts_ns < {T97}
        AND metric IN ('lineitem.qty', 'lineitem.price', 'lineitem.disc')
      GROUP BY 1, 2
    )
    SELECT 'lineitem.qty|lineitem.price|lineitem.disc ' || tagstr AS series,
           ts_ns,
           (qty + disc) / 2.0 *
           (CASE WHEN (disc >= 0.05 AND disc <> 0.08) OR qty < 5
                 THEN 1.0 ELSE 0.0 END) AS value
    FROM p""",
)


# Sessionization: gap-based user sessions over the events stream (training
# -data episode construction); fully window-SQL-expressible.
from akumuli_spark.operators import sessions as _sessions  # noqa: E402

_SESSION_GAP = 6 * 3600 * NS

_register_pipeline(
    "sessionize_events",
    lambda spark, sf: _sessions.session_stats(
        load_table(spark, sf, "events"), _SESSION_GAP
    ),
    _sessions.session_stats_sql(_SESSION_GAP),
    ["value_sum"],
    ["user_id", "session_id", "start_ns", "end_ns", "n_events", "n_event_types"],
)

# Ordered-funnel analysis over the events stream: strict-after step
# chain, per-stage user counts + conversion.
_register_pipeline(
    "events_funnel",
    lambda spark, sf: _sessions.funnel_counts(
        load_table(spark, sf, "events"), steps=("view", "click", "purchase")
    ),
    _sessions.funnel_counts_sql(steps=("view", "click", "purchase")),
    ["conv_pct"],
    ["step", "event_type", "n_users"],
)

# Cohort retention triangle: first-seen-bucket cohorts × activity-bucket
# offsets with per-cohort retention rates.
_register_pipeline(
    "events_retention",
    lambda spark, sf: _sessions.retention_cohorts(
        load_table(spark, sf, "events")
    ),
    _sessions.retention_cohorts_sql(),
    ["retention_pct"],
    ["cohort_bucket", "bucket_offset", "n_active"],
)

# DAU/WAU/stickiness: the rolling distinct as an explode-offsets double
# aggregation (no range join, no per-day re-scan).
_register_pipeline(
    "events_active_users",
    lambda spark, sf: _sessions.active_users(load_table(spark, sf, "events")),
    _sessions.active_users_sql(),
    ["stickiness"],
    ["day", "dau", "wau"],
)

# Hierarchical rollup: every (metric, tag) level in ONE grouping-sets
# pass (Catalyst Expand + one shuffle), not one scan per level.
def _metrics_tag_rollup(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.groupsets import tag_rollup_aggregate

    return tag_rollup_aggregate(app_metrics_view(spark, sf), tag="user")


def _tag_rollup_oracle() -> str:
    from akumuli_spark.operators.groupsets import tag_rollup_sql

    return f"WITH {APP_METRICS_SQL}\n{tag_rollup_sql()}"


_register_pipeline(
    "metrics_tag_rollup",
    _metrics_tag_rollup,
    _tag_rollup_oracle(),
    ["sum", "min", "max"],
    ["metric", "tag_val", "level", "count"],
)

# Semi-structured extraction: typed field out of the JSON props payload,
# aggregated per event type — JVM-side path evaluation inside the scan.
_register_pipeline(
    "events_props_json",
    lambda spark, sf: _sessions.props_field_stats(
        load_table(spark, sf, "events"), field="k"
    ),
    _sessions.props_field_stats_sql(field="k"),
    ["field_avg", "field_min", "field_max"],
    ["event_type", "n_events", "n_with_field"],
)


# PII detection + redaction over deterministically injected spans (the
# driver corpus has no organic PII) — same real-kernel round-trip pattern
# as the multimodal synth entries: the oracle reproduces the injection
# arithmetically, so a regression in patterns or replacement order breaks
# the value hash.
from akumuli_spark.pipeline import pii as _pii  # noqa: E402

_register_pipeline(
    "pii_signals",
    lambda spark, sf: _pii.pii_signals(
        _pii.synth_pii_text(load_table(spark, sf, "documents"))
    ),
    _pii.pii_signals_sql(),
    [],
    ["doc_id", "n_email", "n_phone", "n_id", "n_ipv4", "has_pii"],
)

_register_pipeline(
    "pii_scrub",
    lambda spark, sf: _pii.pii_scrub(
        _pii.synth_pii_text(load_table(spark, sf, "documents"))
    ),
    _pii.pii_scrub_sql(),
    [],
    ["doc_id", "clean_text", "n_redacted"],
)


# Directed containment pairs: the asymmetric partial-copy detector
# (quoted-inside-longer-doc cases Jaccard misses).  Threshold 0.5 so the
# planted near-dups (which differ by a few words) actually clear it.
_register_pipeline(
    "dedup_containment",
    lambda spark, sf: _dedup.ngram_containment_pairs(
        load_table(spark, sf, "documents"), n=5, threshold=0.5, max_df=64
    ),
    _dedup.ngram_containment_sql(n=5, threshold=0.5, max_df=64),
    ["containment"],
    ["doc_src", "doc_dst"],
)


# Cross-document duplicated-span coverage (substring-dedup signal):
# positioned-shingle equi-join, no suffix array, no cross join.
_register_pipeline(
    "dedup_span_coverage",
    lambda spark, sf: _dedup.duplicated_span_coverage(
        load_table(spark, sf, "documents"), n=5
    ),
    _dedup.duplicated_span_coverage_sql(n=5),
    ["dup_span_frac"],
    ["doc_id", "n_tokens", "n_cov"],
)


# Deterministic global shuffle + shard assignment for training export.
_register_pipeline(
    "corpus_shuffle",
    lambda spark, sf: _cluster.deterministic_shuffle(
        load_table(spark, sf, "documents"), seed="s0", n_shards=16
    ),
    _cluster.deterministic_shuffle_sql(seed="s0", n_shards=16),
    [],
    ["doc_id", "shard", "pos"],
)


# Gap-filled group-aggregate (extension: the reference emits only
# non-empty buckets; fill=previous completes interior gaps).  4-hour
# buckets over the sparse per-user app.click stream leave genuine holes.
_FILL_STEP = 4 * 3600 * NS


def _group_aggregate_filled(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.fill import fill_gaps

    frame = app_metrics_view(spark, sf)
    agg = execute_query(spark, {
        "group-aggregate": {"metric": "app.click", "step": "4h",
                            "func": ["sum", "count"]},
        "range": {"from": E0, "to": E1},
    }, frame)
    return _round_doubles(fill_gaps(agg, anchor_ns=E0, step_ns=_FILL_STEP))


def _group_aggregate_filled_oracle() -> str:
    from akumuli_spark.operators.fill import fill_gaps_sql

    inner = f"""WITH {APP_METRICS_SQL}
    SELECT 'app.click:sum|app.click:count ' || 'user=' || tag_user AS series,
           min(ts_ns) AS ts_ns,
           sum(value) AS sum, CAST(count(value) AS DOUBLE) AS count
    FROM app_metrics
    WHERE metric = 'app.click' AND ts_ns >= {E0} AND ts_ns < {E1}
    GROUP BY 1, (ts_ns - {E0}) // {_FILL_STEP}"""
    return fill_gaps_sql(
        inner, anchor_ns=E0, step_ns=_FILL_STEP,
        value_cols=["sum", "count"],
    )


REGISTRY["group_aggregate_filled"] = (
    _group_aggregate_filled,
    _wrap_round(
        _group_aggregate_filled_oracle(),
        ["sum", "count"],
        ["series", "ts_ns"],
    ),
)


# Top-k series per bucket (extension: the reference's `top` ranks over
# the whole range only): top-3 user tagsets by 4h click volume.
def _top_series_per_bucket(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.fill import top_series_per_bucket

    frame = app_metrics_view(spark, sf)
    agg = execute_query(spark, {
        "group-aggregate": {"metric": "app.click", "step": "4h",
                            "func": "sum"},
        "range": {"from": E0, "to": E1},
    }, frame)
    return _round_doubles(top_series_per_bucket(
        agg, anchor_ns=E0, step_ns=_FILL_STEP, k=3, value_col="sum"
    ))


def _top_series_per_bucket_oracle() -> str:
    from akumuli_spark.operators.fill import top_series_per_bucket_sql

    inner = f"""WITH {APP_METRICS_SQL}
    SELECT 'app.click:sum ' || 'user=' || tag_user AS series,
           min(ts_ns) AS ts_ns, sum(value) AS sum
    FROM app_metrics
    WHERE metric = 'app.click' AND ts_ns >= {E0} AND ts_ns < {E1}
    GROUP BY 1, (ts_ns - {E0}) // {_FILL_STEP}"""
    return top_series_per_bucket_sql(
        inner, anchor_ns=E0, step_ns=_FILL_STEP, k=3, value_col="sum"
    )


REGISTRY["top_series_per_bucket"] = (
    _top_series_per_bucket,
    _wrap_round(
        _top_series_per_bucket_oracle(),
        ["sum"],
        ["ts_ns", "series", "rank"],
    ),
)


# As-of join (extension: the engine's `join` aligns on EXACT ts only):
# each click sample picks up the user's most recent purchase value.  The
# tolerance entry narrows chunks to 6h so the sf0.01 gate exercises the
# cross-chunk boundary carry, not just the within-chunk window.
def _join_asof(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.asof import asof_join

    frame = app_metrics_view(spark, sf)
    return _round_doubles(asof_join(
        frame, "app.click", "app.purchase", begin_ns=E0, end_ns=E1
    ))


def _join_asof_oracle() -> str:
    from akumuli_spark.operators.asof import asof_join_sql

    return asof_join_sql(
        APP_METRICS_SQL, "app_metrics", "app.click", "app.purchase",
        begin_ns=E0, end_ns=E1,
    )


REGISTRY["join_asof"] = (
    _join_asof,
    _wrap_round(
        _join_asof_oracle(),
        ["app.click", "app.purchase"],
        ["series", "ts_ns"],
    ),
)


def _join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.asof import asof_join

    frame = app_metrics_view(spark, sf)
    return _round_doubles(asof_join(
        frame, "app.click", "app.purchase", begin_ns=E0, end_ns=E1,
        tolerance_ns=2 * 3600 * NS, chunk_ns=6 * 3600 * NS,
    ))


def _join_asof_tolerance_oracle() -> str:
    from akumuli_spark.operators.asof import asof_join_sql

    return asof_join_sql(
        APP_METRICS_SQL, "app_metrics", "app.click", "app.purchase",
        begin_ns=E0, end_ns=E1, tolerance_ns=2 * 3600 * NS,
    )


REGISTRY["join_asof_tolerance"] = (
    _join_asof_tolerance,
    _wrap_round(
        _join_asof_tolerance_oracle(),
        ["app.click", "app.purchase"],
        ["series", "ts_ns"],
    ),
)


# Value histogram (extension: the dashboard heatmap primitive): per-series
# 10-bin distribution of lineitem.qty (integer values 1..50 — bin edges
# are exact doubles, no boundary ambiguity).
def _value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.histogram import value_histogram

    return _round_doubles(value_histogram(
        metrics_view(spark, sf), "lineitem.qty", _T96_OFF, T97,
        lo=0.0, hi=50.0, n_bins=10,
    ))


def _value_histogram_oracle() -> str:
    from akumuli_spark.operators.histogram import value_histogram_sql

    return value_histogram_sql(
        METRICS_SQL, "metrics", "lineitem.qty", _T96_OFF, T97,
        lo=0.0, hi=50.0, n_bins=10,
    )


REGISTRY["value_histogram"] = (
    _value_histogram,
    _wrap_round(
        _value_histogram_oracle(), ["bin_lo"], ["series", "bin", "count"]
    ),
)


# Cross-metric Pearson correlation per tag-set (extension), price vs qty
# on exactly-aligned samples — closed form over six shared sums so both
# engines run the identical arithmetic.
def _metrics_corr(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.histogram import metrics_correlation

    return _round_doubles(metrics_correlation(
        metrics_view(spark, sf), "lineitem.price", "lineitem.qty",
        _T96_OFF, T97,
    ))


def _metrics_corr_oracle() -> str:
    from akumuli_spark.operators.histogram import metrics_correlation_sql

    return metrics_correlation_sql(
        METRICS_SQL, "metrics", "lineitem.price", "lineitem.qty",
        _T96_OFF, T97,
    )


REGISTRY["metrics_correlation"] = (
    _metrics_corr,
    _wrap_round(_metrics_corr_oracle(), ["corr"], ["tagstr", "n_aligned"]),
)


# LTTB plot downsampling (extension; companion to candlesticks): each
# per-user click series (~250 points at sf0.01) down to 40
# shape-preserving points via the sequential triangle recursion.
def _lttb_downsample(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.lttb import lttb

    frame = app_metrics_view(spark, sf)
    pts = execute_query(spark, {
        "select": "app.click", "range": {"from": E0, "to": E1},
    }, frame)
    return _round_doubles(lttb(pts, n_out=40))


def _lttb_downsample_oracle() -> str:
    from akumuli_spark.operators.lttb import lttb_sql

    inner = f"""WITH {APP_METRICS_SQL}
    SELECT series, ts_ns, value FROM app_metrics
    WHERE metric = 'app.click' AND ts_ns >= {E0} AND ts_ns < {E1}"""
    return lttb_sql(inner, n_out=40)


REGISTRY["lttb_downsample"] = (
    _lttb_downsample,
    _wrap_round(_lttb_downsample_oracle(), ["value"], ["series", "ts_ns"]),
)


# Canonical text normalization: the standard pre-dedup projection.
_register_pipeline(
    "text_normalize",
    lambda spark, sf: _text.normalize_text(load_table(spark, sf, "documents")),
    _text.NORMALIZE_SQL,
    [],
    ["doc_id", "norm_text", "n_chars_raw", "n_chars_norm"],
)


# Per-language length distribution: exact interpolated percentiles
# (DuckDB quantile_cont twin); approx_percentile is the documented
# 100 TB swap-in.
_register_pipeline(
    "corpus_length_quantiles",
    lambda spark, sf: _text.length_quantiles(load_table(spark, sf, "documents")),
    _text.LENGTH_QUANTILES_SQL,
    ["p50_chars", "p90_chars", "p99_chars"],
    ["lang", "n_docs", "max_chars"],
)


# Vocabulary head: top-k terms by occurrences with doc frequency,
# deterministic tie-break on both engines.
_register_pipeline(
    "vocab_topk",
    lambda spark, sf: _text.vocab_topk(load_table(spark, sf, "documents"), k=100),
    _text.vocab_topk_sql(k=100),
    [],
    ["term", "n_occurrences", "doc_freq"],
)


_register_meta(
    "suggest_tag_names",
    lambda dim: suggest(dim, {"select": "tag-names", "metric": "app.error"}),
    f"""WITH {_DIM_SQL}
    SELECT DISTINCT 'user' AS name FROM dim WHERE metric = 'app.error'""",
)


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog distinct sketch (operators/distinct.py):
# md5-derived registers computed identically in both engines, so the
# oracle matches the ESTIMATE exactly — the 100 TB count-distinct shape
# (bounded register state, no distinct-key shuffle, mergeable by max).
# ---------------------------------------------------------------------------
from akumuli_spark.operators import distinct as _distinct  # noqa: E402

_register_pipeline(
    "events_distinct_users_hll",
    lambda spark, sf: _distinct.approx_distinct(
        load_table(spark, sf, "events"), "user_id", group_cols=("event_type",)
    ),
    _distinct.hll_sql(
        "SELECT event_type, CAST(user_id AS VARCHAR) AS __v FROM events",
        group_cols=("event_type",),
    ),
    ["approx_distinct"],
    ["event_type"],
)

# Global variant over an exploded token stream: distinct-vocabulary
# estimation without shuffling a single token string (registers only).
_register_pipeline(
    "text_distinct_tokens_hll",
    lambda spark, sf: _distinct.approx_distinct(
        load_table(spark, sf, "documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token")),
        "token",
    ),
    _distinct.hll_sql(
        "SELECT unnest(string_split(text, ' ')) AS __v FROM documents"
    ),
    ["approx_distinct"],
    [],
)

# TF-IDF keyword extraction: per-doc top-k salient terms, ranked on the
# canonically-rounded score so FP-equal-but-bitwise-different scores
# collapse onto the term tie-break identically in both engines.
_register_pipeline(
    "text_tfidf_topk",
    lambda spark, sf: _text.tfidf_topk(load_table(spark, sf, "documents"), k=3),
    _text.tfidf_topk_sql(k=3),
    ["score"],
    ["doc_id", "term", "tf", "rank"],
)

# Okapi BM25 retrieval: top-k docs per literal query, ranked on the
# canonically-rounded score (same cross-engine rank determinism as
# tfidf_topk) — the sparse complement of the ANN serving family.
_BM25_QUERIES = [
    (1, "fast table scan"),
    (2, "hash join merge batch"),
    (3, "window sort order query"),
]

_register_pipeline(
    "text_bm25_topk",
    lambda spark, sf: _text.bm25_topk(
        load_table(spark, sf, "documents"), _BM25_QUERIES, k=10
    ),
    _text.bm25_topk_sql(_BM25_QUERIES, 10),
    ["score"],
    ["query_id", "doc_id", "rank"],
)


_BM25_IDX_CACHE: dict[str, str] = {}


def _bm25_index_path(spark: SparkSession, sf: str, grow: bool,
                     positions: bool = False) -> str:
    """Build-once-per-(process, corpus) BM25 index dir: repeated
    invocations (bench warm pass + timed passes) serve from the same
    materialized index instead of re-timing build+serve — the same
    amortization contract as the bench's dedup signature index (ADVICE
    r9) — and the temp dir is reaped at interpreter exit.

    ``grow=True`` builds over 3/4 of the corpus and appends the rest as
    epoch 1 — the incremental-growth layout, whose exact-merge contract
    makes it serve identically to the full build."""
    key = f"{'grow' if grow else 'full'}:{positions}:{sf}"
    if key not in _BM25_IDX_CACHE:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix="akumuli_bm25_idx_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        docs = load_table(spark, sf, "documents")
        if grow:
            _text.build_bm25_index(
                docs.filter(F.col("doc_id") % 4 != 3), path,
                positions=positions,
            )
            _text.append_bm25_index(
                docs.filter(F.col("doc_id") % 4 == 3), path, epoch=1
            )
        else:
            _text.build_bm25_index(docs, path, positions=positions)
        _BM25_IDX_CACHE[key] = path
    return _BM25_IDX_CACHE[key]


def _bm25_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Serve from the persisted inverted index (term-bucket-pruned
    postings AND dfreq scans) — a pure materialization, so the oracle
    is the unchanged direct twin."""
    path = _bm25_index_path(spark, sf, grow=False)
    return _text.bm25_topk_from_index(spark, path, _BM25_QUERIES, k=10)


_register_pipeline(
    "text_bm25_indexed",
    _bm25_indexed,
    _text.bm25_topk_sql(_BM25_QUERIES, 10),
    ["score"],
    ["query_id", "doc_id", "rank"],
)


def _bm25_indexed_df(spark: SparkSession, sf: str) -> DataFrame:
    """The DataFrame-query-set serving path (production shape: query
    sets materialized in the lake) — bucket pruning comes from the
    bounded distinct-bucket collect instead of the Python-side literal
    walk; results are identical, so the oracle is unchanged."""
    path = _bm25_index_path(spark, sf, grow=False)
    qdf = local_frame(spark,
        _BM25_QUERIES, "query_id long, text string"
    )
    return _text.bm25_topk_from_index(spark, path, qdf, k=10)


_register_pipeline(
    "text_bm25_indexed_df",
    _bm25_indexed_df,
    _text.bm25_topk_sql(_BM25_QUERIES, 10),
    ["score"],
    ["query_id", "doc_id", "rank"],
)


def _bm25_append(spark: SparkSession, sf: str) -> DataFrame:
    """The growth story: build over 3/4 of the corpus, append the rest
    (epoch-keyed partials), serve.  Every global BM25 statistic is a
    sum, so the folded partials serve EXACTLY the full-corpus answer —
    the oracle is the unchanged full-corpus twin (akin to
    ann_ivf_append's frozen-codebook equivalence, but without even a
    codebook to freeze)."""
    path = _bm25_index_path(spark, sf, grow=True)
    return _text.bm25_topk_from_index(spark, path, _BM25_QUERIES, k=10)


_register_pipeline(
    "text_bm25_append",
    _bm25_append,
    _text.bm25_topk_sql(_BM25_QUERIES, 10),
    ["score"],
    ["query_id", "doc_id", "rank"],
)


_PHRASES = [
    (1, "table scan"),
    (2, "scan slow fast"),
    (3, "hash value"),
    (4, "quasar nebula"),  # matches nothing: the totality arm
]

_register_pipeline(
    "text_phrase_match",
    lambda spark, sf: _text.phrase_counts(
        load_table(spark, sf, "documents"), _PHRASES
    ),
    _text.phrase_counts_sql(_PHRASES),
    [],
    ["query_id", "doc_id", "n_matches"],
)


def _phrase_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Phrase search served from the positional postings (term-bucket-
    pruned, left-fold start-position intersection) — the positions
    table is a pure materialization of the token array, so the oracle
    is the shared direct-formula twin."""
    path = _bm25_index_path(spark, sf, grow=False, positions=True)
    return _text.phrase_counts_from_index(spark, path, _PHRASES)


_register_pipeline(
    "text_phrase_indexed",
    _phrase_indexed,
    _text.phrase_counts_sql(_PHRASES),
    [],
    ["query_id", "doc_id", "n_matches"],
)


def _phrase_relational(spark: SparkSession, sf: str) -> DataFrame:
    """Large-phrase-set shape: ONE relational plan (tokens ⋈ phrase
    terms → alignment counting) regardless of phrase count — the
    decontamination-by-exact-quote path (VERDICT r10 wrong #2).  Same
    semantics as the per-phrase expression plan, so the oracle is the
    shared direct-formula twin."""
    qdf = local_frame(spark, _PHRASES, "query_id long, text string")
    return _text.phrase_counts_relational(
        load_table(spark, sf, "documents"), qdf
    )


_register_pipeline(
    "text_phrase_relational",
    _phrase_relational,
    _text.phrase_counts_sql(_PHRASES),
    [],
    ["query_id", "doc_id", "n_matches"],
)


def _phrase_relational_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """The same fixed-shape plan served from the persisted positional
    postings — bucket-pruned via the stored layout contract, pos_lists
    exploded only for the matched terms."""
    path = _bm25_index_path(spark, sf, grow=False, positions=True)
    qdf = local_frame(spark, _PHRASES, "query_id long, text string")
    return _text.phrase_counts_relational_from_index(spark, path, qdf)


_register_pipeline(
    "text_phrase_relational_indexed",
    _phrase_relational_indexed,
    _text.phrase_counts_sql(_PHRASES),
    [],
    ["query_id", "doc_id", "n_matches"],
)


_HYBRID_DENSE_QUERY_IDS = [1, 2, 3]  # vec_ids paired with _BM25_QUERIES ids


def _retrieval_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the audited sparse
    (BM25) and dense (exact-cosine ANN) top-k frames — the first-class
    version of examples/retrieval_serving.py's blend (VERDICT r9 Next
    #6).  Query ids pair 1:1 across the two modalities (the production
    contract: one query row fans out to its text and its embedding)."""
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    sparse = _text.bm25_topk(docs, _BM25_QUERIES, k=10)
    dense = _sim.cosine_topk(embs, _HYBRID_DENSE_QUERY_IDS, k=10).select(
        "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return _text.hybrid_rrf(sparse, dense, k=10)


_register_pipeline(
    "retrieval_hybrid_rrf",
    _retrieval_hybrid_rrf,
    _text.hybrid_rrf_sql(
        _text.bm25_topk_sql(_BM25_QUERIES, 10),
        _sim.cosine_topk_sql(_HYBRID_DENSE_QUERY_IDS, 10),
        10,
    ),
    ["rrf"],
    ["query_id", "doc_id", "rank"],
)


def _retrieval_hybrid_rrf_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """The full serving stack: RRF over the two PERSISTED indexes —
    bucket-pruned BM25 postings on the sparse side, partition-pruned
    IVF lists on the dense side (both build-once-per-process; the fused
    query touches nprobe/nlist of the vector corpus and the query
    terms' buckets of the postings, nothing else).  Both serving paths
    are pure materializations of their direct twins, so the oracle is
    the RRF composition of those twins."""
    sparse = _text.bm25_topk_from_index(
        spark, _bm25_index_path(spark, sf, grow=False), _BM25_QUERIES, k=10
    )
    dense = _sim.ivf_topk_from_index(
        spark, _ivf_index_path(spark, sf, grow=False),
        _HYBRID_DENSE_QUERY_IDS, k=10,
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return _text.hybrid_rrf(sparse, dense, k=10)


_register_pipeline(
    "retrieval_hybrid_rrf_indexed",
    _retrieval_hybrid_rrf_indexed,
    _text.hybrid_rrf_sql(
        _text.bm25_topk_sql(_BM25_QUERIES, 10),
        _sim.ivf_topk_sql(_HYBRID_DENSE_QUERY_IDS, 10),
        10,
    ),
    ["rrf"],
    ["query_id", "doc_id", "rank"],
)


# Bucketized interval (range) join: error events open 30-min windows,
# purchase samples land in every window containing them, aggregated per
# window.  The DuckDB twin is the plain inequality join (IEJoin) — the
# bucketization is pair-exact, so the two must agree row-for-row.
def _join_interval(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.interval import interval_join
    from akumuli_spark.sources.testdata import ts_ns_expr

    ev = load_table(spark, sf, "events")
    win_ns = 30 * 60 * NS
    iv = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        ts_ns_expr(ev).alias("start_ns"),
        (ts_ns_expr(ev) + F.lit(win_ns)).alias("end_ns"),
    )
    s = (
        app_metrics_view(spark, sf)
        .where(F.col("metric") == "app.purchase")
        .select("ts_ns", "value")
    )
    return (
        interval_join(s, iv, bucket_ns=win_ns)
        .groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.avg("value").alias("avg_value"),
        )
    )


def _join_interval_oracle() -> str:
    from akumuli_spark.operators.interval import interval_join_sql

    win_ns = 30 * 60 * NS
    inner = interval_join_sql(
        "s AS (SELECT epoch_ns(ts) AS ts_ns, value FROM events "
        "WHERE event_type = 'purchase')",
        f"iv AS (SELECT event_id AS interval_id, epoch_ns(ts) AS start_ns, "
        f"epoch_ns(ts) + {win_ns} AS end_ns FROM events "
        f"WHERE event_type = 'error')",
        "s", "iv",
        select="i.interval_id, s.value",
    )
    return (
        "SELECT interval_id, count(*) AS n_samples, avg(value) AS avg_value "
        f"FROM (\n{inner}\n) __iv GROUP BY interval_id"
    )


_register_pipeline(
    "join_interval",
    _join_interval,
    _join_interval_oracle(),
    ["avg_value"],
    ["interval_id", "n_samples"],
)


# Post-decode multimodal stages: nearest-neighbor resize over a
# materialized source grid (values from the documented deterministic
# generator; dims + resample indices replayed arithmetically by the
# oracle) and WAV frame sampling (real RIFF header walk; sampled-byte
# stats replayed via ascii(substr) on the ASCII corpus).
_register_pipeline(
    "multimodal_resize",
    lambda spark, sf: _mm.resize_images(
        _mm.synth_bmp_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.resize_images_sql(),
    ["px_mean"],
    ["doc_id", "src_w", "src_h", "px_sum"],
)

# Perceptual image dedup: 60-bit dHash per image (drops into the text
# SimHash pigeonhole machinery) + hamming-radius near-dup pairs —
# multimodal near-dup as a first-class pass
_register_pipeline(
    "multimodal_image_dhash",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_bmp_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.image_dhash_sql(),
    [],
    ["doc_id", "dhash"],
)

# Payload-pixel dHash: the kernel reads the ACTUAL stored BMP pixel
# array (offset walk, bottom-up rows, 4-byte padding) from real
# pixel-carrying BMPs; the oracle replays the bytes the synth corpus
# wrote into that array.  This is the production path — the generator
# entry above stays as the header-dims contract.
_register_pipeline(
    "multimodal_image_dhash_payload",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_bmp_pixel_payloads(load_table(spark, sf, "documents")),
        pixel_source="payload",
    ),
    _mm.image_dhash_payload_sql(),
    [],
    ["doc_id", "dhash"],
)

# The PNG corpus stores the SAME pixel grid as the BMP pixel corpus —
# re-encodings of identical pixels — so the real decode path (chunk
# walk, zlib inflate, all-five-filter undo) is audited by the same
# arithmetic twin, and a filter-undo regression breaks the round trip.
_register_pipeline(
    "multimodal_image_dhash_payload_png",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_png_pixel_payloads(load_table(spark, sf, "documents")),
        pixel_source="payload",
    ),
    _mm.image_dhash_payload_sql(),
    [],
    ["doc_id", "dhash"],
)

# ...and the JPEG corpus: real entropy-coded baseline streams of the
# same grid, so the full sequential-DCT decode (Huffman + dequant +
# IDCT) is audited by the same arithmetic twin — exact because the
# all-ones-quant round trip's ≤ ±2 error cannot flip the corpus's
# ≥ 31-magnitude gradients.
_register_pipeline(
    "multimodal_image_dhash_payload_jpeg",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_jpeg_pixel_payloads(load_table(spark, sf, "documents")),
        pixel_source="payload",
    ),
    _mm.image_dhash_payload_sql(),
    [],
    ["doc_id", "dhash"],
)

# ...and the PROGRESSIVE (SOF2) corpus: the same grid re-encoded with a
# 5-scan spectral-selection + successive-approximation script, so the
# scan-accumulating progressive decoder (DC first/refine, AC first/
# refine, EOB runs with buffered correction bits) is audited by the
# same arithmetic twin — web crawls are majority progressive, so this
# is the coding the payload path actually meets at 100 TB.
_register_pipeline(
    "multimodal_image_dhash_payload_jpeg_progressive",
    lambda spark, sf: _mm.image_dhash(
        _mm.synth_jpeg_progressive_pixel_payloads(
            load_table(spark, sf, "documents")),
        pixel_source="payload",
    ),
    _mm.image_dhash_payload_sql(),
    [],
    ["doc_id", "dhash"],
)


# Per-format decode/fallback counters over a MIXED corpus (each doc_id
# residue class gets a different container/coding): the committed
# evidence for what fraction of a corpus the real decoders cover vs
# what degrades to NULL-hash fallback — audio (WAV) has no pixel path,
# so its class pins the fallback counter.  The oracle replays the
# residue rule arithmetically.
def _decode_report(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    synths = [
        _mm.synth_bmp_pixel_payloads,
        _mm.synth_png_pixel_payloads,
        _mm.synth_jpeg_pixel_payloads,
        _mm.synth_jpeg_progressive_pixel_payloads,
        _mm.synth_wav_payloads,
        _mm.synth_gif_pixel_payloads,
    ]
    pay = None
    for i, synth in enumerate(synths):
        part = synth(docs.filter(F.col("doc_id") % 6 == i))
        pay = part if pay is None else pay.unionByName(part)
    return _mm.image_decode_report(pay)


_register_pipeline(
    "multimodal_decode_report",
    _decode_report,
    """
    SELECT format,
           count(*) AS images,
           sum(decoded) AS decoded,
           count(*) - sum(decoded) AS fallback
    FROM (
        SELECT CASE
                 WHEN text IS NULL THEN 'corrupt'
                 WHEN doc_id % 6 = 0 THEN 'bmp'
                 WHEN doc_id % 6 = 1 THEN 'png'
                 WHEN doc_id % 6 = 2 THEN 'jpeg_baseline'
                 WHEN doc_id % 6 = 3 THEN 'jpeg_progressive'
                 WHEN doc_id % 6 = 4 THEN 'wav'
                 ELSE 'gif'
               END AS format,
               CASE
                 WHEN text IS NULL THEN 0
                 WHEN doc_id % 6 = 4 THEN 0
                 ELSE 1
               END AS decoded
        FROM documents
    ) GROUP BY format
    """,
    [],
    ["format", "images", "decoded", "fallback"],
)


_register_pipeline(
    "multimodal_image_near_dup",
    lambda spark, sf: _mm.image_near_dup_pairs(
        _mm.synth_bmp_payloads(load_table(spark, sf, "documents")),
        max_hamming=3,
    ),
    _mm.image_near_dup_sql(3),
    [],
    ["doc_a", "doc_b", "hamming"],
)

# ...and the audio analogue: 60-bit energy-gradient fingerprint over
# resampled frame probes + hamming pairs (same pigeonhole machinery)
# Incremental image dedup: an arriving batch of images deduped against
# the STORED hash table via the generic batch-vs-store signature path
# (dedup.signature_hamming_pairs_incremental) — the multimodal analogue
# of dedup_simhash_incremental; oracle = full pair set restricted to
# batch-touching pairs.
def _image_near_dup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    pay = _mm.synth_bmp_payloads(docs)

    def hashes(pred):
        return (
            _mm.image_dhash(pay.join(
                docs.filter(pred).select("doc_id"), "doc_id"))
            .filter(F.col("dhash").isNotNull())
            .select(F.col("doc_id").alias("id"),
                    F.col("dhash").alias("simhash"))
        )

    return _dedup.signature_hamming_pairs_incremental(
        hashes(F.col("doc_id") % 7 != 3),
        hashes(F.col("doc_id") % 7 == 3),
        max_hamming=3,
    )


_register_pipeline(
    "multimodal_image_dedup_incremental",
    _image_near_dup_incremental,
    (
        "SELECT doc_a, doc_b, hamming FROM ("
        + _mm.image_near_dup_sql(3)
        + ")\nWHERE doc_a % 7 = 3 OR doc_b % 7 = 3"
    ),
    [],
    ["doc_a", "doc_b", "hamming"],
)

_register_pipeline(
    "multimodal_audio_fingerprint",
    lambda spark, sf: _mm.audio_fingerprint(
        _mm.synth_wav_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.audio_fingerprint_sql(),
    [],
    ["doc_id", "afp"],
)

_register_pipeline(
    "multimodal_audio_near_dup",
    lambda spark, sf: _mm.audio_near_dup_pairs(
        _mm.synth_wav_payloads(load_table(spark, sf, "documents")),
        max_hamming=3,
    ),
    _mm.audio_near_dup_sql(3),
    [],
    ["doc_a", "doc_b", "hamming"],
)

_register_pipeline(
    "multimodal_frame_sample",
    lambda spark, sf: _mm.sample_audio_frames(
        _mm.synth_wav_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.sample_audio_frames_sql(),
    ["frame_mean"],
    ["doc_id", "n_frames", "n_sampled"],
)


# Survivorship-policy dedup: best-quality copy survives (score ties →
# smallest id), argmax as a struct-max aggregate rather than a window.
def _dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # carry=("text",) keeps scoring + fingerprinting in ONE scan — no
    # join back to re-fetch the text column
    scored = _text.quality_score(docs, carry=("text",))
    return _dedup.exact_duplicates_keep_best(scored)


_register_pipeline(
    "dedup_exact_keep_best",
    _dedup_keep_best,
    _dedup.exact_keep_best_sql(
        "scored AS (\n"
        "  SELECT doc_id, text,\n"
        "         0.5 * (len(list_distinct(ws)) * 1.0 / len(ws))\n"
        "           + 0.3 * (least(len(ws), 200) / 200.0)\n"
        "           + 0.2 * (len(list_filter(ws, w -> w IN ({stops}))) * 1.0 / len(ws)) AS quality\n"
        "  FROM (SELECT doc_id, text, string_split(text, ' ') ws FROM documents)\n"
        ")".format(stops=", ".join("'" + w + "'" for w in _text.STOPWORDS))
    ),
    ["keep_score"],
    ["fingerprint", "keep_id", "n_copies"],
)


# Markov transition matrix over the event stream — the aggregate
# complement of the funnel entry; (ts, event_id) ordering makes the
# per-user sequence deterministic across engines.
_register_pipeline(
    "events_transitions",
    lambda spark, sf: _sessions.event_transitions(load_table(spark, sf, "events")),
    _sessions.event_transitions_sql(),
    ["prob"],
    ["from_type", "to_type", "n_transitions"],
)


# DSIR importance weights (Xie et al. 2023): target = the 'src0' slice,
# hashed unigram+bigram distributions, one text scan for both the raw
# distribution and the per-doc fold.
_register_pipeline(
    "text_dsir_weights",
    lambda spark, sf: _text.dsir_logweights(
        load_table(spark, sf, "documents"),
        load_table(spark, sf, "documents").where(F.col("source") == "src0"),
    ),
    _text.dsir_logweights_sql("source = 'src0'"),
    ["dsir_logw"],
    ["doc_id", "n_feats"],
)


# Lead-lag correlation (extension): a(t) vs b(t + lag·step) over
# 6h-bucket resampled series — one shifted equi-join for ALL lags via a
# broadcast lag table, never a self-join per lag.
_LAG_STEP = 6 * 3600 * NS


def _metrics_corr_lagged(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.histogram import metrics_correlation_lagged

    return _round_doubles(metrics_correlation_lagged(
        metrics_view(spark, sf), "lineitem.price", "lineitem.qty",
        _T96_OFF, T97, _LAG_STEP,
    ))


def _metrics_corr_lagged_oracle() -> str:
    from akumuli_spark.operators.histogram import metrics_correlation_lagged_sql

    return metrics_correlation_lagged_sql(
        METRICS_SQL, "metrics", "lineitem.price", "lineitem.qty",
        _T96_OFF, T97, _LAG_STEP,
    )


REGISTRY["metrics_correlation_lagged"] = (
    _metrics_corr_lagged,
    _wrap_round(_metrics_corr_lagged_oracle(), ["corr"],
                ["tagstr", "lag", "n_aligned"]),
)


# Shannon token entropy (quality signal): zero-shuffle projection, the
# information-density complement of the repetition fractions.
_register_pipeline(
    "text_entropy",
    lambda spark, sf: _text.token_entropy(load_table(spark, sf, "documents")),
    _text.TOKEN_ENTROPY_SQL,
    ["entropy", "norm_entropy"],
    ["doc_id", "n_tokens", "n_distinct"],
)


# Mergeable log-histogram quantile sketch (DDSketch-style bounded
# relative error) — the quantile sibling of the SpaceSaving and HLL
# approx modes; bin counts are the whole state.
def _events_quantiles_sketch(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.quantile_sketch import approx_quantiles

    return approx_quantiles(
        load_table(spark, sf, "events"), "value", [0.5, 0.9, 0.99],
        group_cols=("event_type",),
    )


def _events_quantiles_sketch_oracle() -> str:
    from akumuli_spark.operators.quantile_sketch import approx_quantiles_sql

    return approx_quantiles_sql(
        "SELECT event_type, value::DOUBLE AS __v FROM events",
        [0.5, 0.9, 0.99], group_cols=("event_type",),
    )


_register_pipeline(
    "events_quantiles_sketch",
    _events_quantiles_sketch,
    _events_quantiles_sketch_oracle(),
    ["q", "est"],
    ["event_type"],
)


# Interaction episodes: per-session ordered event-type sequences (the
# behavioral-modeling training shape); (ts, event_id) ordering keeps
# the sequence string deterministic across engines.
_register_pipeline(
    "session_sequences",
    lambda spark, sf: _sessions.session_sequences(
        load_table(spark, sf, "events"), _SESSION_GAP
    ),
    _sessions.session_sequences_sql(_SESSION_GAP),
    [],
    ["user_id", "session_id", "seq", "n_events", "duration_ns"],
)


# Feature-extraction stage over the resized grid: intensity histogram +
# mean, completing the decode / feature-extract / resize / frame-sample
# multimodal plumbing set.
_register_pipeline(
    "multimodal_features",
    lambda spark, sf: _mm.image_features(
        _mm.synth_bmp_payloads(load_table(spark, sf, "documents"))
    ),
    _mm.image_features_sql(),
    ["px_mean"],
    ["doc_id"] + [f"b{i}" for i in range(8)],
)


# Exclusion form of the interval join: purchase samples OUTSIDE every
# error window, aggregated — the drop-maintenance-windows shape.
def _join_interval_anti(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.operators.interval import interval_anti_join
    from akumuli_spark.sources.testdata import ts_ns_expr

    ev = load_table(spark, sf, "events")
    win_ns = 30 * 60 * NS
    iv = ev.where(F.col("event_type") == "error").select(
        ts_ns_expr(ev).alias("start_ns"),
        (ts_ns_expr(ev) + F.lit(win_ns)).alias("end_ns"),
    )
    s = (
        app_metrics_view(spark, sf)
        .where(F.col("metric") == "app.purchase")
        .select("ts_ns", "value")
    )
    return interval_anti_join(s, iv, bucket_ns=win_ns).agg(
        F.count(F.lit(1)).cast("long").alias("n_outside"),
        F.sum("value").alias("value_sum"),
    )


_JOIN_INTERVAL_ANTI_SQL = f"""
WITH iv AS (
  SELECT epoch_ns(ts) AS start_ns,
         epoch_ns(ts) + {30 * 60 * NS} AS end_ns
  FROM events WHERE event_type = 'error'
),
s AS (SELECT epoch_ns(ts) AS ts_ns, value FROM events
      WHERE event_type = 'purchase')
SELECT count(*) AS n_outside, sum(value) AS value_sum
FROM s
WHERE NOT EXISTS (
  SELECT 1 FROM iv WHERE s.ts_ns >= iv.start_ns AND s.ts_ns < iv.end_ns
)
""".strip()

_register_pipeline(
    "join_interval_anti",
    _join_interval_anti,
    _JOIN_INTERVAL_ANTI_SQL,
    ["value_sum"],
    ["n_outside"],
)


# DSIR selection step: deterministic Gumbel top-k importance resampling
# over the weights — the paper's without-replacement sampling identity
# with md5-derived noise both engines replay.
def _dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    weighted = _text.dsir_logweights(
        docs, docs.where(F.col("source") == "src0")
    ).select("doc_id", "dsir_logw")
    return _text.dsir_resample(weighted, n=50)


_register_pipeline(
    "text_dsir_resample",
    _dsir_resample,
    _text.dsir_resample_sql(
        "weights AS (SELECT doc_id, dsir_logw FROM (\n"
        + _text.dsir_logweights_sql("source = 'src0'")
        + "\n) __w)",
        n=50,
    ),
    ["dsir_logw", "sel_key"],
    ["doc_id"],
)


# Pack materialization: assignments → one concatenated training row per
# pack, texts in doc_id order with an <eod> separator.
def _pack_materialize(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    packed = _cluster.pack_sequences(docs, budget=256, n_shards=1)
    return _cluster.materialize_packs(docs, packed)


_register_pipeline(
    "pack_materialize",
    _pack_materialize,
    _cluster.materialize_packs_sql(
        _cluster.pack_sequences_sql(budget=256, n_shards=1)
    ),
    [],
    ["stratum", "shard", "pack_id", "n_docs", "n_tokens", "text"],
)


# ---------------------------------------------------------------------------
# rule-based quality filtering + line/paragraph dedup (pipeline.quality)
# ---------------------------------------------------------------------------

from akumuli_spark.pipeline import quality as _quality  # noqa: E402

_register_pipeline(
    "text_gopher_quality",
    lambda spark, sf: _quality.gopher_quality_flags(
        load_table(spark, sf, "documents")
    ),
    _quality.gopher_quality_sql(),
    ["mean_word_len", "hash_word_ratio", "ellipsis_word_ratio",
     "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac"],
    ["doc_id", "n_words", "n_stop_hits", "passes"],
)

# The synthetic corpus is single-line prose, so the line-granularity
# operators run over deterministically derived pseudo-lines (2-word
# chunks, built byte-identically on both engines) — the chunk width is
# small so the 25-term vocabulary actually produces repeated lines and
# cross-document duplicate paragraphs, making the gate non-trivial.
_WCL2 = "d2 AS (" + _quality.word_chunk_lines_cte(2) + ")"

_register_pipeline(
    "text_line_repetition",
    lambda spark, sf: _quality.line_repetition_signals(
        _quality.with_word_chunk_lines(load_table(spark, sf, "documents"), 2)
    ),
    _quality.line_repetition_sql("d2", prelude=_WCL2),
    ["dup_line_frac", "dup_line_char_frac"],
    ["doc_id", "n_lines"],
)

_register_pipeline(
    "dedup_paragraphs",
    lambda spark, sf: _quality.dedup_paragraphs(
        _quality.with_word_chunk_lines(load_table(spark, sf, "documents"), 2)
    ),
    _quality.dedup_paragraphs_sql("d2", prelude=_WCL2),
    [],
    ["doc_id", "n_paras", "n_kept", "text_clean"],
)


# Product-quantization ADC search (the memory-bound ANN scale path:
# candidates scanned as m one-byte codes, not raw floats)
_register_pipeline(
    "ann_pq_topk",
    lambda spark, sf: _sim.pq_topk(
        load_table(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=10
    ),
    _sim.pq_topk_sql(_ANN_QUERY_IDS, 10),
    ["adc_dist"],
    ["query_id", "neighbor_id", "rank"],
)


# IVF probe + PQ asymmetric scan composed (the FAISS IndexIVFPQ shape:
# partition-pruned lists AND code-compressed candidates)
_register_pipeline(
    "ann_ivfadc",
    lambda spark, sf: _sim.ivfadc_topk(
        load_table(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=10
    ),
    _sim.ivfadc_topk_sql(_ANN_QUERY_IDS, 10),
    ["acos"],
    ["query_id", "neighbor_id", "rank"],
)


# Span REMOVAL (the actionable half of Lee et al. exact-substring dedup;
# dedup_span_coverage is the measurement half)
_register_pipeline(
    "dedup_scrub_spans",
    lambda spark, sf: _dedup.scrub_duplicated_spans(
        load_table(spark, sf, "documents"), n=5
    ),
    _dedup.scrub_duplicated_spans_sql(5),
    [],
    ["doc_id", "n_tokens", "n_kept", "text_clean"],
)


# True maximal repeated spans (Lee et al. §4.1 suffix-array analogue):
# positioned-shingle anchors merged along (pair, diagonal) into maximal
# aligned runs ≥ min_len tokens — exact, unlike the fixed-width shingle
# union in dedup_span_coverage (VERDICT r8 missing #4).
_register_pipeline(
    "dedup_substring_spans",
    lambda spark, sf: _dedup.substring_spans(
        load_table(spark, sf, "documents"), n=5, min_len=15
    ),
    _dedup.substring_spans_sql(5, 15),
    [],
    ["doc_a", "start_a", "doc_b", "start_b", "length"],
)

# The concatenated-corpus form: self-repeats count too (doc_a = doc_b,
# start_a < start_b), as in the published suffix-array pass
_register_pipeline(
    "dedup_substring_within",
    lambda spark, sf: _dedup.substring_spans(
        load_table(spark, sf, "documents"), n=3, min_len=4, within_doc=True
    ),
    _dedup.substring_spans_sql(3, 4, within_doc=True),
    [],
    ["doc_a", "start_a", "doc_b", "start_b", "length"],
)

# ...and removal operating on those true spans (their §4.2, symmetric)
_register_pipeline(
    "dedup_scrub_substring",
    lambda spark, sf: _dedup.scrub_substring_spans(
        load_table(spark, sf, "documents"), n=5, min_len=15
    ),
    _dedup.scrub_substring_spans_sql(5, 15),
    [],
    ["doc_id", "n_tokens", "n_kept", "text_clean"],
)


# Contrastive triplet mining: positives from the near-dup pass, hard
# negatives from the ANN pass (closest non-duplicate neighbors) — the
# embedding-training set a pipeline mines from its own dedup artifacts.
# Both input families arrive as their own oracle SQL, so the composed
# triplet set is pinned end to end.
_register_pipeline(
    "mine_triplets",
    lambda spark, sf: _cluster.mine_contrastive_triplets(
        _dedup.ngram_jaccard_pairs(
            load_table(spark, sf, "documents"), n=5, threshold=0.5, max_df=64
        ),
        _sim.ivf_topk_batch(
            load_table(spark, sf, "embeddings"),
            load_table(spark, sf, "embeddings")
            .filter(F.col("vec_id") % 9 == 2)
            .select(F.col("vec_id").alias("query_id"), "embedding"),
            k=10,
        ),
        per_anchor=1,
    ),
    _cluster.mine_triplets_sql(
        _dedup.ngram_jaccard_sql(5, 0.5, max_df=64),
        _sim.ivf_topk_batch_sql("vec_id % 9 = 2", 10),
        per_anchor=1,
    ),
    ["neg_cosine"],
    ["anchor_id", "pos_id", "neg_id", "neg_rank"],
)


# keep-one-copy survivorship: each repeated pair keeps its first
# occurrence and cuts only the later one (the production default rule)
_register_pipeline(
    "dedup_scrub_substring_keepfirst",
    lambda spark, sf: _dedup.scrub_substring_spans(
        load_table(spark, sf, "documents"), n=5, min_len=15, keep="first"
    ),
    _dedup.scrub_substring_spans_sql(5, 15, keep="first"),
    [],
    ["doc_id", "n_tokens", "n_kept", "text_clean"],
)


def _ann_ivfadc_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Build the persisted IVFADC index (codes + norms on disk, raw
    embeddings NOT stored), then serve the query set from it — the
    partition-pruned, code-compressed serving shape.  The oracle is the
    unchanged ivfadc twin: the index is a pure materialization."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"akumuli_ivfadc_idx_{os.getpid()}"
    )
    embs = load_table(spark, sf, "embeddings")
    _sim.build_ivfadc_index(embs, path)
    queries = embs.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).select(
        "vec_id", "embedding"
    )
    return _sim.ivfadc_topk_from_index(spark, path, queries, k=10)


_register_pipeline(
    "ann_ivfadc_indexed",
    _ann_ivfadc_indexed,
    _sim.ivfadc_topk_sql(_ANN_QUERY_IDS, 10),
    ["acos"],
    ["query_id", "neighbor_id", "rank"],
)


def _ann_ivfadc_append(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental growth: build over 3/4 of the corpus, append the rest
    under the frozen codebooks, probe.  Codebooks are trained on the
    full corpus (the production freeze-then-grow pattern), so the
    unchanged full-corpus twin is the oracle — assignment and encoding
    are pure per-row functions of (vector, codebooks)."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"akumuli_ivfadc_app_{os.getpid()}"
    )
    embs = load_table(spark, sf, "embeddings")
    cents = _sim._centroids(embs, _sim.IVF_NLIST)
    cb = _sim.pq_codebooks(embs)
    _sim.build_ivfadc_index(
        embs.filter(F.col("vec_id") % 4 != 0), path,
        centroids=cents, codebooks=cb,
    )
    _sim.append_ivfadc_index(embs.filter(F.col("vec_id") % 4 == 0), path)
    queries = embs.filter(F.col("vec_id").isin(_ANN_QUERY_IDS)).select(
        "vec_id", "embedding"
    )
    return _sim.ivfadc_topk_from_index(spark, path, queries, k=10)


_register_pipeline(
    "ann_ivfadc_append",
    _ann_ivfadc_append,
    _sim.ivfadc_topk_sql(_ANN_QUERY_IDS, 10),
    ["acos"],
    ["query_id", "neighbor_id", "rank"],
)


# Deterministic Bloom-filter membership gate (pipeline.membership): the
# "seen before?" pre-filter that lets ingestion skip the exact-dedup
# join for never-seen keys; truly_seen from an exact semi-join pins the
# false-positive set cross-engine
from akumuli_spark.pipeline import membership as _member  # noqa: E402


def _dedup_bloom_probe(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    keyed = docs.select("doc_id", F.md5("text").alias("fingerprint"))
    seen = keyed.filter(F.col("doc_id") % 7 != 3)
    batch = keyed.filter(F.col("doc_id") % 7 == 3)
    bloom = _member.build_bloom_filter(seen)
    probed = _member.bloom_probe(batch, bloom)
    truth = seen.select(F.col("fingerprint").alias("__fp")).distinct()
    return probed.join(
        truth, probed["fingerprint"] == truth["__fp"], "left"
    ).select(
        "doc_id",
        "maybe_seen",
        F.col("__fp").isNotNull().cast("long").alias("truly_seen"),
    )


_register_pipeline(
    "dedup_bloom_probe",
    _dedup_bloom_probe,
    _member.bloom_probe_sql("{id} % 7 <> 3"),
    [],
    ["doc_id", "maybe_seen", "truly_seen"],
)


def _curate_gopher_paragraphs(spark: SparkSession, sf: str) -> DataFrame:
    """Two quality stages COMPOSED (the pipeline shape, not just the
    pieces): Gopher-rule gate → paragraph dedup over the survivors —
    the oracle replays the same two-stage plan, so stage boundaries
    (which docs the gate admits, which paragraphs then count as first
    occurrences) are pinned cross-engine, not just each stage alone.
    The gate keys on n_words/n_stop_hits (the rules the single-line
    synthetic corpus can meaningfully fail)."""
    docs = load_table(spark, sf, "documents")
    # flags are a pure per-row projection of docs — gate by filtering the
    # flag frame itself (text rides through via the keep passthrough)
    # instead of joining the admitted ids back to the corpus, which
    # scanned + re-tokenized documents once per downstream consumer
    # (4 scans in the pre-r14 plan).  dedup_paragraphs consumes its
    # input twice (explode + doc spine), so the gated frame is
    # materialized once — it is the stage boundary the pipeline
    # re-reads anyway.
    gated = (
        _quality.gopher_quality_flags(docs, "text")
        .filter((F.col("n_words") >= 50) & (F.col("n_stop_hits") >= 1))
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    return _quality.dedup_paragraphs(
        _quality.with_word_chunk_lines(gated, 2)
    )


_register_pipeline(
    "curate_gopher_paragraphs",
    _curate_gopher_paragraphs,
    _quality.dedup_paragraphs_sql(
        "d2",
        prelude=(
            "g AS (SELECT doc_id FROM (\n"
            + _quality.gopher_quality_sql()
            + "\n) WHERE n_words >= 50 AND n_stop_hits >= 1),\n"
            "gated AS (SELECT d.* FROM documents d JOIN g USING (doc_id)),\n"
            "d2 AS (" + _quality.word_chunk_lines_cte(2, table="gated") + ")"
        ),
    ),
    [],
    ["doc_id", "n_paras", "n_kept", "text_clean"],
)


# ADC shortlist -> exact re-rank (the IndexRefineFlat composition that
# makes PQ recall tunable with R; raw vectors touched only for R rows
# per query)
_register_pipeline(
    "ann_pq_refined",
    lambda spark, sf: _sim.refine_topk(
        load_table(spark, sf, "embeddings"),
        _sim.pq_topk(
            load_table(spark, sf, "embeddings"), _ANN_QUERY_IDS, k=50
        ),
        k=10,
    ),
    _sim.pq_refined_sql(_ANN_QUERY_IDS, 10, refine=50),
    ["cosine"],
    ["query_id", "neighbor_id", "rank"],
)


# Fuzzy (MinHash) decontamination: corpus docs near-duplicate to a
# benchmark doc - catches the paraphrases exact n-gram overlap misses
_register_pipeline(
    "decontaminate_fuzzy",
    lambda spark, sf: _dedup.fuzzy_decontaminate(
        load_table(spark, sf, "documents").filter(F.col("doc_id") % 13 != 5),
        load_table(spark, sf, "documents").filter(F.col("doc_id") % 13 == 5),
        n=5, threshold=0.5,
    ),
    _dedup.fuzzy_decontaminate_sql("id % 13 = 5", 5, 0.5),
    ["jaccard"],
    ["doc_id", "bench_id"],
)


# Diversity sampling: the best per_cluster docs of every embedding-space
# cluster (uniform semantic coverage, not a head-heavy global cut)
_register_pipeline(
    "sample_cluster_balanced",
    lambda spark, sf: _cluster.cluster_balanced_sample(
        load_table(spark, sf, "documents"),
        load_table(spark, sf, "embeddings"),
        per_cluster=10, nlist=16,
    ),
    _cluster.cluster_balanced_sample_sql(10, 16),
    ["quality"],
    ["doc_id", "cid", "rank"],
)


# Training-export integrity manifest: per-shard counts + an
# order-insensitive content checksum a reader re-derives to verify a
# materialized corpus (163 entries)
_register_pipeline(
    "export_manifest",
    lambda spark, sf: _cluster.export_manifest(
        load_table(spark, sf, "documents"), n_shards=16
    ),
    _cluster.export_manifest_sql(16),
    [],
    ["shard", "n_rows", "n_chars", "min_id", "max_id", "content_sum"],
)


# Within-document line dedup (the Dolma-style boilerplate strip; no
# shuffle at all - a per-row indexed higher-order filter)
_register_pipeline(
    "dedup_lines_within_doc",
    lambda spark, sf: _quality.dedup_lines_within_doc(
        _quality.with_word_chunk_lines(load_table(spark, sf, "documents"), 2)
    ),
    _quality.dedup_lines_within_doc_sql("d2", prelude=_WCL2),
    [],
    ["doc_id", "n_lines", "n_kept", "text_clean"],
)


# Cluster survivorship by quality (keep the cleanest member of each
# near-dup cluster, not the arbitrary minimum id)
_register_pipeline(
    "dedup_clusters_keep_best",
    lambda spark, sf: _cluster.dedup_clusters_keep_best(
        load_table(spark, sf, "documents"), n=5, threshold=0.5
    ),
    _cluster.dedup_clusters_keep_best_sql(5, 0.5),
    ["quality"],
    ["doc_id", "cluster_id", "keep"],
)


# ---------------------------------------------------------------------------
# Z-order clustered store (sources/zorder.py): OPTIMIZE ZORDER-style
# multi-dimensional clustering + manifest file skipping.  The store is a
# pure re-layout of the metrics view, so the oracle is a plain filter on
# the raw view — any manifest mis-prune (a dropped file) surfaces as a
# row-count/hash mismatch here.
# ---------------------------------------------------------------------------

_ZORDER_CACHE: dict[str, str] = {}
_YEAR_NS = 365 * 86_400 * NS


def _zorder_path(spark: SparkSession, sf: str) -> str:
    """Build-once-per-(process, corpus) z-store — same amortization
    contract as the IVF/BM25 index caches: the registered rows time the
    SERVING path; the one-time re-cluster is the OPTIMIZE job."""
    if sf not in _ZORDER_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import zorder_metrics_table

        path = tempfile.mkdtemp(prefix="akumuli_zorder_") + "/metrics"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        zorder_metrics_table(
            spark, metrics_view(spark, sf), path,
            bucket_ns=_YEAR_NS, files_per_partition=4,
        )
        _ZORDER_CACHE[sf] = path
    return _ZORDER_CACHE[sf]


_Z_SERIES = "lineitem.price linestatus=O returnflag=N"
_Z_T_HI = T96 + 180 * 86_400 * NS
_Z_SLICE_LO = T96 + 100 * 86_400 * NS
_Z_SLICE_HI = T96 + 107 * 86_400 * NS


def _zorder_series_range(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_path(spark, sf), metric="lineitem.price",
        series=_Z_SERIES, ts_from=T96, ts_to=_Z_T_HI,
    )
    return out.select("series", "ts_ns", "value")


def _zorder_time_slice(spark: SparkSession, sf: str) -> DataFrame:
    """The layout's reason to exist: a narrow time slice across ALL
    series of a metric — unprunable inside a partition under the
    (series, ts) sort, file-skipped here via the manifest rectangles."""
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_path(spark, sf), metric="lineitem.qty",
        ts_from=_Z_SLICE_LO, ts_to=_Z_SLICE_HI,
    )
    return out.select("series", "ts_ns", "value")


_register_pipeline(
    "zorder_select_series_range",
    _zorder_series_range,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE series = '{_Z_SERIES}' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}""",
    ["value"],
    ["series", "ts_ns"],
)

_register_pipeline(
    "zorder_select_time_slice",
    _zorder_time_slice,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.qty'
      AND ts_ns >= {_Z_SLICE_LO} AND ts_ns < {_Z_SLICE_HI}""",
    ["value"],
    ["series", "ts_ns"],
)


# ---------------------------------------------------------------------------
# Mergeable sketch rollup store (sources/sketch_store.py): per-day HLL +
# log-histogram partials persisted once, then ANY bucket-aligned range
# served by merging partials — zero fact-table scan.  The oracle is the
# same deterministic sketch computed directly over the raw rows of the
# range, so a mis-merge (lost bucket, double-merged partition) surfaces
# as a value mismatch, not an approximate drift.
# ---------------------------------------------------------------------------

_SKETCH_STORE_CACHE: dict[str, str] = {}
_SK_LO = E0 + 7 * 86_400 * NS
_SK_HI = E0 + 21 * 86_400 * NS
_SK_QS = [0.5, 0.9, 0.99]


def _sketch_store_path(spark: SparkSession, sf: str) -> str:
    """Build-once-per-(process, corpus) partials — the registered rows
    time the merge-and-serve path, the build is the one-time rollup."""
    if sf not in _SKETCH_STORE_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.sketch_store import build_sketch_store
        from akumuli_spark.sources.testdata import ts_ns_expr

        path = tempfile.mkdtemp(prefix="akumuli_sketch_") + "/store"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        ev = load_table(spark, sf, "events")
        build_sketch_store(
            ev.withColumn("ts_ns", ts_ns_expr(ev, "ts")), path,
            group_col="event_type", distinct_col="user_id",
            value_col="value",
        )
        _SKETCH_STORE_CACHE[sf] = path
    return _SKETCH_STORE_CACHE[sf]


def _sketch_distinct_range(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.sketch_store import distinct_over_range

    return distinct_over_range(
        spark, _sketch_store_path(spark, sf), _SK_LO, _SK_HI
    ).withColumnRenamed("group", "event_type")


def _sketch_quantiles_range(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.sketch_store import quantiles_over_range

    return quantiles_over_range(
        spark, _sketch_store_path(spark, sf), _SK_LO, _SK_HI, _SK_QS
    ).withColumnRenamed("group", "event_type")


_register_pipeline(
    "sketch_store_distinct_range",
    _sketch_distinct_range,
    _distinct.hll_sql(
        f"""SELECT event_type, CAST(user_id AS VARCHAR) AS __v FROM events
        WHERE epoch_ns(ts) >= {_SK_LO} AND epoch_ns(ts) < {_SK_HI}""",
        group_cols=("event_type",),
    ),
    ["approx_distinct"],
    ["event_type"],
)


def _sketch_quantiles_oracle() -> str:
    from akumuli_spark.operators.quantile_sketch import approx_quantiles_sql

    return approx_quantiles_sql(
        f"""SELECT event_type, CAST(value AS DOUBLE) AS __v FROM events
        WHERE epoch_ns(ts) >= {_SK_LO} AND epoch_ns(ts) < {_SK_HI}""",
        _SK_QS, group_cols=("event_type",),
    )


_register_pipeline(
    "sketch_store_quantiles_range",
    _sketch_quantiles_range,
    _sketch_quantiles_oracle(),
    ["est", "q"],
    ["event_type"],
)


# Tiered sketch serving (r12): a misaligned range — the honest
# dashboard shape, "last N days ending NOW" — splits into the aligned
# core (stored partials) and head/tail spans sketched from the raw
# frame the caller passes, folded with the same merge operators.  The
# oracle is the one-shot deterministic sketch over exactly the raw rows
# of the range, so a double-counted span, a dropped bucket, or a
# misplaced tier boundary surfaces as a value mismatch.
_SK_T_LO = _SK_LO + 7 * 3_600 * NS    # 07:00 into the first day
_SK_T_HI = _SK_HI - 5 * 3_600 * NS    # 19:00 into the last day


def _sketch_raw_tail(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.testdata import ts_ns_expr

    ev = load_table(spark, sf, "events")
    return ev.withColumn("ts_ns", ts_ns_expr(ev, "ts"))


def _sketch_distinct_tiered(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.sketch_store import distinct_over_range

    return distinct_over_range(
        spark, _sketch_store_path(spark, sf), _SK_T_LO, _SK_T_HI,
        raw_tail=_sketch_raw_tail(spark, sf),
    ).withColumnRenamed("group", "event_type")


def _sketch_quantiles_tiered(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.sketch_store import quantiles_over_range

    return quantiles_over_range(
        spark, _sketch_store_path(spark, sf), _SK_T_LO, _SK_T_HI, _SK_QS,
        raw_tail=_sketch_raw_tail(spark, sf),
    ).withColumnRenamed("group", "event_type")


_register_pipeline(
    "sketch_store_distinct_tiered",
    _sketch_distinct_tiered,
    _distinct.hll_sql(
        f"""SELECT event_type, CAST(user_id AS VARCHAR) AS __v FROM events
        WHERE epoch_ns(ts) >= {_SK_T_LO} AND epoch_ns(ts) < {_SK_T_HI}""",
        group_cols=("event_type",),
    ),
    ["approx_distinct"],
    ["event_type"],
)


def _sketch_quantiles_tiered_oracle() -> str:
    from akumuli_spark.operators.quantile_sketch import approx_quantiles_sql

    return approx_quantiles_sql(
        f"""SELECT event_type, CAST(value AS DOUBLE) AS __v FROM events
        WHERE epoch_ns(ts) >= {_SK_T_LO} AND epoch_ns(ts) < {_SK_T_HI}""",
        _SK_QS, group_cols=("event_type",),
    )


_register_pipeline(
    "sketch_store_quantiles_tiered",
    _sketch_quantiles_tiered,
    _sketch_quantiles_tiered_oracle(),
    ["est", "q"],
    ["event_type"],
)


# Engine-over-zorder integration: the JSON query engine runs unchanged
# on a zorder_select frame (engine schema is the store's read schema),
# so a group-aggregate gets manifest file skipping BEFORE its scan —
# the oracle is the plain view-level twin, proving the pruned frame is
# semantically the full range.
def _zorder_group_aggregate(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_select

    frame = zorder_select(
        spark, _zorder_path(spark, sf), metric="lineitem.price",
        ts_from=T96, ts_to=_Z_T_HI,
    )
    return execute_query(spark, {
        "group-aggregate": {
            "metric": "lineitem.price",
            "step": "7d",
            "func": ["sum", "count"],
        },
        "range": {"from": T96, "to": _Z_T_HI},
    }, frame)


REGISTRY["zorder_group_aggregate"] = (
    lambda spark, sf: _round_doubles(_zorder_group_aggregate(spark, sf)),
    _wrap_round(
        f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price:sum|lineitem.price:count ' || {TAGSTR} AS series,
           min(ts_ns) AS ts_ns,
           sum(value) AS sum, CAST(count(value) AS DOUBLE) AS count
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}
    GROUP BY 1, (ts_ns - {T96}) // {WEEK}""",
        ["sum", "count"],
        ["series", "ts_ns"],
    ),
)


# Growth-path serving twins (the ann_ivf_append pattern): the store is
# built over a prefix and grown by append; since an append changes no
# query semantics — z-append publishes the same rows, sketch epochs
# fold to the same partials — the oracles are the unchanged full-corpus
# twins, and any append bug (dropped file, unpublished manifest,
# double-counted epoch) surfaces as a mismatch.

def _zorder_grown_path(spark: SparkSession, sf: str) -> str:
    key = f"grow:{sf}"
    if key not in _ZORDER_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import (
            zorder_append,
            zorder_metrics_table,
        )

        path = tempfile.mkdtemp(prefix="akumuli_zorder_grow_") + "/metrics"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        mv = metrics_view(spark, sf)
        split = T96 + 90 * 86_400 * NS
        zorder_metrics_table(
            spark, mv.filter(F.col("ts_ns") < split), path,
            bucket_ns=_YEAR_NS, files_per_partition=4,
        )
        zorder_append(spark, mv.filter(F.col("ts_ns") >= split), path)
        _ZORDER_CACHE[key] = path
    return _ZORDER_CACHE[key]


def _zorder_append_select(spark: SparkSession, sf: str) -> DataFrame:
    """Serve the series-range probe from a store built over the first
    90 days and grown by one snapshot append covering the rest — the
    probe spans BOTH regions, so a lost append file or a stale manifest
    row is a visible row deficit."""
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_grown_path(spark, sf), metric="lineitem.price",
        series=_Z_SERIES, ts_from=T96, ts_to=_Z_T_HI,
    )
    return out.select("series", "ts_ns", "value")


_register_pipeline(
    "zorder_append_select",
    _zorder_append_select,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE series = '{_Z_SERIES}' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}""",
    ["value"],
    ["series", "ts_ns"],
)


def _zorder_uri_path(spark: SparkSession, sf: str) -> str:
    """The grown-store lifecycle addressed as a ``file://`` URI — every
    publish/maintenance primitive routes through the portable seam's
    Hadoop implementation (sources/fs.py HadoopStoreFS) instead of
    POSIX os/shutil, the deployable-at-100TB path (VERDICT r12 Next
    #1).  Build + epoch-keyed append + exactly-once replay, cached
    per process like the other store fixtures."""
    key = f"uri:{sf}"
    if key not in _ZORDER_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import (
            zorder_append,
            zorder_metrics_table,
        )

        local = tempfile.mkdtemp(prefix="akumuli_zorder_uri_") + "/metrics"
        atexit.register(shutil.rmtree, local, ignore_errors=True)
        path = "file://" + local
        mv = metrics_view(spark, sf)
        split = T96 + 90 * 86_400 * NS
        zorder_metrics_table(
            spark, mv.filter(F.col("ts_ns") < split), path,
            bucket_ns=_YEAR_NS, files_per_partition=4,
        )
        batch = mv.filter(F.col("ts_ns") >= split)
        zorder_append(spark, batch, path, epoch=1)
        zorder_append(spark, batch, path, epoch=1)  # replay: no-op
        _ZORDER_CACHE[key] = path
    return _ZORDER_CACHE[key]


def _zorder_uri_select(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_uri_path(spark, sf), metric="lineitem.price",
        series=_Z_SERIES, ts_from=T96, ts_to=_Z_T_HI,
    )
    return out.select("series", "ts_ns", "value")


# Same probe as zorder_append_select but over a file://-URI store
# served end-to-end through HadoopStoreFS: a replayed epoch that
# double-lands, a manifest row lost in the URI-route merge, or a
# mis-derived relative file name would all show as a row surplus/
# deficit against the flat oracle.
_register_pipeline(
    "zorder_uri_append_select",
    _zorder_uri_select,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE series = '{_Z_SERIES}' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}""",
    ["value"],
    ["series", "ts_ns"],
)


def _zorder_cas_path(spark: SparkSession, sf: str) -> str:
    """The grown-store lifecycle over a ``file://`` URI (the Hadoop
    filesystem route an S3/GCS deployment also takes): build,
    epoch-keyed append + exactly-once replay, then the auto-selected
    scoped OPTIMIZE — every publish a CasLog pointer commit
    (sources/fs.py), zero locks, zero renames of the manifest.  Cached
    per process."""
    key = f"cas:{sf}"
    if key not in _ZORDER_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import (
            zorder_append,
            zorder_metrics_table,
            zorder_optimize,
        )

        local = tempfile.mkdtemp(prefix="akumuli_zorder_cas_") + "/metrics"
        atexit.register(shutil.rmtree, local, ignore_errors=True)
        path = "file://" + local
        mv = metrics_view(spark, sf)
        split = T96 + 90 * 86_400 * NS
        zorder_metrics_table(
            spark, mv.filter(F.col("ts_ns") < split), path,
            bucket_ns=_YEAR_NS, files_per_partition=4,
        )
        batch = mv.filter(F.col("ts_ns") >= split)
        zorder_append(spark, batch, path, epoch=1)
        zorder_append(spark, batch, path, epoch=1)  # replay: no-op
        # re-cluster the eroded buckets through the CAS carry-forward
        # merge; an EMPTY corpus erodes nothing and optimizes 0 buckets
        zorder_optimize(spark, path)
        _ZORDER_CACHE[key] = path
    return _ZORDER_CACHE[key]


def _zorder_cas_select(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_cas_path(spark, sf), metric="lineitem.price",
        series=_Z_SERIES, ts_from=T96, ts_to=_Z_T_HI,
    )
    return out.select("series", "ts_ns", "value")


# Same probe again over a file:// store: a double-landed replay epoch,
# a row lost in the optimize's carry-forward merge, or a stale snapshot
# resolution in CasLog.current would all show against the flat oracle.
_register_pipeline(
    "zorder_cas_lifecycle_select",
    _zorder_cas_select,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE series = '{_Z_SERIES}' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}""",
    ["value"],
    ["series", "ts_ns"],
)


def _zorder_optimized_path(spark: SparkSession, sf: str) -> str:
    """Store built over a prefix, grown by two epoch appends (eroding
    the clustering — every bucket gains each append's rectangles), then
    repaired by the auto-selected scoped OPTIMIZE.  The serving probe
    spans optimized buckets, so a dropped row, a double-published file,
    or a manifest merge bug in the rewrite surfaces as a mismatch."""
    key = f"opt:{sf}"
    if key not in _ZORDER_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import (
            zorder_append,
            zorder_metrics_table,
            zorder_optimize,
        )

        path = tempfile.mkdtemp(prefix="akumuli_zorder_opt_") + "/metrics"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        mv = metrics_view(spark, sf)
        s1, s2 = T96 + 60 * 86_400 * NS, T96 + 120 * 86_400 * NS
        zorder_metrics_table(
            spark, mv.filter(F.col("ts_ns") < s1), path,
            bucket_ns=_YEAR_NS, files_per_partition=4,
        )
        zorder_append(
            spark, mv.filter((F.col("ts_ns") >= s1) & (F.col("ts_ns") < s2)),
            path, epoch=1)
        zorder_append(spark, mv.filter(F.col("ts_ns") >= s2), path, epoch=2)
        # auto-selects every eroded bucket; an EMPTY corpus erodes none
        # and optimize is a no-op — totality over degenerate inputs
        # (the non-empty erosion itself is pinned by pytest)
        zorder_optimize(spark, path)
        _ZORDER_CACHE[key] = path
    return _ZORDER_CACHE[key]


def _zorder_optimize_select(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_optimized_path(spark, sf), metric="lineitem.price",
        series=_Z_SERIES, ts_from=T96, ts_to=_Z_T_HI,
    )
    return out.select("series", "ts_ns", "value")


_register_pipeline(
    "zorder_optimize_select",
    _zorder_optimize_select,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE series = '{_Z_SERIES}' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}""",
    ["value"],
    ["series", "ts_ns"],
)


def _sketch_grown_path(spark: SparkSession, sf: str) -> str:
    key = f"grow:{sf}"
    if key not in _SKETCH_STORE_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.sketch_store import (
            append_sketch_store,
            build_sketch_store,
        )
        from akumuli_spark.sources.testdata import ts_ns_expr

        path = tempfile.mkdtemp(prefix="akumuli_sketch_grow_") + "/store"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        ev = load_table(spark, sf, "events")
        ev = ev.withColumn("ts_ns", ts_ns_expr(ev, "ts"))
        split = E0 + 14 * 86_400 * NS
        build_sketch_store(
            ev.filter(F.col("ts_ns") < split), path,
            group_col="event_type", distinct_col="user_id",
            value_col="value",
        )
        append_sketch_store(ev.filter(F.col("ts_ns") >= split), path,
                            epoch=1)
        _SKETCH_STORE_CACHE[key] = path
    return _SKETCH_STORE_CACHE[key]


def _sketch_distinct_appended(spark: SparkSession, sf: str) -> DataFrame:
    """Serve the distinct range from a store whose second half arrived
    as an epoch append — the served window straddles the split, so the
    serve-time epoch fold is on the hook, not just the build."""
    from akumuli_spark.sources.sketch_store import distinct_over_range

    return distinct_over_range(
        spark, _sketch_grown_path(spark, sf), _SK_LO, _SK_HI
    ).withColumnRenamed("group", "event_type")


_register_pipeline(
    "sketch_store_distinct_appended",
    _sketch_distinct_appended,
    _distinct.hll_sql(
        f"""SELECT event_type, CAST(user_id AS VARCHAR) AS __v FROM events
        WHERE epoch_ns(ts) >= {_SK_LO} AND epoch_ns(ts) < {_SK_HI}""",
        group_cols=("event_type",),
    ),
    ["approx_distinct"],
    ["event_type"],
)


# Tiered group-aggregate (query/rollup.py group_aggregate_tiered): the
# cold span [T96, T96+98d) is served from day-step rollup partials
# built ONLY over pre-boundary rows, the hot span [98d, 180d) from raw
# rows retention-truncated to the hot span — so the oracle (the direct
# full-range aggregate) fails if either tier leaks, drops, or
# double-serves a bucket.
def _group_aggregate_tiered(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.query.rollup import (
        group_aggregate_tiered,
        rollup_from_frame,
    )

    mv = metrics_view(spark, sf)
    day = 86_400 * NS
    boundary = T96 + 98 * day
    rollup = rollup_from_frame(mv.filter(F.col("ts_ns") < boundary), day)
    raw_hot = mv.filter(F.col("ts_ns") >= boundary)
    return group_aggregate_tiered(
        spark, raw_hot, rollup, "lineitem.price",
        T96, boundary, _Z_T_HI, "7d", ["sum", "count"], day,
    )


REGISTRY["group_aggregate_tiered"] = (
    lambda spark, sf: _round_doubles(_group_aggregate_tiered(spark, sf)),
    _wrap_round(
        f"""WITH {METRICS_SQL}
    SELECT 'lineitem.price:sum|lineitem.price:count ' || {TAGSTR} AS series,
           min(ts_ns) AS ts_ns,
           sum(value) AS sum, CAST(count(value) AS DOUBLE) AS count
    FROM metrics
    WHERE metric = 'lineitem.price' AND ts_ns >= {T96} AND ts_ns < {_Z_T_HI}
    GROUP BY 1, (ts_ns - {T96}) // {WEEK}""",
        ["sum", "count"],
        ["series", "ts_ns"],
    ),
)


# ZorderDatabase end-to-end: the where clause resolves to series names
# against the dim and prunes FILES via the manifest before the engine
# runs — oracle is the plain tag-predicate select on the raw view.
def _zorder_db_select_where(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.api import open_zorder_database

    zdb = open_zorder_database(spark, _zorder_path(spark, sf))
    return zdb.query({
        "select": "lineitem.price",
        "range": {"from": T96, "to": T96 + 90 * 86_400 * NS},
        "where": {"returnflag": "N", "linestatus": "O"},
    })


_register_pipeline(
    "zorder_database_select_where",
    _zorder_db_select_where,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.price'
      AND ts_ns >= {T96} AND ts_ns < {T96 + 90 * 86_400 * NS}
      AND tag_returnflag = 'N' AND tag_linestatus = 'O'""",
    ["value"],
    ["series", "ts_ns"],
)


# Catalog-routed database (r14): the same where-pruned query, but the
# store is resolved by NAME through the ZorderCatalog (a CasLog-
# versioned routing table) instead of a caller-held path — the oracle
# is identical, so any routing slip (wrong path, stale catalog
# snapshot, lost register) surfaces as a mismatch.
def _zorder_catalog_select(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.api import open_zorder_catalog

    key = f"catalog:{sf}"
    if key not in _ZORDER_CACHE:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="akumuli_zcatalog_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        cat = open_zorder_catalog(spark, root)
        cat.register("prices", _zorder_path(spark, sf))
        _ZORDER_CACHE[key] = root
    zdb = open_zorder_catalog(spark, _ZORDER_CACHE[key]).open_database(
        "prices")
    return zdb.query({
        "select": "lineitem.price",
        "range": {"from": T96, "to": T96 + 90 * 86_400 * NS},
        "where": {"returnflag": "N", "linestatus": "O"},
    })


_register_pipeline(
    "zorder_catalog_routed_select",
    _zorder_catalog_select,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.price'
      AND ts_ns >= {T96} AND ts_ns < {T96 + 90 * 86_400 * NS}
      AND tag_returnflag = 'N' AND tag_linestatus = 'O'""",
    ["value"],
    ["series", "ts_ns"],
)


def _sketch_quantiles_appended(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile twin of the appended-distinct entry: the histogram fold
    across the build epoch and the appended epoch is the sum the
    exactly-once protocol protects — a double-counted replay or a lost
    epoch shifts the cumulative walk and flips bins."""
    from akumuli_spark.sources.sketch_store import quantiles_over_range

    return quantiles_over_range(
        spark, _sketch_grown_path(spark, sf), _SK_LO, _SK_HI, _SK_QS
    ).withColumnRenamed("group", "event_type")


_register_pipeline(
    "sketch_store_quantiles_appended",
    _sketch_quantiles_appended,
    _sketch_quantiles_oracle(),
    ["est", "q"],
    ["event_type"],
)


def _zorder_append_time_slice(spark: SparkSession, sf: str) -> DataFrame:
    """Time slice served from the grown store: the slice lies entirely
    in the APPENDED region, so the answer comes purely from append-
    published files and their manifest rows."""
    from akumuli_spark.sources.zorder import zorder_select

    out = zorder_select(
        spark, _zorder_grown_path(spark, sf), metric="lineitem.qty",
        ts_from=_Z_SLICE_LO, ts_to=_Z_SLICE_HI,
    )
    return out.select("series", "ts_ns", "value")


_register_pipeline(
    "zorder_append_time_slice",
    _zorder_append_time_slice,
    f"""WITH {METRICS_SQL}
    SELECT series, ts_ns, value FROM metrics
    WHERE metric = 'lineitem.qty'
      AND ts_ns >= {_Z_SLICE_LO} AND ts_ns < {_Z_SLICE_HI}""",
    ["value"],
    ["series", "ts_ns"],
)


# Corpus z-order (sources/zorder.py zorder_corpus_table): the canonical
# curation gate — language slice ∧ length band — served with manifest
# file skipping; oracle is the plain predicate on the raw table.
_ZCORPUS_CACHE: dict[str, str] = {}


def _zcorpus_path(spark: SparkSession, sf: str) -> str:
    if sf not in _ZCORPUS_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import zorder_corpus_table

        path = tempfile.mkdtemp(prefix="akumuli_zcorpus_") + "/docs"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        zorder_corpus_table(
            spark, load_table(spark, sf, "documents"), path, files_total=16
        )
        _ZCORPUS_CACHE[sf] = path
    return _ZCORPUS_CACHE[sf]


def _zorder_corpus_gate(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_corpus_select

    return zorder_corpus_select(
        spark, _zcorpus_path(spark, sf), cat=["en", "fr"],
        num_lo=120, num_hi=220,
    ).select("doc_id", "lang", "source", "n_chars")


_register_pipeline(
    "zorder_corpus_gate",
    _zorder_corpus_gate,
    """SELECT doc_id, lang, source, n_chars FROM documents
    WHERE lang IN ('en', 'fr') AND n_chars >= 120 AND n_chars < 220""",
    [],
    ["doc_id", "lang", "source", "n_chars"],
)


# Corpus growth (r12): the same curation gate served from a store built
# over 2/3 of the corpus and grown by one epoch append — the gate spans
# both regions, so a lost append file, an unpublished manifest row, or
# a mis-clustered batch is a visible row deficit.
def _zcorpus_grown_path(spark: SparkSession, sf: str) -> str:
    key = f"grow:{sf}"
    if key not in _ZCORPUS_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import (
            zorder_corpus_append,
            zorder_corpus_table,
        )

        path = tempfile.mkdtemp(prefix="akumuli_zcorpus_grow_") + "/docs"
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        docs = load_table(spark, sf, "documents")
        zorder_corpus_table(spark, docs.filter("doc_id % 3 != 0"), path,
                            files_total=16)
        zorder_corpus_append(spark, docs.filter("doc_id % 3 = 0"), path,
                             epoch=1, files_total=8)
        _ZCORPUS_CACHE[key] = path
    return _ZCORPUS_CACHE[key]


def _zorder_corpus_append_gate(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.zorder import zorder_corpus_select

    return zorder_corpus_select(
        spark, _zcorpus_grown_path(spark, sf), cat=["en", "fr"],
        num_lo=120, num_hi=220,
    ).select("doc_id", "lang", "source", "n_chars")


_register_pipeline(
    "zorder_corpus_append_gate",
    _zorder_corpus_append_gate,
    """SELECT doc_id, lang, source, n_chars FROM documents
    WHERE lang IN ('en', 'fr') AND n_chars >= 120 AND n_chars < 220""",
    [],
    ["doc_id", "lang", "source", "n_chars"],
)


# Bucketed co-located join (sources/bucketed.py): documents ⋈ embeddings
# on doc_id from same-bucketed catalog tables — the zero-Exchange join
# shape (plan-audited); the oracle is the plain SQL join, so a
# mis-bucketed write (row routed to the wrong bucket and dropped by the
# bucket-pruned merge) surfaces as missing rows.
_BUCKETED_DONE: set[str] = set()


def _bucketed_tables(spark: SparkSession, sf: str) -> tuple[str, str]:
    import re

    key = re.sub(r"[^0-9a-zA-Z]", "_", sf).strip("_")
    ldocs, lembs = f"akumuli_bdocs_{key}", f"akumuli_bembs_{key}"
    if sf not in _BUCKETED_DONE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.bucketed import bucket_table

        base = tempfile.mkdtemp(prefix="akumuli_bucketed_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        bucket_table(load_table(spark, sf, "documents"),
                     ldocs, base + "/docs", 8)
        bucket_table(
            load_table(spark, sf, "embeddings").withColumnRenamed(
                "vec_id", "doc_id"),
            lembs, base + "/embs", 8)
        _BUCKETED_DONE.add(sf)
    return ldocs, lembs


def _bucketed_join_entry(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.bucketed import bucketed_join

    ldocs, lembs = _bucketed_tables(spark, sf)
    j = bucketed_join(spark, ldocs, lembs)
    return j.select(
        "doc_id", "lang", "n_chars",
        F.expr("aggregate(embedding, 0D, (a, x) -> a + x)").alias("emb_sum"),
    )


_register_pipeline(
    "bucketed_join_docs_embeddings",
    _bucketed_join_entry,
    """SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars,
              list_aggregate(e.embedding, 'sum') AS emb_sum
       FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""",
    ["emb_sum"],
    ["doc_id", "lang", "n_chars"],
)


# Bucketed-table CONSUMER (r12): the curation pass that gates docs on
# embedding health reads BOTH bucketed catalog tables and plans with
# zero Exchange end-to-end (plan_audit pins it) — the first pipeline
# operator that consumes the co-located layout instead of hand-wiring
# spark.table.  Oracle is the plain SQL join + the same gates.
def _curate_gate_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    from akumuli_spark.sources.bucketed import curate_embedding_gate

    ldocs, lembs = _bucketed_tables(spark, sf)
    return curate_embedding_gate(
        spark, ldocs, lembs, n_chars_lo=100, n_chars_hi=300,
    ).select("doc_id", "lang", "n_chars", "emb_norm")


_register_pipeline(
    "curate_embedding_gate_bucketed",
    _curate_gate_bucketed,
    """SELECT doc_id, lang, n_chars, emb_norm FROM (
         SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars,
                sqrt(list_dot_product(e.embedding, e.embedding)) AS emb_norm
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
       WHERE NOT isnan(emb_norm) AND emb_norm >= 1e-6
         AND n_chars >= 100 AND n_chars < 300""",
    ["emb_norm"],
    ["doc_id", "lang", "n_chars"],
)


# Events z-store through the facade: select-events with a body regex
# served from manifest-pruned event files — oracle is the plain evt
# view predicate (same shape as select_events_regex).
_ZEVENTS_CACHE: dict[str, str] = {}


def _zevents_db(spark: SparkSession, sf: str):
    from akumuli_spark.api import open_zorder_database

    if sf not in _ZEVENTS_CACHE:
        import atexit
        import shutil
        import tempfile

        from akumuli_spark.sources.zorder import zorder_metrics_table

        base = tempfile.mkdtemp(prefix="akumuli_zevents_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        zorder_metrics_table(
            spark, events_view(spark, sf), base + "/e",
            bucket_ns=7 * 86_400 * NS, files_per_partition=4,
        )
        _ZEVENTS_CACHE[sf] = base
    base = _ZEVENTS_CACHE[sf]
    return open_zorder_database(
        spark, _zorder_path(spark, sf), events_zorder_path=base + "/e"
    )


def _zorder_events_select(spark: SparkSession, sf: str) -> DataFrame:
    zdb = _zevents_db(spark, sf)
    out = zdb.query({
        "select-events": "!error",
        "range": {"from": E0, "to": E1},
        "filter": '"k": 8[0-9]',
    })
    return out.select("series", "ts_ns", "body")


_register_pipeline(
    "zorder_events_select",
    _zorder_events_select,
    f"""WITH {EVENTS_SQL}
    SELECT series, ts_ns, body FROM evt
    WHERE metric = '!error' AND ts_ns >= {E0} AND ts_ns < {E1}
      AND regexp_matches(body, '"k": 8[0-9]')""",
    [],
    ["series", "ts_ns", "body"],
)
