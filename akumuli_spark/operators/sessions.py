"""Sessionization: group an event stream into per-user sessions separated
by inactivity gaps — the batch form of ``session_window`` in Structured
Streaming.

Classic two-window formulation, fully JVM-side: a new session starts where
the gap to the previous event exceeds ``gap``; the session id is the
running count of session starts per user.  One shuffle (window partition
by user); at scale the user key is the natural partition key so the
window becomes a local sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from akumuli_spark.materialize import corpus_checkpoint

NS = 10**9


def sessionize(events: DataFrame, gap_ns: int,
               user_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Per-event session assignment: (user_id, ts_ns, event_type, value,
    session_id) with session_id dense per user, 1-based in ts order."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    new_session = F.when(
        prev.isNull() | (F.col(ts_col) - prev > F.lit(gap_ns)), 1
    ).otherwise(0)
    return (
        events.withColumn("__new", new_session)
        .withColumn(
            "session_id",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("__new")
    )


def session_stats(events: DataFrame, gap_ns: int) -> DataFrame:
    """One row per (user, session): bounds, event count, value sum,
    distinct event types."""
    from ..sources.testdata import ts_ns_expr

    s = sessionize(
        events.select(
            "user_id", ts_ns_expr(events).alias("ts_ns"),
            "event_type", "value",
        ),
        gap_ns,
        ts_col="ts_ns",
    )
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts_ns").alias("start_ns"),
        F.max("ts_ns").alias("end_ns"),
        F.count("*").cast("long").alias("n_events"),
        F.sum("value").alias("value_sum"),
        F.countDistinct("event_type").cast("long").alias("n_event_types"),
    )


def props_field_stats(events: DataFrame, field: str = "k") -> DataFrame:
    """Semi-structured extraction: pull ``$.field`` out of the JSON
    ``props`` column and aggregate it per event type.

    Event streams carry ragged JSON payloads; projecting a typed field
    without a pre-declared schema is the bread-and-butter of log
    analytics.  ``get_json_object`` is a JVM-side path evaluator — the
    extraction happens inside the scan stage (no Python, no second
    pass), followed by one low-cardinality hash aggregation.

    Output: (event_type, n_events, n_with_field, field_avg, field_min,
    field_max).
    """
    v = F.get_json_object(F.col("props"), f"$.{field}").cast("double")
    return (
        events.select("event_type", v.alias("__v"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count("__v").cast("long").alias("n_with_field"),
            F.avg("__v").alias("field_avg"),
            F.min("__v").alias("field_min"),
            F.max("__v").alias("field_max"),
        )
    )


def props_field_stats_sql(field: str = "k") -> str:
    """DuckDB twin of :func:`props_field_stats` (json_extract_string
    returns NULL for missing paths, matching get_json_object)."""
    v = f"json_extract_string(props, '$.{field}')::DOUBLE"
    return f"""
SELECT event_type, count(*) AS n_events,
       count({v}) AS n_with_field,
       avg({v}) AS field_avg,
       min({v}) AS field_min,
       max({v}) AS field_max
FROM events GROUP BY 1
""".strip()


def funnel_counts(events: DataFrame,
                  steps: tuple[str, ...] = ("view", "click", "purchase")
                  ) -> DataFrame:
    """Ordered-funnel analysis: how many users complete each prefix of
    ``steps`` in strict time order (first qualifying occurrence per
    step, each strictly after the previous step's).

    Output: (step, event_type, n_users, conv_pct) — one row per funnel
    stage, ``conv_pct`` relative to stage 1.

    Scale shape: one per-step aggregation chain, each an equi-join on
    ``user_id`` against the (already aggregated, one row per surviving
    user) previous stage — frames shrink monotonically down the funnel
    and nothing is windowed globally; the final rate join broadcasts the
    single stage-1 count row.
    """
    from ..sources.testdata import ts_ns_expr

    e = events.select(
        "user_id", ts_ns_expr(events).alias("ts_ns"), "event_type"
    )
    stage_users = []
    prev = None
    for s in steps:
        cur = e.filter(F.col("event_type") == s)
        if prev is not None:
            cur = (
                cur.join(prev, "user_id")
                .filter(F.col("ts_ns") > F.col("__t"))
                .drop("__t")
            )
        # one row per surviving user; materialized because each stage
        # frame feeds BOTH the next stage's join and its own count — the
        # lazy chain re-executed stage i's whole lineage once per later
        # stage (stage 1 ran ``len(steps)`` times)
        agg = corpus_checkpoint(cur.groupBy("user_id").agg(
            F.min("ts_ns").alias("__t")
        ))
        stage_users.append(agg)
        prev = agg
    counts = None
    for i, (s, agg) in enumerate(zip(steps, stage_users)):
        c = agg.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(i + 1).cast("int").alias("step"),
            F.lit(s).alias("event_type"),
            "n_users",
        )
        counts = c if counts is None else counts.unionByName(c)
    first = counts.filter(F.col("step") == 1).select(
        F.col("n_users").alias("__first")
    )
    return (
        counts.crossJoin(F.broadcast(first))
        .select(
            "step", "event_type", "n_users",
            # guarded: a funnel whose FIRST step never occurs has no
            # defined conversion rate — NULL, not an ANSI ÷0 crash
            # (caught by the hypothesis funnel reference test)
            F.when(
                F.col("__first") > 0,
                F.col("n_users") / F.col("__first"),
            ).alias("conv_pct"),
        )
    )


def retention_cohorts(events: DataFrame,
                      bucket_ns: int = 7 * 86_400 * NS) -> DataFrame:
    """Cohort retention: users grouped by their first-seen time bucket
    (the cohort), then counted in every later bucket they were active in
    — the week-over-week retention triangle.

    Output: (cohort_bucket, bucket_offset, n_active, retention_pct) —
    ``cohort_bucket`` is the epoch-bucket index of first activity,
    ``bucket_offset`` ≥ 0 the bucket distance, ``retention_pct``
    relative to the cohort's offset-0 size (≡ cohort size: every user
    is active in their first bucket by definition).

    Scale shape: one groupBy(user) for first-seen, one distinct over
    (user, bucket) — both partial-aggregated map-side — then an
    equi-join on user and a low-cardinality (cohorts × offsets)
    aggregation; the offset-0 sizes broadcast back for the pct column.
    """
    from ..sources.testdata import ts_ns_expr

    # exact int64 bucket key (epoch-ns exceeds double's 2^53 exact
    # range, so `/ then cast` could mis-bucket a timestamp within ~256ns
    # of a boundary vs the twin's integer `//` — the interval.py fix,
    # applied here; ts is non-negative so bare `div` floors correctly)
    e = events.select(
        "user_id", ts_ns_expr(events).alias("__ts")
    ).select(
        "user_id",
        F.expr(f"__ts div {int(bucket_ns)}L").alias("bucket"),
    )
    firsts = e.groupBy("user_id").agg(F.min("bucket").alias("cohort_bucket"))
    active = e.distinct()
    counts = (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_bucket",
            (F.col("bucket") - F.col("cohort_bucket")).alias("bucket_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_active"))
        # cohorts × offsets rows; feeds the output AND the offset-0
        # sizes — lazy, the user join + both upstream aggs ran twice
        .localCheckpoint(eager=True)
    )
    sizes = counts.filter(F.col("bucket_offset") == 0).select(
        "cohort_bucket", F.col("n_active").alias("__size")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_bucket")
        .select(
            "cohort_bucket", "bucket_offset", "n_active",
            (F.col("n_active") / F.col("__size")).alias("retention_pct"),
        )
    )


def retention_cohorts_sql(bucket_ns: int = 7 * 86_400 * NS) -> str:
    return f"""
WITH e AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // {int(bucket_ns)} AS bucket
  FROM events
),
firsts AS (SELECT user_id, min(bucket) AS cohort_bucket FROM e GROUP BY 1),
counts AS (
  SELECT f.cohort_bucket, e.bucket - f.cohort_bucket AS bucket_offset,
         count(*) AS n_active
  FROM e JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_bucket, c.bucket_offset, c.n_active,
       c.n_active * 1.0 / s.n_active AS retention_pct
FROM counts c
JOIN (SELECT cohort_bucket, n_active FROM counts WHERE bucket_offset = 0) s
  USING (cohort_bucket)
""".strip()


def funnel_counts_sql(steps: tuple[str, ...] = ("view", "click", "purchase")
                      ) -> str:
    """DuckDB twin of :func:`funnel_counts` (same strict-after chain)."""
    ctes = ["e AS (SELECT user_id, epoch_ns(ts) AS ts_ns, event_type "
            "FROM events)"]
    selects = []
    for i, s in enumerate(steps):
        n = i + 1
        if i == 0:
            ctes.append(
                f"u{n} AS (SELECT user_id, min(ts_ns) AS t FROM e "
                f"WHERE event_type = '{s}' GROUP BY 1)"
            )
        else:
            ctes.append(
                f"u{n} AS (SELECT e.user_id, min(e.ts_ns) AS t "
                f"FROM e JOIN u{i} USING (user_id) "
                f"WHERE e.event_type = '{s}' AND e.ts_ns > u{i}.t "
                f"GROUP BY 1)"
            )
        selects.append(
            f"SELECT {n}::INT AS step, '{s}' AS event_type, "
            f"count(*) AS n_users FROM u{n}"
        )
    return f"""
WITH {", ".join(ctes)},
counts AS ({" UNION ALL ".join(selects)})
SELECT step, event_type, n_users,
       CASE WHEN (SELECT n_users FROM counts WHERE step = 1) > 0
            THEN n_users * 1.0 / (SELECT n_users FROM counts WHERE step = 1)
       END AS conv_pct
FROM counts
""".strip()


def session_stats_sql(gap_ns: int) -> str:
    return f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_type, value FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                   OR ts_ns - lag(ts_ns) OVER w > {gap_ns}
            THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns)
),
sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ns
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, session_id, min(ts_ns) AS start_ns, max(ts_ns) AS end_ns,
       count(*) AS n_events, sum(value) AS value_sum,
       count(DISTINCT event_type) AS n_event_types
FROM sess GROUP BY 1, 2
""".strip()


def active_users(events: DataFrame, day_ns: int = 86_400 * NS,
                 window_days: int = 7) -> DataFrame:
    """DAU / trailing-window AU / stickiness per day — the product
    engagement staple.

    ``dau`` = distinct users active that day; ``wau`` = distinct users
    active in the trailing ``window_days`` days ending that day;
    ``stickiness`` = dau / wau.  Only days with any activity are emitted
    (compose with operators.fill for a dense spine).

    Scale shape: the rolling distinct is NOT a range join or a per-day
    re-scan — each deduped (user, day) pair contributes itself to
    ``window_days`` trailing window-days via a sequence explode, and the
    rolling count collapses to a second distinct + hash aggregation.
    Amplification is the window width (7), constant per row; every
    shuffle is on a (user, day) or day key.
    """
    from ..sources.testdata import ts_ns_expr

    # exact int64 day key (same `div` rationale as retention_cohorts)
    e = events.select(
        "user_id", ts_ns_expr(events).alias("__ts")
    ).select(
        "user_id",
        F.expr(f"__ts div {int(day_ns)}L").alias("day"),
    ).distinct()
    e = corpus_checkpoint(e)
    # deduped (user, day) pairs feed BOTH the dau agg and the wau
    # explode — materialized once (the operator's own working set)
    dau = e.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    wau = (
        e.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + (window_days - 1))
            ).alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day", "dau", "wau",
        (F.col("dau") / F.col("wau")).alias("stickiness"),
    )


def active_users_sql(day_ns: int = 86_400 * NS, window_days: int = 7) -> str:
    """DuckDB twin of :func:`active_users` (same explode-offsets shape)."""
    return f"""
WITH e AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // {int(day_ns)} AS day
  FROM events
),
dau AS (SELECT day, count(*) AS dau FROM e GROUP BY 1),
w AS (
  SELECT DISTINCT user_id, day + o AS day
  FROM e CROSS JOIN (SELECT unnest(range(0, {int(window_days)})) AS o)
),
wau AS (SELECT day, count(*) AS wau FROM w GROUP BY 1)
SELECT d.day, d.dau, wau.wau, d.dau * 1.0 / wau.wau AS stickiness
FROM dau d JOIN wau USING (day)
""".strip()


def event_transitions(events: DataFrame) -> DataFrame:
    """Markov transition matrix over the event stream: counts (and
    conditional probabilities) of consecutive event-type pairs per user
    — the aggregate complement of :func:`funnel` (which tracks ONE
    ordered path; this surfaces all observed next-step behavior).

    Consecutive = by (ts, event_id) within a user — event_id breaks
    timestamp ties deterministically, so both engines see the same
    sequence.  Output: (from_type, to_type, n_transitions, prob) with
    prob = P(to | from) over observed transitions.

    Scale shape: one shuffle on user_id for the lead() window (the
    natural partition key; per-user sequences are short), then a
    low-cardinality (type × type) agg whose map-side partials collapse
    the second shuffle; the per-from totals ride a tiny broadcast join,
    never a second pass."""
    from ..sources.testdata import ts_ns_expr

    proj = events.select(
        "user_id", "event_id",
        F.col("event_type").alias("from_type"),
        ts_ns_expr(events).alias("__ts"),
    )
    w = Window.partitionBy("user_id").orderBy("__ts", "event_id")
    pairs = proj.select(
        "from_type", F.lead("from_type").over(w).alias("to_type")
    ).where(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions")
        # type × type rows; feeds the output AND the per-from totals —
        # lazy, the user window over the whole event stream ran twice
    ).localCheckpoint(eager=True)
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__total")
    )
    return counts.join(F.broadcast(totals), "from_type").select(
        "from_type", "to_type", "n_transitions",
        (F.col("n_transitions") / F.col("__total")).alias("prob"),
    )


def event_transitions_sql() -> str:
    return """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_transitions,
       n_transitions * 1.0
         / sum(n_transitions) OVER (PARTITION BY from_type) AS prob
FROM counts
""".strip()


def session_sequences(events: DataFrame, gap_ns: int) -> DataFrame:
    """Interaction-episode construction: one row per (user, session)
    with the ORDERED event-type sequence — the behavioral-modeling /
    next-action training shape (each row is one training episode).

    Event order inside a session is (ts_ns, event_id) — the id breaks
    timestamp ties so the sequence string is deterministic across
    engines.  Session boundaries themselves are tie-robust (a zero
    time delta can never exceed the gap).  Output: (user_id,
    session_id, seq, n_events, duration_ns), ``seq`` = event types
    joined by '>'.

    Scale shape: sessionize's user window (one shuffle) then one agg
    per (user, session); the in-group sort runs on collected structs
    bounded by session length — sessions are gap-bounded by
    construction, the same per-group bound session_stats relies on.
    """
    from ..sources.testdata import ts_ns_expr

    s = sessionize(
        events.select(
            "user_id", ts_ns_expr(events).alias("ts_ns"),
            "event_id", "event_type",
        ),
        gap_ns,
        ts_col="ts_ns",
    )
    ordered = F.expr(
        "array_join(transform(array_sort(collect_list("
        "struct(ts_ns, event_id, event_type))), x -> x.event_type), '>')"
    )
    return s.groupBy("user_id", "session_id").agg(
        ordered.alias("seq"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.max("ts_ns") - F.min("ts_ns")).alias("duration_ns"),
    )


def session_sequences_sql(gap_ns: int) -> str:
    return f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns, event_id, event_type FROM events
),
marked AS (
  SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                   OR ts_ns - lag(ts_ns) OVER w > {gap_ns}
            THEN 1 ELSE 0 END AS new_session
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns)
),
sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_ns
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       string_agg(event_type, '>' ORDER BY ts_ns, event_id) AS seq,
       count(*) AS n_events,
       max(ts_ns) - min(ts_ns) AS duration_ns
FROM sess GROUP BY 1, 2
""".strip()
