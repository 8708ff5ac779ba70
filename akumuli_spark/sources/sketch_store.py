"""Persisted mergeable-sketch rollup store: serve approximate
distinct-counts and quantiles over arbitrary bucket-aligned time ranges
by MERGING stored per-bucket partials — zero raw-data scan at query
time.

The reference answers every aggregate by walking raw leaf data under
its per-series trees (column_store.cpp aggregate materializers); its
only precomputation is the in-tree SubtreeRef statistics
(count/sum/min/max, nbtree.h) — good for those five functions, useless
for distincts and quantiles, which are not decomposable aggregates.
The lakehouse-scale answer is the *mergeable summaries* design
(Agarwal et al., "Mergeable Summaries", PODS'12; the datasketches /
Druid rollup model): precompute a bounded-size sketch per (group, time
bucket) whose merge operator is associative and duplicate-tolerant,
then any union of buckets is served from partials.

Two sketch families, both already oracle-twinned:

* HLL registers (:mod:`akumuli_spark.operators.distinct`) — merge is
  register-wise MAX, so merging is idempotent and re-merges are free;
* sign-aware log-histogram bins
  (:mod:`akumuli_spark.operators.quantile_sketch`) — merge is SUM per
  bin, exactly-once by the partition-replace append contract below.

At 100 TB the economics are the point: a year of per-day partials for
10 k groups is ~10 k·365·(256 registers + ~1 k bins) rows — a few GB —
and a 90-day distinct-users query reads 90 partition directories of
THAT instead of re-scanning 25 TB of raw events.  Serving prunes on the
``ts_bucket`` partition column (Catalyst partition pruning, the same
path the metrics layout uses), merges map-side-combinable aggregates,
and never touches the fact table.

Range contract: sketches are per-bucket atoms — a partial bucket cannot
be subtracted back out — so a partials-only serve needs ``[from, to)``
bucket-aligned; misaligned ranges raise rather than silently over-count
(the same honesty bar as the engine's semi-open range semantics).
Honest dashboard ranges ("last 90 days ending NOW") are served TIERED:
pass ``raw_tail=`` (the hot fact table) and the misaligned head/tail
spans are sketched from raw rows and folded into the stored partials
with the same merge operator — both sketch families are mergeable with
a raw-computed partial by construction (register max is idempotent;
the head/tail spans are disjoint from the aligned core, so bin sums
cannot double-count).  The layout
contract (bucket_ns, sketch parameters, column names) travels in a
one-row ``{path}/meta`` table, the BM25-store pattern: a build/serve
parameter mismatch mis-merges silently, so serving reads the stored
contract, never module defaults.

Growth contract (the repo's epoch-keyed store protocol, shared with the
BM25 index): partials live under an ``epoch`` partition — the build is
epoch 0, each append (or streaming micro-batch) its own epoch ≥ 1,
written with dynamic partition overwrite so a RETRIED epoch replaces
its own partials bit-for-bit (exactly-once without read-modify-write;
histogram sums would double-count under blind re-appends, register
maxes would merely tolerate them — the epoch key makes both safe).
Serving folds across epochs with the same merge operators it uses
across buckets, so served results are exact after every append; the
fold cost grows with epoch count until :func:`compact_sketch_store`
folds everything back into epoch 0 via the two-rename swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from akumuli_spark.smallframe import local_frame
from akumuli_spark.operators.distinct import hll_estimate, hll_registers
from akumuli_spark.operators.quantile_sketch import (
    log_histogram,
    quantiles_from_histogram,
)
from akumuli_spark.sources.fs import (
    expire_buckets, get_fs, recover_compaction, swap_compact,
)
from akumuli_spark.sources.layout import DAY_NS, read_table_or_none

SKETCH_LAYOUT_VERSION = 1

#: names the partial tables use internally — a fact column shadowing one
#: would silently corrupt the grouped sketch computation, so the build
#: refuses them up front ("group" is exempt: the group column is renamed
#: to it anyway)
_RESERVED_COLS = frozenset(
    {"bucket", "register", "bin", "cnt", "epoch", "ts_bucket", "__tsb"}
)


def _bucket(ts_col: str, bucket_ns: int):
    return F.expr(f"{ts_col} div {int(bucket_ns)}L")


def _write_meta(spark: SparkSession, path: str, group_col: str,
                distinct_col: str, value_col: str, ts_col: str,
                bucket_ns: int, b: int, k: int) -> None:
    local_frame(spark,
        [(SKETCH_LAYOUT_VERSION, group_col, distinct_col, value_col,
          ts_col, int(bucket_ns), int(b), int(k))],
        "layout_version int, group_col string, distinct_col string, "
        "value_col string, ts_col string, bucket_ns long, b int, k int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark: SparkSession, path: str) -> dict | None:
    meta = read_table_or_none(spark, f"{path}/meta")
    if meta is None:
        return None
    rows = meta.collect()  # one row — layout-sized, never data-sized
    if not rows:
        return None
    r = rows[0].asDict()
    if r["layout_version"] > SKETCH_LAYOUT_VERSION:
        raise ValueError(
            f"sketch store at {path} uses layout version "
            f"{r['layout_version']}; this build reads "
            f"≤ {SKETCH_LAYOUT_VERSION}"
        )
    return r


def build_sketch_store(df: DataFrame, path: str, group_col: str,
                       distinct_col: str, value_col: str,
                       ts_col: str = "ts_ns", bucket_ns: int = DAY_NS,
                       b: int = 8, k: int = 64) -> None:
    """Materialize per-(group, bucket) sketch partials for ``df``.

    Writes (all partitioned by ``(epoch, ts_bucket)`` so range serving
    is partition pruning and growth is epoch-keyed):

    * ``{path}/hll``  — (epoch, ts_bucket, group, bucket, register)
    * ``{path}/hist`` — (epoch, ts_bucket, group, bin, cnt)
    * ``{path}/meta`` — the one-row layout contract

    One pass over the fact data computes both partials (two shuffle
    aggregates that share the scan); the build is epoch 0 — the same
    namespace :func:`compact_sketch_store` folds back into.
    Re-running is a full rebuild (mode overwrite).
    """
    spark = df.sparkSession
    clash = {group_col, distinct_col, value_col, ts_col} & _RESERVED_COLS
    if clash:
        raise ValueError(
            f"column name(s) {sorted(clash)} collide with the sketch "
            "tables' internal columns — rename before building"
        )
    base = df.withColumn("__tsb", _bucket(ts_col, bucket_ns)).withColumnRenamed(
        group_col, "group"
    )
    hll = hll_registers(base, distinct_col, ["__tsb", "group"], b)
    hist = log_histogram(base, value_col, ["__tsb", "group"], k)
    for name, part in (("hll", hll), ("hist", hist)):
        (
            part.withColumnRenamed("__tsb", "ts_bucket")
            .withColumn("epoch", F.lit(0))
            .repartition("ts_bucket")
            .write.mode("overwrite")
            .partitionBy("epoch", "ts_bucket")
            .parquet(f"{path}/{name}")
        )
    _write_meta(spark, path, group_col, distinct_col, value_col, ts_col,
                bucket_ns, b, k)


def append_sketch_store(df: DataFrame, path: str, epoch: int) -> None:
    """Fold a new batch of fact rows into the store as PARTIAL rows
    under ``epoch`` — exactly-once by construction: the write is a
    dynamic partition overwrite of the ``(epoch, ts_bucket)``
    partitions this batch produces, so a RETRIED epoch (crash before
    checkpoint, replayed micro-batch) replaces its own partials instead
    of double-counting histogram sums.  No existing partial is read or
    rewritten — the append costs O(batch), not O(store).  Serving folds
    epochs with the same operators it folds buckets, so results are
    exact immediately after the write lands.

    ``epoch`` must be ≥ 1 (epoch 0 is the build/compaction namespace)
    and unique per logical batch: two DIFFERENT batches sharing an
    epoch would overwrite each other.  The streaming sink derives it
    from the foreachBatch epoch id
    (:func:`akumuli_spark.streaming.sketch.start_streaming_sketch_store`).
    """
    spark = df.sparkSession
    meta = _read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no sketch store at {path}: build first")
    if epoch < 1:
        raise ValueError("epoch 0 is reserved for build/compaction")
    base = df.withColumn(
        "__tsb", _bucket(meta["ts_col"], meta["bucket_ns"])
    ).withColumnRenamed(meta["group_col"], "group")
    new_hll = hll_registers(
        base, meta["distinct_col"], ["__tsb", "group"], meta["b"]
    )
    new_hist = log_histogram(
        base, meta["value_col"], ["__tsb", "group"], meta["k"]
    )
    for name, fresh in (("hll", new_hll), ("hist", new_hist)):
        (
            fresh.withColumnRenamed("__tsb", "ts_bucket")
            .withColumn("epoch", F.lit(int(epoch)))
            .repartition("ts_bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch", "ts_bucket")
            .parquet(f"{path}/{name}")
        )


def compact_sketch_store(spark: SparkSession, path: str) -> None:
    """Fold all epochs back into epoch 0 — bounding the serve-time fold
    after many appends, the same economics as
    :func:`akumuli_spark.pipeline.text.compact_bm25_index`.  Each table
    is rewritten to a sibling and swapped in with the two-rename
    protocol (:func:`akumuli_spark.sources.fs.swap_compact`); a crash
    mid-swap self-heals on the next serve
    (:func:`akumuli_spark.sources.fs.recover_compaction`).  Results
    served before, during, and after are identical: the fold is the
    same merge the serve path applies.  Run from a single maintenance
    writer; restart streaming appends only AFTER compaction so
    restarted epoch ids cannot collide with live partitions."""
    fs = get_fs(path)
    merges = (
        ("hll", ["group", "bucket"], F.max("register").alias("register")),
        ("hist", ["group", "bin"], F.sum("cnt").alias("cnt")),
    )
    for name, keys, merge_agg in merges:
        p = f"{path}/{name}"
        recover_compaction(p, gc=True)
        df = read_table_or_none(spark, p)
        if df is None:  # empty store: nothing to fold
            continue
        swap_compact(fs, p, (
            df.groupBy("ts_bucket", *keys).agg(merge_agg)
            .withColumn("epoch", F.lit(0))
            .repartition("ts_bucket")
            .write.mode("overwrite")
            .partitionBy("epoch", "ts_bucket")
        ).parquet)


def _range_tiers(meta: dict, ts_from: int, ts_to: int,
                 have_raw: bool) -> tuple[int, int, list[tuple[int, int]]]:
    """Split ``[ts_from, ts_to)`` into the bucket-aligned CORE (served
    from stored partials) and the misaligned head/tail spans (served
    from a raw fact frame) — the same tiering the group-aggregate
    router applies past a rollup's watermark (query/rollup.py::serve_tiers).
    Returns ``(core_lo_bucket, core_hi_bucket, raw_spans)`` with the
    core empty (lo >= hi) when no whole bucket fits.

    Without a raw frame, a misaligned range still raises: partials are
    per-bucket atoms and a silent widening would over-count — the honest
    refusal the store shipped with, now with the escape hatch a real
    dashboard range ("last 90 days ending NOW") needs."""
    bn = meta["bucket_ns"]
    if ts_to <= ts_from:
        raise ValueError("empty or inverted range")
    if (ts_from % bn or ts_to % bn) and not have_raw:
        raise ValueError(
            f"sketch partials are per-bucket atoms: [from, to) must be "
            f"aligned to bucket_ns={bn} (got {ts_from}, {ts_to}) — pass "
            "raw_tail=<fact frame> to serve the misaligned head/tail "
            "from raw rows"
        )
    core_lo = -(-ts_from // bn)  # ceil
    core_hi = ts_to // bn        # floor
    spans: list[tuple[int, int]] = []
    if core_lo >= core_hi:  # no whole bucket inside: all raw
        spans.append((ts_from, ts_to))
        return 0, 0, spans
    if ts_from < core_lo * bn:
        spans.append((ts_from, core_lo * bn))
    if core_hi * bn < ts_to:
        spans.append((core_hi * bn, ts_to))
    return core_lo, core_hi, spans


def _raw_span_frame(meta: dict, raw_tail: DataFrame,
                    spans: list[tuple[int, int]]) -> DataFrame:
    """Fact rows of the misaligned spans, renamed to the partials'
    internal grouping column.  The predicate is a pushed-down range
    disjunction over the stored ``ts_col`` — at scale the caller hands
    the HOT table (recent facts), so the spans read a sliver of it."""
    pred = F.lit(False)
    for lo, hi in spans:
        pred = pred | (
            (F.col(meta["ts_col"]) >= int(lo))
            & (F.col(meta["ts_col"]) < int(hi))
        )
    return raw_tail.filter(pred).withColumnRenamed(meta["group_col"], "group")


def distinct_over_range(spark: SparkSession, path: str, ts_from: int,
                        ts_to: int,
                        raw_tail: DataFrame | None = None) -> DataFrame:
    """(group, approx_distinct) over ``[ts_from, ts_to)`` by merging the
    stored HLL partials of the covered buckets — register-wise max then
    the shared bias-corrected estimator.  Reads ONLY the covered
    ``ts_bucket`` partitions (Catalyst partition pruning on the filter
    below); never the fact table.

    Misaligned ranges (a dashboard's "last 90 days ending NOW" is never
    day-aligned): pass ``raw_tail`` — a frame of fact rows covering at
    least the misaligned head/tail spans (typically the hot recent
    table) — and those spans' registers are computed from raw rows and
    FOLDED into the stored partials with the same register-wise max the
    buckets merge by; the aligned core still never touches facts.
    Duplicate-tolerance makes this exact-for-the-sketch: a user present
    in both a core bucket and the raw tail lands on identical
    (bucket, rank) either way.  Without ``raw_tail``, misaligned ranges
    raise, as before."""
    meta = _read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no sketch store at {path}: build first")
    lo, hi, spans = _range_tiers(meta, ts_from, ts_to, raw_tail is not None)
    recover_compaction(f"{path}/hll")
    stored = read_table_or_none(spark, f"{path}/hll")
    parts = []
    if stored is not None and lo < hi:
        parts.append(
            stored
            .filter((F.col("ts_bucket") >= lo) & (F.col("ts_bucket") < hi))
            .select("group", "bucket", "register")
        )
    if spans and raw_tail is not None:
        parts.append(hll_registers(
            _raw_span_frame(meta, raw_tail, spans),
            meta["distinct_col"], ["group"], meta["b"],
        ))
    if not parts:  # built over an empty frame, nothing appended yet
        return local_frame(spark,
            [], "group string, approx_distinct double"
        )
    regs = parts[0]
    for p in parts[1:]:
        regs = regs.unionByName(p)
    regs = regs.groupBy("group", "bucket").agg(
        F.max("register").alias("register")
    )
    return hll_estimate(regs, ["group"], meta["b"])


def quantiles_over_range(spark: SparkSession, path: str, ts_from: int,
                         ts_to: int, qs: list[float],
                         raw_tail: DataFrame | None = None) -> DataFrame:
    """(group, q, est) over ``[ts_from, ts_to)`` from the stored
    log-histogram partials: bin-wise sum across covered buckets, then
    the shared nearest-rank readout.

    Misaligned ranges: with ``raw_tail`` (fact rows covering the
    misaligned head/tail spans) the spans' bins are counted from raw
    rows and SUMMED into the stored partials — exactly the merge the
    buckets fold by, so the cumulative walk sees the true counts.  The
    raw spans are disjoint from the aligned core by construction, so
    nothing double-counts.  Without ``raw_tail``, misaligned ranges
    raise, as before."""
    meta = _read_meta(spark, path)
    if meta is None:
        raise ValueError(f"no sketch store at {path}: build first")
    lo, hi, spans = _range_tiers(meta, ts_from, ts_to, raw_tail is not None)
    recover_compaction(f"{path}/hist")
    stored = read_table_or_none(spark, f"{path}/hist")
    parts = []
    if stored is not None and lo < hi:
        parts.append(
            stored
            .filter((F.col("ts_bucket") >= lo) & (F.col("ts_bucket") < hi))
            .select("group", "bin", "cnt")
        )
    if spans and raw_tail is not None:
        parts.append(log_histogram(
            _raw_span_frame(meta, raw_tail, spans),
            meta["value_col"], ["group"], meta["k"],
        ))
    if not parts:  # built over an empty frame, nothing appended yet
        return local_frame(spark,
            [], "group string, q double, est double"
        )
    hist = parts[0]
    for p in parts[1:]:
        hist = hist.unionByName(p)
    hist = hist.groupBy("group", "bin").agg(F.sum("cnt").alias("cnt"))
    return quantiles_from_histogram(hist, qs, ["group"], meta["k"])


def drop_expired_buckets(path: str, keep_ns: int, now_ns: int) -> int:
    """Retention for the partials, the zero-scan directory drop
    :func:`akumuli_spark.sources.layout.enforce_retention` also runs
    (:func:`akumuli_spark.sources.fs.expire_buckets`): partials older
    than the window are whole ``ts_bucket=`` directories under both
    sketch tables.  Returns dropped partition-dir count."""
    import io
    import posixpath

    # bucket_ns lives in meta, but retention must not need a Spark
    # JOB: the one-row meta parquet is read via the seam's byte reader
    # + pyarrow (works on local paths without any session; URI stores
    # resolve their FileSystem through the active session's gateway)
    import pyarrow.parquet as pq

    fs = get_fs(path)
    meta_files = fs.glob(path, "meta/*.parquet")
    if not meta_files:
        raise ValueError(f"no sketch store at {path}")
    meta_bytes = fs.read_bytes(posixpath.join(path, meta_files[0]))
    bucket_ns = pq.read_table(
        io.BytesIO(meta_bytes)).to_pylist()[0]["bucket_ns"]
    return expire_buckets(fs, path, ("hll/epoch=*", "hist/epoch=*"),
                          (now_ns - keep_ns) // bucket_ns)
