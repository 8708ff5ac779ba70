"""Z-order clustered store: interleave correctness, query equivalence
vs the raw frame, file-skipping evidence on BOTH dimensions, crash
tolerance of the pointer-log publish, and the empty/absent-store
contract."""

from __future__ import annotations

import functools
import os

import pytest
from pyspark.sql import DataFrame, functions as F

from akumuli_spark.smallframe import local_frame
from akumuli_spark.sources.zorder import (
    interleave_bits,
    zorder_metrics_table,
    zorder_select,
)
from tests.conftest import count_jobs, drop_newest_snapshot

DAY = 86_400 * 10**9
N_SERIES = 32
PTS = 250  # per series, spread over 4 days


def _frame(spark):
    rows = []
    for sid in range(N_SERIES):
        series = f"m.cpu host={sid:02d}"
        for t in range(PTS):
            rows.append((series, "m.cpu",
                         (t * 4 * DAY) // PTS + sid,
                         float(sid * 1000 + t)))
    df = spark.createDataFrame(
        rows, "series string, metric string, ts_ns long, value double"
    )
    return df.withColumn(
        "tags", F.expr("map('host', substring(series, -2, 2))")
    ), rows


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    df, rows = _frame(spark)
    path = str(tmp_path_factory.mktemp("zorder") / "metrics")
    zorder_metrics_table(spark, df, path, bucket_ns=DAY, files_per_partition=8)
    return path, rows


def test_interleave_known_values(spark):
    # a=0b101 (odd positions), b=0b011 (even) -> 10 01 11
    got = spark.range(1).select(
        interleave_bits(F.lit(0b101), F.lit(0b011), 3).alias("z")
    ).first().z
    assert got == 0b100111
    # z is monotone in each dimension with the other fixed
    zs = [
        spark.range(1).select(
            interleave_bits(F.lit(a), F.lit(5), 8).alias("z")).first().z
        for a in (1, 2, 3)
    ]
    assert zs == sorted(zs) and len(set(zs)) == 3


def test_series_select_equivalence_and_pruning(spark, store):
    path, rows = store
    st: dict = {}
    out = zorder_select(spark, path, metric="m.cpu",
                        series="m.cpu host=07", stats=st)
    got = sorted((r.series, r.ts_ns, r.value) for r in out.collect())
    exp = sorted((s, t, v) for (s, m, t, v) in rows if s == "m.cpu host=07")
    assert got == exp and got
    assert st["files_selected"] < st["files_total"]


def test_time_slice_equivalence_and_pruning(spark, store):
    """The case the (series, ts)-sorted layout CANNOT file-prune: a
    narrow window across all series inside one partition."""
    path, rows = store
    lo, hi = DAY // 2, DAY // 2 + DAY // 8
    st: dict = {}
    out = zorder_select(spark, path, metric="m.cpu",
                        ts_from=lo, ts_to=hi, stats=st)
    got = sorted((r.series, r.ts_ns, r.value) for r in out.collect())
    exp = sorted((s, t, v) for (s, m, t, v) in rows if lo <= t < hi)
    assert got == exp and got
    # the window is 1/32 of the data; skipping must be substantial
    assert st["files_selected"] <= st["files_total"] // 2


def test_semi_open_range_and_series_list(spark, store):
    path, rows = store
    lo, hi = DAY, 2 * DAY  # exact bucket boundary: [lo, hi)
    wanted = ["m.cpu host=03", "m.cpu host=21"]
    out = zorder_select(spark, path, metric="m.cpu", series=wanted,
                        ts_from=lo, ts_to=hi)
    got = sorted((r.series, r.ts_ns) for r in out.collect())
    exp = sorted((s, t) for (s, m, t, v) in rows
                 if s in wanted and lo <= t < hi)
    assert got == exp and got


def test_unfiltered_read_returns_everything(spark, store):
    path, rows = store
    assert zorder_select(spark, path).count() == len(rows)


def test_tags_reconstructed_from_series_grammar(spark, store):
    path, _ = store
    row = zorder_select(spark, path, series="m.cpu host=07").first()
    assert row.tags == {"host": "07"}


def test_narrow_select_prunes_in_one_manifest_job(spark, store, tmp_path):
    """A select prunes the manifest snapshot held on the driver: on a
    snapshot already read, a narrow select builds in 0 Spark jobs; the
    first select after an append runs at most the manifest collect and
    one schema read; and its stats match the manifest."""
    from akumuli_spark.sources.zorder import (
        _MANIFEST_SCHEMA, manifest_dir, zorder_append,
    )

    path, rows = store
    man = spark.read.parquet(manifest_dir(path))
    kept = [r.file for r in man.filter(
        (F.col("series_min") <= "m.cpu host=03")
        & (F.col("series_max") >= "m.cpu host=03")
        & (F.col("ts_max") >= DAY) & (F.col("ts_min") < 2 * DAY)
    ).collect()]
    st: dict = {}

    def select(p):
        zorder_select(spark, p, metric="m.cpu", series="m.cpu host=03",
                      ts_from=DAY, ts_to=2 * DAY, stats=st)

    select(path)  # reads the snapshot, if no earlier test did
    assert count_jobs(spark, lambda: select(path)) == 0
    assert st == {"files_total": man.count(), "files_selected": len(kept)}
    assert 0 < len(kept) < man.count()

    df, _ = _frame(spark)
    grow = str(tmp_path / "grow")
    zorder_metrics_table(spark, df.filter(F.col("ts_ns") < DAY), grow,
                         bucket_ns=DAY, files_per_partition=2)
    select(grow)
    zorder_append(spark, df.filter(F.col("ts_ns").between(DAY, 2 * DAY)),
                  grow)
    n_first = count_jobs(spark, lambda: select(grow))
    snapshot = manifest_dir(grow)
    one = spark.read.parquet(snapshot).first().file
    n_collect = count_jobs(spark, lambda: spark.read.schema(
        _MANIFEST_SCHEMA).parquet(snapshot).collect())
    n_schema = count_jobs(
        spark, lambda: spark.read.parquet(os.path.join(grow, one)).schema)
    assert n_first <= n_collect + n_schema
    assert count_jobs(spark, lambda: select(grow)) == 0
    assert 0 < st["files_selected"] < st["files_total"]


def _spark_prune(spark, man, cases) -> list[list[str]]:
    """The Spark predicate zorder_select pruned the manifest with before
    it held the manifest on the driver — per-series OR arms up to 64
    names, a broadcast range-overlap join above — evaluated for each
    ``(metrics, wanted, ts_from, ts_to)`` case: the reference the
    driver-side prune must match file for file.  The OR-arm cases share
    one aggregate job."""
    def cond(metrics, wanted, ts_from, ts_to):
        c = F.lit(True)
        if metrics is not None:
            c = c & F.col("metric").isin(metrics)
        if wanted is not None and len(wanted) <= 64:
            hit = F.lit(False)
            for s in wanted:
                hit = hit | ((F.col("series_min") <= s)
                             & (F.lit(s) <= F.col("series_max")))
            c = c & hit
        if ts_from is not None:
            c = c & (F.col("ts_max") >= ts_from)
        if ts_to is not None:
            c = c & (F.col("ts_min") < ts_to)
        return c

    def joined(i, metrics, wanted, ts_from, ts_to):
        wanted_df = local_frame(
            spark, [(s,) for s in wanted], "__wanted_series string")
        return man.filter(cond(metrics, None, ts_from, ts_to)).join(
            F.broadcast(wanted_df),
            (F.col("series_min") <= F.col("__wanted_series"))
            & (F.col("__wanted_series") <= F.col("series_max")),
            "left_semi",
        ).select(F.lit(i).alias("case"), "file")

    out = [[] for _ in cases]
    arms = [i for i, c in enumerate(cases) if c[1] is None or len(c[1]) <= 64]
    row = man.agg(*[
        F.collect_list(F.when(cond(*cases[i]), F.col("file"))).alias(f"c{i}")
        for i in arms
    ]).first()
    for i in arms:
        out[i] = row[f"c{i}"]
    joins = [joined(i, *c) for i, c in enumerate(cases) if i not in arms]
    if joins:
        for r in functools.reduce(DataFrame.unionAll, joins).collect():
            out[r.case].append(r.file)
    return [sorted(files) for files in out]


def test_driver_prune_matches_spark_predicate(spark, store, tmp_path):
    """The driver-side prune keeps exactly the files the Spark predicate
    over the manifest kept: over NULL-stat rows (an empty file's stats;
    any NULL compared stat drops the file), series lists of 1, 64, 65
    and 1000 names, metric lists, and open and closed ``ts`` bounds.
    Across appends the cache holds one snapshot per store, the current
    one."""
    import random

    from akumuli_spark.sources import zorder as zmod

    path, _ = store
    real = spark.read.parquet(zmod.manifest_dir(path)).collect()
    stats = ("metric", "series_min", "series_max", "ts_min", "ts_max")
    crafted = [r.asDict() for r in real]
    crafted += [dict(r.asDict(), metric="m.mem", file="mem-" + r.file)
                for r in real]
    for i, c in enumerate(stats):
        for r in real[i::len(stats)]:
            crafted.append(dict(r.asDict(), **{c: None},
                                file=f"null-{c}-{r.file}"))
    crafted.append(dict(real[0].asDict(), file="ghost.parquet",
                        **{c: None for c in stats[1:]}))
    crafted_dir = str(tmp_path / "crafted")
    spark.createDataFrame(crafted, zmod._MANIFEST_SCHEMA).coalesce(1) \
        .write.parquet(crafted_dir)
    man = spark.read.parquet(crafted_dir)
    rows = man.collect()

    rng = random.Random(7)
    pool = [f"m.cpu host={i:02d}" for i in range(100)]
    pool += [f"m.cpu host={i}" for i in range(100, 1000)]
    lists = [None, [], ["m.cpu host=07"], rng.sample(pool, 64),
             rng.sample(pool, 65), pool]
    assert [len(x) for x in lists[2:]] == [1, 64, 65, 1000]
    bounds = [(None, None), (DAY, None), (None, 2 * DAY),
              (DAY + 17, 2 * DAY), (3 * DAY, 3 * DAY)]
    cases = [(None, w, lo, hi) for w in lists for lo, hi in bounds]
    cases += [(["m.cpu"], w, DAY + 17, 2 * DAY) for w in lists]
    cases += [(m, ["m.cpu host=05"], DAY, 2 * DAY)
              for m in ([], ["m.mem"], ["m.cpu", "m.mem"], ["nope"])]
    for case, exp in zip(cases, _spark_prune(spark, man, cases)):
        metrics, wanted, lo, hi = case
        got = zmod._select_files(rows, ("series_min", "series_max"), wanted,
                                 ("ts_min", "ts_max"), lo, hi, metrics)
        assert sorted(got) == exp, (metrics, wanted and len(wanted), lo, hi)

    df, _ = _frame(spark)
    grow = str(tmp_path / "cache")
    zorder_metrics_table(spark, df.filter(F.col("ts_ns") < DAY), grow,
                         bucket_ns=DAY, files_per_partition=1)
    zorder_select(spark, grow)
    n_cached = len(zmod._SNAPSHOTS)
    for epoch in (1, 2):
        day = df.filter(F.col("ts_ns").between(epoch * DAY,
                                               (epoch + 1) * DAY - 1))
        zmod.zorder_append(spark, day, grow, epoch=epoch)
        st: dict = {}
        zorder_select(spark, grow, series=lists[3], ts_from=DAY, stats=st)
        man = spark.read.parquet(zmod.manifest_dir(grow))
        [exp] = _spark_prune(spark, man, [(None, lists[3], DAY, None)])
        assert st == {"files_total": man.count(),
                      "files_selected": len(exp)} and exp
    assert len(zmod._SNAPSHOTS) == n_cached
    assert zmod._SNAPSHOTS[grow].dir == zmod.manifest_dir(grow)


def test_absent_store_answers_empty(spark, tmp_path):
    st: dict = {}
    out = zorder_select(spark, str(tmp_path / "never-built"), stats=st)
    assert out.count() == 0
    assert st == {"files_total": 0, "files_selected": 0}
    assert out.schema["tags"].dataType.typeName() == "map"


def test_store_without_manifest_raises(spark, tmp_path):
    """A data dir that isn't a z-store (no manifest) is a broken-store
    contract violation, not a silent full scan."""
    df, _ = _frame(spark)
    path = str(tmp_path / "plain")
    df.drop("tags").write.parquet(path)
    with pytest.raises(Exception):
        zorder_select(spark, path, metric="m.cpu").collect()


def test_rebuild_swaps_atomically_and_crash_heals(spark, store, tmp_path):
    """Rebuild over an existing store (changing files_per_partition,
    which only shapes clustering) flips readers with one pointer-log
    publish; a crash before that pointer leaves the pre-rebuild
    snapshot serving whole."""
    df, rows = _frame(spark)
    path = str(tmp_path / "swap")
    zorder_metrics_table(spark, df, path, bucket_ns=DAY, files_per_partition=4)
    st4: dict = {}
    zorder_select(spark, path, stats=st4)
    zorder_metrics_table(spark, df, path, bucket_ns=DAY, files_per_partition=8)
    st8: dict = {}
    assert zorder_select(spark, path, stats=st8).count() == len(rows)
    assert st8["files_total"] > st4["files_total"]
    # simulate the crash: rebuilt files moved in, pointer never created
    drop_newest_snapshot(path)
    st: dict = {}
    out = zorder_select(spark, path, metric="m.cpu", series="m.cpu host=01")
    assert out.count() == PTS  # pre-rebuild snapshot, data+manifest whole
    assert zorder_select(spark, path, stats=st).count() == len(rows)
    assert st["files_total"] == st4["files_total"]


def test_zero_row_build_publishes_empty_manifest(spark, tmp_path):
    df, _ = _frame(spark)
    path = str(tmp_path / "empty")
    zorder_metrics_table(spark, df.filter(F.lit(False)), path,
                         bucket_ns=DAY)
    st: dict = {}
    assert zorder_select(spark, path, metric="m.cpu", stats=st).count() == 0
    assert st["files_total"] == 0


def test_append_equals_fresh_build_rows(spark, tmp_path):
    """build(a) + append(b) serves exactly build(a ∪ b)'s rows, with
    pruning intact on the appended region."""
    from akumuli_spark.sources.zorder import zorder_append

    df, rows = _frame(spark)
    a = df.filter(F.col("ts_ns") < 2 * DAY)
    b = df.filter(F.col("ts_ns") >= 2 * DAY)
    path = str(tmp_path / "grow")
    zorder_metrics_table(spark, a, path, bucket_ns=DAY, files_per_partition=4)
    zorder_append(spark, b, path)
    got = sorted((r.series, r.ts_ns, r.value)
                 for r in zorder_select(spark, path).collect())
    assert got == sorted((s, t, v) for (s, m, t, v) in rows)
    # a probe confined to the appended days still file-prunes
    st: dict = {}
    out = zorder_select(spark, path, series="m.cpu host=05",
                        ts_from=2 * DAY, ts_to=4 * DAY, stats=st)
    exp = [(s, t) for (s, m, t, v) in rows
           if s == "m.cpu host=05" and 2 * DAY <= t < 4 * DAY]
    assert out.count() == len(exp) and exp
    assert st["files_selected"] < st["files_total"]


def test_append_is_snapshot_isolated(spark, tmp_path):
    """Data files landed by a crashed append (no manifest publish) are
    invisible: reads serve the pre-append snapshot; vacuum reclaims
    exactly those orphans; a re-run append completes the growth."""
    import glob

    from akumuli_spark.sources.zorder import vacuum_zorder, zorder_append

    df, rows = _frame(spark)
    a = df.filter(F.col("ts_ns") < 2 * DAY)
    b = df.filter(F.col("ts_ns") >= 2 * DAY)
    path = str(tmp_path / "crash")
    zorder_metrics_table(spark, a, path, bucket_ns=DAY, files_per_partition=4)
    pre = zorder_select(spark, path).count()

    # simulate the crash window: run the append but drop its manifest
    # pointer afterwards — files in place, publish never happened
    zorder_append(spark, b, path)
    drop_newest_snapshot(path)

    assert zorder_select(spark, path).count() == pre  # orphans invisible
    n_files = len(glob.glob(os.path.join(path, "metric=*", "ts_bucket=*",
                                         "*.parquet")))
    # default grace spares the fresh orphans (they could be a live
    # append's unpublished files); grace_s=0 is the explicit
    # single-maintenance-writer reclaim
    assert vacuum_zorder(spark, path) == 0
    removed = vacuum_zorder(spark, path, grace_s=0)
    assert removed > 0 and removed < n_files
    assert zorder_select(spark, path).count() == pre  # still the snapshot

    zorder_append(spark, b, path)  # the retry
    assert zorder_select(spark, path).count() == len(rows)


def test_append_without_contract_refused(spark, tmp_path):
    from akumuli_spark.sources.zorder import zorder_append

    df, _ = _frame(spark)
    with pytest.raises(ValueError, match="layout contract"):
        zorder_append(spark, df, str(tmp_path / "never-built"))


def test_epoch_keyed_append_replay_is_noop(spark, tmp_path):
    """Exactly-once through the manifest ledger: re-running an append
    whose epoch is already committed changes nothing — neither rows
    nor the file set."""
    import glob

    from akumuli_spark.sources.zorder import zorder_append

    df, rows = _frame(spark)
    a = df.filter(F.col("ts_ns") < 2 * DAY)
    b = df.filter(F.col("ts_ns") >= 2 * DAY)
    path = str(tmp_path / "eonce")
    zorder_metrics_table(spark, a, path, bucket_ns=DAY, files_per_partition=4)
    zorder_append(spark, b, path, epoch=1)
    n = zorder_select(spark, path).count()
    files = sorted(glob.glob(os.path.join(path, "metric=*", "*", "*.parquet")))
    zorder_append(spark, b, path, epoch=1)  # the replay
    assert zorder_select(spark, path).count() == n == len(rows)
    assert sorted(glob.glob(
        os.path.join(path, "metric=*", "*", "*.parquet"))) == files
    with pytest.raises(ValueError, match="reserved"):
        zorder_append(spark, b, path, epoch=0)


def test_retention_is_manifest_first_and_zero_scan(spark, tmp_path):
    """Expired buckets leave the manifest in one atomic publish (their
    files go at vacuum time); in-window serving is untouched and the
    cutoff bucket itself survives."""
    from akumuli_spark.sources.zorder import zorder_retention

    df, rows = _frame(spark)  # 4 days of data
    path = str(tmp_path / "ret")
    zorder_metrics_table(spark, df, path, bucket_ns=DAY, files_per_partition=4)
    dropped = zorder_retention(spark, path, keep_ns=2 * DAY,
                               now_ns=4 * DAY)
    assert dropped == 2  # days 0 and 1 expired; day 2 is the cutoff
    got = sorted((r.series, r.ts_ns) for r in zorder_select(
        spark, path).collect())
    exp = sorted((s, t) for (s, m, t, v) in rows if t >= 2 * DAY)
    assert got == exp and got
    # the store still prunes and still appends after retention
    st: dict = {}
    zorder_select(spark, path, series="m.cpu host=01", stats=st)
    assert 0 < st["files_selected"] < st["files_total"]


# ---------------------------------------------------------------------------
# Corpus variant: (lang, n_chars) clustering for curation scans
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus_store(spark, tmp_path_factory):
    from akumuli_spark.sources.testdata import load_table
    from akumuli_spark.sources.zorder import zorder_corpus_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path_factory.mktemp("zcorpus") / "docs")
    zorder_corpus_table(spark, docs, path, files_total=16)
    return path, docs


def test_corpus_lang_slice_matches_and_prunes(spark, corpus_store):
    from akumuli_spark.sources.zorder import zorder_corpus_select

    path, docs = corpus_store
    st: dict = {}
    out = zorder_corpus_select(spark, path, cat="en", stats=st)
    got = sorted(r.doc_id for r in out.collect())
    exp = sorted(r.doc_id for r in docs.filter("lang = 'en'").collect())
    assert got == exp and got
    assert st["files_selected"] < st["files_total"]


def test_corpus_length_band_matches_and_prunes(spark, corpus_store):
    from akumuli_spark.sources.zorder import zorder_corpus_select

    path, docs = corpus_store
    st: dict = {}
    out = zorder_corpus_select(spark, path, num_lo=100, num_hi=160,
                               stats=st)
    got = sorted(r.doc_id for r in out.collect())
    exp = sorted(r.doc_id for r in docs.filter(
        "n_chars >= 100 AND n_chars < 160").collect())
    assert got == exp and got
    assert st["files_selected"] < st["files_total"]


def test_corpus_conjunction_gate(spark, corpus_store):
    from akumuli_spark.sources.zorder import zorder_corpus_select

    path, docs = corpus_store
    st: dict = {}
    out = zorder_corpus_select(spark, path, cat=["en", "fr"],
                               num_lo=120, num_hi=200, stats=st)
    got = sorted(r.doc_id for r in out.collect())
    exp = sorted(r.doc_id for r in docs.filter(
        "lang IN ('en','fr') AND n_chars >= 120 AND n_chars < 200"
    ).collect())
    assert got == exp and got
    assert st["files_selected"] < st["files_total"]


def test_vacuum_grace_spares_fresh_orphans_reclaims_old(spark, tmp_path):
    """The Delta-style retention grace: unlisted files younger than
    ``grace_s`` are a possibly-live append's unpublished files and are
    spared; older ones (and stale ``.append-tmp-*`` staging dirs a hard
    crash left as siblings — previously a permanent disk leak) are
    reclaimed.  Makes vacuum safe to cron alongside appends."""
    import glob
    import time

    from akumuli_spark.sources.fs import CasLog, get_fs
    from akumuli_spark.sources.zorder import (
        MANIFEST_DIR,
        vacuum_zorder,
        zorder_append,
    )

    df, _ = _frame(spark)
    a = df.filter(F.col("ts_ns") < 2 * DAY)
    b = df.filter(F.col("ts_ns") >= 2 * DAY)
    path = str(tmp_path / "grace")
    zorder_metrics_table(spark, a, path, bucket_ns=DAY, files_per_partition=4)
    pre = zorder_select(spark, path).count()

    # crashed append: files landed, manifest publish rolled back
    zorder_append(spark, b, path)
    drop_newest_snapshot(path)
    mpath = CasLog(get_fs(path), os.path.join(path, MANIFEST_DIR)).current()[1]
    orphans = [
        f for f in glob.glob(
            os.path.join(path, "metric=*", "ts_bucket=*", "*.parquet"))
    ]
    listed = {
        r.file for r in spark.read.parquet(mpath).select("file").collect()
    }
    orphans = [f for f in orphans if os.path.relpath(f, path) not in listed]
    assert orphans

    # a hard-crashed append's staging dir (finally never ran)
    stale_stage = f"{path}.append-tmp-deadbeef"
    os.makedirs(stale_stage)
    fresh_stage = f"{path}.append-tmp-cafebabe"
    os.makedirs(fresh_stage)

    now = time.time()
    old = now - 7 * 86_400
    for f in orphans[: len(orphans) // 2] or orphans[:1]:
        os.utime(f, (old, old))
    os.utime(stale_stage, (old, old))

    mtimes = {f: os.path.getmtime(f) for f in orphans}
    aged = sum(1 for t in mtimes.values() if t < now - 86_400)
    removed = vacuum_zorder(spark, path, grace_s=86_400, now_s=now)
    assert removed == aged + 1  # aged orphans + the stale staging dir
    assert not os.path.exists(stale_stage)
    assert os.path.exists(fresh_stage)  # inside grace: spared
    for f, t in mtimes.items():
        assert os.path.exists(f) == (t >= now - 86_400)
    assert zorder_select(spark, path).count() == pre  # snapshot intact


def test_store_path_and_partition_values_with_uri_chars(spark, tmp_path):
    """``input_file_name()`` returns a percent-encoded URI; a table path
    with spaces/pluses and a metric value with a space must still yield
    manifest paths that match the on-disk (``os.rename``'d) names
    (ADVICE r11).  Round-trips build, manifest-pruned select, and
    append."""
    from akumuli_spark.sources.zorder import zorder_append

    rows = [
        (f"odd metric host={i:02d}", "odd metric", t * DAY // 50 + i,
         float(i + t))
        for i in range(4) for t in range(50)
    ]
    df = spark.createDataFrame(
        rows, "series string, metric string, ts_ns long, value double"
    ).withColumn("tags", F.expr("map('host', substring(series, -2, 2))"))
    path = str(tmp_path / "dir with space+plus" / "metrics")
    zorder_metrics_table(spark, df, path, bucket_ns=DAY,
                         files_per_partition=2)
    st: dict = {}
    out = zorder_select(spark, path, metric="odd metric",
                        series="odd metric host=01", stats=st)
    got = sorted((r.series, r.ts_ns, r.value) for r in out.collect())
    exp = sorted((s, t, v) for (s, m, t, v) in rows
                 if s == "odd metric host=01")
    assert got == exp and got
    assert st["files_selected"] < st["files_total"]
    zorder_append(spark, df.withColumn("ts_ns", F.col("ts_ns") + 2 * DAY),
                  path)
    assert zorder_select(spark, path).count() == 2 * len(rows)


def test_erosion_reports_append_degradation(spark, tmp_path):
    """zorder_erosion is the OPTIMIZE trigger: appends covering a
    bucket's whole time range raise its epochs and time_overlap; the
    report is manifest-derived (no data scan)."""
    from akumuli_spark.sources.zorder import zorder_append, zorder_erosion

    df, _ = _frame(spark)
    path = str(tmp_path / "erode")
    zorder_metrics_table(spark, df.filter("value % 4 = 0"), path,
                         bucket_ns=DAY, files_per_partition=4)
    base = {(r.metric, r.ts_bucket): r.asDict()
            for r in zorder_erosion(spark, path).collect()}
    assert base and all(v["epochs"] == 1 for v in base.values())
    for k in (1, 2, 3):
        zorder_append(spark, df.filter(f"value % 4 = {k}"), path, epoch=k)
    eroded = {(r.metric, r.ts_bucket): r.asDict()
              for r in zorder_erosion(spark, path).collect()}
    for key, v in eroded.items():
        assert v["epochs"] == 4
        assert v["files"] > base[key]["files"]
        assert v["time_overlap"] > base[key]["time_overlap"]


def test_optimize_restores_pruning_preserves_results_and_ledger(
        spark, tmp_path):
    """Scoped OPTIMIZE end-to-end: re-cluster ONE eroded bucket →
    files-scanned drops for a probe in that bucket, results unchanged;
    the folded epochs stay committed (replay is still a no-op via the
    ledger); auto-selection then cleans the rest; vacuum reclaims the
    replaced orphans."""
    import glob

    from akumuli_spark.sources.zorder import (
        vacuum_zorder,
        zorder_append,
        zorder_erosion,
        zorder_optimize,
    )

    df, rows = _frame(spark)
    path = str(tmp_path / "opt")
    # three epochs per bucket (build + two appends): erosion still
    # selects every bucket (epochs >= 2) with one fewer corpus append
    # than r14's four-way split (driver verify window, OPT_r15.md #11)
    zorder_metrics_table(spark, df.filter("value % 3 = 0"), path,
                         bucket_ns=DAY, files_per_partition=4)
    for k in (1, 2):
        zorder_append(spark, df.filter(f"value % 3 = {k}"), path, epoch=k)

    lo, hi = DAY // 2, DAY // 2 + DAY // 8  # probe inside bucket 0
    st_pre: dict = {}
    pre = sorted((r.series, r.ts_ns, r.value) for r in zorder_select(
        spark, path, metric="m.cpu", ts_from=lo, ts_to=hi,
        stats=st_pre).collect())
    assert pre

    assert zorder_optimize(spark, path, buckets=[("m.cpu", 0)]) == 1
    st_post: dict = {}
    post = sorted((r.series, r.ts_ns, r.value) for r in zorder_select(
        spark, path, metric="m.cpu", ts_from=lo, ts_to=hi,
        stats=st_post).collect())
    assert post == pre
    assert st_post["files_selected"] < st_pre["files_selected"]

    ero = {r.ts_bucket: r.epochs
           for r in zorder_erosion(spark, path).collect()}
    assert ero[0] == 1 and all(ero[b] == 3 for b in ero if b != 0)

    # exactly-once across the rewrite: epoch 1's manifest rows are gone
    # from bucket 0 but the ledger remembers — replay must be a no-op
    n_files = len(glob.glob(os.path.join(path, "metric=*", "*", "*.parquet")))
    total = zorder_select(spark, path).count()
    zorder_append(spark, df.filter("value % 3 = 1"), path, epoch=1)
    assert zorder_select(spark, path).count() == total
    assert len(glob.glob(
        os.path.join(path, "metric=*", "*", "*.parquet"))) == n_files

    # auto-selection: remaining eroded buckets (epochs >= 2) only
    assert zorder_optimize(spark, path) == 3
    assert zorder_optimize(spark, path) == 0  # nothing left to do
    assert {r.epochs for r in zorder_erosion(spark, path).collect()} == {1}
    got = sorted((r.series, r.ts_ns, r.value)
                 for r in zorder_select(spark, path).collect())
    assert got == sorted((s, t, v) for (s, m, t, v) in rows)

    # the replaced files are now unlisted orphans — reclaimed by vacuum,
    # serving unchanged
    assert vacuum_zorder(spark, path, grace_s=0) > 0
    assert zorder_select(spark, path).count() == len(rows)


def test_wide_series_list_uses_join_path_same_answer(spark, store):
    """A series list past _SERIES_EXPR_CAP prunes files by the same
    bisect as a narrow list and filters the residual via semi-join —
    same rows as the narrow path."""
    path, rows = store
    wanted = [f"m.cpu host={i:02d}" for i in range(N_SERIES)]
    wanted += [f"m.cpu host=x{i}" for i in range(60)]  # absent: no rows
    assert len(wanted) > 64
    st: dict = {}
    out = zorder_select(spark, path, metric="m.cpu", series=wanted,
                        ts_from=DAY, ts_to=2 * DAY, stats=st)
    got = sorted((r.series, r.ts_ns) for r in out.collect())
    exp = sorted((s, t) for (s, m, t, v) in rows
                 if s in set(wanted) and DAY <= t < 2 * DAY)
    assert got == exp and got
    assert 0 < st["files_selected"] <= st["files_total"]


def test_corpus_append_equals_fresh_build(spark, tmp_path):
    """Corpus growth (r12): build(a) + append(b) serves exactly
    build(a ∪ b)'s docs; the gate still prunes; a committed epoch's
    replay is a no-op; vacuum (grace 0) reclaims a crashed append's
    orphans; a mismatched serve column is refused by the stored
    contract."""
    import glob

    from akumuli_spark.sources.testdata import load_table
    from akumuli_spark.sources.zorder import (
        vacuum_zorder_corpus,
        zorder_corpus_append,
        zorder_corpus_select,
        zorder_corpus_table,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    a = docs.filter("doc_id % 3 != 0")
    b = docs.filter("doc_id % 3 = 0")
    path = str(tmp_path / "docs")
    zorder_corpus_table(spark, a, path, files_total=8)
    zorder_corpus_append(spark, b, path, epoch=1, files_total=4)

    st: dict = {}
    out = zorder_corpus_select(spark, path, cat="en", num_lo=100,
                               num_hi=250, stats=st)
    got = sorted(r.doc_id for r in out.collect())
    exp = sorted(r.doc_id for r in docs.filter(
        "lang = 'en' AND n_chars >= 100 AND n_chars < 250").collect())
    assert got == exp and got
    assert st["files_selected"] < st["files_total"]
    assert zorder_corpus_select(spark, path).count() == docs.count()

    # epoch replay: no new rows, no new files
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    zorder_corpus_append(spark, b, path, epoch=1)
    assert sorted(glob.glob(os.path.join(path, "*.parquet"))) == files
    assert zorder_corpus_select(spark, path).count() == docs.count()

    # crashed append: manifest rolled back -> orphans invisible, vacuumed
    zorder_corpus_append(spark, b.limit(40), path, epoch=2)
    drop_newest_snapshot(path)
    assert zorder_corpus_select(spark, path).count() == docs.count()
    assert vacuum_zorder_corpus(spark, path, grace_s=0) > 0
    assert zorder_corpus_select(spark, path).count() == docs.count()

    # the stored contract refuses a mis-columned serve
    with pytest.raises(ValueError, match="clustered on"):
        zorder_corpus_select(spark, path, cat_col="source")
    # append without a contract refused (pre-r12 store shape)
    bare = str(tmp_path / "bare")
    docs.limit(10).write.parquet(bare)
    with pytest.raises(ValueError, match="contract"):
        zorder_corpus_append(spark, b, bare, epoch=1)


def test_corpus_erosion_report(spark, tmp_path):
    """Appends raise files/epochs/num_overlap; a rebuild (the corpus
    OPTIMIZE) resets the report to the built layout."""
    from akumuli_spark.sources.testdata import load_table
    from akumuli_spark.sources.zorder import (
        zorder_corpus_append,
        zorder_corpus_erosion,
        zorder_corpus_table,
    )
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    path = str(tmp_path / "docs")
    zorder_corpus_table(spark, docs.filter("doc_id % 2 = 0"), path,
                        files_total=8)
    base = zorder_corpus_erosion(spark, path).first().asDict()
    assert base["epochs"] == 1 and base["files_built"] == 8
    zorder_corpus_append(spark, docs.filter("doc_id % 2 = 1"), path,
                         epoch=1, files_total=8)
    grown = zorder_corpus_erosion(spark, path).first().asDict()
    assert grown["epochs"] == 2
    assert grown["files"] > base["files"]
    assert grown["num_overlap"] > base["num_overlap"]
    zorder_corpus_table(spark, docs, path, files_total=8)  # the OPTIMIZE
    rebuilt = zorder_corpus_erosion(spark, path).first().asDict()
    assert rebuilt["epochs"] == 1 and rebuilt["files"] <= 8


def test_optimize_wide_selection_join_path_and_max_buckets(
        spark, tmp_path, monkeypatch):
    """Past _SERIES_EXPR_CAP replaced files, optimize's publish drops
    them with a broadcast anti-join instead of an ``isin`` (same guard
    as wide series lists); max_buckets bounds one maintenance run to the
    most eroded buckets and leaves the rest for the next."""
    from akumuli_spark.sources import zorder as zmod
    from akumuli_spark.sources.zorder import (
        zorder_append,
        zorder_erosion,
        zorder_optimize,
    )

    df, rows = _frame(spark)
    path = str(tmp_path / "wideopt")
    zorder_metrics_table(spark, df.filter("value % 2 = 0"), path,
                         bucket_ns=DAY, files_per_partition=2)
    zorder_append(spark, df.filter("value % 2 = 1"), path, epoch=1)
    assert zorder_erosion(spark, path).filter("epochs >= 2").count() == 4

    # bounded run: 2 most-eroded buckets now, 2 left for next time
    assert zorder_optimize(spark, path, max_buckets=2) == 2
    assert zorder_erosion(spark, path).filter("epochs >= 2").count() == 2

    # force the join path for the remaining selection
    monkeypatch.setattr(zmod, "_SERIES_EXPR_CAP", 1)
    assert zorder_optimize(spark, path) == 2
    assert zorder_erosion(spark, path).filter("epochs >= 2").count() == 0
    got = sorted((r.series, r.ts_ns, r.value)
                 for r in zorder_select(spark, path).collect())
    assert got == sorted((s, t, v) for (s, m, t, v) in rows)
