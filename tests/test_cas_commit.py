"""The conditional-PUT commit protocol (akumuli_spark.sources.fs.CasLog),
the one protocol every z-store publishes through:

* protocol tests on :class:`MemoryStoreFS` — an in-memory fake with
  OBJECT-STORE semantics (copy+delete rename, atomic conditional-PUT
  create, injectable clock) and fault hooks, pinning the CAS-conflict /
  crash-between-steps / double-publish matrix without Spark;
* the full z-store lifecycle (build → append/replay → optimize →
  retention → vacuum → select) and the rebuild contract, both on a
  bare local path and over a ``file://`` URI through HadoopStoreFS.
"""

from __future__ import annotations

import posixpath

import pytest
from pyspark.sql import functions as F

from akumuli_spark.api import open_zorder_database
from akumuli_spark.sources.fs import (
    CasLog,
    LocalStoreFS,
    MemoryStoreFS,
    get_fs,
)
from akumuli_spark.sources.zorder import (
    MANIFEST_DIR,
    vacuum_zorder,
    vacuum_zorder_corpus,
    zorder_append,
    zorder_corpus_append,
    zorder_corpus_select,
    zorder_corpus_table,
    zorder_erosion,
    zorder_metrics_table,
    zorder_optimize,
    zorder_retention,
    zorder_select,
)

DAY = 86_400 * 10**9


# ---------------------------------------------------------------------------
# CasLog protocol on the object-store fake (no Spark)
# ---------------------------------------------------------------------------

TABLE = "s3a://bucket/store/_zmanifest"


def _publish(fs, log, payload: bytes):
    """One complete manual publish: version dir first, pointer second."""
    v = log.next_version()
    name = log.version_name(v)
    fs.write_bytes(posixpath.join(log.dir_for(name), "part-0.parquet"),
                   payload)
    fs.write_bytes(posixpath.join(log.dir_for(name), "_SUCCESS"), b"")
    assert log.try_commit(v, name)
    return v, name


def test_cas_first_commit_and_current():
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    assert not log.exists()
    assert log.current() == (0, None)
    v, name = _publish(fs, log, b"v1-data")
    assert v == 1 and log.exists()
    cur_v, cur_dir = log.current()
    assert cur_v == 1 and cur_dir == log.dir_for(name)
    assert fs.read_bytes(posixpath.join(cur_dir, "part-0.parquet")) == b"v1-data"


def test_cas_conflict_one_winner():
    """Two writers racing the same version: exactly one pointer create
    succeeds; the loser re-reads and lands ABOVE the winner."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _publish(fs, log, b"base")
    v = log.next_version()
    a, b = log.version_name(v), log.version_name(v)
    for name, data in ((a, b"writer-A"), (b, b"writer-B")):
        fs.write_bytes(posixpath.join(log.dir_for(name), "part-0.parquet"),
                       data)
    assert log.try_commit(v, a) is True
    assert log.try_commit(v, b) is False  # CAS conflict
    assert log.current()[1] == log.dir_for(a)
    # loser retries at the next version — both publishes survive in order
    v2 = log.next_version()
    assert v2 == v + 1
    assert log.try_commit(v2, b) is True
    assert log.current() == (v2, log.dir_for(b))


def test_cas_crash_before_pointer_is_invisible_then_reclaimed():
    """A writer that dies after the version-dir write but before the
    pointer create changes NOTHING for readers; its orphan attempt dir
    is reclaimed by log.vacuum after the grace."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _publish(fs, log, b"base")

    def crash(op, path):
        if op == "create_exclusive" and path.endswith(".ptr"):
            raise MemoryStoreFS.Fault("crash before pointer")

    v = log.next_version()
    name = log.version_name(v)
    fs.write_bytes(posixpath.join(log.dir_for(name), "part-0.parquet"),
                   b"doomed")
    fs.on_op = crash
    with pytest.raises(MemoryStoreFS.Fault):
        log.try_commit(v, name)
    fs.on_op = None
    assert log.current()[0] == 1  # reader snapshot unchanged
    # the orphan dir is invisible but present …
    assert fs.exists(log.dir_for(name))
    # … and a later writer simply commits at the same number
    _publish(fs, log, b"recovered")
    assert log.current()[0] == 2
    # vacuum reclaims the orphan after the grace (keep current + 1)
    fs.advance(100_000)
    removed = log.vacuum(keep=2, grace_s=10, now_s=fs.now())
    assert removed >= 1
    assert not fs.exists(log.dir_for(name))
    assert log.current()[0] == 2  # still serving


def test_cas_burned_pointer_skipped_never_reused():
    """A pointer object that exists but is EMPTY (create died mid-close)
    is skipped by readers, and the version number is never reused."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _publish(fs, log, b"v1")
    burned = log.next_version()
    fs.makedirs(log.log_dir)
    assert fs.create_exclusive(
        posixpath.join(log.log_dir, f"{burned:020d}.ptr"), b"")
    assert log.current()[0] == 1          # reader walks past the burn
    assert log.next_version() == burned + 1  # number burned, not reused
    _publish(fs, log, b"v3")
    assert log.current()[0] == burned + 1


def test_cas_double_publish_monotonic_history():
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    seen = []
    for i in range(5):
        v, _ = _publish(fs, log, b"gen-%d" % i)
        seen.append(v)
    assert seen == [1, 2, 3, 4, 5]
    cur_v, cur_dir = log.current()
    assert cur_v == 5
    assert fs.read_bytes(posixpath.join(cur_dir, "part-0.parquet")) == b"gen-4"
    # snapshot retention: keep 2, age everything, current survives
    fs.advance(1_000_000)
    log.vacuum(keep=2, grace_s=10, now_s=fs.now())
    assert log.current()[0] == 5
    kept = log.protected(2, grace_s=10, now_s=fs.now())
    assert cur_dir in kept and len(kept) == 2


def test_cas_vacuum_grace_counts_from_supersession():
    """A snapshot that reigned for a long time and was just replaced by
    one maintenance cycle's worth of commits must survive a full grace
    FROM ITS SUPERSESSION — creation-age would let vacuum reap it (and
    its exclusive data files) seconds after replacement, from under a
    reader that resolved it while it was still current (r14 review)."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _v, name_old = _publish(fs, log, b"reigned-for-weeks")
    old_dir = log.dir_for(name_old)
    fs.advance(30 * 86_400.0)  # current for a month
    for i in range(3):  # one maintenance cycle: exactly keep commits
        _publish(fs, log, b"cycle-%d" % i)
    fs.advance(60.0)  # vacuum runs a minute later
    prot = log.protected(keep=3, grace_s=86_400.0, now_s=fs.now())
    assert old_dir in prot  # superseded 60s ago: a reader may hold it
    log.vacuum(keep=3, grace_s=86_400.0, now_s=fs.now())
    assert fs.exists(old_dir)
    # …and one grace later it is reclaimable
    fs.advance(86_401.0)
    assert old_dir not in log.protected(keep=3, grace_s=86_400.0,
                                        now_s=fs.now())
    log.vacuum(keep=3, grace_s=86_400.0, now_s=fs.now())
    assert not fs.exists(old_dir)


def test_cas_rename_nonatomicity_is_harmless():
    """MemoryStoreFS renames are copy+delete; a crash mid-rename leaves
    partial state — which the manifest protocol never observes, because
    data files are invisible until a pointer names them."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _publish(fs, log, b"base")
    fs.write_bytes("s3a://bucket/staging/f1.parquet", b"one")
    fs.write_bytes("s3a://bucket/staging/f2.parquet", b"two")

    calls = [0]

    def crash_mid_rename(op, path):
        if op == "rename_delete":
            calls[0] += 1
            if calls[0] == 1:
                raise MemoryStoreFS.Fault("died mid-rename")

    fs.on_op = crash_mid_rename
    with pytest.raises(MemoryStoreFS.Fault):
        fs.rename("s3a://bucket/staging", "s3a://bucket/store/data")
    fs.on_op = None
    # partial copies exist on both sides — but no pointer names them,
    # so the reader's snapshot is exactly what it was
    assert log.current()[0] == 1


def test_cas_stale_merge_cannot_land_above_rival():
    """THE r14 smoke bug, pinned: writer A merges against version 1,
    writer B commits version 2 in between — A's commit MUST fail as
    stale (B's rows would otherwise be erased by A's version-3 commit,
    which is exactly how 3 of 40 concurrent appends vanished before
    commit_above claimed exactly v_read+1)."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _publish(fs, log, b"base")               # version 1

    a_read, _ = log.current()
    assert a_read == 1
    vname_a = log.version_name(a_read + 1)
    fs.write_bytes(posixpath.join(log.dir_for(vname_a), "part-0.parquet"),
                   b"A-merge-of-v1")

    _publish(fs, log, b"B-merge-of-v1")      # B commits version 2 first

    assert log.commit_above(
        a_read, vname_a, clock=fs.now, sleep=lambda s: fs.advance(s),
    ) is False                               # A is stale, must re-merge
    cur_v, cur_dir = log.current()
    assert cur_v == 2
    assert fs.read_bytes(
        posixpath.join(cur_dir, "part-0.parquet")) == b"B-merge-of-v1"


def test_cas_dead_burn_skipped_after_grace_but_inflight_wins():
    """A claimed-but-unreadable slot: if content never appears (crashed
    claim) the writer steps over it after the grace; if content appears
    DURING the grace (an in-flight commit), the writer yields stale."""
    fs = MemoryStoreFS()
    log = CasLog(fs, TABLE)
    _publish(fs, log, b"base")  # version 1

    # dead burn at slot 2 (empty pointer, content never arrives)
    fs.makedirs(log.log_dir)
    assert fs.create_exclusive(posixpath.join(log.log_dir, "%020d.ptr" % 2),
                               b"")
    vname = log.version_name(2)
    fs.write_bytes(posixpath.join(log.dir_for(vname), "part-0.parquet"),
                   b"mine")
    assert log.commit_above(
        1, vname, burn_wait_s=2.0, clock=fs.now,
        sleep=lambda s: fs.advance(s),
    ) is True                          # stepped over the burn, slot 3
    assert log.current() == (3, log.dir_for(vname))

    # in-flight claim at slot 4: content lands mid-grace → stale
    assert fs.create_exclusive(posixpath.join(log.log_dir, "%020d.ptr" % 4),
                               b"")
    rival = log.version_name(4)
    fs.write_bytes(posixpath.join(log.dir_for(rival), "part-0.parquet"),
                   b"rival")
    polls = [0]

    def filling_sleep(s):
        fs.advance(s)
        polls[0] += 1
        if polls[0] == 3:  # the in-flight writer's close lands
            fs.write_bytes(posixpath.join(log.log_dir, "%020d.ptr" % 4),
                           rival.encode())

    mine2 = log.version_name(4)
    fs.write_bytes(posixpath.join(log.dir_for(mine2), "part-0.parquet"),
                   b"mine2")
    assert log.commit_above(3, mine2, burn_wait_s=5.0, clock=fs.now,
                            sleep=filling_sleep) is False
    assert log.current() == (4, log.dir_for(rival))


def test_local_rename_refuses_existing_file_destination(tmp_path):
    """ADVICE r13 (low): both seam impls honor one semantic — an
    existing destination FILE refuses instead of silently clobbering."""
    fs = LocalStoreFS()
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        with open(p, "w") as fh:
            fh.write(p)
    with pytest.raises(OSError):
        fs.rename(a, b)
    assert open(b).read() == b  # untouched


# ---------------------------------------------------------------------------
# z-store lifecycle over the pointer log (Spark end to end)
# ---------------------------------------------------------------------------


def _metrics(spark, n_series=6, pts=48, t0=0, bump=0.0):
    rows = [
        (f"m.cpu host={sid:02d}", "m.cpu",
         t0 + (t * 2 * DAY) // pts + sid, float(sid * 1000 + t) + bump)
        for sid in range(n_series) for t in range(pts)
    ]
    return spark.createDataFrame(
        rows, "series string, metric string, ts_ns long, value double"
    ).withColumn("tags", F.expr("map('host', substring(series, -2, 2))"))


def _vals(df):
    return sorted((r.series, r.ts_ns, r.value)
                  for r in df.select("series", "ts_ns", "value").collect())




def _data_files(path):
    return set(get_fs(path).glob(path, "metric=*/ts_bucket=*/*.parquet"))


def _current_files(spark, path):
    _v, cur = CasLog(get_fs(path), posixpath.join(path, MANIFEST_DIR)).current()
    return {r.file for r in spark.read.parquet(cur).select("file").collect()}


@pytest.mark.parametrize("scheme", ["posix", "file_uri"])
def test_metrics_lifecycle_cas(spark, tmp_path, scheme):
    path = str(tmp_path / "zcas")
    if scheme == "file_uri":
        path = "file://" + path
    df = _metrics(spark)
    zorder_metrics_table(spark, df, path, bucket_ns=DAY,
                         files_per_partition=4)
    assert _vals(zorder_select(spark, path)) == _vals(df)
    held = open_zorder_database(spark, path)  # held across every publish

    stats = {}
    one = zorder_select(spark, path, metric="m.cpu",
                        series="m.cpu host=03", ts_from=0, ts_to=DAY,
                        stats=stats)
    assert stats["files_selected"] < stats["files_total"]
    assert _vals(one) == _vals(
        df.filter((F.col("series") == "m.cpu host=03")
                  & (F.col("ts_ns") < DAY)))

    # append twice with one epoch: exactly-once replay, lock-free
    batch = _metrics(spark, t0=4 * DAY, bump=0.5)
    zorder_append(spark, batch, path, epoch=7)
    zorder_append(spark, batch, path, epoch=7)
    # an epoch-keyed append overlapping the built buckets, so erosion
    # sees a second writer generation
    overlap = _metrics(spark, n_series=2, pts=10, t0=12, bump=0.25)
    zorder_append(spark, overlap, path, epoch=1)
    zorder_append(spark, overlap, path, epoch=1)
    both = df.unionByName(batch).unionByName(overlap)
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # erosion sees the append generation; optimize re-clusters the
    # eroded buckets; serving unchanged
    assert zorder_erosion(spark, path).filter(
        F.col("epochs") >= 2).count() >= 1
    assert zorder_optimize(spark, path) >= 1
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # replays after optimize folded the epochs away: still no-ops
    zorder_append(spark, batch, path, epoch=7)
    zorder_append(spark, overlap, path, epoch=1)
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # retention drops old buckets manifest-first (no dir deletes)
    now_ns = 6 * DAY
    dropped = zorder_retention(spark, path, keep_ns=3 * DAY, now_ns=now_ns)
    assert dropped > 0
    cutoff = (now_ns - 3 * DAY) // DAY
    kept = both.filter(F.expr(f"ts_ns div {DAY}L") >= cutoff)
    assert _vals(zorder_select(spark, path)) == _vals(kept)
    assert zorder_select(spark, path, ts_to=cutoff * DAY).count() == 0

    # vacuum with snapshot retention: nothing a retained snapshot
    # references goes; aggressive keep=1/grace=0 reclaims the rest
    # (replaced and expired files alike) and the current snapshot
    # still serves exactly
    assert vacuum_zorder(spark, path, grace_s=10**9) == 0
    removed = vacuum_zorder(spark, path, grace_s=0.0, snapshots_keep=1)
    assert removed > 0
    assert _data_files(path) == _current_files(spark, path)
    assert _vals(zorder_select(spark, path)) == _vals(kept)

    # the database opened after the build follows the pointer log: hosts
    # first seen in a later append resolve in where and in the dim
    fresh = _metrics(spark, n_series=8, t0=5 * DAY).filter(
        F.col("series") >= "m.cpu host=06")
    zorder_append(spark, fresh, path, epoch=8)
    q = {"select": "m.cpu", "range": {"from": 0, "to": 10 * DAY},
         "where": {"host": "07"}}
    assert _vals(held.query(q)) == _vals(
        fresh.filter(F.col("series") == "m.cpu host=07"))
    assert held.stats()["n_series"] == 8


def test_cas_optimize_carries_concurrent_append(spark, tmp_path):
    """An append that publishes between an optimize's selection and its
    pointer commit survives — the merge re-runs against the freshest
    snapshot on every CAS retry."""
    path = str(tmp_path / "zrace")
    df = _metrics(spark)
    zorder_metrics_table(spark, df, path, bucket_ns=DAY,
                         files_per_partition=4)
    # append into the SAME buckets as the build so erosion (>= 2 writer
    # generations per bucket) selects them for the optimize
    first = _metrics(spark, t0=0, bump=0.25)
    zorder_append(spark, first, path, epoch=1)
    racer = _metrics(spark, t0=8 * DAY, bump=0.75)

    def interleave():
        zorder_append(spark, racer, path, epoch=2)

    assert zorder_optimize(spark, path, _race_hook=interleave) > 0
    everything = df.unionByName(first).unionByName(racer)
    assert _vals(zorder_select(spark, path)) == _vals(everything)


def test_cas_rebuild_keeps_replay_and_rejects_param_drift(spark, tmp_path):
    path = str(tmp_path / "zreb")
    df = _metrics(spark)
    zorder_metrics_table(spark, df, path, bucket_ns=DAY,
                         files_per_partition=4)
    batch = _metrics(spark, t0=4 * DAY, bump=0.5)
    zorder_append(spark, batch, path, epoch=3)
    both = df.unionByName(batch)

    # rebuild (same params) from the store's own rows: serving
    # identical, epoch carried to the ledger
    current = zorder_select(spark, path)
    current = spark.createDataFrame(current.collect(), current.schema)
    zorder_metrics_table(spark, current, path, bucket_ns=DAY,
                         files_per_partition=4)
    st4: dict = {}
    assert _vals(zorder_select(spark, path, stats=st4)) == _vals(both)
    zorder_append(spark, batch, path, epoch=3)  # replay: still no-op
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # files_per_partition only shapes clustering: a rebuild may change
    # it, and the replay check still holds across it
    st1: dict = {}
    zorder_metrics_table(spark, both, path, bucket_ns=DAY,
                         files_per_partition=1)
    assert _vals(zorder_select(spark, path, stats=st1)) == _vals(both)
    assert st1["files_total"] < st4["files_total"]
    zorder_append(spark, batch, path, epoch=3)  # replay: still no-op
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # bucket_ns fixes the partition and retention unit: refused
    with pytest.raises(ValueError, match="layout parameters"):
        zorder_metrics_table(spark, both, path, bucket_ns=2 * DAY,
                             files_per_partition=4)
    assert _vals(zorder_select(spark, path)) == _vals(both)


def test_corpus_lifecycle_cas(spark, tmp_path):
    path = str(tmp_path / "corpcas")
    docs = spark.createDataFrame(
        [(f"d{i}", ["en", "de", "fr"][i % 3], 100 + 37 * (i % 11))
         for i in range(120)],
        "doc_id string, lang string, n_chars int",
    )
    zorder_corpus_table(spark, docs, path, files_total=8)
    st = {}
    got = zorder_corpus_select(spark, path, cat="en", stats=st)
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in docs.filter("lang = 'en'").collect())
    assert st["files_selected"] <= st["files_total"]

    extra = spark.createDataFrame(
        [(f"x{i}", "en", 500 + i) for i in range(30)],
        "doc_id string, lang string, n_chars int",
    )
    zorder_corpus_append(spark, extra, path, epoch=1, files_total=2)
    zorder_corpus_append(spark, extra, path, epoch=1)  # replay no-op
    assert zorder_corpus_select(spark, path, cat="en").count() == (
        docs.filter("lang = 'en'").count() + 30)

    stats = {}
    band = zorder_corpus_select(spark, path, num_lo=500, num_hi=540,
                                stats=stats)
    assert stats["files_selected"] < stats["files_total"]
    assert band.count() == 30  # x0..x29 (500..529); base corpus tops at 470

    # a fresh store has no orphans at any grace
    assert vacuum_zorder_corpus(spark, path, grace_s=10**9) == 0
    assert vacuum_zorder_corpus(spark, path, grace_s=0.0) == 0
    assert zorder_corpus_select(spark, path, cat="en").count() == (
        docs.filter("lang = 'en'").count() + 30)
