"""The conditional-PUT commit protocol (akumuli_spark.sources.fs.CasLog)
and the object-store honesty fixes from VERDICT/ADVICE r13:

* protocol tests on :class:`MemoryStoreFS` — an in-memory fake with
  OBJECT-STORE semantics (copy+delete rename, atomic conditional-PUT
  create, injectable clock, optional setTimes support) and fault hooks,
  pinning the CAS-conflict / crash-between-steps / double-publish
  matrix without Spark;
* owner-token lock honesty — release/heartbeat verify ownership, a
  heartbeat needs no ``setTimes``, the lease-break TOCTOU restores a
  live holder's lock;
* the full z-store lifecycle (build → append/replay → optimize →
  retention → vacuum → select) over CAS commits, both on a bare local
  path (``cas_commit=True``) and over a ``file://`` URI through
  HadoopStoreFS.
"""

from __future__ import annotations

import posixpath

import pytest
from pyspark.sql import functions as F

from akumuli_spark.api import open_zorder_database
from akumuli_spark.sources.fs import (
    CasLog,
    LocalStoreFS,
    LockLostError,
    MemoryStoreFS,
    prefers_cas,
    store_lock,
)
from akumuli_spark.sources.zorder import (
    vacuum_zorder,
    vacuum_zorder_corpus,
    zorder_append,
    zorder_corpus_append,
    zorder_corpus_select,
    zorder_corpus_table,
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
    kept = log.retained(2)
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


def test_touch_mtime_missing_path_is_not_a_clock_failure(tmp_path):
    """Missing path → True on every seam impl: a concurrent retention
    racing the optimize re-age loop must not masquerade as a
    setTimes-unsupported filesystem (r14 review)."""
    assert LocalStoreFS().touch_mtime(str(tmp_path / "gone")) is True
    assert MemoryStoreFS().touch_mtime("s3a://b/gone") is True


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


# ---------------------------------------------------------------------------
# owner-token lock honesty (VERDICT r13 Wrong #1, ADVICE r13)
# ---------------------------------------------------------------------------


def _clocked(fs, **kw):
    return store_lock(fs, "s3a://bucket/store", clock=fs.now,
                      sleep=lambda s: fs.advance(s), **kw)


def test_lock_heartbeat_without_settimes():
    """The heartbeat rewrites lock CONTENT, so it works where setTimes
    silently no-ops — the r13 silently-stealable scenario is gone."""
    fs = MemoryStoreFS()
    fs.settimes_supported = False
    with _clocked(fs, lease_s=10) as hb:
        lock = "s3a://bucket/store.lock"
        m0 = fs.getmtime(lock)
        c0 = fs.read_bytes(lock)
        fs.advance(5)
        hb()
        assert fs.getmtime(lock) > m0
        assert fs.read_bytes(lock) != c0  # beat counter advanced


def test_stale_holder_release_spares_thief_and_surfaces_loss():
    """ADVICE r13 (medium): a holder that stalls past its lease, loses
    the lock, then resumes must (a) get LockLostError from heartbeat and
    (b) NOT delete the new holder's lock on release."""
    fs = MemoryStoreFS()
    ctx = _clocked(fs, lease_s=10)
    hb1 = ctx.__enter__()
    fs.advance(11)  # holder stalls past the lease
    with _clocked(fs, lease_s=10) as hb2:
        with pytest.raises(LockLostError):
            hb1()
        ctx.__exit__(None, None, None)  # stale release: must not unlock
        assert fs.exists("s3a://bucket/store.lock")
        hb2()  # thief is unaffected
    assert not fs.exists("s3a://bucket/store.lock")


def test_lease_break_toctou_restores_live_holder():
    """ADVICE r13 (low): a heartbeat landing between a breaker's probe
    and its rename must NOT lose the holder the lock — the breaker
    compares tombstone content and renames it back."""
    fs = MemoryStoreFS()
    ctx = _clocked(fs, lease_s=5)
    hb = ctx.__enter__()
    fs.advance(6)  # mtime is stale …

    fired = [False]

    def beat_during_break(op, path):
        if op == "rename_copy" and not fired[0]:
            fired[0] = True
            fs.on_op = None
            hb()  # … but the holder is alive: beat lands mid-break

    fs.on_op = beat_during_break
    with pytest.raises(TimeoutError):
        c2 = _clocked(fs, lease_s=5, timeout_s=3)
        c2.__enter__()
    assert fired[0]
    hb()  # holder still owns the (restored) lock
    ctx.__exit__(None, None, None)
    assert not fs.exists("s3a://bucket/store.lock")


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


def test_prefers_cas_by_scheme():
    assert prefers_cas("s3a://bucket/p") and prefers_cas("gs://b/p")
    assert not prefers_cas("/local/path")
    assert not prefers_cas("file:///local/path")
    assert not prefers_cas("hdfs://nn/path")


# ---------------------------------------------------------------------------
# z-store lifecycle over CAS commits (Spark end to end)
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


@pytest.mark.parametrize("scheme", ["posix", "file_uri"])
def test_metrics_lifecycle_cas(spark, tmp_path, scheme):
    path = str(tmp_path / "zcas")
    if scheme == "file_uri":
        path = "file://" + path
    df = _metrics(spark)
    zorder_metrics_table(spark, df, path, bucket_ns=DAY,
                         files_per_partition=4, cas_commit=True)
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
    both = df.unionByName(batch)
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # optimize re-clusters appended buckets; serving unchanged
    assert zorder_optimize(spark, path) >= 0
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # replay after optimize folded the epoch away: still a no-op
    zorder_append(spark, batch, path, epoch=7)
    assert _vals(zorder_select(spark, path)) == _vals(both)

    # retention drops old buckets manifest-first (no dir deletes)
    now_ns = 6 * DAY
    dropped = zorder_retention(spark, path, keep_ns=3 * DAY, now_ns=now_ns)
    assert dropped > 0
    cutoff = (now_ns - 3 * DAY) // DAY
    kept = both.filter(F.expr(f"ts_ns div {DAY}L") >= cutoff)
    assert _vals(zorder_select(spark, path)) == _vals(kept)

    # vacuum with snapshot retention: nothing a retained snapshot
    # references goes; aggressive keep=1/grace=0 reclaims the rest and
    # the current snapshot still serves exactly
    assert vacuum_zorder(spark, path, grace_s=10**9) == 0
    removed = vacuum_zorder(spark, path, grace_s=0.0, snapshots_keep=1)
    assert removed > 0
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
    """The r12 race, CAS edition: an append that publishes between an
    optimize's selection and its pointer commit survives — the merge
    re-runs against the freshest snapshot on every CAS retry."""
    path = str(tmp_path / "zrace")
    df = _metrics(spark)
    zorder_metrics_table(spark, df, path, bucket_ns=DAY,
                         files_per_partition=4, cas_commit=True)
    # append into the SAME buckets as the build so erosion (≥ 2 writer
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
                         files_per_partition=4, cas_commit=True)
    batch = _metrics(spark, t0=4 * DAY, bump=0.5)
    zorder_append(spark, batch, path, epoch=3)
    both = df.unionByName(batch)

    # rebuild (same params): serving identical, epoch carried to ledger
    zorder_metrics_table(spark, both, path, bucket_ns=DAY,
                         files_per_partition=4)
    assert _vals(zorder_select(spark, path)) == _vals(both)
    zorder_append(spark, batch, path, epoch=3)  # replay: still no-op
    assert _vals(zorder_select(spark, path)) == _vals(both)

    with pytest.raises(ValueError, match="layout parameters"):
        zorder_metrics_table(spark, both, path, bucket_ns=2 * DAY,
                             files_per_partition=4)


def test_corpus_lifecycle_cas(spark, tmp_path):
    path = str(tmp_path / "corpcas")
    docs = spark.createDataFrame(
        [(f"d{i}", ["en", "de", "fr"][i % 3], 100 + 37 * (i % 11))
         for i in range(120)],
        "doc_id string, lang string, n_chars int",
    )
    zorder_corpus_table(spark, docs, path, files_total=8, cas_commit=True)
    got = zorder_corpus_select(spark, path, cat="en")
    assert sorted(r.doc_id for r in got.collect()) == sorted(
        r.doc_id for r in docs.filter("lang = 'en'").collect())

    extra = spark.createDataFrame(
        [(f"x{i}", "en", 500 + i) for i in range(30)],
        "doc_id string, lang string, n_chars int",
    )
    zorder_corpus_append(spark, extra, path, epoch=1)
    zorder_corpus_append(spark, extra, path, epoch=1)  # replay no-op
    assert zorder_corpus_select(spark, path, cat="en").count() == (
        docs.filter("lang = 'en'").count() + 30)

    stats = {}
    band = zorder_corpus_select(spark, path, num_lo=500, num_hi=540,
                                stats=stats)
    assert stats["files_selected"] < stats["files_total"]
    assert band.count() == 30  # x0..x29 (500..529); base corpus tops at 470

    assert vacuum_zorder_corpus(spark, path, grace_s=10**9) == 0
    vacuum_zorder_corpus(spark, path, grace_s=0.0)
    assert zorder_corpus_select(spark, path, cat="en").count() == (
        docs.filter("lang = 'en'").count() + 30)
