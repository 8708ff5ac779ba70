"""The three workloads.  Each is a closed loop with one client: the next
call is sent only after the previous reply has been collected.

A workload object runs in three phases:

* ``prepare`` -- the repeatable part of set-up (data generation, table
  write, database open); the runner times it several times;
* ``warm_up`` -- calls from an independent stream of the same seed until
  latency stops falling, charged to set-up;
* ``measure`` -- timed calls for the requested number of seconds.  Each
  reply is checked against the oracle outside the timed interval.
"""

from __future__ import annotations

import os
import statistics
import time
import uuid
from dataclasses import dataclass, field

import pandas as pd

import gen
from oracle import Expect, Oracle, check

#: warm-up stops once a window's median is no more than this much below
#: the previous window's (latency has levelled off) ...
LEVEL_RATIO = 0.9
#: ... or after this long
WARMUP_CAP_S = 15.0


@dataclass
class Outcome:
    """What ``measure`` observed, all outside-facing."""

    op_ms: list = field(default_factory=list)       # the workload's operation
    query_ms: list = field(default_factory=list)    # Database.query calls
    meta_ms: list = field(default_factory=list)     # search/suggest calls
    busy_s: float = 0.0                             # sum of all call times
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)       # workload-specific figures


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(base, n))
                files += 1
    return size, files


def levelled(samples: list[float], window: int) -> bool:
    """True once the last window's median is at least ``LEVEL_RATIO`` of
    the window before it."""
    if len(samples) < 2 * window:
        return False
    last = statistics.median(samples[-window:])
    prev = statistics.median(samples[-2 * window:-window])
    return last >= LEVEL_RATIO * prev


class Client:
    """Sends one request and collects the reply, with or without spans."""

    def __init__(self, tracer=None):
        self.tracer = tracer

    def send(self, db, req: gen.Request) -> tuple[pd.DataFrame, float]:
        fn = getattr(db, req.call)
        tr = self.tracer
        if tr is None:
            t0 = time.perf_counter()
            reply = fn(req.body).toPandas()
            return reply, time.perf_counter() - t0
        from akumuli_spark.query.parser import parse_query

        layer = "query.engine" if req.call == "query" else "query.metadata"
        rq = tr.begin("query" if req.call == "query" else "meta")
        if req.call == "query":
            # parsing is repeated inside Database.query; timed on its own
            # here so the trace can show its share
            with tr.span("query.parser.parse"):
                parse_query(req.body)
        t0 = time.perf_counter()
        with tr.span(f"request.{rq.kind}"):
            with tr.span("api.query_build" if req.call == "query"
                         else "api.meta_build"):
                df = fn(req.body)
            with tr.span(f"{layer}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"{layer}.exec"):
                reply = df.toPandas()
        dt = time.perf_counter() - t0
        tr.after(rq, df, len(reply))
        return reply, dt


# ---------------------------------------------------------------------------
# dashboard and analytics: reads over a table in the storage layout
# ---------------------------------------------------------------------------


class ReadWorkload:
    """Shared by ``dashboard`` and ``analytics``: a generated table written
    with ``write_metrics_table`` and opened with ``open_database``."""

    spec: gen.TableSpec
    block: int          # calls that make up one instance of the mix
    warm_window: int

    def __init__(self, spark, seed: int, tmp: str, client: Client):
        self.spark, self.seed, self.tmp, self.client = spark, seed, tmp, client
        self.table = None
        self.db = None
        self.path = None
        self.write_s: list[float] = []

    def prepare(self) -> None:
        from akumuli_spark.api import open_database
        from akumuli_spark.sources.layout import read_metrics_table, write_metrics_table

        self.table = gen.make_table(self.seed, self.spec)
        path = os.path.join(self.tmp, f"table-{uuid.uuid4().hex}")
        sdf = self.spark.createDataFrame(
            self.table.frame[["series", "metric", "ts_ns", "value"]])
        t0 = time.perf_counter()
        write_metrics_table(sdf, path)
        self.write_s.append(time.perf_counter() - t0)
        self.db = open_database(self.spark, read_metrics_table(self.spark, path))
        self.path = path

    def requests(self, stream: int, n: int) -> list[gen.Request]:
        raise NotImplementedError

    def warm_up(self) -> int:
        """Calls until latency levels off; returns how many were made."""
        lat: list[float] = []
        t0 = time.perf_counter()
        reqs = self.requests(stream=1, n=400)
        for req in reqs:
            lat.append(self.client.send(self.db, req)[1])
            if (levelled(lat, self.warm_window)
                    or time.perf_counter() - t0 > WARMUP_CAP_S):
                break
        return len(lat)

    def measure(self, seconds: float) -> Outcome:
        out = Outcome()
        oracle = Oracle(self.table)
        try:
            for req in self.requests(stream=0, n=1000):
                # whole blocks only, so every run sends the same mix
                if out.busy_s >= seconds and out.attempted % self.block == 0:
                    break
                out.attempted += 1
                try:
                    reply, dt = self.client.send(self.db, req)
                except Exception as exc:  # a failed call is counted, not fatal
                    out.failed += 1
                    out.errors.append(f"{req.shape}: {type(exc).__name__}: {exc}"[:300])
                    continue
                out.busy_s += dt
                out.op_ms.append(dt * 1e3)
                (out.query_ms if req.call == "query" else out.meta_ms).append(dt * 1e3)
                # checked outside the timed interval
                reason = check(reply, oracle.expected(req))
                if reason is not None:
                    out.failed += 1
                    out.errors.append(f"{req.shape}: {reason}")
        finally:
            oracle.close()
        size, files = dir_bytes(self.path)
        out.extra.update(stored_bytes=size, stored_files=files,
                         samples=self.spec.samples, series=self.spec.series)
        return out


class Dashboard(ReadWorkload):
    spec = gen.DASHBOARD_TABLE
    block = sum(k for _, k in gen.DASHBOARD_BLOCK)
    warm_window = 10

    def requests(self, stream: int, n: int) -> list[gen.Request]:
        return gen.dashboard_requests(self.seed, self.table, n, stream)


class Analytics(ReadWorkload):
    spec = gen.ANALYTICS_TABLE
    block = warm_window = len(gen.ANALYTICS_CYCLE)

    def requests(self, stream: int, n: int) -> list[gen.Request]:
        passes = -(-n // len(gen.ANALYTICS_CYCLE))
        return gen.analytics_requests(self.seed, self.table, passes, stream)[:n]


# ---------------------------------------------------------------------------
# ingest: RESP chunks through the late gate, then a freshness read
# ---------------------------------------------------------------------------


def _fresh_query(b: gen.IngestBatch) -> dict:
    return {"join": list(gen.METRICS), "range": {"from": b.lo_ns, "to": b.hi_ns}}


def _fresh_expected(b: gen.IngestBatch) -> pd.DataFrame:
    num = b.accepted[b.accepted["metric"].isin(gen.METRICS)]
    tagstr = num["series"].str.split(" ", n=1).str[1]
    wide = (num.assign(tagstr=tagstr)
            .pivot_table(index=["tagstr", "ts_ns"], columns="metric",
                         values="value", aggfunc="sum")
            .reset_index())
    wide["series"] = "|".join(gen.METRICS) + " " + wide["tagstr"]
    return wide[["series", "ts_ns", *gen.METRICS]]


class Ingest:
    """RESP batches through ``parse_resp_stage`` and ``gate_and_commit_batch``
    with the late gate on; after each commit a ``Database`` opened on
    ``sink_as_metrics`` reads the batch's range back (freshness) and a
    ``suggest`` lists the reporting hosts."""

    warm_window = 1

    def __init__(self, spark, seed: int, tmp: str, client: Client):
        self.spark, self.seed, self.tmp, self.client = spark, seed, tmp, client
        self.batches: list[gen.IngestBatch] = []
        self.next = 0
        self.commit_ms: list[float] = []

    def prepare(self) -> None:
        from akumuli_spark.streaming.ingest import HighWaterState

        # enough for warm-up and a measured interval at today's speed;
        # more are generated between calls if a faster build needs them
        self.batches = [gen.ingest_batch(self.seed, b) for b in range(40)]
        base = os.path.join(self.tmp, f"ingest-{uuid.uuid4().hex}")
        self.out_dir = os.path.join(base, "sink")
        self.rejects_dir = os.path.join(base, "rejects")
        self.hw = HighWaterState(os.path.join(base, "marks"))
        self.next = 0
        tr = self.client.tracer
        if tr is not None:
            self.hw.marks_df = tr.wrap("streaming.ingest.marks_read", self.hw.marks_df)
            self.hw.advance = tr.wrap("streaming.ingest.marks_advance", self.hw.advance)
        # seeding the marks table is the one sink scan a fresh gate makes
        self.hw.marks_df(self.spark, self.out_dir)
        self.sent = self.late = 0
        self.accepted: list[pd.DataFrame] = []

    def _commit(self, b: gen.IngestBatch) -> float:
        from akumuli_spark.sources.resp import parse_resp_stage
        from akumuli_spark.streaming.ingest import gate_and_commit_batch

        t0 = time.perf_counter()
        pdus = self.spark.createDataFrame(pd.DataFrame({"value": b.chunks}))
        gate_and_commit_batch(parse_resp_stage(pdus), self.out_dir,
                              self.rejects_dir, gen.LATE_AFTER_NS, self.hw)
        dt = time.perf_counter() - t0
        self.sent += b.sent
        self.late += b.late
        self.accepted.append(b.accepted)
        return dt

    def _db(self):
        from akumuli_spark.api import open_database
        from akumuli_spark.streaming.ingest import sink_as_metrics

        return open_database(self.spark,
                             sink_as_metrics(self.spark.read.parquet(self.out_dir)))

    def _round(self, out: Outcome | None) -> float:
        """One batch: commit, then read it back.  Returns the visible
        latency (hand-off until the freshness read returns the batch)."""
        if self.next == len(self.batches):
            self.batches.append(gen.ingest_batch(self.seed, self.next))
        b = self.batches[self.next]
        self.next += 1
        tr = self.client.tracer
        if tr is not None:
            rq = tr.begin("commit")
            with tr.span("request.commit"), tr.span("streaming.ingest.gate"):
                commit_s = self._commit(b)
            tr.after(rq, None, b.sent - b.late)
        else:
            commit_s = self._commit(b)
        # a reader sees the batch only after re-listing the sink
        t0 = time.perf_counter()
        db = self._db()
        open_s = time.perf_counter() - t0
        fresh = gen.Request("fresh", "query", _fresh_query(b))
        reply, fresh_s = self.client.send(db, fresh)
        visible_s = commit_s + open_s + fresh_s
        meta = gen.Request("suggest", "suggest", {
            "select": "tag-values", "metric": "cpu.user", "tag": "host"})
        hosts, meta_s = self.client.send(db, meta)
        if out is None:
            return visible_s
        self.commit_ms.append(commit_s * 1e3)
        out.query_ms.append(fresh_s * 1e3)
        out.meta_ms.append(meta_s * 1e3)
        out.busy_s += visible_s + meta_s
        reason = check(reply, Expect(_fresh_expected(b)))
        want_hosts = [gen.host_name(i) for i in range(gen.INGEST_HOSTS)]
        if reason is None and hosts["name"].tolist() != want_hosts:
            reason = "suggest hosts differ"
        if reason is not None:
            out.failed += 1
            out.errors.append(f"batch {self.next - 1}: {reason}")
        return visible_s

    def warm_up(self) -> int:
        lat: list[float] = []
        t0 = time.perf_counter()
        while True:
            lat.append(self._round(None))
            if (levelled(lat, self.warm_window)
                    or time.perf_counter() - t0 > WARMUP_CAP_S):
                break
        return len(lat)

    def measure(self, seconds: float) -> Outcome:
        out = Outcome()
        while out.busy_s < seconds:
            out.attempted += 1
            try:
                out.op_ms.append(self._round(out) * 1e3)
            except Exception as exc:  # a failed batch is counted, not fatal
                out.failed += 1
                out.errors.append(f"batch: {type(exc).__name__}: {exc}"[:300])
        self._account(out)
        return out

    def _account(self, out: Outcome) -> None:
        """accepted + rejected = sent, rejected = planted late samples, and
        every accepted sample reads back from the sink."""
        sink = self.spark.read.parquet(self.out_dir).toPandas()
        rejected = self.spark.read.parquet(self.rejects_dir).count() \
            if os.path.isdir(self.rejects_dir) else 0
        want = pd.concat(self.accepted, ignore_index=True)
        key = ["series", "ts_ns"]
        merged = want.merge(sink[key + ["value", "body"]], on=key, how="outer",
                            suffixes=("", "_sink"), indicator=True)
        problems = []
        if len(sink) + rejected != self.sent:
            problems.append(f"accepted {len(sink)} + rejected {rejected} "
                            f"!= sent {self.sent}")
        if rejected != self.late:
            problems.append(f"rejected {rejected} != planted late {self.late}")
        if (merged["_merge"] != "both").any():
            problems.append("accepted samples missing from the sink")
        same = (merged["value"].fillna(-1.0) == merged["value_sink"].fillna(-1.0)) \
            & (merged["body"].fillna("") == merged["body_sink"].fillna(""))
        if not same.all():
            problems.append("sink values differ from the sent ones")
        out.attempted += 1
        if problems:
            out.failed += 1
            out.errors.extend(problems)
        size, files = dir_bytes(self.out_dir)
        batches = len(self.accepted)
        out.extra.update(
            stored_bytes=size, stored_files=files, samples=len(sink),
            series=int(sink["series"].nunique()), sent=self.sent,
            rejected=rejected, batches=batches,
            samples_per_batch=len(sink) / batches,
            sink_files_per_batch=files / batches,
            seed_scans=self.hw.seed_scans)

    def parse_rate(self) -> float:
        """In-process ``parse_resp`` throughput over the committed chunks
        (the parse stage itself runs in Python workers)."""
        from akumuli_spark.sources.resp import parse_resp

        n, t0 = 0, time.perf_counter()
        for b in self.batches[:self.next]:
            for chunk in b.chunks:
                n += len(parse_resp(chunk))
        return n / (time.perf_counter() - t0)


WORKLOADS = {"dashboard": Dashboard, "analytics": Analytics, "ingest": Ingest}
