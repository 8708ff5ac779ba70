"""Seeded inputs for the serving benchmark.

Everything here is pure numpy/pandas and is derived from one seed before
any timing starts: the metric tables, the dashboard and analytics request
streams and the RESP ingest batches.  The program under test only ever
sees what these functions return.  The same seed gives identical inputs;
``perfbench/tests/test_gen.py`` pins that.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

NS = 10**9
MIN_NS = 60 * NS
#: 2024-01-01T00:00:00Z; tables start up to an hour later, so a table of
#: at most 22 hours stays inside one day bucket of the storage layout
T0_NS = 1_704_067_200 * NS
METRICS = ("cpu.user", "cpu.sys", "mem.used", "net.rx")
REGIONS = ("us-east", "us-west", "eu-central", "ap-south")
#: the 11 aggregation functions of the reference (operator.h:20-32)
ALL_FUNCS = ("count", "sum", "min", "max", "mean", "min_timestamp",
             "max_timestamp", "first", "last", "first_timestamp",
             "last_timestamp")


@dataclass(frozen=True)
class TableSpec:
    """A metric x host table on a regular time grid."""

    hosts: int
    points: int
    interval_ns: int = 10 * NS

    @property
    def series(self) -> int:
        return len(METRICS) * self.hosts

    @property
    def samples(self) -> int:
        return self.series * self.points


#: small enough that fixed per-request costs dominate a dashboard read
DASHBOARD_TABLE = TableSpec(hosts=48, points=120, interval_ns=60 * NS)
#: over 10x the dashboard table, so execution dominates an analytic scan
ANALYTICS_TABLE = TableSpec(hosts=64, points=960)


def host_name(i: int) -> str:
    return f"h{i:03d}"


def series_name(metric: str, host: str, region: str) -> str:
    # canonical form: tag keys sorted (host < region)
    return f"{metric} host={host} region={region}"


@dataclass
class Table:
    spec: TableSpec
    start_ns: int
    regions: list[str]          # region of each host
    frame: pd.DataFrame         # series, metric, host, region, ts_ns, value

    @property
    def end_ns(self) -> int:
        """Exclusive end of the time grid."""
        return self.start_ns + self.spec.points * self.spec.interval_ns


def make_table(seed: int, spec: TableSpec) -> Table:
    """Random-walk gauges for cpu/mem and a monotone counter for net.rx,
    values on a 1e-3 grid so sums compare across engines."""
    rng = np.random.default_rng([seed, 1])
    start = T0_NS + int(rng.integers(0, 60)) * MIN_NS
    regions = [REGIONS[i] for i in rng.integers(0, len(REGIONS), spec.hosts)]
    h, p = spec.hosts, spec.points
    ts = start + np.arange(p, dtype=np.int64) * spec.interval_ns
    blocks = []
    for metric in METRICS:
        if metric == "net.rx":
            vals = np.cumsum(rng.integers(0, 1000, (h, p)), axis=1).astype(float)
        else:
            level = rng.uniform(20.0, 80.0, (h, 1))
            vals = np.round(level + np.cumsum(rng.normal(0, 0.5, (h, p)), axis=1), 3)
        blocks.append(vals)
    values = np.concatenate(blocks).ravel()
    metric_col = np.repeat(np.array(METRICS, dtype=object), h * p)
    host_col = np.tile(np.repeat(np.array([host_name(i) for i in range(h)],
                                          dtype=object), p), len(METRICS))
    region_col = np.tile(np.repeat(np.array(regions, dtype=object), p),
                         len(METRICS))
    names = np.array([series_name(m, host_name(i), regions[i])
                      for m in METRICS for i in range(h)], dtype=object)
    frame = pd.DataFrame({
        "series": np.repeat(names, p),
        "metric": metric_col,
        "host": host_col,
        "region": region_col,
        "ts_ns": np.tile(ts, len(METRICS) * h),
        "value": values,
    })
    return Table(spec, start, regions, frame)


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Request:
    """One client call.  ``shape`` names the request family, ``call`` the
    Database method (query/search/suggest) and ``body`` its JSON; ``args``
    holds the parameters the independent oracle needs."""

    shape: str
    call: str
    body: dict
    args: dict = field(default_factory=dict)


#: one block of the dashboard stream: calls per family.  The stream is a
#: sequence of such blocks, each shuffled, so every run sends the same
#: mix and the seed varies only order and parameters.
#: Cheap reads (narrow, select_limit) are 65% of a block, so the median
#: falls inside their latency band rather than in the gap above it.
DASHBOARD_BLOCK = (
    ("narrow", 11),
    ("select_limit", 2),
    ("ga_where", 2),
    ("agg_region", 1),
    ("join2", 1),
    ("ga_apply", 1),
    ("search", 1),
    ("suggest", 1),
)


def _zipf_hosts(rng: np.random.Generator, hosts: int) -> tuple[np.ndarray, np.ndarray]:
    order = rng.permutation(hosts)
    weights = 1.0 / np.arange(1, hosts + 1) ** 1.1
    return order, weights / weights.sum()


def dashboard_requests(seed: int, table: Table, n: int,
                       stream: int = 0) -> list[Request]:
    """``n`` dashboard calls: narrow recent-window reads on Zipf-skewed
    hosts, the panel queries, and 10% metadata calls.  ``stream``
    selects an independent stream for the same seed (warm-up vs timed)."""
    rng = np.random.default_rng([seed, 2, stream])
    block = [s for s, k in DASHBOARD_BLOCK for _ in range(k)]
    shapes = []
    while len(shapes) < n:
        shapes += [block[i] for i in rng.permutation(len(block))]
    order, hp = _zipf_hosts(rng, table.spec.hosts)
    end = table.end_ns

    def host() -> str:
        return host_name(int(rng.choice(order, p=hp)))

    def window(minutes: int) -> tuple[int, int]:
        # mostly the most recent window; sometimes an older one
        if rng.random() < 0.8:
            hi = end
        else:
            hi = end - int(rng.integers(1, 60)) * MIN_NS
        return hi - minutes * MIN_NS, hi

    out = []
    for i, shape in enumerate(shapes[:n]):
        metric = METRICS[int(rng.integers(0, 3))]  # gauges
        region = REGIONS[int(rng.integers(0, len(REGIONS)))]
        if shape == "narrow":
            lo, hi = window(int(rng.choice([5, 10, 15, 30])))
            h = host()
            out.append(Request(shape, "query", {
                "select": metric, "range": {"from": lo, "to": hi},
                "where": {"host": h}},
                {"metric": metric, "lo": lo, "hi": hi, "hosts": [h]}))
        elif shape == "ga_where":
            lo, hi = window(60)
            hs = sorted({host() for _ in range(3)})
            funcs = ["mean", "max"]
            out.append(Request(shape, "query", {
                "group-aggregate": {"metric": metric, "step": "1m", "func": funcs},
                "range": {"from": lo, "to": hi}, "where": {"host": hs}},
                {"metric": metric, "lo": lo, "hi": hi, "hosts": hs,
                 "step": MIN_NS, "funcs": funcs}))
        elif shape == "select_limit":
            lo, hi = window(30)
            out.append(Request(shape, "query", {
                "select": metric, "range": {"from": lo, "to": hi},
                "where": {"region": region}, "limit": 100},
                {"metric": metric, "lo": lo, "hi": hi, "region": region,
                 "limit": 100}))
        elif shape == "agg_region":
            lo, hi = window(60)
            funcs = ["count", "sum", "min", "max", "mean"]
            out.append(Request(shape, "query", {
                "aggregate": {metric: funcs}, "range": {"from": lo, "to": hi},
                "where": {"region": region}},
                {"metric": metric, "lo": lo, "hi": hi, "region": region,
                 "funcs": funcs}))
        elif shape == "join2":
            lo, hi = window(int(rng.choice([15, 30])))
            h = host()
            out.append(Request(shape, "query", {
                "join": ["cpu.user", "cpu.sys"], "range": {"from": lo, "to": hi},
                "where": {"host": h}},
                {"metrics": ["cpu.user", "cpu.sys"], "lo": lo, "hi": hi,
                 "hosts": [h]}))
        elif shape == "ga_apply":
            lo, hi = window(60)
            hs = sorted({host() for _ in range(2)})
            if (i // len(block)) % 2 == 0:
                m, node = metric, {"name": "ewma", "decay": 0.3}
            else:
                m, node = "net.rx", {"name": "rate"}
            out.append(Request(shape, "query", {
                "group-aggregate": {"metric": m, "step": "1m", "func": "max"},
                "range": {"from": lo, "to": hi}, "where": {"host": hs},
                "apply": [node]},
                {"metric": m, "lo": lo, "hi": hi, "hosts": hs,
                 "step": MIN_NS, "funcs": ["max"]}))
        elif shape == "search":
            out.append(Request(shape, "search", {
                "select": metric, "where": {"region": region}},
                {"metric": metric, "region": region}))
        else:
            prefix = host_name(int(rng.integers(0, table.spec.hosts)))[:3]
            out.append(Request(shape, "suggest", {
                "select": "tag-values", "metric": metric, "tag": "host",
                "starts-with": prefix},
                {"metric": metric, "tag": "host", "prefix": prefix}))
    return out


ANALYTICS_CYCLE = ("agg_all", "gaj", "join3", "ga_ewma_top", "join_eval",
                   "ga_heavy", "select_vf", "group_by_tag", "search")


def analytics_requests(seed: int, table: Table, passes: int,
                       stream: int = 0) -> list[Request]:
    """``passes`` rounds of the full-range analytic query set, each round
    one query of every family in :data:`ANALYTICS_CYCLE` order."""
    rng = np.random.default_rng([seed, 3, stream])
    lo, hi = table.start_ns, table.end_ns
    rng_json = {"from": lo, "to": hi}
    out = []
    for _ in range(passes):
        gauges = [METRICS[i] for i in rng.permutation(3)]
        region = REGIONS[int(rng.integers(0, len(REGIONS)))]
        m = gauges[0]
        for shape in ANALYTICS_CYCLE:
            if shape == "agg_all":
                body = {"aggregate": {m: list(ALL_FUNCS)}}
                args = {"metric": m, "funcs": list(ALL_FUNCS)}
            elif shape == "gaj":
                body = {"group-aggregate-join": {"metric": gauges[:2],
                                                 "step": "10m", "func": "mean"},
                        "range": rng_json}
                args = {"metrics": gauges[:2], "step": 10 * MIN_NS, "func": "mean"}
            elif shape == "join3":
                body = {"join": gauges, "range": rng_json,
                        "where": {"region": region}}
                args = {"metrics": gauges, "region": region}
            elif shape == "ga_ewma_top":
                body = {"group-aggregate": {"metric": m, "step": "5m",
                                            "func": "mean"},
                        "range": rng_json,
                        "apply": [{"name": "ewma", "decay": 0.2},
                                  {"name": "top", "N": 10}]}
                args = {"metric": m, "step": 5 * MIN_NS, "n": 10}
            elif shape == "join_eval":
                body = {"join": ["cpu.user", "cpu.sys"], "range": rng_json,
                        "where": {"region": region},
                        "apply": [{"name": "eval",
                                   "expr": "cpu.user + 2 * cpu.sys"}]}
                args = {"metrics": ["cpu.user", "cpu.sys"], "region": region}
            elif shape == "ga_heavy":
                body = {"group-aggregate": {"metric": "net.rx", "step": "10m",
                                            "func": "max"},
                        "range": rng_json,
                        "apply": [{"name": "heavy-hitters", "portion": 0.01}]}
                args = {"metric": "net.rx", "step": 10 * MIN_NS, "portion": 0.01}
            elif shape == "select_vf":
                threshold = float(rng.uniform(85.0, 95.0))
                body = {"select": m, "range": rng_json,
                        "filter": {"gt": threshold}, "order-by": "series"}
                args = {"metric": m, "gt": threshold}
            elif shape == "group_by_tag":
                body = {"group-aggregate": {"metric": m, "step": "10m",
                                            "func": ["min", "max", "mean"]},
                        "range": rng_json, "group-by-tag": ["host"]}
                args = {"metric": m, "step": 10 * MIN_NS,
                        "funcs": ["min", "max", "mean"]}
            else:
                body = {"select": m, "where": {"region": region}}
                args = {"metric": m, "region": region}
            call = "search" if shape == "search" else "query"
            out.append(Request(shape, call, body, {"lo": lo, "hi": hi, **args}))
    return out


# ---------------------------------------------------------------------------
# RESP ingest batches
# ---------------------------------------------------------------------------

#: the late gate's window; planted samples sit further behind than this
LATE_AFTER_NS = 60 * NS
INGEST_HOSTS = 40
INGEST_POINTS = 60          # timestamps per host per batch, 1 s apart
LATE_FRAC = 0.02
EVENT_METRIC = "!deploy"
COUNTER_STEP = 1000 * INGEST_POINTS


@dataclass
class IngestBatch:
    chunks: list[str]           # one string of complete PDUs per row
    lo_ns: int                  # batch time range [lo, hi) of on-time samples
    hi_ns: int
    sent: int                   # samples on the wire (numeric + events)
    late: int                   # planted samples behind the late gate
    accepted: pd.DataFrame      # series, metric, ts_ns, value, body


def ingest_batch(seed: int, b: int) -> IngestBatch:
    """Batch ``b`` of the RESP stream for ``seed``.  Each host sends one
    chunk mixing the wire forms of protocolparser.h: a dictionary PDU and
    ``:id`` references for cpu.user, a row-protocol PDU for
    cpu.sys|mem.used|net.rx, the odd ``!deploy`` event, and from the second
    batch on ~2% samples planted behind ``LATE_AFTER_NS``.  Batches depend
    only on (seed, b), so the stream can be extended on demand."""
    fixed = np.random.default_rng([seed, 4])
    regions = [REGIONS[i] for i in fixed.integers(0, len(REGIONS), INGEST_HOSTS)]
    start = T0_NS + int(fixed.integers(0, 60)) * MIN_NS
    # net.rx stays monotone across batches: a batch adds < COUNTER_STEP
    counter_base = fixed.integers(0, 10_000, INGEST_HOSTS) + b * COUNTER_STEP
    rng = np.random.default_rng([seed, 4, b])
    p = INGEST_POINTS
    lo = start + b * p * NS
    ts = lo + np.arange(p, dtype=np.int64) * NS
    chunks, cols, events = [], [], []
    late = 0
    for i in range(INGEST_HOSTS):
        host, region = host_name(i), regions[i]
        tags = f"host={host} region={region}"
        u, sy = np.round(rng.uniform(0, 100, (2, p)), 3)
        mem = np.round(rng.uniform(1000, 2000, p), 3)
        rx = counter_base[i] + np.cumsum(rng.integers(0, 1000, p))
        pdus = [f"*2\r\n+{series_name('cpu.user', host, region)}\r\n:{i + 1}\r\n"]
        pdus += [f":{i + 1}\r\n:{t}\r\n+{a:.3f}\r\n"
                 f"+cpu.sys|mem.used|net.rx {tags}\r\n:{t}\r\n*3\r\n"
                 f"+{c:.3f}\r\n+{m:.3f}\r\n:{r}\r\n"
                 for t, a, c, m, r in zip(ts.tolist(), u.tolist(), sy.tolist(),
                                          mem.tolist(), rx.tolist())]
        for metric, vals in (("cpu.user", u), ("cpu.sys", sy),
                             ("mem.used", mem), ("net.rx", rx.astype(float))):
            cols.append((series_name(metric, host, region), metric, vals))
        if rng.random() < 0.25:
            t = lo + int(rng.integers(0, p)) * NS
            body = f"version=1.{int(rng.integers(0, 50))}"
            pdus.append(f"+{EVENT_METRIC} {tags}\r\n:{t}\r\n+{body}\r\n")
            events.append((f"{EVENT_METRIC} {tags}", EVENT_METRIC, t, np.nan, body))
        if b:
            # planted behind the gate: the series' committed high-water
            # mark is the previous batch's last timestamp, lo - 1 s
            for metric in ("cpu.user", "mem.used"):
                name = series_name(metric, host, region)
                for _ in range(int(rng.binomial(p, 2 * LATE_FRAC))):
                    t = lo - NS - LATE_AFTER_NS - int(rng.integers(1, 600)) * NS
                    pdus.append(f"+{name}\r\n:{t}\r\n+{rng.uniform(0, 100):.3f}\r\n")
                    late += 1
        chunks.append("".join(pdus))
    numeric = pd.DataFrame({
        "series": np.repeat([c[0] for c in cols], p),
        "metric": np.repeat([c[1] for c in cols], p),
        "ts_ns": np.tile(ts, len(cols)),
        "value": np.concatenate([c[2] for c in cols]),
        "body": None,
    })
    accepted = pd.concat(
        [numeric, pd.DataFrame(events, columns=numeric.columns)],
        ignore_index=True) if events else numeric
    return IngestBatch(chunks, lo, lo + p * NS, len(accepted) + late, late, accepted)
