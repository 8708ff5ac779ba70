"""Independent expected results for every generated request, computed with
DuckDB (and numpy for the recursive ewma) over the generated pandas table.

:func:`expected` returns an :class:`Expect`; :func:`check` compares a
Spark reply against it.  Full replies are compared row by row (series and
timestamps exactly, values to 1e-9 relative); replies of apply chains that
this module does not re-derive value by value are compared on row count
and series set.  All of this runs outside the timed interval.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

from gen import Request, Table

_SQL_AGG = {
    "count": "count(value)::DOUBLE",
    "sum": "sum(value)",
    "min": "min(value)",
    "max": "max(value)",
    "mean": "sum(value) / count(value)",
    # tie-breaks as in query/engine.py: min/max over (value, ts) structs
    "min_timestamp": "first(ts_ns ORDER BY value, ts_ns)::DOUBLE",
    "max_timestamp": "first(ts_ns ORDER BY value DESC, ts_ns DESC)::DOUBLE",
    "first": "first(value ORDER BY ts_ns, value)",
    "last": "first(value ORDER BY ts_ns DESC, value DESC)",
    "first_timestamp": "min(ts_ns)::DOUBLE",
    "last_timestamp": "max(ts_ns)::DOUBLE",
}


@dataclass
class Expect:
    frame: pd.DataFrame | None = None     # full reply, compared row by row
    rows: int | None = None               # else: row count ...
    series: frozenset | None = None       # ... and series set
    names: list | None = None             # metadata reply, in order


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _where(a: dict, metrics: list[str]) -> str:
    conds = ["metric IN (" + ", ".join(map(_lit, metrics)) + ")"]
    if "lo" in a:
        conds.append(f"ts_ns >= {a['lo']} AND ts_ns < {a['hi']}")
    if "hosts" in a:
        conds.append("host IN (" + ", ".join(map(_lit, a["hosts"])) + ")")
    if "region" in a:
        conds.append(f"region = {_lit(a['region'])}")
    return " AND ".join(conds)


_TAGSTR = "'host=' || host || ' region=' || region"


class Oracle:
    """DuckDB over one generated table (registered as view ``t``)."""

    def __init__(self, table: Table):
        self.table = table
        self.con = duckdb.connect()
        self.con.register("t", table.frame)

    def close(self) -> None:
        self.con.close()

    def sql(self, q: str) -> pd.DataFrame:
        return self.con.sql(q).df()

    def _group_aggregate(self, a: dict, tagstr: str = _TAGSTR) -> pd.DataFrame:
        m, funcs, step = a["metric"], a["funcs"], a["step"]
        head = "|".join(f"{m}:{f}" for f in funcs)
        aggs = ", ".join(f"{_SQL_AGG[f]} AS \"{f}\"" for f in funcs)
        return self.sql(
            f"SELECT {_lit(head + ' ')} || tagstr AS series, min(ts_ns) AS ts_ns, "
            f"{aggs} FROM (SELECT *, {tagstr} AS tagstr, "
            f"{a['lo']} + ((ts_ns - {a['lo']}) // {step}) * {step} AS b "
            f"FROM t WHERE {_where(a, [m])}) GROUP BY tagstr, b"
        )

    def _join(self, a: dict) -> pd.DataFrame:
        ms = a["metrics"]
        cols = ", ".join(
            f"sum(CASE WHEN metric = {_lit(m)} THEN value END) AS \"{m}\""
            for m in ms)
        return self.sql(
            f"SELECT {_lit('|'.join(ms) + ' ')} || {_TAGSTR} AS series, ts_ns, "
            f"{cols} FROM t WHERE {_where(a, ms)} GROUP BY host, region, ts_ns"
        )

    def _aggregate(self, a: dict) -> pd.DataFrame:
        m, funcs = a["metric"], a["funcs"]
        aggs = ", ".join(f"{_SQL_AGG[f]} AS \"{f}\"" for f in funcs)
        wide = self.sql(
            f"SELECT {_TAGSTR} AS tagstr, min(ts_ns) AS ts_ns, {aggs} "
            f"FROM t WHERE {_where(a, [m])} GROUP BY host, region")
        return pd.concat([
            pd.DataFrame({"series": f"{m}:{f} " + wide["tagstr"],
                          "ts_ns": wide["ts_ns"], "value": wide[f]})
            for f in funcs], ignore_index=True)

    def expected(self, r: Request) -> Expect:
        a, s = r.args, r.shape
        if s == "narrow":
            return Expect(self.sql(
                f"SELECT series, ts_ns, value FROM t "
                f"WHERE {_where(a, [a['metric']])}"))
        if s == "select_limit":
            return Expect(self.sql(
                f"SELECT series, ts_ns, value FROM t WHERE "
                f"{_where(a, [a['metric']])} ORDER BY ts_ns, series "
                f"LIMIT {a['limit']}"))
        if s == "select_vf":
            return Expect(self.sql(
                f"SELECT series, ts_ns, value FROM t WHERE "
                f"{_where(a, [a['metric']])} AND value > {a['gt']!r}"))
        if s in ("ga_where", "group_by_tag"):
            tagstr = _TAGSTR if s == "ga_where" else "'region=' || region"
            return Expect(self._group_aggregate(a, tagstr))
        if s == "ga_apply":
            ga = self._group_aggregate(a)
            return Expect(rows=len(ga), series=frozenset(ga["series"]))
        if s in ("agg_region", "agg_all"):
            return Expect(self._aggregate(a))
        if s in ("join2", "join3"):
            return Expect(self._join(a))
        if s == "join_eval":
            j = self._join(a).dropna()
            u, v = a["metrics"]
            return Expect(pd.DataFrame({"series": j["series"], "ts_ns": j["ts_ns"],
                                        "value": j[u] + 2 * j[v]}))
        if s == "gaj":
            ms, step = a["metrics"], a["step"]
            cols = ", ".join(
                f"sum(CASE WHEN metric = {_lit(m)} THEN v END) AS \"{m}\""
                for m in ms)
            return Expect(self.sql(
                f"SELECT {_lit('|'.join(ms) + ' ')} || tagstr AS series, ts_ns, "
                f"{cols} FROM (SELECT metric, tagstr, min(ts_ns) AS ts_ns, "
                f"{_SQL_AGG[a['func']]} AS v FROM (SELECT *, {_TAGSTR} AS tagstr, "
                f"{a['lo']} + ((ts_ns - {a['lo']}) // {step}) * {step} AS b "
                f"FROM t WHERE {_where(a, ms)}) GROUP BY metric, tagstr, b) "
                f"GROUP BY tagstr, ts_ns"))
        if s == "ga_heavy":
            ga = self._group_aggregate({**a, "funcs": ["max"]})
            per = ga.groupby("series").agg(ts_ns=("ts_ns", "max"),
                                           value=("max", "sum")).reset_index()
            keep = per[per["value"] > per["value"].sum() * a["portion"]]
            return Expect(keep[["series", "ts_ns", "value"]])
        if s == "ga_ewma_top":
            ga = self._group_aggregate({**a, "funcs": ["mean"]})
            top = ewma_top(ga, decay=0.2, n=a["n"])
            return Expect(rows=len(top), series=frozenset(top))
        if s == "search":
            return Expect(names=self.sql(
                f"SELECT DISTINCT series FROM t WHERE "
                f"{_where(a, [a['metric']])} ORDER BY series")["series"].tolist())
        if s == "suggest":
            return Expect(names=self.sql(
                f"SELECT DISTINCT host FROM t WHERE metric = {_lit(a['metric'])} "
                f"AND starts_with(host, {_lit(a['prefix'])}) ORDER BY host"
            )["host"].tolist())
        raise ValueError(f"no oracle for shape {s!r}")


def ewma_top(ga: pd.DataFrame, decay: float, n: int) -> list[str]:
    """Series of the top-``n`` time-weighted sums after the reference's
    ewma warm-up (sliding_window.cpp:15-51), as query/apply.py defines
    ``ewma`` followed by ``top``."""
    scores = []
    for name, g in ga.sort_values("ts_ns").groupby("series"):
        xs = g["mean"].to_numpy(dtype=float)
        out = xs.copy()
        v = 0.0
        for i, x in enumerate(xs):
            out[i] = x if i <= 10 else v
            if i < 10:
                v += x
            elif i == 10:
                v = (v + x) / 11.0
                v = x * decay + v * (1.0 - decay)
            else:
                v = x * decay + v * (1.0 - decay)
        dt = np.diff(g["ts_ns"].to_numpy()) / 1e9
        scores.append((-float(np.sum(out[:-1] * dt)), name))
    return [name for _, name in sorted(scores)[:n]]


def check(reply: pd.DataFrame, want: Expect) -> str | None:
    """None when ``reply`` matches, else a one-line reason."""
    if want.names is not None:
        got = reply["name"].tolist()
        return None if got == want.names else f"names {got[:3]}... != {want.names[:3]}..."
    if want.frame is None:
        if len(reply) != want.rows:
            return f"rows {len(reply)} != {want.rows}"
        got = frozenset(reply["series"])
        return None if got == want.series else "series set differs"
    exp = want.frame
    if len(reply) != len(exp):
        return f"rows {len(reply)} != {len(exp)}"
    if sorted(reply.columns) != sorted(exp.columns):
        return f"columns {sorted(reply.columns)} != {sorted(exp.columns)}"
    got = reply.sort_values(["series", "ts_ns"], ignore_index=True)
    exp = exp.sort_values(["series", "ts_ns"], ignore_index=True)
    if not (got["series"].to_numpy() == exp["series"].to_numpy()).all():
        return "series differ"
    if not (got["ts_ns"].to_numpy(dtype=np.int64)
            == exp["ts_ns"].to_numpy(dtype=np.int64)).all():
        return "timestamps differ"
    for c in exp.columns:
        if c in ("series", "ts_ns"):
            continue
        g = got[c].to_numpy(dtype=float, na_value=np.nan)
        e = exp[c].to_numpy(dtype=float, na_value=np.nan)
        if not np.allclose(g, e, rtol=1e-9, atol=1e-9, equal_nan=True):
            return f"values of {c!r} differ"
    return None
