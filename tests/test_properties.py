"""Property-based parser tests — the pytest analogue of the reference's
AFL fuzz harnesses (fuzzers/afl_*.cpp: series-name, timestamp, RESP)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from akumuli_spark.datamodel import canonical_series_name, parse_series_name
from akumuli_spark.query.errors import QueryParseError
from akumuli_spark.query.plan import parse_duration_ns, parse_timestamp_ns
from akumuli_spark.sources.resp import RespError, parse_resp

ident = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="._-"),
    min_size=1, max_size=12,
).filter(lambda s: "=" not in s and " " not in s)


@given(metric=ident, tags=st.dictionaries(ident, ident, min_size=0, max_size=6))
def test_series_name_roundtrip(metric, tags):
    name = canonical_series_name(metric, tags)
    m, t = parse_series_name(name)
    assert m == metric and t == tags
    # canonical form is a fixed point
    assert canonical_series_name(m, t) == name


@given(st.text(max_size=50))
def test_series_parser_never_crashes(text):
    try:
        parse_series_name(text)
    except ValueError:
        pass  # rejection is fine; crashes are not


@given(st.integers(min_value=0, max_value=2**62))
def test_timestamp_int_passthrough(ns):
    assert parse_timestamp_ns(ns) == ns
    assert parse_timestamp_ns(str(ns)) == ns


@given(st.text(max_size=30))
def test_timestamp_parser_never_crashes(text):
    try:
        parse_timestamp_ns(text)
    except QueryParseError:
        pass


@given(st.integers(min_value=1, max_value=10**6),
       st.sampled_from(["n", "us", "ms", "s", "m", "min", "h", "d", "w"]))
def test_duration_units_scale(num, unit):
    ns = parse_duration_ns(f"{num}{unit}")
    assert ns % num == 0 and ns // num == parse_duration_ns(f"1{unit}")


@given(st.text(max_size=60))
@settings(max_examples=200)
def test_resp_parser_never_crashes(text):
    try:
        parse_resp(text)
    except (RespError, ValueError):
        pass


@given(metric=ident, tags=st.dictionaries(ident, ident, min_size=1, max_size=4),
       ts=st.integers(min_value=1, max_value=2**60),
       value=st.floats(allow_nan=False, allow_infinity=False, width=32))
def test_resp_roundtrip(metric, tags, ts, value):
    name = " ".join([metric] + [f"{k}={v}" for k, v in tags.items()])
    [s] = parse_resp(f"+{name}\n:{ts}\n+{value!r}\n")
    assert s.metric == metric
    assert s.tags == tags
    assert s.ts_ns == ts
    assert s.value == float(repr(value))


# ---------------------------------------------------------------------------
# ingest late-write gate — interleavings of batches and marks-table loss
# (VERDICT r5 #7: hypothesis around HighWaterState)
# ---------------------------------------------------------------------------

_LATE = 100
_SERIES = ["cpu host=a", "cpu host=b", "mem host=a"]

_batch_st = st.lists(
    st.tuples(st.integers(0, len(_SERIES) - 1), st.integers(0, 500)),
    min_size=1, max_size=5,
)
_ops_st = st.lists(st.tuples(st.booleans(), _batch_st), min_size=1, max_size=3)


@settings(max_examples=6, deadline=None)
@given(ops=_ops_st)
def test_ingest_gate_matches_model_under_marks_loss(spark, ops):
    """Drive the production batch path (gate_and_commit_batch) through
    arbitrary interleavings of micro-batches and marks-side-table loss,
    against a reference model of the gate semantics:

    * a row is late iff its series has a committed mark and
      ts <= mark - late_after (rows within one batch never gate each
      other — the split joins against PRE-batch marks);
    * losing the side table must not change any gate decision (it
      re-seeds from the committed sink, whose per-series maxima ARE the
      marks) — it only costs exactly one extra seed scan.
    """
    import shutil
    import tempfile

    from akumuli_spark.streaming.ingest import (
        HighWaterState,
        gate_and_commit_batch,
    )

    base = tempfile.mkdtemp(prefix="ingest_prop_")
    out_dir = f"{base}/out"
    rej_dir = f"{base}/rej"
    try:
        hw = HighWaterState(f"{base}/marks")
        marks_model: dict[str, int] = {}
        acc_model: list[tuple[str, int]] = []
        rej_model: list[tuple[str, int]] = []
        expected_seed_scans = 0
        for i, (lose_marks, rows) in enumerate(ops):
            if lose_marks:
                shutil.rmtree(hw.marks_dir, ignore_errors=True)
            if lose_marks or i == 0:
                expected_seed_scans += 1
            pre = dict(marks_model)
            for idx, ts in rows:
                s = _SERIES[idx]
                if s in pre and ts <= pre[s] - _LATE:
                    rej_model.append((s, ts))
                else:
                    acc_model.append((s, ts))
                    marks_model[s] = max(marks_model.get(s, ts), ts)
            batch = spark.createDataFrame(
                [(_SERIES[idx].split(" ")[0], _SERIES[idx], ts, 1.0)
                 for idx, ts in rows],
                "metric string, series string, ts_ns long, value double",
            )
            gate_and_commit_batch(batch, out_dir, rej_dir, _LATE, hw)
            assert hw.marks == marks_model
        assert hw.seed_scans == expected_seed_scans
        read = spark.read.schema(
            "series string, ts_ns long, value double, metric string"
        )
        got_acc = sorted(
            (r["series"], r["ts_ns"]) for r in read.parquet(out_dir).collect()
        )
        got_rej = sorted(
            (r["series"], r["ts_ns"]) for r in read.parquet(rej_dir).collect()
        )
        assert got_acc == sorted(acc_model)
        assert got_rej == sorted(rej_model)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# SpaceSaving sketch (approx frequent-items) vs a reference model
# ---------------------------------------------------------------------------

_ss_rows = st.lists(
    st.tuples(st.sampled_from("abcde"), st.integers(0, 119)),
    min_size=1, max_size=20,
)


def _ss_model(rows, M, portion, chunks, lo=0, hi=120):
    """Chunked SpaceSaving + commutative merge, straight from the
    documented semantics (apply.py:_spacesaver_sketch docstring)."""
    step = -(-(hi - lo) // chunks)
    by_chunk: dict[int, list] = {}
    for s, t in rows:
        by_chunk.setdefault((t - lo) // step, []).append((t, s))
    summ = {}
    for ck, items in by_chunk.items():
        counters: dict[str, list] = {}
        total = 0.0
        for t, s in sorted(items):
            if s in counters:
                counters[s][0] += 1.0
            elif len(counters) < M:
                counters[s] = [1.0, 0.0, t]
            else:
                vs, vv = min(counters.items(), key=lambda kv: (kv[1][0], kv[0]))
                minc = vv[0]
                del counters[vs]
                counters[s] = [1.0 + minc, minc, t]
            total += 1.0
        cmin = min(v[0] for v in counters.values()) if len(counters) >= M else 0.0
        summ[ck] = (counters, total, cmin)
    N = sum(v[1] for v in summ.values())
    minsum = sum(v[2] for v in summ.values())
    agg: dict[str, list] = {}
    for ck in sorted(summ):
        counters, total, cmin = summ[ck]
        for s, (c, e, t) in counters.items():
            a = agg.setdefault(s, [0.0, 0.0, 0.0, None])
            a[0] += c
            a[1] += e
            a[2] += cmin
            if a[3] is None:
                a[3] = t
    out = [(s, a[3], a[0] + (minsum - a[2]))
           for s, a in agg.items() if a[0] - a[1] > N * portion]
    return sorted(out, key=lambda r: (-r[2], r[0]))


@settings(max_examples=6, deadline=None)
@given(rows=_ss_rows, error=st.sampled_from([1.0, 0.5, 0.34, 0.25]),
       portion=st.sampled_from([0.0, 0.1, 0.3]),
       chunks=st.integers(1, 3))
def test_spacesaver_sketch_matches_model(spark, rows, error, portion, chunks):
    """Random streams through the engine must equal the reference model
    (per-chunk fold + commutative merge) row for row — including the
    overestimate values, counter-creation timestamps and (count desc,
    series asc) output order.  Also re-checks the ε-bound: every
    reported estimate is >= the true count and exceeds it by <= ceil(1/ε)
    evict-inheritances."""
    import math

    from akumuli_spark.query.engine import execute_query

    # de-dup (series, ts) pairs: equal-ts ties within a series are fine,
    # but identical rows would make count semantics trivially ambiguous
    rows = sorted(set(rows))
    frame = spark.createDataFrame(
        [("m " + s, "m", {}, t, 1.0) for s, t in rows],
        schema="series string, metric string, tags map<string,string>, "
               "ts_ns long, value double",
    )
    q = {
        "select": "m",
        "range": {"from": 0, "to": 120},
        "apply": [{"name": "frequent-items", "error": error,
                   "portion": portion, "approx": True,
                   "merge-chunks": chunks}],
    }
    got = [(r["series"][2:], r["ts_ns"], r["value"])
           for r in execute_query(spark, q, frame).collect()]
    M = math.ceil(1.0 / error)
    want = _ss_model(rows, M, portion, chunks)
    assert got == want
    true_counts: dict[str, int] = {}
    for s, _ in rows:
        true_counts[s] = true_counts.get(s, 0) + 1
    for s, _, est in got:
        assert est >= true_counts[s] - 1e-9  # overestimate invariant


# ---------------------------------------------------------------------------
# select-events regex dialect parity (VERDICT r6 "What's missing" #2).
#
# The reference compiles the event body filter as an ECMAScript regex and
# applies it with std::regex_search (nbtree.cpp:1732-1756, via
# column_store.h:167-176 filter_events); the engine uses Spark's rlike —
# Java java.util.regex, also substring-search semantics (engine.py
# _build_select_events).  Python re.search is ECMAScript-close for the
# grammar below, so it referees: generate patterns from a constrained
# grammar, assert Python and Spark select the same bodies.
#
# The grammar deliberately EXCLUDES the constructs where the dialects are
# known to diverge — each is a documented divergence, not an accident:
#   * \d/\w/\s Unicode semantics: Java is ASCII-only by default, Python str
#     patterns are Unicode, ECMAScript is ASCII — identical on the ASCII
#     event corpus (asserted below), divergent on non-ASCII bodies;
#   * `$` before a trailing newline: Java and Python both match there,
#     ECMAScript only at true end-of-input — the reference would reject a
#     body ending in '\n' that rlike accepts;
#   * backreference syntax (\1 vs $1), possessive quantifiers (a*+) and
#     class intersection ([a-z&&[^m]]) are Java-only; lookbehind length
#     limits differ.  None are generated.
#   * a LONE `{` (not opening a valid {m,n} quantifier, e.g. `aaa{`):
#     Python and ECMAScript-Annex-B treat it as a literal, Java throws
#     PatternSyntaxException "Illegal repetition" at compile time — found
#     by this very test's generator.  A reference query with a bare `{`
#     body filter would need escaping (`\{`) to run on this engine; the
#     escaped form and `{` inside a class agree everywhere and stay in
#     the grammar.
_RE_ATOMS = (
    list('abck z09 }:",') +
    ["\\{", "\\}", "\\.", "\\d", "\\w", "\\s",
     "[0-9]", "[a-k]", "[^0-9]", "[ak3]", ".", "[{}]"]
)


@st.composite
def _event_pattern(draw):
    units = []
    for _ in range(draw(st.integers(1, 4))):
        atom = draw(st.sampled_from(_RE_ATOMS))
        quant = draw(st.sampled_from(["", "", "?", "*", "+", "{1,2}", "{2}"]))
        units.append(atom + quant)
    # optionally wrap a contiguous slice in a non-capturing group with a
    # BOUNDED quantifier — an unbounded quantifier over a group of starred
    # atoms is the classic catastrophic-backtracking shape, which all
    # three dialects execute but none in reasonable time
    if len(units) > 1 and draw(st.booleans()):
        i = draw(st.integers(0, len(units) - 2))
        j = draw(st.integers(i + 1, len(units)))
        gq = draw(st.sampled_from(["", "?", "{1,2}"]))
        units[i:j] = ["(?:" + "".join(units[i:j]) + ")" + gq]
    pat = "".join(units)
    if draw(st.booleans()):
        alt = "".join(
            draw(st.sampled_from(_RE_ATOMS))
            for _ in range(draw(st.integers(1, 3)))
        )
        pat = f"{pat}|{alt}"
    if draw(st.booleans()):
        pat = "^" + pat
    if draw(st.booleans()):
        pat = pat + "$"
    return pat


_REGEX_CORPUS = None


def _regex_corpus(spark):
    """Distinct event bodies from the real corpus plus crafted edge
    strings; one cached single-column DataFrame per session."""
    global _REGEX_CORPUS
    if _REGEX_CORPUS is None:
        from akumuli_spark.sources.testdata import events_view
        from tests.conftest import SF_DIR

        bodies = [
            r["body"]
            for r in events_view(spark, SF_DIR)
            .select("body").distinct().limit(120).collect()
        ]
        bodies += ["", "abc", "a]b", "1.5", "{}", '{"k": 0}',
                   "kkk", "a" * 40, "0" * 7, "}{", '"":',
                   "mixed 42 case", "zzz 99"]
        assert all(all(" " <= ch <= "~" for ch in b) for b in bodies), \
            "corpus must stay ASCII or the \\d/\\w/\\s parity args break"
        df = spark.createDataFrame(
            [(b,) for b in sorted(set(bodies))], schema="body string"
        ).cache()
        df.count()
        _REGEX_CORPUS = (df, sorted(set(bodies)))
    return _REGEX_CORPUS


@settings(max_examples=15, deadline=None)
@given(pat=_event_pattern())
def test_event_regex_dialect_parity(spark, pat):
    """For every generated pattern, the body set selected by Spark rlike
    (the engine path) equals the set selected by Python re.search (the
    ECMAScript-close referee) over real + crafted event bodies."""
    import re as _re

    from pyspark.sql import functions as F

    df, bodies = _regex_corpus(spark)
    ref = _re.compile(pat)
    want = {b for b in bodies if ref.search(b)}
    got = {r["body"] for r in df.filter(F.col("body").rlike(pat)).collect()}
    assert got == want, f"dialect divergence on pattern {pat!r}"


# ---------------------------------------------------------------------------
# Compaction crash/recovery interleavings (layout.py swap protocol).
#
# The swap is two renames (path→old, tmp→path); recovery may run from any
# number of readers plus the next compactor, concurrently.  Model: after a
# crash at any point and any sequence of recoverers, the table at `path`
# must exist, hold exactly the original row multiset, and a gc-recoverer
# must leave no stale tmp/old.  A "concurrent recoverer" is injected at
# syscall granularity: the first recoverer's roll-forward rename is
# preceded by a full heal by the other party, so its own rename loses the
# race and must be tolerated (commit e74ae16 + the r7 reader-gc fix).
_COMPACT_BASE = None


def _compact_base(spark):
    """One (table dir, row count) template per session; examples copytree
    it so each starts from an identical fragmented table."""
    global _COMPACT_BASE
    if _COMPACT_BASE is None:
        import tempfile

        from akumuli_spark.sources.layout import write_metrics_table
        from akumuli_spark.sources.testdata import metrics_view
        from tests.conftest import SF_DIR

        base = tempfile.mkdtemp(prefix="compact_prop_")
        path = f"{base}/tbl"
        bucket = 365 * 86_400 * 10**9
        view = metrics_view(spark, SF_DIR)
        write_metrics_table(view, path, bucket_ns=bucket)
        write_metrics_table(view, path, bucket_ns=bucket, mode="append")
        n = spark.read.parquet(path).count()
        _COMPACT_BASE = (path, n)
    return _COMPACT_BASE


@settings(max_examples=12, deadline=None)
@given(
    crash=st.sampled_from(["none", "before_first", "between_renames"]),
    concurrent=st.booleans(),
    recoverers=st.lists(st.sampled_from(["reader", "compactor_gc"]),
                        min_size=1, max_size=2),
)
def test_compaction_recovery_interleavings(spark, crash, concurrent,
                                           recoverers):
    import os as _os
    import shutil
    import tempfile

    import pytest as _pytest

    from akumuli_spark.sources import layout
    from akumuli_spark.sources.fs import recover_compaction

    template, n = _compact_base(spark)
    work = tempfile.mkdtemp(prefix="compact_prop_ex_")
    path = f"{work}/tbl"
    shutil.copytree(template, path)
    real_rename = _os.rename
    try:
        if crash != "none":
            crash_dst = (f"{path}.compact-old" if crash == "before_first"
                         else path)

            def crashing(src, dst, *a, **kw):
                if dst == crash_dst:
                    raise OSError("injected crash")
                return real_rename(src, dst, *a, **kw)

            _os.rename = crashing
            with _pytest.raises(OSError, match="injected crash"):
                layout.compact_metrics_table(spark, path)
            _os.rename = real_rename
        else:
            layout.compact_metrics_table(spark, path)

        if concurrent:
            # the first recoverer's heal rename loses a syscall-level
            # race: the other party completes the entire heal first
            fired = {"done": False}

            def racing(src, dst, *a, **kw):
                if not fired["done"] and dst == path:
                    fired["done"] = True
                    recover_compaction(path)
                return real_rename(src, dst, *a, **kw)

            _os.rename = racing

        gc_ran = False
        for who in recoverers:
            if who == "reader":
                recover_compaction(path)
            else:
                recover_compaction(path, gc=True)
                gc_ran = True
            _os.rename = real_rename  # race fires at most once

        assert _os.path.exists(path)
        assert spark.read.parquet(path).count() == n
        if gc_ran:
            assert not _os.path.exists(f"{path}.compact-tmp")
            assert not _os.path.exists(f"{path}.compact-old")
        # healing (crash between renames) must also have cleared `old`
        # even reader-only, and never leaves a second live copy around
        if crash == "between_renames":
            assert not _os.path.exists(f"{path}.compact-old")
    finally:
        _os.rename = real_rename
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------------------
# Query-JSON parser fuzz — the reference ships AFL harnesses for its
# parsers (fuzzers/afl_*.cpp); the property analogue here: ANY JSON-ish
# dict either parses to a plan or raises the typed error hierarchy
# (QueryParseError/QueryValidationError, both ValueError) — never an
# uncontrolled KeyError/TypeError/AttributeError from deep in the
# parser.
# ---------------------------------------------------------------------------

_GRAMMAR_KEYS = st.sampled_from([
    "select", "select-events", "aggregate", "group-aggregate", "join",
    "group-aggregate-join", "range", "where", "filter", "group-by-tag",
    "pivot-by-tag", "group-by", "order-by", "limit", "offset", "apply",
    "output", "from", "to", "step", "metric", "func", "name", "junk",
])

_SCALARS = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=True, allow_infinity=True),
    st.text(max_size=12),
    st.sampled_from([
        "cpu", "!ev", "20240101T000000", "1s", "sum", "time", "series",
    ]),
)

_JSONISH = st.recursive(
    _SCALARS,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4),
        st.dictionaries(_GRAMMAR_KEYS, inner, max_size=5),
    ),
    max_leaves=12,
)


@settings(max_examples=300, deadline=None)
@given(q=st.dictionaries(_GRAMMAR_KEYS, _JSONISH, max_size=6))
def test_query_parser_total_over_jsonish_input(q):
    from akumuli_spark.query.parser import parse_query

    try:
        plan = parse_query(q)
    except ValueError:
        return  # QueryParseError / QueryValidationError — the contract
    assert plan is not None


@settings(max_examples=200, deadline=None)
@given(text=st.text(
    alphabet=st.sampled_from(list("put sys.cpu=1 \n\t0123456789.eE+-abz")),
    max_size=120,
))
def test_opentsdb_parser_never_crashes(text):
    """Telnet-line parser totality: arbitrary put-shaped garbage either
    parses or raises the module's typed ValueError — mirror of the RESP
    fuzz above."""
    from akumuli_spark.sources.opentsdb import parse_opentsdb

    try:
        parse_opentsdb(text)
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# interval join ≡ brute force over random spans / samples / bucket widths
# ---------------------------------------------------------------------------


@given(
    tss=st.lists(st.integers(min_value=0, max_value=5_000),
                 min_size=0, max_size=25),
    spans=st.lists(
        st.tuples(st.integers(min_value=-100, max_value=5_000),
                  st.integers(min_value=-100, max_value=5_100)),
        min_size=0, max_size=12,
    ),
    bucket_ns=st.sampled_from([1, 3, 64, 1_000, 100_000]),
)
@settings(max_examples=12, deadline=None)
def test_interval_join_matches_brute_force(spark, tss, spans, bucket_ns):
    from akumuli_spark.operators.interval import interval_join

    samples = spark.createDataFrame(
        [(t, float(i)) for i, t in enumerate(tss)] or [(None, None)],
        "ts_ns long, value double",
    ).where("ts_ns IS NOT NULL")
    intervals = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(spans)] or [(None, None, None)],
        "interval_id long, start_ns long, end_ns long",
    ).where("interval_id IS NOT NULL")
    got = sorted(
        (r["ts_ns"], r["interval_id"])
        for r in interval_join(samples, intervals, bucket_ns).collect()
    )
    want = sorted(
        (t, i)
        for t in tss
        for i, (a, b) in enumerate(spans)
        if a <= t < b
    )
    assert got == want


# ---------------------------------------------------------------------------
# HLL estimate: Spark ≡ DuckDB on arbitrary value sets (incl. non-ASCII)
# ---------------------------------------------------------------------------


@given(
    vals=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_characters="'\x00"
            ),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=60,
    )
)
@settings(max_examples=10, deadline=None)
def test_hll_estimate_cross_engine(spark, vals):
    """The register math must agree between engines for ANY value set —
    md5 operates on identical UTF-8 bytes in both."""
    import duckdb

    from akumuli_spark.operators.distinct import approx_distinct, hll_sql

    df = spark.createDataFrame([(v,) for v in vals], "v string")
    (got,) = (
        r["approx_distinct"] for r in approx_distinct(df, "v").collect()
    )
    con = duckdb.connect()
    values = ", ".join("(?)" for _ in vals)
    con.execute(f"CREATE TABLE src (v VARCHAR); INSERT INTO src VALUES {values}",
                list(vals))
    sql = hll_sql("SELECT v AS __v FROM src")
    (want,) = con.execute(sql).fetchone()
    assert got == want


# ---------------------------------------------------------------------------
# quantile sketch: every estimate within the bin bound of exact nearest-rank
# ---------------------------------------------------------------------------


@given(
    vals=st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
            st.just(0.0),
        ),
        min_size=1, max_size=40,
    ),
    q=st.sampled_from([0.01, 0.25, 0.5, 0.9, 1.0]),
)
@settings(max_examples=12, deadline=None)
def test_quantile_sketch_within_bound(spark, vals, q):
    import math

    from akumuli_spark.operators.quantile_sketch import approx_quantiles

    k = 64
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    (row,) = approx_quantiles(df, "v", [q], k=k).collect()
    got = row["est"]
    exact = sorted(vals)[math.ceil(q * len(vals)) - 1]
    if exact == 0.0:
        assert got == 0.0
    else:
        bound = math.exp(1.0 / (2 * k)) - 1.0
        assert abs(got - exact) <= abs(exact) * (bound + 1e-9), (
            got, exact, vals, q
        )


# ---------------------------------------------------------------------------
# apply-pipeline nodes: parse-or-QueryError over junk-shaped node lists
# ---------------------------------------------------------------------------

_APPLY_TOKENS = st.sampled_from([
    "abs", "scale", "rate", "accumulate", "cusum", "sum", "diff",
    "multiply", "divide", "sma", "sma-error", "cma", "ewma", "ewma-error",
    "eval", "top", "frequent-items", "heavy-hitters", "sax",
    "anomaly-detector", "counter-rate", "junk-token",
])
_APPLY_PARAMS = st.sampled_from([
    "N", "decay", "window", "threshold", "error", "portion",
    "merge-chunks", "expr", "approx", "alphabet-size", "method", "frame",
    "weight", "junk",
])
_APPLY_NODE = st.one_of(
    _SCALARS,
    st.dictionaries(
        st.one_of(st.just("name"), _APPLY_PARAMS),
        st.one_of(_SCALARS, _APPLY_TOKENS),
        max_size=4,
    ),
)


@settings(max_examples=300, deadline=None)
@given(ap=st.one_of(_SCALARS, st.lists(_APPLY_NODE, max_size=3)))
def test_apply_nodes_total_over_junk(ap):
    from akumuli_spark.query.errors import (
        QueryParseError,
        QueryValidationError,
    )
    from akumuli_spark.query.parser import parse_query

    q = {"select": "cpu",
         "range": {"from": "20240101T000000", "to": "20240102T000000"},
         "apply": ap}
    try:
        parse_query(q)
    except (QueryParseError, QueryValidationError):
        pass


# ---------------------------------------------------------------------------
# BPE training vs a pure-Python reference (VERDICT r7-style mini-evaluator
# pattern: hypothesis corpora, ~20-line independent implementation)
# ---------------------------------------------------------------------------


def _ref_bpe(texts: list[str], n_merges: int):
    """Independent BPE reference: symbol tuples, Counter pair counts,
    greedy left-to-right non-overlapping merge — the semantics
    bpe_train's separator-framed replace implements."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split(" "):
            if w:
                words[w] += 1
    vocab: dict[tuple, int] = Counter()
    for w, c in words.items():
        vocab[tuple(w) + ("</w>",)] += c
    merges = []
    for step in range(1, n_merges + 1):
        pairs = Counter()
        for seq, c in vocab.items():
            for i in range(len(seq) - 1):
                pairs[(seq[i], seq[i + 1])] += c
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, a, b, cnt))
        nxt: dict[tuple, int] = Counter()
        for seq, c in vocab.items():
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            nxt[tuple(out)] += c
        vocab = nxt
    return merges


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=4),
            min_size=1, max_size=5,
        ).map(" ".join),
        min_size=1, max_size=4,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
def test_bpe_train_matches_reference(spark, texts, n_merges):
    from akumuli_spark.pipeline.text import bpe_train

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=n_merges).collect()]
    assert got == _ref_bpe(texts, n_merges)


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=4),
            min_size=1, max_size=5,
        ).map(" ".join),
        min_size=1, max_size=3,
    ),
    n_merges=st.integers(min_value=1, max_value=3),
)
def test_bpe_tokenize_matches_reference(spark, texts, n_merges):
    """Per-doc post-merge symbol counts vs the reference: train with
    _ref_bpe, apply its merges greedily, count symbols per doc."""
    from akumuli_spark.pipeline.text import bpe_tokenize

    merges = [(a, b) for _, a, b, _ in _ref_bpe(texts, n_merges)]

    def apply_merges(w: str) -> int:
        seq = list(w) + ["</w>"]
        for a, b in merges:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        return len(seq)

    want = {}
    for i, t in enumerate(texts):
        words = [w for w in t.lower().split(" ") if w]
        if words:
            want[i] = (len(words), sum(apply_merges(w) for w in words))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_symbols"])
        for r in bpe_tokenize(docs, n_merges=n_merges).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    n_nodes=st.integers(min_value=1, max_value=24),
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=23),
                  st.integers(min_value=0, max_value=23)),
        max_size=30,
    ),
)
def test_connected_components_matches_union_find(spark, n_nodes, edges):
    """Min-label propagation + pointer jumping vs a 10-line union-find
    on hypothesis graphs (self-loops, duplicates, nodes out of range
    filtered like the operator's caller would)."""
    from akumuli_spark.pipeline.cluster import connected_components

    edges = [(a, b) for a, b in edges if a < n_nodes and b < n_nodes and a != b]
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    want = {}
    comp_min = {}
    for v in range(n_nodes):
        r = find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    for v in range(n_nodes):
        want[v] = comp_min[find(v)]

    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edges:
        pairs = pairs.limit(0)
    got = {
        r["id"]: r["comp"]
        for r in connected_components(nodes, pairs).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    token_counts=st.lists(st.integers(min_value=0, max_value=40),
                          min_size=1, max_size=25),
    budget=st.integers(min_value=1, max_value=64),
)
def test_pack_sequences_matches_next_fit(spark, token_counts, budget):
    """Single-stratum single-shard packing vs the reference next-fit:
    docs in id order, a doc that would overflow the budget opens a new
    pack (oversized docs still get their own pack)."""
    from akumuli_spark.pipeline.cluster import pack_sequences

    docs = spark.createDataFrame(
        [(i, "en", " ".join(["w"] * max(n, 1)) if n > 0 else "")
         for i, n in enumerate(token_counts)],
        "doc_id long, lang string, text string",
    )
    # the operator counts split-on-space tokens: "" -> [""] -> 1 token
    eff = [n if n > 0 else 1 for n in token_counts]
    want, running, pid = {}, 0, 0
    for i, t in enumerate(eff):
        if running and running + t > budget:
            pid += 1
            running = 0
        running += t
        want[i] = pid
    got = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(docs, budget=budget, n_shards=1).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=12)
        .map(lambda ws: " ".join(ws)),
        min_size=2, max_size=6,
    ),
    n=st.integers(min_value=2, max_value=3),
)
def test_span_coverage_matches_set_reference(spark, texts, n):
    """Positioned-shingle join vs the direct definition: a position is
    covered iff some n-gram window containing it also appears in
    another document."""
    from akumuli_spark.pipeline.dedup import duplicated_span_coverage

    toks = [t.split(" ") for t in texts]
    grams = {}
    for d, ws in enumerate(toks):
        for i in range(len(ws) - n + 1):
            grams.setdefault(" ".join(ws[i:i + n]), set()).add(d)
    want = {}
    for d, ws in enumerate(toks):
        cov = set()
        for i in range(len(ws) - n + 1):
            if len(grams[" ".join(ws[i:i + n])]) >= 2:
                cov.update(range(i, i + n))
        want[d] = (len(ws), len(cov))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_cov"])
        for r in duplicated_span_coverage(docs, n=n).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3),      # user
                  st.integers(min_value=0, max_value=50)),    # ts (small: dup-heavy)
        min_size=1, max_size=40,
    ),
    gap=st.integers(min_value=1, max_value=10),
)
def test_sessionize_matches_reference(spark, events, gap):
    """Gap-split sessionization vs the direct per-user scan — including
    DUPLICATE timestamps, where the window's tie order must not matter
    (a zero gap never splits, so every tie ordering yields the same
    session ids)."""
    from akumuli_spark.operators.sessions import sessionize

    want = {}
    by_user = {}
    for u, t in events:
        by_user.setdefault(u, []).append(t)
    for u, ts in by_user.items():
        sid, prev = 0, None
        for t in sorted(ts):
            if prev is None or t - prev > gap:
                sid += 1
            want[(u, t)] = sid  # all dups of (u, t) share a session
            prev = t
    df = spark.createDataFrame(
        [(u, t, "e", 1.0) for u, t in events],
        "user_id long, ts long, event_type string, value double",
    )
    got = sessionize(df, gap_ns=gap).collect()
    assert len(got) == len(events)
    for r in got:
        assert r["session_id"] == want[(r["user_id"], r["ts"])]


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(min_value=0, max_value=4),            # user
                  st.sampled_from(["view", "click", "purchase"]),
                  st.integers(min_value=0, max_value=30)),          # ts
        min_size=1, max_size=40,
    ),
)
def test_funnel_matches_reference(spark, events):
    """Ordered funnel vs the direct definition: per user, the first
    step-k occurrence strictly after the chosen step-(k-1) occurrence."""
    from akumuli_spark.operators.sessions import funnel_counts

    steps = ("view", "click", "purchase")
    by_user = {}
    for u, e, t in events:
        by_user.setdefault(u, {}).setdefault(e, []).append(t)
    counts = [0, 0, 0]
    for u, evs in by_user.items():
        prev_t = None
        for k, s in enumerate(steps):
            cand = [t for t in evs.get(s, [])
                    if prev_t is None or t > prev_t]
            if not cand:
                break
            prev_t = min(cand)
            counts[k] += 1
    from datetime import datetime, timezone

    def ts(t):
        return datetime.fromtimestamp(1_700_000_000 + t, tz=timezone.utc)

    df = spark.createDataFrame(
        [(u, e, ts(t), 1.0) for u, e, t in events],
        "user_id long, event_type string, ts timestamp, value double",
    )
    got = {r["step"]: r["n_users"] for r in funnel_counts(df, steps).collect()}
    for k in range(3):
        assert got.get(k + 1, 0) == counts[k]


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(min_value=0, max_value=4),
                  st.sampled_from(["view", "click", "purchase"]),
                  st.integers(min_value=0, max_value=30)),
        min_size=2, max_size=40,
    ),
)
def test_transitions_match_reference(spark, events):
    """Markov transition counts vs the direct per-user sequence scan
    (ties broken by event_id, which the test makes the list index)."""
    from akumuli_spark.operators.sessions import event_transitions
    from datetime import datetime, timezone

    seqs = {}
    for i, (u, e, t) in enumerate(events):
        seqs.setdefault(u, []).append((t, i, e))
    want = {}
    for u, rows in seqs.items():
        rows.sort()
        for (_, _, a), (_, _, b) in zip(rows, rows[1:]):
            want[(a, b)] = want.get((a, b), 0) + 1

    def ts(t):
        return datetime.fromtimestamp(1_700_000_000 + t, tz=timezone.utc)

    df = spark.createDataFrame(
        [(u, i, e, ts(t), 1.0) for i, (u, e, t) in enumerate(events)],
        "user_id long, event_id long, event_type string, ts timestamp, value double",
    )
    got = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transitions(df).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abc"), min_size=2, max_size=8)
        .map(" ".join),
        min_size=2, max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_minhash_lsh_matches_reference(spark, texts, threshold):
    """The whole MinHash/LSH pipeline vs a direct Python replay:
    md5-derived shingle hashes, k affine minhashes, banded candidate
    generation, exact-Jaccard verification — emitted pairs must equal
    {banded-colliding pairs with true Jaccard >= t} exactly."""
    import hashlib

    from akumuli_spark.pipeline.dedup import (
        MINHASH_BANDS, MINHASH_K, MINHASH_P, _minhash_params,
        minhash_lsh_pairs,
    )

    n = 2
    shingles = {}
    for d, t in enumerate(texts):
        ws = t.split(" ")
        shingles[d] = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    params = _minhash_params()
    sigs = {}
    for d, ss in shingles.items():
        if not ss:
            continue
        xs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MINHASH_P
            for s in ss
        ]
        sigs[d] = [
            min((a * x + b) % MINHASH_P for x in xs) for a, b in params
        ]
    rows = MINHASH_K // MINHASH_BANDS
    buckets = {}
    for d, sig in sigs.items():
        for b in range(MINHASH_BANDS):
            key = (b, tuple(sig[b * rows:(b + 1) * rows]))
            buckets.setdefault(key, set()).add(d)
    cands = set()
    for ds in buckets.values():
        for a in ds:
            for b in ds:
                if a < b:
                    cands.add((a, b))
    want = {}
    for a, b in cands:
        inter = len(shingles[a] & shingles[b])
        union = len(shingles[a]) + len(shingles[b]) - inter
        j = inter / union
        if j >= threshold:
            want[(a, b)] = j

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, n=n, threshold=threshold).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.booleans(),                      # left side?
                  st.sampled_from(["a", "b"]),        # tagset
                  st.integers(min_value=0, max_value=30),
                  st.integers(min_value=1, max_value=9)),
        min_size=1, max_size=40,
    ),
    chunk_ns=st.integers(min_value=1, max_value=7),
    tolerance=st.sampled_from([None, 2, 5]),
)
def test_asof_join_matches_reference(spark, rows, chunk_ns, tolerance):
    """Chunked-carry as-of join vs the direct per-tagset scan — tiny
    chunk widths force the cross-chunk boundary carry (phase 2), where
    a parallelism bug would live.  Duplicates SUM-combine first; a
    same-ts right sample is visible to the left row."""
    from akumuli_spark.operators.asof import asof_join

    lefts, rights = {}, {}
    for is_left, tag, t, v in rows:
        d = lefts if is_left else rights
        d.setdefault(tag, {}).setdefault(t, 0)
        d[tag][t] += v
    want = {}
    for tag, ls in lefts.items():
        rs = rights.get(tag, {})
        for t, lv in ls.items():
            cand = [rt for rt in rs if rt <= t]
            rv = None
            if cand:
                rt = max(cand)
                if tolerance is None or t - rt <= tolerance:
                    rv = float(rs[rt])
            want[(tag, t)] = (float(lv), rv)

    df = spark.createDataFrame(
        [(("L" if is_left else "R"),
          f"{'L' if is_left else 'R'} host={tag}", t, float(v))
         for is_left, tag, t, v in rows],
        "metric string, series string, ts_ns long, value double",
    )
    got = {}
    for r in asof_join(df, "L", "R", 0, 31, tolerance_ns=tolerance,
                       chunk_ns=chunk_ns).collect():
        tag = r["series"].split("host=")[1]
        got[(tag, r["ts_ns"])] = (r["L"], r["R"])
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    samples=st.lists(st.integers(min_value=0, max_value=40),
                     min_size=1, max_size=25),
    intervals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=40),
                  st.integers(min_value=0, max_value=40)),
        min_size=1, max_size=12,
    ),
    bucket_ns=st.integers(min_value=1, max_value=9),
)
def test_interval_join_matches_reference(spark, samples, intervals, bucket_ns):
    """Bucketized interval join vs the direct nested loop: semi-open
    [start, end) containment, empty ranges dropped, every qualifying
    (sample, interval) pair exactly once regardless of bucket width."""
    from akumuli_spark.operators.interval import interval_join

    want = sorted(
        (t, s, e)
        for t in samples
        for s, e in intervals
        if e > s and s <= t < e
    )
    sdf = spark.createDataFrame([(t,) for t in samples], "ts_ns long")
    idf = spark.createDataFrame(
        [(s, e) for s, e in intervals], "start_ns long, end_ns long"
    )
    got = sorted(
        (r["ts_ns"], r["start_ns"], r["end_ns"])
        for r in interval_join(sdf, idf, bucket_ns=bucket_ns).collect()
    )
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abc"), min_size=2, max_size=8)
        .map(" ".join),
        min_size=2, max_size=8,
    ),
    max_hamming=st.sampled_from([1, 3, 7]),
)
def test_simhash_matches_reference(spark, texts, max_hamming):
    """The whole SimHash pipeline vs a direct Python replay: 60-bit
    md5-feature vote signature, pigeonhole candidate chunks derived
    from the radius (smallest divisor of 60 above max_hamming — the
    simhash_pairs contract since chunk-count derivation landed; the
    replay's original fixed-4-chunk model MISSED legitimate pairs at
    hamming 4..7 and failed only when hypothesis finally drew one),
    hamming verification on the signatures."""
    import hashlib

    from akumuli_spark.pipeline.dedup import SIMHASH_BITS, simhash_pairs

    n = 2
    feats = {}
    for d, t in enumerate(texts):
        ws = t.split(" ")
        feats[d] = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    sigs = {}
    for d, ss in feats.items():
        if not ss:
            continue
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in ss
        ]
        sig = 0
        for j in range(SIMHASH_BITS):
            ones = sum((h >> j) & 1 for h in hs)
            if 2 * ones > len(hs):
                sig |= 1 << j
        sigs[d] = sig
    n_chunks = next(
        c for c in range(max_hamming + 1, SIMHASH_BITS + 1)
        if SIMHASH_BITS % c == 0
    )
    cb = SIMHASH_BITS // n_chunks
    mask = (1 << cb) - 1
    want = {}
    for a in sigs:
        for b in sigs:
            if a >= b:
                continue
            collide = any(
                (sigs[a] >> (c * cb)) & mask == (sigs[b] >> (c * cb)) & mask
                for c in range(n_chunks)
            )
            ham = bin(sigs[a] ^ sigs[b]).count("1")
            if collide and ham <= max_hamming:
                want[(a, b)] = ham

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(docs, n=n, max_hamming=max_hamming).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    corpus=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=10)
        .map(" ".join),
        min_size=1, max_size=8,
    ),
    bench=st.lists(
        st.lists(st.sampled_from("abcd"), min_size=1, max_size=6)
        .map(" ".join),
        min_size=1, max_size=4,
    ),
    min_overlap=st.integers(min_value=1, max_value=3),
)
def test_decontamination_matches_reference(spark, corpus, bench, min_overlap):
    """Benchmark-overlap flagging vs direct DISTINCT-shingle set math
    (n_shared counts the doc's distinct shingles that hit the benchmark
    set — word_shingles de-duplicates per doc)."""
    from akumuli_spark.pipeline.dedup import benchmark_contamination

    n = 2
    def sh(t):
        ws = t.split(" ")
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    bench_set = set().union(*(sh(t) for t in bench)) if bench else set()
    want = {}
    for d, t in enumerate(corpus):
        k = len(sh(t) & bench_set)
        if k >= min_overlap:
            want[d] = k
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    bdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in benchmark_contamination(
            docs, bdf, n=n, min_overlap=min_overlap
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s1", "s2"]),
                  st.integers(min_value=0, max_value=30),
                  st.integers(min_value=1, max_value=9)),
        min_size=1, max_size=20, unique_by=lambda r: (r[0], r[1]),
    ),
    step=st.integers(min_value=1, max_value=5),
    mode=st.sampled_from(["previous", "null"]),
)
def test_fill_gaps_matches_reference(spark, rows, step, mode):
    """Interior-gap fill vs the direct per-series scan: synthesized rows
    only between a series' first and last non-empty bucket, timestamp =
    bucket begin, values carried (or NULL); real buckets untouched."""
    from akumuli_spark.operators.fill import fill_gaps

    by_series = {}
    for s, t, v in rows:
        by_series.setdefault(s, {})[t] = float(v)
    want = {}
    for s, pts in by_series.items():
        buckets = {}
        for t, v in pts.items():
            b = t // step
            # one row per bucket in this generator? multiple ts can share
            # a bucket — keep the FIRST ts (min) as the bucket row, like
            # a group-aggregate frame would have one row per bucket; to
            # keep the reference simple, collapse to min-ts row's value
            if b not in buckets or t < buckets[b][0]:
                buckets[b] = (t, v)
        b0, b1 = min(buckets), max(buckets)
        last = None
        for b in range(b0, b1 + 1):
            if b in buckets:
                t, v = buckets[b]
                want[(s, t)] = v
                last = v
            else:
                want[(s, b * step)] = last if mode == "previous" else None
    # the operator contract takes an AGGREGATED frame: one row per
    # (series, bucket) — feed it the collapsed buckets
    agg_rows = []
    for s, pts in by_series.items():
        buckets = {}
        for t, v in pts.items():
            b = t // step
            if b not in buckets or t < buckets[b][0]:
                buckets[b] = (t, v)
        agg_rows += [(s, t, v) for t, v in buckets.values()]
    df = spark.createDataFrame(agg_rows, "series string, ts_ns long, value double")
    got = {
        (r["series"], r["ts_ns"]): r["value"]
        for r in fill_gaps(df, anchor_ns=0, step_ns=step, mode=mode).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6),
                 min_size=1, max_size=30, unique=True),
    rates=st.fixed_dictionaries({
        "en": st.floats(min_value=0.0, max_value=1.0),
        "de": st.floats(min_value=0.0, max_value=1.0),
    }),
)
def test_stratified_sample_matches_md5_replay(spark, ids, rates):
    """Deterministic hash-Bernoulli sampling replayed directly:
    u = md5(str(id))[:8]/2^32, kept iff u < rate(stratum) — plus the
    nested-samples property (raising a rate never drops a row)."""
    import hashlib

    from akumuli_spark.pipeline.cluster import stratified_sample

    def u(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) / 2**32

    strata = {i: ("en" if i % 2 == 0 else "de") for i in ids}
    want = {i for i in ids if u(i) < rates[strata[i]]}
    docs = spark.createDataFrame(
        [(i, strata[i], "t") for i in ids],
        "doc_id long, lang string, text string",
    )
    got = {r["doc_id"] for r in stratified_sample(docs, rates).collect()}
    assert got == want
    bigger = {k: min(1.0, v + 0.25) for k, v in rates.items()}
    got2 = {r["doc_id"] for r in stratified_sample(docs, bigger).collect()}
    assert got <= got2  # nested samples


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=500),
                  min_size=0, max_size=60),
)
def test_hll_matches_md5_replay(spark, vals):
    """The full HLL path (register derivation + bias-corrected estimate)
    replayed directly from the md5 hex construction."""
    import math

    from akumuli_spark.operators.distinct import (
        _TAIL_HEX, _alpha, approx_distinct,
    )
    import hashlib

    b, m = 8, 256
    regs = {}
    for v in set(vals):
        hx = hashlib.md5(str(v).encode()).hexdigest()
        bucket, tail = hx[:2], hx[2:2 + _TAIL_HEX]
        z = len(tail) - len(tail.lstrip("0"))
        if z >= _TAIL_HEX:
            rho = 4 * _TAIL_HEX + 1
        else:
            ch = tail[z]
            extra = (0 if ch in "89abcdef" else
                     1 if ch in "4567" else 2 if ch in "23" else 3)
            rho = z * 4 + extra + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    np_, sp = len(regs), sum(2.0 ** -r for r in regs.values())
    if np_ == 0:
        want = 0.0
    else:
        raw = _alpha(m) * m * m / (sp + (m - np_))
        v_ = float(m - np_)
        want = m * math.log(m / v_) if (raw <= 2.5 * m and v_ > 0) else raw
    df = spark.createDataFrame([(v,) for v in vals] or [(None,)], "v long")
    row = approx_distinct(df, "v").collect()
    if not vals:
        # all-NULL input: no registers, group absent for grouped mode;
        # the ungrouped estimate coalesces to 0
        assert row[0]["approx_distinct"] == 0.0
    else:
        import pytest

        assert row[0]["approx_distinct"] == pytest.approx(want, rel=1e-12)


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(min_value=0, max_value=10**6),
                  st.floats(min_value=-100, max_value=100,
                            allow_nan=False, width=32)),
        min_size=3, max_size=60, unique_by=lambda p: p[0],
    ),
    n_out=st.integers(min_value=3, max_value=12),
)
def test_lttb_invariants(spark, pts, n_out):
    """Structural invariants of LTTB under arbitrary series: exact
    output size, endpoints always kept, output a subset of input,
    exactly one point chosen per interior index bucket."""
    from akumuli_spark.operators.lttb import lttb

    pts = sorted(pts)
    df = spark.createDataFrame(
        [("s", t, float(v)) for t, v in pts],
        "series string, ts_ns long, value double",
    )
    out = sorted(r["ts_ns"] for r in lttb(df, n_out).collect())
    n = len(pts)
    assert len(out) == min(n, n_out)
    assert out[0] == pts[0][0] and out[-1] == pts[-1][0]
    in_ts = {t for t, _ in pts}
    assert all(t in in_ts for t in out)
    if n > n_out:
        # one interior pick per bucket: interior 1-based index i maps to
        # bucket ((i-1)*(n_out-2)) // (n-2)
        idx = {t: i for i, (t, _) in enumerate(pts)}
        hit = [0] * (n_out - 2)
        for t in out[1:-1]:
            hit[((idx[t] - 1) * (n_out - 2)) // (n - 2)] += 1
        assert all(h == 1 for h in hit)


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=30),
                  st.integers(min_value=-5, max_value=14)),
        min_size=1, max_size=30, unique_by=lambda r: r[0],
    ),
    step=st.integers(min_value=1, max_value=7),
)
def test_candlesticks_match_reference(spark, rows, step):
    """Per-pixel OHLC vs the direct per-bucket scan: open/close by ts
    order, high/low extremes, ts = the bucket's first sample."""
    from akumuli_spark.operators.candlesticks import candlesticks

    by_bucket = {}
    for t, v in sorted(rows):
        by_bucket.setdefault(t // step, []).append((t, float(v)))
    want = {}
    for b, pts in by_bucket.items():
        vs = [v for _, v in pts]
        want[pts[0][0]] = (vs[0], max(vs), min(vs), vs[-1], len(vs))
    n_pixels = max(1, 31 // step)
    df = spark.createDataFrame(
        [("m", "m host=a", t, float(v)) for t, v in rows],
        "metric string, series string, ts_ns long, value double",
    )
    got = {
        r["ts_ns"]: (r["open"], r["high"], r["low"], r["close"], r["count"])
        for r in candlesticks(spark, df, "m", 0, step * n_pixels,
                              n_pixels).collect()
        if r["ts_ns"] < step * n_pixels
    }
    want = {t: w for t, w in want.items() if t < step * n_pixels}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=-10, max_value=20),
                  min_size=1, max_size=30),
    n_bins=st.integers(min_value=1, max_value=6),
)
def test_value_histogram_matches_reference(spark, vals, n_bins):
    """Equal-bin value histogram vs direct bin math over [lo, hi):
    out-of-range dropped, empty bins absent."""
    from akumuli_spark.operators.histogram import value_histogram

    lo, hi = 0.0, 12.0
    width = (hi - lo) / n_bins
    want = {}
    for v in vals:
        if lo <= v < hi:
            b = int((v - lo) / width)
            want[b] = want.get(b, 0) + 1
    df = spark.createDataFrame(
        [("m", "m host=a", i, float(v)) for i, v in enumerate(vals)],
        "metric string, series string, ts_ns long, value double",
    )
    got = {
        r["bin"]: r["count"]
        for r in value_histogram(df, "m", 0, 100, lo, hi, n_bins).collect()
    }
    assert got == want
