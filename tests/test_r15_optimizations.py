"""Round-15 optimization pins: internals-equivalence and plan-shape
guards for the r15 changes (two-level-aggregate probe guard, gopher
keep-collision guard, corpus_checkpoint disk mode, EWMA partition
batching, JPEG packed-LUT Huffman decode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from akumuli_spark.query import engine
from akumuli_spark.query.engine import execute_query

NS = 10**9


def _metrics_frame(spark, n_ts: int, dup: int):
    """metrics-view-shaped frame: one series, n_ts distinct timestamps,
    each repeated ``dup`` times (dup=1 → ns-unique, partials cannot
    compress; dup>1 → partials compress dup:1)."""
    rows = [
        ("m host=a", "m", {"host": "a"}, 1000 + t * 7, float(t * dup + d))
        for t in range(n_ts)
        for d in range(dup)
    ]
    return spark.createDataFrame(
        rows,
        "series string, metric string, tags map<string,string>, "
        "ts_ns long, value double",
    )


_AGG_Q = {
    "aggregate": {"m": ["first", "last", "min", "max", "count"]},
    "range": {"from": 0, "to": 10**9},
}


def _is_two_level(df) -> bool:
    # the two-level decomposition is the only producer of the __mn/__mx
    # partial columns
    return "__mn" in df._jdf.queryExecution().optimizedPlan().toString()


def test_aggregate_probe_routes_ns_unique_to_one_level(spark, monkeypatch):
    with monkeypatch.context() as m:
        m.setattr(engine, "_AGG_PROBE_BYTES", 0)  # always probe
        unique = execute_query(spark, _AGG_Q, _metrics_frame(spark, 400, 1))
        assert not _is_two_level(unique)
        compress = execute_query(spark, _AGG_Q, _metrics_frame(spark, 80, 5))
        assert _is_two_level(compress)
    # default threshold (4 GiB) far exceeds any local frame: no probe,
    # two-level stays the measured-default path even on ns-unique input
    assert _is_two_level(
        execute_query(spark, _AGG_Q, _metrics_frame(spark, 400, 1))
    )


def test_aggregate_paths_agree_on_ns_unique(spark, monkeypatch):
    """When the probe routes a ns-unique input to the one-level path,
    the emitted rows must equal the two-level path's (exactly — the
    tie-break functions are integer/exact here)."""
    frame = _metrics_frame(spark, 300, 1)
    two = sorted(
        (r["series"], r["ts_ns"], r["value"])
        for r in execute_query(spark, _AGG_Q, frame).collect()
    )  # default threshold: no probe → two-level
    with monkeypatch.context() as m:
        m.setattr(engine, "_AGG_PROBE_BYTES", 0)
        one_df = execute_query(spark, _AGG_Q, frame)
        assert not _is_two_level(one_df)
        one = sorted(
            (r["series"], r["ts_ns"], r["value"]) for r in one_df.collect()
        )
    assert one == two


def test_aggregate_probe_key_sample_keeps_duplicates(spark, tmp_path,
                                                      monkeypatch):
    """The probe samples whole (metric, tagstr, ts_ns) keys with a fixed
    seed, so every duplicate of a kept key stays in the sample: at a ~10%
    sample a dup=2 input still routes two-level (a 10% row sample keeps
    a row's twin one time in ten and would read the input as unique),
    and an ns-unique input still routes one-level."""

    def parquet(n_ts, dup):
        path = str(tmp_path / f"m{n_ts}x{dup}")
        _metrics_frame(spark, n_ts, dup).write.parquet(path)
        return spark.read.parquet(path)

    compress, unique = parquet(4000, 2), parquet(4000, 1)
    monkeypatch.setattr(engine, "_AGG_PROBE_SAMPLE_BYTES",
                        engine._estimated_bytes(unique) // 10)
    monkeypatch.setattr(engine, "_AGG_PROBE_BYTES", 0)  # always probe
    assert _is_two_level(execute_query(spark, _AGG_Q, compress))
    assert not _is_two_level(execute_query(spark, _AGG_Q, unique))


def test_gopher_keep_collision_rejected(spark):
    from akumuli_spark.pipeline.quality import gopher_quality_flags

    docs = spark.createDataFrame(
        [(1, "some text here", 5)], "doc_id long, text string, n_words long"
    )
    with pytest.raises(ValueError, match="collide"):
        gopher_quality_flags(docs, "n_words")
    with pytest.raises(ValueError, match="collide"):
        gopher_quality_flags(docs, "doc_id")
    # "text" stays special-cased and passes through
    out = gopher_quality_flags(docs.drop("n_words"), "text")
    assert "text" in out.columns and out.count() == 1


def test_corpus_checkpoint_disk_mode(spark):
    from akumuli_spark.materialize import _MODE_CONF, corpus_checkpoint

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    expected = sorted(r["v"] for r in df.collect())
    spark.conf.set(_MODE_CONF, "disk")
    try:
        out = corpus_checkpoint(df)
        assert sorted(r["v"] for r in out.collect()) == expected
        assert out.storageLevel.useDisk and not out.storageLevel.useMemory
    finally:
        spark.conf.unset(_MODE_CONF)
        out.unpersist()
    # default mode: localCheckpoint semantics (lineage truncated)
    out2 = corpus_checkpoint(df)
    assert sorted(r["v"] for r in out2.collect()) == expected


def test_ewma_batches_multiple_series_per_partition(spark):
    """The r15 mapInPandas form processes EVERY series of a partition in
    one Python call — the per-series recursion must still match the
    reference warm-up semantics series by series."""
    decay = 0.3
    n = 25
    rows = []
    for s in ("a", "b", "c", "d"):
        for i in range(n):
            rows.append((f"m host={s}", "m", {"host": s},
                         1_000 + i * 10, float(i) * (ord(s) - 96)))
    frame = spark.createDataFrame(
        rows,
        "series string, metric string, tags map<string,string>, "
        "ts_ns long, value double",
    ).repartition(2)  # 4 series across 2 partitions → batching exercised
    q = {
        "select": "m",
        "range": {"from": 0, "to": 10**9},
        "apply": [{"name": "ewma", "decay": decay}],
    }
    got = {
        (r["series"], r["ts_ns"]): r["value"]
        for r in execute_query(spark, q, frame,
                               allow_irregular=True).collect()
    }

    def ref(xs):
        out, v, warm = [], 0.0, 0
        for x in xs:
            out.append(x if warm <= 10 else v)
            if warm < 10:
                v += x
            elif warm == 10:
                v = (v + x) / 11.0
                v = x * decay + v * (1.0 - decay)
            else:
                v = x * decay + v * (1.0 - decay)
            warm += 1
        return out

    for s in ("a", "b", "c", "d"):
        xs = [float(i) * (ord(s) - 96) for i in range(n)]
        exp = ref(xs)
        for i in range(n):
            assert got[(f"m host={s}", 1_000 + i * 10)] == exp[i], (s, i)


def test_grouped_map_batched_matches_group_by_apply(spark):
    """grouped_map_batched must emit exactly the rows
    groupBy().applyInPandas emits for the same kernel — including a NULL
    group key (grouped together, like Spark's groupBy) and kernels that
    return zero rows for some groups."""
    import pandas as pd

    from akumuli_spark.grouped import grouped_map_batched

    rows = [(k, i, float(i * 3 + (hash(k) % 7 if k else 0)))
            for k in ("a", "b", None, "c") for i in range(9)]
    df = spark.createDataFrame(rows, "k string, i long, v double")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("i").reset_index(drop=True)
        if len(pdf) and pdf["k"].iloc[0] == "b":
            return pdf.iloc[0:0][["k", "i", "v"]]  # empty-output group
        pdf["v"] = pdf["v"].cumsum()
        return pdf[["k", "i", "v"]]

    schema = "k string, i long, v double"
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731
    want = sorted(
        ((r["k"], r["i"], r["v"])
         for r in df.groupBy("k").applyInPandas(kernel, schema).collect()),
        key=key,
    )
    got = sorted(
        ((r["k"], r["i"], r["v"])
         for r in grouped_map_batched(
             df.repartition(3), ["k"], kernel, schema, ["k", "i", "v"]
         ).collect()),
        key=key,
    )
    assert got == want and len(got) == 27  # 3 surviving groups × 9 rows


def test_sax_batches_multiple_series_per_partition(spark):
    """The batched SAX plan (no per-group JVM sort) must produce the same
    words per series as the per-group shape — multiple series per
    partition exercised."""
    rows = []
    for s in ("a", "b", "c", "d", "e"):
        for i in range(30):
            rows.append((f"m host={s}", "m", {"host": s},
                         1_000 + i * 10,
                         float((i * 7 + ord(s)) % 13) - 6.0))
    frame = spark.createDataFrame(
        rows,
        "series string, metric string, tags map<string,string>, "
        "ts_ns long, value double",
    ).repartition(2)
    q = {
        "select": "m",
        "range": {"from": 0, "to": 10**9},
        "apply": [{"name": "sax", "alphabet_size": 4, "window_width": 5}],
    }
    out = execute_query(spark, q, frame, allow_irregular=True)
    got = {(r["series"], r["ts_ns"]): r["sax"] for r in out.collect()}

    # independent reference: replay the documented kernel per series
    import math
    from statistics import NormalDist

    cuts = [NormalDist().inv_cdf(i / 4) for i in range(1, 4)]

    def to_char(v):
        for i, c in enumerate(cuts):
            if v < c:
                return "abcd"[i]
        return "abcd"[len(cuts)]

    expect = {}
    for s in ("a", "b", "c", "d", "e"):
        series = f"m host={s}"
        window, last = [], None
        for i in range(30):
            x = float((i * 7 + ord(s)) % 13) - 6.0
            window.append(x)
            if len(window) > 5:
                window.pop(0)
            if len(window) == 5:
                n, tot = 5, sum(window)
                mean = tot / n
                sqr = sum(v * v for v in window)
                var = (n * sqr - tot * tot) / (n * (n - 1))
                std = math.sqrt(var) if var > 0 else 0.0
                word = "".join(
                    to_char((v - mean) / std if std >= 1e-10 else v - mean)
                    for v in window
                )
                if word != last:
                    last = word
                    expect[(series, 1_000 + i * 10)] = word
    assert got == expect


def test_local_frame_single_partition_same_rows(spark):
    """local_frame must return the same rows/schema as
    createDataFrame(list) while planning ONE source partition (the
    32-slice local relation is what made one-row coalesce(1) meta
    writes cost seconds)."""
    from akumuli_spark.smallframe import local_frame

    rows = [(1, "x", [0.5, 0.25]), (2, None, [])]
    schema = "a long, b string, c array<double>"
    df = local_frame(spark, rows, schema)
    assert df.rdd.getNumPartitions() == 1
    assert df.schema == spark.createDataFrame(rows, schema).schema
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, spark.createDataFrame(rows, schema).collect()))
    # empty rows round-trip with a string schema
    empty = local_frame(spark, [], schema)
    assert empty.count() == 0 and empty.schema == df.schema


def test_jpeg_huff_lut_matches_canonical_walk():
    """The packed 16-bit-peek LUT must decode every possible 16-bit
    prefix exactly like the T.81 bit-by-bit canonical walk."""
    from akumuli_spark.pipeline.multimodal import (
        _JPEG_AC_LUM,
        _JPEG_DC_LUM,
        _jpeg_huff_lut,
    )

    for counts, syms in (_JPEG_DC_LUM, _JPEG_AC_LUM):
        lut = _jpeg_huff_lut(counts, syms)
        # canonical (length, code) → sym as the old reader built it
        dec = {}
        code, k = 0, 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                dec[(length, code)] = syms[k]
                code += 1
                k += 1
            code <<= 1

        def walk(idx16):
            c = 0
            for length in range(1, 17):
                c = (c << 1) | ((idx16 >> (16 - length)) & 1)
                s = dec.get((length, c))
                if s is not None:
                    return s, length
            return None

        for idx in range(65536):
            v = lut[idx]
            expect = walk(idx)
            if expect is None:
                assert v == 0, idx
            else:
                assert (v >> 5, v & 31) == expect, idx
