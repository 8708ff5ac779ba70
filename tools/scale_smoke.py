"""Scale smoke: run the core query kinds over a synthetic 10M-sample
metrics frame (≈17× the sf0.1 bench volume, 1000 series) to show the
plans hold when data grows — no driver-side collection, no plan blow-ups,
time scaling roughly linear in rows.

Usage: python tools/scale_smoke.py [n_rows]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from akumuli_spark.query.engine import execute_query  # noqa: E402
from akumuli_spark.session import get_spark  # noqa: E402

NS = 10**9
T0 = 1_700_000_000 * NS


def synthetic_metrics(spark, n_rows: int, n_series: int = 1000):
    """Deterministic generated frame: 4 metrics × 250 hosts, value = i%1e4,
    10ms cadence — reference-generator style at scale."""
    host = (F.col("id") % (n_series // 4)).cast("string")
    metric = F.element_at(
        F.array(*[F.lit(m) for m in ("cpu.user", "cpu.syst", "mem.res", "net.rx")]),
        ((F.col("id") % 4) + 1).cast("int"),
    )
    return spark.range(n_rows).select(
        F.concat(metric, F.lit(" host="), host).alias("series"),
        metric.alias("metric"),
        F.create_map(F.lit("host"), host).alias("tags"),
        (F.lit(T0) + F.col("id") * F.lit(10_000_000)).alias("ts_ns"),
        (F.col("id") % 10_000).cast("double").alias("value"),
    )


def synthetic_docs(spark, n_docs: int):
    """Deterministic corpus: ~24-word docs drawn from a 1000-word pool by
    arithmetic on the doc id; every 1000th doc is near-duplicated (same
    prefix, one word changed) so the dedup passes have planted positives
    to find — generator-style, no driver-side data."""
    base = spark.range(n_docs)
    # murmur3 hash of (id, j) → no cross-doc structure: accidental 5-gram
    # collisions are vanishingly rare over a 50k vocabulary
    word = "concat('w', CAST(abs(hash(id, j)) % 50000 AS STRING))"
    words = F.expr(
        f"array_join(transform(sequence(0, 23), j -> {word}), ' ')"
    )
    orig = base.select(F.col("id").alias("doc_id"), words.alias("text"))
    # near-dup copies: doc_id offset by n_docs, last word swapped
    dup = (
        base.filter(F.col("id") % 1000 == 0)
        .select(
            (F.col("id") + F.lit(n_docs)).alias("doc_id"),
            F.concat(
                F.expr(
                    f"array_join(transform(sequence(0, 22), j -> {word}), ' ')"
                ),
                F.lit(" wX"),
            ).alias("text"),
        )
    )
    return orig.unionByName(dup)


def dedup_smoke(spark, n_docs: int) -> dict:
    """MinHash-LSH and SimHash over n_docs synthetic documents: evidences
    the candidate-join scaling claims (banding/pigeonhole equi-joins —
    never all-pairs) at volumes far beyond the driver testdata."""
    from akumuli_spark.pipeline import dedup

    docs = synthetic_docs(spark, n_docs)
    out = {}
    t = time.time()
    n_pairs = dedup.minhash_lsh_pairs(docs, n=5, threshold=0.5).count()
    out["minhash_lsh"] = {"sec": round(time.time() - t, 2), "pairs": n_pairs}
    t = time.time()
    n_pairs = dedup.simhash_pairs(docs, n=3, max_hamming=3).count()
    out["simhash"] = {"sec": round(time.time() - t, 2), "pairs": n_pairs}
    # components over the MinHash pair list: evidences that the iterative
    # min-label/pointer-jumping loop converges in a handful of distributed
    # rounds with O(nodes) state (planted graph: 2-node clusters)
    from akumuli_spark.pipeline import cluster

    t = time.time()
    pairs = dedup.minhash_lsh_pairs(docs, n=5, threshold=0.5)
    comp = cluster.connected_components(
        docs.select(F.col("doc_id").alias("id")), pairs
    )
    n_clustered = comp.filter(F.col("comp") != F.col("id")).count()
    out["components"] = {"sec": round(time.time() - t, 2),
                         "non_canonical": n_clustered}
    return out


def pack_smoke(spark, n_docs: int) -> dict:
    """Sequence packing under realistic stratum skew (90% of docs in one
    'en' stratum, the rest over 9 small strata): n_shards=1 pays the
    classic straggler — one pandas task packs the whole 0.9·n_docs
    stratum — while n_shards=32 bounds per-task work at ~|stratum|/32.
    The wall-clock gap IS the straggler evidence (same rows, same
    packing algorithm, only the stream grouping changes)."""
    from akumuli_spark.pipeline.cluster import pack_sequences

    lang = F.when(F.col("id") % 10 < 9, F.lit("en")).otherwise(
        F.concat(F.lit("l"), (F.col("id") % 10).cast("string"))
    )
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        lang.alias("lang"),
        F.expr("repeat('w ', 1 + CAST(id % 97 AS INT))").alias("text"),
    )
    out = {}
    for shards in (1, 32):
        t = time.time()
        pack_sequences(docs, budget=256, n_shards=shards).write.format(
            "noop"
        ).mode("overwrite").save()
        out[f"shards_{shards}_s"] = round(time.time() - t, 2)
    # AUTO default: the big 'en' stratum exceeds AUTO_SHARD_ROWS, so the
    # naive call must route itself to the sharded shape — timing should
    # track shards_32, not shards_1 (the straggler)
    t = time.time()
    auto = pack_sequences(docs, budget=256)
    auto.write.format("noop").mode("overwrite").save()
    out["shards_auto_s"] = round(time.time() - t, 2)
    out["auto_n_shards"] = (
        auto.agg(F.max("shard")).collect()[0][0] + 1
    )
    return out


def anomaly_sketch_smoke(spark, n_series: int = 2000,
                         n_steps: int = 500) -> dict:
    """Counting-sketch anomaly detection over n_series × n_steps regular
    frames (the heaviest audited plan: the sketch grid is steps × N × 2^bits
    cells, independent of series count — the point of the approximation).
    Values are a deterministic small-period signal with spikes planted on
    every 97th series at step 400; the smoke evidences the 12-shuffle grid
    plan completing at frame populations far beyond the driver testdata."""
    from akumuli_spark.query.engine import execute_query

    sid = F.col("id") % n_series
    step = (F.col("id") / n_series).cast("long")
    spike = F.when(
        (step == 400) & (sid % 97 == 0), F.lit(50.0)
    ).otherwise(F.lit(0.0))
    frame = spark.range(n_series * n_steps).select(
        F.concat(F.lit("sig host="), sid.cast("string")).alias("series"),
        F.lit("sig").alias("metric"),
        F.create_map(F.lit("host"), sid.cast("string")).alias("tags"),
        (F.lit(T0) + step * F.lit(NS)).alias("ts_ns"),
        # constant per series ⇒ post-warm-up EWMA error ≈ 0 everywhere
        # except the planted spike step, which must be the detection
        ((sid % 5) + spike).cast("double").alias("value"),
    )
    q = {
        "select": "sig",
        "range": {"from": T0, "to": T0 + n_steps * NS},
        "apply": [{"name": "anomaly-detector", "method": "ewma",
                   "alpha": 0.4, "threshold": 0.35, "approx": True,
                   "bits": 8, "hashes": 3}],
    }
    t = time.time()
    n_anomalies = execute_query(spark, q, frame).count()
    return {
        "rows": n_series * n_steps,
        "grid_cells": n_steps * 3 * 256,
        "n_anomalies": n_anomalies,
        "sec": round(time.time() - t, 2),
    }


def spacesaver_smoke(spark, n_rows: int = 10_000_000,
                     chunks: int = 32) -> dict:
    """ε-bounded SpaceSaving sketch over n_rows samples with a skewed
    series distribution (sqrt-concentrated over 32 series: the top code
    carries ~6% of the stream, the bottom codes a sliver) — the shape the
    sketch exists for, with M = ⌈1/0.05⌉ = 20 < 32 series so evictions
    genuinely occur.  merge-chunks slices bound per-task state at M
    counters and per-task rows at ~n_rows/chunks; the smoke evidences the
    chunk fold + commutative merge completing at 10M samples with the
    heavy series reported."""
    from akumuli_spark.query.engine import execute_query

    # skewed series: sqrt of a uniform id concentrates mass at high k
    k = (F.floor(F.sqrt(F.col("id") % 4096) / 2)).cast("long")
    frame = spark.range(n_rows).select(
        F.concat(F.lit("evt code="), k.cast("string")).alias("series"),
        F.lit("evt").alias("metric"),
        F.create_map(F.lit("code"), k.cast("string")).alias("tags"),
        (F.lit(T0) + F.col("id") * F.lit(1_000_000)).alias("ts_ns"),
        F.lit(1.0).alias("value"),
    )
    q = {
        "select": "evt",
        "range": {"from": T0, "to": T0 + n_rows * 1_000_000},
        "apply": [{"name": "frequent-items", "error": 0.05, "portion": 0.04,
                   "approx": True, "merge-chunks": chunks}],
    }
    t = time.time()
    rows = execute_query(spark, q, frame).collect()
    return {
        "rows": n_rows,
        "chunks": chunks,
        "M": 20,
        "reported": len(rows),
        "top": [(r["series"], r["value"]) for r in rows[:3]],
        "sec": round(time.time() - t, 2),
    }


def text_smoke(spark, n_docs: int) -> dict:
    """corpus_report and repetition_signals over n_docs synthetic ~24-word
    documents.  Both are single-projection shapes (corpus_report adds one
    languages × 11-decile aggregation), so wall-clock should track the
    tokenize scan, not the operator — the 100 TB claim those entries
    make.  ``tokenize_scan_s`` is the scan-bound floor measured on the
    same generated frame: a bare split+size projection."""
    from akumuli_spark.pipeline import text as _text

    docs = synthetic_docs(spark, n_docs)
    out = {}
    t = time.time()
    docs.select(
        F.size(F.split(F.col("text"), " ")).alias("n")
    ).write.format("noop").mode("overwrite").save()
    out["tokenize_scan_s"] = round(time.time() - t, 2)
    t = time.time()
    _text.repetition_signals(docs).write.format("noop").mode(
        "overwrite"
    ).save()
    out["repetition_signals_s"] = round(time.time() - t, 2)
    t = time.time()
    rows = _text.corpus_report(docs).collect()  # languages × deciles rows
    out["corpus_report_s"] = round(time.time() - t, 2)
    out["report_rows"] = len(rows)
    # end-to-end slice: adds the fingerprint-window dedup shuffle on top
    # of the same single-scan features (synthetic docs have no stopwords,
    # so quality ≈ 0.5·uniq + 0.3·len-term — threshold 0.3 gates for real)
    t = time.time()
    n_kept = _text.curate_corpus(
        docs, min_quality=0.3, langs=tuple(sorted(_text.LANG_MARKERS)),
        rates=dict.fromkeys(_text.LANG_MARKERS, 0.5),
    ).count()
    out["curate_corpus_s"] = round(time.time() - t, 2)
    out["curated_docs"] = n_kept
    # bigram-LM perplexity: ~23 bigram instances per doc join the count
    # tables on token keys — the heaviest text op; the point proven is
    # that it stays join-bound (no blowup beyond the ×n_bigrams explode)
    t = time.time()
    _text.perplexity_scores(docs).write.format("noop").mode(
        "overwrite"
    ).save()
    out["perplexity_s"] = round(time.time() - t, 2)
    # BPE pair counts run over the DISTINCT-word table (tiny here: the
    # synthetic pool has 1000 words) — the |vocab|-not-|corpus| claim
    t = time.time()
    _text.bpe_pair_counts(docs).collect()
    out["bpe_pairs_s"] = round(time.time() - t, 2)
    # hashed-classifier gate: two md5 evaluations per token, zero
    # shuffles — should sit a small constant factor over the bare scan
    t = time.time()
    _text.classifier_score(docs).write.format("noop").mode(
        "overwrite"
    ).save()
    out["classifier_score_s"] = round(time.time() - t, 2)
    return out


def curation_smoke(spark, n_docs: int, span_docs: int | None = None) -> dict:
    """Round-7 curation operators at volume over the synthetic corpus.

    pii_scrub and vocab_topk should track the tokenize scan
    (projection / two-phase agg); corpus_shuffle adds one hash shuffle +
    per-shard sort; duplicated_span_coverage is the heavy one (positioned
    n-gram explode ≈ 20 rows/doc + three keyed shuffles) and runs at
    ``span_docs`` (default n_docs/10) with the planted near-dup pairs as
    ground truth that the join actually fires."""
    from akumuli_spark.pipeline import cluster as _cluster
    from akumuli_spark.pipeline import dedup as _dedup
    from akumuli_spark.pipeline import pii as _pii
    from akumuli_spark.pipeline import text as _text

    docs = synthetic_docs(spark, n_docs)
    out = {}
    t = time.time()
    docs.select(
        F.size(F.split(F.col("text"), " ")).alias("n")
    ).write.format("noop").mode("overwrite").save()
    out["tokenize_scan_s"] = round(time.time() - t, 2)

    t = time.time()
    _pii.pii_scrub(_pii.synth_pii_text(docs)).write.format("noop").mode(
        "overwrite"
    ).save()
    out["pii_scrub_s"] = round(time.time() - t, 2)

    t = time.time()
    _cluster.deterministic_shuffle(docs, n_shards=64).write.format(
        "noop"
    ).mode("overwrite").save()
    out["corpus_shuffle_s"] = round(time.time() - t, 2)

    t = time.time()
    vocab = _text.vocab_topk(docs, k=100).collect()
    out["vocab_topk_s"] = round(time.time() - t, 2)
    out["vocab_rows"] = len(vocab)

    sd = span_docs if span_docs is not None else max(n_docs // 10, 1)
    span_corpus = synthetic_docs(spark, sd)
    t = time.time()
    flagged = (
        _dedup.duplicated_span_coverage(span_corpus, n=5)
        .filter(F.col("n_cov") > 0).count()
    )
    out["span_docs"] = sd
    out["dup_span_coverage_s"] = round(time.time() - t, 2)
    # every planted near-dup (1/1000 docs) shares a 23-token prefix with
    # its original: both sides must be flagged
    out["span_flagged"] = flagged
    out["span_planted_min"] = 2 * (sd // 1000)
    return out


def r8_curation_smoke(spark, n_docs: int, tmp: str) -> dict:
    """Round-8 additions at volume (VERDICT r8 Next #8): fuzzy MinHash
    decontamination (benchmark = the planted near-dup copies, so every
    benchmark doc has a true corpus near-match to flag), the chained
    Gopher-gate → paragraph-dedup curation shape, and the JSONL shard
    export with the read-back manifest re-derive as the end-to-end
    integrity check."""
    import os

    from akumuli_spark.pipeline import cluster as _cluster
    from akumuli_spark.pipeline import dedup as _dedup
    from akumuli_spark.pipeline import quality as _quality

    docs = synthetic_docs(spark, n_docs)
    out = {}

    corpus = docs.filter(F.col("doc_id") < n_docs)
    bench = docs.filter(F.col("doc_id") >= n_docs)  # n_docs/1000 near-dups
    t = time.time()
    flagged = _dedup.fuzzy_decontaminate(
        corpus, bench, n=5, threshold=0.5
    ).count()
    out["fuzzy_decontaminate_s"] = round(time.time() - t, 2)
    out["fuzzy_flagged"] = flagged
    # each bench doc has exactly one planted corpus near-match; banded
    # MinHash recall is probabilistic (~0.97 measured at 200k), so
    # flagged tracks — not equals — the planted count
    out["fuzzy_planted"] = n_docs // 1000

    t = time.time()
    flags = _quality.gopher_quality_flags(docs)
    gated = docs.join(
        flags.filter(F.col("n_words") >= 10).select("doc_id"), "doc_id"
    )
    _quality.dedup_paragraphs(
        _quality.with_word_chunk_lines(gated, 2)
    ).write.format("noop").mode("overwrite").save()
    out["curate_gopher_paragraphs_s"] = round(time.time() - t, 2)

    exp = os.path.join(tmp, "export")
    t = time.time()
    _cluster.export_jsonl_shards(corpus, exp, n_shards=64)
    out["export_write_s"] = round(time.time() - t, 2)
    t = time.time()
    back = spark.read.json(f"{exp}/data").select("doc_id", "text")
    rederived = sorted(
        map(tuple, _cluster.export_manifest(back, 64).collect())
    )
    stored = sorted(map(tuple, spark.read.parquet(
        f"{exp}/_manifest").collect()))
    out["manifest_rederive_s"] = round(time.time() - t, 2)
    out["manifest_ok"] = rederived == stored
    return out


def substring_smoke(spark, n_docs: int) -> dict:
    """True-span substring dedup at volume: every planted near-dup pair
    (1/1000 docs) shares exactly a 23-token prefix, so substring_spans
    (n=5, min_len=15) must find exactly one span of length 23 per pair —
    the planted count is exact ground truth, not a lower bound.  Scrub
    timing shows the removal stage's O(duplicated tokens) increment on
    top of the shared anchor-join path."""
    from akumuli_spark.pipeline import dedup as _dedup

    docs = synthetic_docs(spark, n_docs)
    out = {}
    t = time.time()
    spans = _dedup.substring_spans(docs, n=5, min_len=15).collect()
    out["spans_s"] = round(time.time() - t, 2)
    out["spans_found"] = len(spans)
    out["spans_planted"] = n_docs // 1000
    out["spans_len23"] = sum(1 for r in spans if r["length"] == 23)
    t = time.time()
    _dedup.scrub_substring_spans(docs, n=5, min_len=15).write.format(
        "noop"
    ).mode("overwrite").save()
    out["scrub_s"] = round(time.time() - t, 2)
    return out


def synthetic_embeddings(spark, n_vecs: int, dim: int = 64):
    """Deterministic embedding corpus: components from murmur3 hashes
    scaled to [-1, 1] — hash-random directions, no driver data."""
    comp = (
        "CAST(hash(id, j) % 1000 AS DOUBLE) / 1000.0"
    )
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> CAST({comp} AS FLOAT))"
        ).alias("embedding"),
    )


def ivf_smoke(spark, n_vecs: int, nlist: int = 256, nprobe: int = 8) -> dict:
    """Persisted-IVF serving shape at volume: index build (assignment +
    partitioned write) once, then probes against the stored lists.
    ``probe_part_frac`` is the fraction of list partitions a probe scan
    touches — the partition-pruning proof at scale."""
    import shutil
    import tempfile
    import glob

    from akumuli_spark.pipeline import similarity as sim

    embs = synthetic_embeddings(spark, n_vecs)
    path = os.path.join(tempfile.gettempdir(), "akumuli_ivf_smoke")
    shutil.rmtree(path, ignore_errors=True)
    out = {}
    t = time.time()
    cents = sim.ivf_kmeans_centroids(embs, nlist=nlist, max_iter=3)
    out["kmeans_codebook_s"] = round(time.time() - t, 2)
    t = time.time()
    sim.build_ivf_index(embs, path, nlist=nlist, centroids=cents,
                        vectorized=True)
    out["index_build_s"] = round(time.time() - t, 2)
    out["n_list_partitions"] = len(glob.glob(f"{path}/lists/list_id=*"))
    t = time.time()
    res = sim.ivf_topk_from_index(
        spark, path, query_ids=[0, 1, 2, 3, 4], k=10, nprobe=nprobe
    )
    n = res.count()
    out["probe_s"] = round(time.time() - t, 2)
    out["result_rows"] = n
    out["probe_part_frac"] = round(
        5 * nprobe / max(out["n_list_partitions"], 1), 3
    )
    shutil.rmtree(path, ignore_errors=True)
    return out


def ivf_append_smoke(spark, n_vecs: int, n_append: int,
                     nlist: int = 256, nprobe: int = 8) -> dict:
    """Incremental-growth shape at volume: build the index over
    ``n_vecs``, append ``n_append`` new vectors against the frozen
    codebook (no rebuild), and show the append cost scales with the
    appended rows, not the corpus — plus probe-over-grown-index timing.
    VERDICT r7 Next #7's 2M + 200k smoke."""
    import glob
    import shutil
    import tempfile

    from akumuli_spark.pipeline import similarity as sim

    embs = synthetic_embeddings(spark, n_vecs + n_append)
    initial = embs.filter(F.col("vec_id") < n_vecs)
    growth = embs.filter(F.col("vec_id") >= n_vecs)
    path = os.path.join(tempfile.gettempdir(), "akumuli_ivf_append_smoke")
    shutil.rmtree(path, ignore_errors=True)
    out = {}
    t = time.time()
    cents = sim.ivf_kmeans_centroids(initial, nlist=nlist, max_iter=3)
    out["kmeans_codebook_s"] = round(time.time() - t, 2)
    t = time.time()
    sim.build_ivf_index(initial, path, nlist=nlist, centroids=cents,
                        vectorized=True)
    out["index_build_s"] = round(time.time() - t, 2)
    t = time.time()
    sim.append_ivf_index(growth, path, vectorized=True)
    out["append_s"] = round(time.time() - t, 2)
    out["n_list_partitions"] = len(glob.glob(f"{path}/lists/list_id=*"))
    t = time.time()
    res = sim.ivf_topk_from_index(
        spark, path, query_ids=[0, 1, n_vecs, n_vecs + 1], k=10,
        nprobe=nprobe,
    )
    out["result_rows"] = res.count()
    out["probe_s"] = round(time.time() - t, 2)
    # appended ids must be findable: every query (old and new) gets k
    out["appended_served"] = res.filter(
        F.col("query_id") >= n_vecs
    ).count()
    shutil.rmtree(path, ignore_errors=True)
    return out


def groupsets_smoke(spark, n_rows: int) -> dict:
    """Grouping-sets rollup vs union-of-levels: the same three-level
    aggregate (finest, per-metric, grand total) as ONE Catalyst ROLLUP
    pass vs three separate aggregations unioned.

    The input is MATERIALIZED parquet, not a generator: the tradeoff is
    Expand (rollup multiplies pre-shuffle rows ×levels — map CPU) vs
    re-scanning the source ×levels (union — IO).  Over a free
    spark.range the union path wins (measured 3.1 s vs 6.1 s at 100 M);
    over real storage the scan cost shifts the balance toward one-pass —
    this smoke measures the storage-backed case, and
    operators/groupsets.py documents both regimes."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    path = os.path.join(tempfile.gettempdir(), "akumuli_groupsets_smoke")
    shutil.rmtree(path, ignore_errors=True)
    spark.range(n_rows).select(
        F.concat(F.lit("m"), (F.col("id") % 7).cast("string")).alias("metric"),
        (F.col("id") % 97).cast("string").alias("tag_val"),
        (F.col("id") % 1001).cast("double").alias("value"),
    ).write.parquet(path)
    m = spark.read.parquet(path)
    aggs = [F.count("*").alias("count"), F.sum("value").alias("sum"),
            F.min("value").alias("min"), F.max("value").alias("max")]
    out = {}
    t = time.time()
    n1 = m.rollup("metric", "tag_val").agg(*aggs).count()
    out["rollup_onepass_s"] = round(time.time() - t, 2)
    t = time.time()
    n2 = (
        m.groupBy("metric", "tag_val").agg(*aggs)
        .unionByName(m.groupBy("metric").agg(*aggs)
                     .withColumn("tag_val", F.lit(None).cast("string")))
        .unionByName(m.groupBy().agg(*aggs)
                     .withColumn("metric", F.lit(None).cast("string"))
                     .withColumn("tag_val", F.lit(None).cast("string")))
        .count()
    )
    out["union_of_levels_s"] = round(time.time() - t, 2)
    out["rows"] = n1
    assert n1 == n2
    shutil.rmtree(path, ignore_errors=True)
    return out


def bpe_smoke(spark, n_docs: int, n_merges: int = 5) -> dict:
    """BPE training at corpus volume: the corpus (10 M × ~24-word docs,
    ~50 k distinct words) is scanned once into the checkpointed vocab
    table; each merge round is then two hash aggs over |vocab| rows —
    per-round cost must be corpus-size-independent."""
    from akumuli_spark.pipeline import text as t

    docs = synthetic_docs(spark, n_docs)
    out = {}
    start = time.time()
    merges = t.bpe_train(docs, n_merges=n_merges).collect()
    out["train_total_s"] = round(time.time() - start, 2)
    out["n_merges"] = len(merges)
    out["top_merge"] = f"{merges[0][1]}+{merges[0][2]}@{merges[0][3]}"
    return out


def bpe_cadence_smoke(spark, n_docs: int, exact_merges: int = 100,
                      batched_merges: int = 1024,
                      batch: int = 64) -> dict:
    """The production-merge-count cadence figures (VERDICT r10 Next #6):
    greedy BPE is one Spark round per merge, so once the vocab table is
    checkpointed the per-ROUND floor (~2 jobs) dominates, not data
    size.  Measures (a) the exact trainer's s/merge over
    ``exact_merges`` rounds and (b) the batched trainer
    (``bpe_train_batched``: top-``batch`` collect, non-interacting
    prefix applied per round) reaching ``batched_merges`` merges — the
    documented path to a ~32 k-merge tokenizer."""
    from akumuli_spark.pipeline import text as t

    docs = synthetic_docs(spark, n_docs)
    out = {}
    start = time.time()
    exact = t.bpe_train(docs, n_merges=exact_merges).collect()
    dt = time.time() - start
    out["exact_merges"] = len(exact)
    out["exact_total_s"] = round(dt, 2)
    out["exact_s_per_merge"] = round(dt / max(len(exact), 1), 4)
    start = time.time()
    batched = t.bpe_train_batched(
        docs, n_merges=batched_merges, batch=batch).collect()
    dt = time.time() - start
    out["batched_merges"] = len(batched)
    out["batch"] = batch
    out["batched_total_s"] = round(dt, 2)
    out["batched_s_per_merge"] = round(dt / max(len(batched), 1), 4)
    # the two trainers must agree on the very first merge (same corpus,
    # same round-1 counts)
    out["first_merge_agrees"] = tuple(exact[0]) == tuple(batched[0])
    return out


def ivf_batch_smoke(spark, n_vecs: int, n_queries: int,
                    nlist: int = 256, nprobe: int = 8) -> dict:
    """Batch-serving (cross-corpus retrieval) shape at volume: a
    query DATAFRAME of ``n_queries`` vectors joined against the IVF
    lists of an ``n_vecs`` corpus — the ivf_topk_batch(vectorized=True)
    per-list matmul kernel; candidate pairs never materialize as rows."""
    from akumuli_spark.pipeline import similarity as sim

    both = synthetic_embeddings(spark, n_vecs + n_queries)
    corpus = both.filter(F.col("vec_id") < n_vecs)
    queries = both.filter(F.col("vec_id") >= n_vecs).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = {}
    t = time.time()
    cents = sim.ivf_kmeans_centroids(corpus, nlist=nlist, max_iter=3)
    out["kmeans_codebook_s"] = round(time.time() - t, 2)
    t = time.time()
    res = sim.ivf_topk_batch(corpus, queries, k=10, nprobe=nprobe,
                             centroids=cents, vectorized=True)
    out["result_rows"] = res.count()
    out["batch_serve_s"] = round(time.time() - t, 2)
    out["rows_per_query"] = round(out["result_rows"] / n_queries, 2)
    return out


def multimodal_smoke(spark, n_docs: int) -> dict:
    """Binary decode throughput at volume: synthesize genuine JFIF
    payloads for n_docs docs, then run the mapInPandas decode stage.
    ``synth_only_s`` is the payload-construction floor (same Python
    per-row work minus the parser), so decode cost ≈ the difference —
    the number that scales with corpus size at 100 TB."""
    from pyspark.sql import functions as F  # noqa: F811

    from akumuli_spark.pipeline import multimodal as mm

    docs = synthetic_docs(spark, n_docs)
    out = {}
    t = time.time()
    mm.synth_jpeg_payloads(docs).write.format("noop").mode(
        "overwrite"
    ).save()
    out["synth_only_s"] = round(time.time() - t, 2)
    t = time.time()
    decoded = mm.decode_metadata(mm.synth_jpeg_payloads(docs))
    n_jpeg = decoded.filter(F.col("format") == "jpeg").count()
    out["synth_plus_decode_s"] = round(time.time() - t, 2)
    out["jpeg_decoded"] = n_jpeg
    # perceptual-hash throughput at volume: the mapInPandas dHash scan
    # plus the exact-dup group structure (groupBy dhash — the linear
    # part of dedup).  The PAIR join is deliberately not timed here:
    # the synthetic generator derives pixels from text LENGTH, so
    # same-length docs are bit-identical images and the pair set is
    # quadratically degenerate in a way real image corpora are not —
    # the group histogram below shows exactly that degeneracy.
    t = time.time()
    sig = mm.image_dhash(mm.synth_bmp_payloads(docs)).filter(
        F.col("dhash").isNotNull()
    )
    groups = sig.groupBy("dhash").count()
    stats = groups.agg(
        F.count("*").alias("n_groups"), F.max("count").alias("max_group")
    ).collect()[0]
    out["image_dhash_s"] = round(time.time() - t, 2)
    out["image_hash_groups"] = stats["n_groups"]
    out["image_max_group"] = stats["max_group"]
    # per-format decode/fallback histogram over a realistic MIXED
    # corpus (pixel BMP/PNG, sequential + progressive JPEG, WAV, and —
    # r14 — LZW GIF): the committed stub-fraction evidence — how much
    # of the corpus the real decoders cover vs what degrades to
    # NULL-hash fallback (VERDICT r12 Missing #2 / r13 Missing #3)
    t = time.time()
    synths = [mm.synth_bmp_pixel_payloads, mm.synth_png_pixel_payloads,
              mm.synth_jpeg_pixel_payloads,
              mm.synth_jpeg_progressive_pixel_payloads,
              mm.synth_wav_payloads, mm.synth_gif_pixel_payloads]
    pay = None
    for i, synth in enumerate(synths):
        part = synth(docs.filter(F.col("doc_id") % len(synths) == i))
        pay = part if pay is None else pay.unionByName(part)
    report = {r.format: {"images": r.images, "decoded": r.decoded,
                         "fallback": r.fallback}
              for r in mm.image_decode_report(pay).collect()}
    out["decode_report_s"] = round(time.time() - t, 2)
    out["decode_formats"] = report
    total = sum(v["images"] for v in report.values()) or 1
    out["decode_fallback_share"] = round(
        sum(v["fallback"] for v in report.values()) / total, 4)
    return out


def asof_smoke(spark, n_rows: int = 10_000_000, n_series: int = 8) -> dict:
    """As-of join at 10M samples with deliberately FEW tagsets (n_series=8
    → 2 host tagsets) — the worst case for the textbook per-tagset carry
    window.  chunk_ns = whole-span reproduces that serialized shape; the
    10-minute chunking restores tagsets × chunks parallelism.  Outputs are
    identical by construction (chunk invariance is pytest-pinned), so the
    delta is pure straggler removal."""
    from akumuli_spark.operators.asof import asof_join

    m = synthetic_metrics(spark, n_rows, n_series=n_series)
    end = T0 + n_rows * 10_000_000
    out = {}
    for label, chunk in (("one_chunk", end - T0), ("chunks_10min", 600 * NS)):
        t = time.time()
        n = asof_join(m, "cpu.user", "cpu.syst", T0, end, chunk_ns=chunk).count()
        out[label] = {"rows": n, "s": round(time.time() - t, 2)}
    return out


def semdedup_smoke(spark, n_vecs: int = 500_000, nlist: int | None = None,
                   dup_frac: int = 100) -> dict:
    """SemDeDup at volume: every ``dup_frac``-th vector is a planted
    near-copy of its predecessor (0.999/0.001 blend → cosine ≈ 1), the
    rest are hash-random directions.  ``nlist`` defaults to n_vecs/200
    so mean cluster size stays ~200 — the knob that bounds the Σcluster²
    pair stage (the paper's 10⁵ clusters at web scale is the same rule).
    Reports recall over the planted pairs: a planted copy is found iff
    both ends land in one cluster, so this also measures assignment
    stability under the vectorized (numpy-argmax) path."""
    from akumuli_spark.pipeline.dedup import semantic_dedup

    nlist = nlist or max(16, n_vecs // 200)
    base = synthetic_embeddings(spark, n_vecs)
    planted = (
        "transform(sequence(0, 63), j -> CAST("
        "0.999 * (CAST(hash(vec_id - 1, j) % 1000 AS DOUBLE) / 1000.0)"
        " + 0.001 * (CAST(hash(vec_id, j) % 1000 AS DOUBLE) / 1000.0)"
        " AS FLOAT))"
    )
    embs = base.withColumn(
        "embedding",
        F.when(
            (F.col("vec_id") % dup_frac == 1) & (F.col("vec_id") > 0),
            F.expr(planted),
        ).otherwise(F.col("embedding")),
    )
    out = {"nlist": nlist}
    t = time.time()
    res = semantic_dedup(embs, nlist=nlist, threshold=0.9, vectorized=True)
    pruned = res.filter("pruned = 1")
    n_pruned = pruned.count()
    out["semdedup_s"] = round(time.time() - t, 2)
    out["n_pruned"] = n_pruned
    planted_ids = embs.filter(
        (F.col("vec_id") % dup_frac == 1) & (F.col("vec_id") > 0)
    ).select("vec_id")
    n_planted = planted_ids.count()
    hit = pruned.join(planted_ids, "vec_id").count()
    out["planted"] = n_planted
    out["planted_pruned"] = hit
    out["recall"] = round(hit / max(n_planted, 1), 4)
    return out


def quota_smoke(spark, n_docs: int = 10_000_000, quota: int = 1000) -> dict:
    """Quota sampling under the same 90%-hot-stratum skew as pack_smoke:
    n_salts=1 is the textbook single-window-per-stratum plan (one task
    ranks the whole 0.9·n_docs stratum), n_salts=32 is the two-phase
    salted top-k.  Outputs are identical by construction (salt
    invariance is pytest-pinned), so the wall-clock gap is pure
    straggler removal."""
    from akumuli_spark.pipeline.cluster import quota_sample

    lang = F.when(F.col("id") % 10 < 9, F.lit("en")).otherwise(
        F.concat(F.lit("l"), (F.col("id") % 10).cast("string"))
    )
    # short docs on purpose: the tokenize/quality scan is embarrassingly
    # parallel and identical in both plans — keeping it cheap makes the
    # wall-clock delta isolate the WINDOW's straggler, which is the
    # thing under test
    word = "concat('w', CAST(abs(hash(id, j)) % 5000 AS STRING))"
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        lang.alias("lang"),
        F.expr(
            f"array_join(transform(sequence(0, 3), j -> {word}), ' ')"
        ).alias("text"),
    )
    quotas = {"en": quota, "l9": quota}
    out = {}
    for n_salts in (1, 32):
        t = time.time()
        quota_sample(docs, quotas, n_salts=n_salts).write.format(
            "noop"
        ).mode("overwrite").save()
        out[f"salts_{n_salts}_s"] = round(time.time() - t, 2)
    return out


def hll_smoke(spark, n_rows: int) -> dict:
    """HLL vs exact count-distinct over n_rows values (~n_rows/2 distinct
    after the modulus), grouped into 8 groups — the distinct-user-count
    shape.  The claim: HLL shuffles ≤ m register rows per group per
    partition while exact shuffles every distinct key; wall-clock and
    the observed relative error are both reported."""
    from akumuli_spark.operators.distinct import approx_distinct

    half = n_rows // 2
    vals = spark.range(n_rows).select(
        (F.col("id") % 8).cast("string").alias("g"),
        F.concat(F.lit("u"), (F.col("id") % half)).alias("v"),
    )
    out = {}
    t = time.time()
    hll = {
        r["g"]: r["approx_distinct"]
        for r in approx_distinct(vals, "v", ("g",), b=12).collect()
    }
    out["hll_b12_s"] = round(time.time() - t, 2)
    t = time.time()
    exact = {
        r["g"]: r["n"]
        for r in vals.groupBy("g")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    }
    out["exact_s"] = round(time.time() - t, 2)
    out["max_rel_err"] = round(
        max(abs(hll[g] - exact[g]) / exact[g] for g in exact), 4
    )
    return out


def interval_smoke(spark, n_samples: int, n_intervals: int) -> dict:
    """Bucketized interval join at scale: n_samples over a 10⁷-bucket
    timeline × n_intervals windows of ~3-bucket span, vs the naive
    inequality join (broadcast-nested-loop) at 1% size — the quadratic
    shape the bucketization replaces."""
    from akumuli_spark.operators.interval import interval_join

    bn = 1000
    samples = spark.range(n_samples).select(
        (F.col("id") * 997 % (10_000_000 * bn)).alias("ts_ns"),
        F.col("id").cast("double").alias("value"),
    )
    iv = spark.range(n_intervals).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * 99_991 % (10_000_000 * bn)).alias("start_ns"),
    ).withColumn("end_ns", F.col("start_ns") + (F.col("interval_id") % 3000) + 1)
    out = {}
    t = time.time()
    n_pairs = interval_join(samples, iv, bn).count()
    out["bucketized_s"] = round(time.time() - t, 2)
    out["n_pairs"] = n_pairs
    small_s = samples.limit(n_samples // 100)
    small_i = iv.limit(n_intervals // 100)
    t = time.time()
    naive = small_s.join(
        F.broadcast(small_i),
        (F.col("ts_ns") >= F.col("start_ns")) & (F.col("ts_ns") < F.col("end_ns")),
    ).count()
    out["naive_1pct_s"] = round(time.time() - t, 2)
    t = time.time()
    buck = interval_join(small_s, small_i, bn).count()
    out["bucketized_1pct_s"] = round(time.time() - t, 2)
    assert naive == buck, (naive, buck)
    return out


def qsketch_smoke(spark, n_rows: int) -> dict:
    """Log-histogram quantile sketch vs exact percentile at n_rows
    skewed (lognormal-ish) doubles in 8 groups: wall-clock and worst
    relative error vs the e^(1/2k)-1 bound."""
    import math

    from akumuli_spark.operators.quantile_sketch import approx_quantiles

    k = 64
    # high-cardinality continuous values (~n_rows distinct doubles over
    # 8 decades): exact percentile must hold each group's value set,
    # the sketch holds ≤ a few hundred bins per group
    vals = spark.range(n_rows).select(
        (F.col("id") % 8).cast("string").alias("g"),
        F.exp(
            (F.abs(F.hash(F.col("id"))) % 10_000_000) / F.lit(500_000.0)
        ).alias("v"),
    )
    out = {}
    t = time.time()
    sk = {
        (r["g"], r["q"]): r["est"]
        for r in approx_quantiles(vals, "v", [0.5, 0.99], ("g",), k=k).collect()
    }
    out["sketch_s"] = round(time.time() - t, 2)
    # exact must materialize each group's full value multiset in one
    # task; at ~12.5 M distinct doubles per group this is where it
    # starts GC-thrashing — report the failure honestly if it dies
    t = time.time()
    try:
        ex = {
            (r["g"], r["q"]): r["e"]
            for r in vals.groupBy("g")
            .agg(F.explode(F.expr(
                "map_from_arrays(array(0.5D, 0.99D), "
                "percentile(v, array(0.5D, 0.99D)))"
            )).alias("q", "e"))
            .collect()
        }
        out["exact_s"] = round(time.time() - t, 2)
        out["max_rel_err"] = round(
            max(abs(sk[kq] - ex[kq]) / abs(ex[kq]) for kq in ex), 5
        )
    except Exception as e:  # Py4J wraps the executor OOM/GC failure
        out["exact_s"] = None
        out["exact_error"] = type(e).__name__
    out["bound"] = round(math.exp(1.0 / (2 * k)) - 1.0, 5)
    return out


def dsir_smoke(spark, n_docs: int, tmp: str) -> dict:
    """DSIR + TF-IDF at corpus scale over the synthetic ~24-word docs.

    DSIR is measured BOTH ways: the one-shot plan (tokenizes twice —
    documented) and the production stored-counts path (materialize
    dsir_feature_counts once, score from parquet).  TF-IDF's heavy
    parts are the term-keyed join and the per-doc window."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from akumuli_spark.pipeline import text as _text

    docs = synthetic_docs(spark, n_docs)
    target = docs.where(F.col("doc_id") % 97 == 0)  # ~1% "eval set"
    out = {}
    t = time.time()
    _text.dsir_logweights(docs, target).write.format("noop").mode(
        "overwrite"
    ).save()
    out["dsir_oneshot_s"] = round(time.time() - t, 2)
    p = os.path.join(tmp, "dsir_db")
    t = time.time()
    _text.dsir_feature_counts(docs).write.mode("overwrite").parquet(p)
    out["dsir_counts_build_s"] = round(time.time() - t, 2)
    t = time.time()
    _text.dsir_logweights_from_counts(
        spark.read.parquet(p), _text.dsir_feature_counts(target)
    ).write.format("noop").mode("overwrite").save()
    out["dsir_from_counts_s"] = round(time.time() - t, 2)
    t = time.time()
    _text.tfidf_topk(docs, k=3).write.format("noop").mode(
        "overwrite"
    ).save()
    out["tfidf_topk_s"] = round(time.time() - t, 2)
    return out


def events_smoke(spark, n_events: int, n_users: int) -> dict:
    """Markov transitions + session sequences at event-stream scale:
    both are one user-keyed window; per-user sequences stay short
    (n_events/n_users), so the window is a local sort after one
    shuffle — the claim being timed."""
    from akumuli_spark.operators import sessions as _sessions

    t0 = 1_700_000_000 * NS
    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        # each user's k-th event 30s apart plus a per-event ms jitter
        F.timestamp_micros(
            ((F.lit(t0) + (F.col("id") / F.lit(n_users)).cast("long")
              * F.lit(30 * NS)
              + (F.col("id") % 1000) * F.lit(1_000_000)) / 1000).cast("long")
        ).alias("ts"),
        (F.col("id") % n_users).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in
                      ("view", "click", "purchase", "error", "signup")]),
            ((F.abs(F.hash(F.col("id"))) % 5) + 1).cast("int"),
        ).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    out = {}
    t = time.time()
    rows = _sessions.event_transitions(ev).collect()  # ≤ 25 rows
    out["transitions_s"] = round(time.time() - t, 2)
    out["transition_rows"] = len(rows)
    t = time.time()
    _sessions.session_sequences(ev, gap_ns=3600 * NS).write.format(
        "noop"
    ).mode("overwrite").save()
    out["session_sequences_s"] = round(time.time() - t, 2)
    return out




def pq_smoke(spark, n_vecs: int, nlist: int = 256, nprobe: int = 4,
             n_queries: int = 200) -> dict:
    """IVFADC at volume: vectorized build (numpy assignment + PQ encode),
    partitioned codes write, batch serving from the stored index.
    ``bytes_ratio`` is codes-table bytes / raw-embedding bytes — the PQ
    memory claim measured, not asserted."""
    import glob
    import shutil
    import tempfile

    from akumuli_spark.pipeline import similarity as sim

    embs = synthetic_embeddings(spark, n_vecs).localCheckpoint()
    path = os.path.join(tempfile.gettempdir(), "akumuli_pq_smoke")
    raw = os.path.join(tempfile.gettempdir(), "akumuli_pq_smoke_raw")
    for d in (path, raw):
        shutil.rmtree(d, ignore_errors=True)
    out = {}
    t = time.time()
    cents = sim.ivf_kmeans_centroids(embs, nlist=nlist, max_iter=3)
    out["kmeans_codebook_s"] = round(time.time() - t, 2)
    t = time.time()
    sim.build_ivfadc_index(embs, path, nlist=nlist, centroids=cents,
                           vectorized=True)
    out["index_build_s"] = round(time.time() - t, 2)
    out["n_list_partitions"] = len(glob.glob(f"{path}/codes/list_id=*"))
    # raw-embedding footprint for the memory-ratio claim
    embs.write.mode("overwrite").parquet(raw)

    def du(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs
        )

    out["codes_mb"] = round(du(f"{path}/codes") / 1e6, 1)
    out["raw_mb"] = round(du(raw) / 1e6, 1)
    out["bytes_ratio"] = round(out["codes_mb"] / max(out["raw_mb"], 0.1), 3)
    queries = embs.filter(F.col("vec_id") < n_queries).select(
        "vec_id", "embedding"
    )
    t = time.time()
    n = sim.ivfadc_topk_from_index(
        spark, path, queries, k=10, nprobe=nprobe
    ).count()
    out["serve_s"] = round(time.time() - t, 2)
    out["result_rows"] = n
    t = time.time()
    sim.ivfadc_topk_from_index(
        spark, path, queries, k=10, nprobe=nprobe, vectorized=True
    ).count()
    out["serve_vectorized_s"] = round(time.time() - t, 2)
    for d in (path, raw):
        shutil.rmtree(d, ignore_errors=True)
    return out


def bloom_smoke(spark, n_keys: int, n_probe: int,
                mbits: int = 1 << 30, k: int = 7) -> dict:
    """Bloom membership gate at volume: build over n_keys fingerprints
    (explode + bit_or groupBy), probe a disjoint batch; FP count is the
    designed-rate check at scale."""
    from akumuli_spark.pipeline import membership as mem

    seen = spark.range(n_keys).select(
        F.md5(F.col("id").cast("string")).alias("fingerprint")
    )
    probe = spark.range(n_keys, n_keys + n_probe).select(
        F.md5(F.col("id").cast("string")).alias("fingerprint")
    )
    out = {}
    t = time.time()
    bloom = mem.build_bloom_filter(seen, mbits=mbits, k=k)         .localCheckpoint(eager=True)
    out["build_s"] = round(time.time() - t, 2)
    out["filter_rows"] = bloom.count()
    out["filter_mb"] = round(out["filter_rows"] * 16 / 1e6, 1)
    t = time.time()
    fp = (
        mem.bloom_probe(probe, bloom, mbits=mbits, k=k)
        .agg(F.sum("maybe_seen")).collect()[0][0]
    )
    out["probe_s"] = round(time.time() - t, 2)
    out["false_positives"] = int(fp or 0)
    out["fp_rate"] = round((fp or 0) / n_probe, 6)
    return out

def quality_smoke(spark, n_docs: int) -> dict:
    """Round-8 quality layer at volume: Gopher flags (zero-shuffle
    projection), line repetition, corpus-wide paragraph dedup, and span
    scrub over n_docs synthetic documents rewritten into 6-word
    pseudo-lines (so the line/paragraph paths do real work)."""
    from akumuli_spark.pipeline import dedup as dd
    from akumuli_spark.pipeline import quality as qq

    docs = synthetic_docs(spark, n_docs)
    lined = qq.with_word_chunk_lines(docs, 6).localCheckpoint()
    out = {}
    t = time.time()
    n_pass = qq.gopher_quality_flags(lined).filter("passes = 1").count()
    out["gopher_s"] = round(time.time() - t, 2)
    out["gopher_pass"] = n_pass
    t = time.time()
    qq.line_repetition_signals(lined).write.format("noop").mode(
        "overwrite").save()
    out["line_rep_s"] = round(time.time() - t, 2)
    t = time.time()
    emptied = qq.dedup_paragraphs(lined).filter("n_kept = 0").count()
    out["paragraphs_s"] = round(time.time() - t, 2)
    out["paragraphs_emptied"] = emptied
    t = time.time()
    cut = (
        dd.scrub_duplicated_spans(docs, n=5)
        .selectExpr("sum(n_tokens - n_kept) AS cut").collect()[0]["cut"]
    )
    out["scrub_s"] = round(time.time() - t, 2)
    out["scrub_tokens_cut"] = int(cut or 0)
    return out


def bm25_smoke(spark, n_docs: int) -> dict:
    """BM25 index growth story at volume (VERDICT r9 Next #5): build
    over 90% of the corpus, append the last 10% as an epoch partial
    (one scan of the batch — never a rebuild), serve (bucket-pruned,
    partial-folding), compact, serve again.  The planted ground truth:
    served results before and after compaction are identical."""
    import shutil
    import tempfile

    from akumuli_spark.pipeline import text as _text

    docs = synthetic_docs(spark, n_docs)
    path = tempfile.mkdtemp(prefix="akumuli_smoke_bm25_")
    out = {}
    try:
        t = time.time()
        _text.build_bm25_index(docs.filter(F.col("doc_id") % 10 != 9), path)
        out["build_s"] = round(time.time() - t, 2)
        t = time.time()
        _text.append_bm25_index(
            docs.filter(F.col("doc_id") % 10 == 9), path, epoch=1
        )
        out["append_s"] = round(time.time() - t, 2)
        qs = [(1, "w101 w202 w303"), (2, "w4242 w777"), (3, "w31337")]
        t = time.time()
        pre = _text.bm25_topk_from_index(spark, path, qs, k=10).collect()
        out["serve_s"] = round(time.time() - t, 2)
        out["served_rows"] = len(pre)
        t = time.time()
        _text.compact_bm25_index(spark, path)
        out["compact_s"] = round(time.time() - t, 2)
        t = time.time()
        post = _text.bm25_topk_from_index(spark, path, qs, k=10).collect()
        out["serve_compacted_s"] = round(time.time() - t, 2)
        out["compaction_preserves"] = sorted(map(tuple, pre)) == sorted(
            map(tuple, post)
        )
        # positional layout: build cost of the positions table (the
        # explode+groupBy the phrase path pays once) + a phrase serve
        ppath = f"{path}_pos"
        t = time.time()
        _text.build_bm25_index(docs, ppath, positions=True)
        out["positions_build_s"] = round(time.time() - t, 2)
        t = time.time()
        out["phrase_docs"] = _text.phrase_counts_from_index(
            spark, ppath, [(1, "w101 w202"), (2, "w31337")]
        ).count()
        out["phrase_serve_s"] = round(time.time() - t, 2)
        shutil.rmtree(ppath, ignore_errors=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return out


def sigstore_smoke(spark, n_store: int, n_new: int) -> dict:
    """Generic incremental signature dedup against a big stored corpus
    (VERDICT r9 Next #8): a 10 M-row 60-bit signature store vs a small
    new batch.  Half the batch are fresh signatures, half are stored
    signatures with 2 bits flipped — every flipped row MUST pair with
    its origin (hamming 2 ≤ radius 3), so planted recall is exact
    ground truth; the store is touched only through its signatures."""
    from akumuli_spark.pipeline import dedup as _dedup

    sig60 = (
        "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) "
        "AS BIGINT)"
    )
    stored = spark.range(n_store).select(
        F.col("id"), F.expr(sig60).alias("simhash")
    )
    half = n_new // 2
    flipped = spark.range(half).select(
        (F.col("id") + n_store).alias("id"),
        # flip bits 5 and 41 of the stored signature id*131 % n_store
        F.expr(
            f"CAST(conv(substring(md5(CAST((id * 131) % {n_store} "
            f"AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        ).bitwiseXOR(F.lit((1 << 5) | (1 << 41))).alias("simhash"),
    )
    fresh = spark.range(half).select(
        (F.col("id") + n_store + half).alias("id"),
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(id AS STRING), '-new')),"
            " 1, 15), 16, 10) AS BIGINT)"
        ).alias("simhash"),
    )
    new = flipped.unionByName(fresh)
    out = {"store_rows": n_store, "batch_rows": n_new}
    t = time.time()
    pairs = _dedup.signature_hamming_pairs_incremental(
        stored, new, max_hamming=3
    )
    planted = pairs.filter(F.col("hamming") == 2).count()
    out["pairs_s"] = round(time.time() - t, 2)
    out["planted_found"] = planted
    out["planted_expected"] = half
    return out


def zorder_smoke(spark, n_rows: int, files_per_partition: int = 8) -> dict:
    """Z-order re-cluster + manifest file skipping at scale: cluster
    n_rows of the synthetic metrics frame (1000 series, ~n_rows·10ms
    span), then serve a single-series probe and a one-hour cross-series
    time slice, reporting wall-clock AND the files-scanned ratio the
    manifest pruning achieved.  The claim under test: the OPTIMIZE job
    is one range-shuffle write (linear in rows), and serving reads a
    small fraction of the files for BOTH predicate shapes."""
    import shutil
    import tempfile

    from akumuli_spark.sources.zorder import zorder_metrics_table, zorder_select

    day_ns = 86_400 * NS
    frame = synthetic_metrics(spark, n_rows)
    path = tempfile.mkdtemp(prefix="zorder_smoke_") + "/metrics"
    out = {}
    try:
        t = time.time()
        zorder_metrics_table(spark, frame, path, bucket_ns=day_ns,
                             files_per_partition=files_per_partition)
        out["build_s"] = round(time.time() - t, 2)

        st: dict = {}
        t = time.time()
        n = zorder_select(spark, path, metric="cpu.user",
                          series="cpu.user host=42", stats=st).count()
        out["series_probe_s"] = round(time.time() - t, 2)
        out["series_probe_files"] = f"{st['files_selected']}/{st['files_total']}"
        exp = frame.filter(F.col("series") == "cpu.user host=42").count()
        assert n == exp, (n, exp)

        # snapshot append of a 1M-row batch: cluster + move + one
        # manifest publish — O(batch), never O(store)
        from akumuli_spark.sources.zorder import zorder_append

        batch = synthetic_metrics(spark, 1_000_000).withColumn(
            "ts_ns", F.col("ts_ns") + F.lit(n_rows * 10_000_000)
        )
        t = time.time()
        zorder_append(spark, batch, path, epoch=1)
        out["append_1m_s"] = round(time.time() - t, 2)

        span_ns = n_rows * 10_000_000  # 10ms cadence
        lo = T0 + span_ns // 2
        hi = lo + max(span_ns // 50, 60 * NS)  # ~2% of the span
        st2: dict = {}
        t = time.time()
        n2 = zorder_select(spark, path, ts_from=lo, ts_to=hi,
                           stats=st2).count()
        out["time_slice_s"] = round(time.time() - t, 2)
        out["time_slice_files"] = f"{st2['files_selected']}/{st2['files_total']}"
        exp2 = frame.filter(
            (F.col("ts_ns") >= lo) & (F.col("ts_ns") < hi)).count()
        assert n2 == exp2, (n2, exp2)
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def sketch_store_smoke(spark, n_rows: int) -> dict:
    """Mergeable sketch rollup at scale: build per-day HLL + histogram
    partials over n_rows synthetic events (~n_rows·10ms span), append
    one more day incrementally, then serve a multi-day distinct-count
    and quantile read from partials only.  The claim: serving merges
    kilobyte-sized partials (partition-pruned) instead of re-scanning
    the fact rows, and the incremental append touches only its own
    buckets."""
    import shutil
    import tempfile

    from akumuli_spark.sources.sketch_store import (
        append_sketch_store,
        build_sketch_store,
        distinct_over_range,
        quantiles_over_range,
    )

    day_ns = 86_400 * NS
    ev = spark.range(n_rows).select(
        (F.col("id") % 8).cast("string").alias("g"),
        (F.col("id") % 1_000_000).alias("uid"),
        (F.col("id") % 10_000).cast("double").alias("value"),
        (F.lit(T0) + F.col("id") * F.lit(10_000_000)).alias("ts_ns"),
    )
    span_days = (n_rows * 10_000_000) // day_ns
    path = tempfile.mkdtemp(prefix="sketch_smoke_") + "/store"
    out = {"span_days": int(span_days)}
    try:
        t = time.time()
        build_sketch_store(ev, path, group_col="g", distinct_col="uid",
                           value_col="value")
        out["build_s"] = round(time.time() - t, 2)

        batch = ev.withColumn(
            "ts_ns", F.col("ts_ns") + F.lit(int(span_days + 1) * day_ns)
        ).limit(1_000_000)
        t = time.time()
        append_sketch_store(batch, path, epoch=1)
        out["append_1m_s"] = round(time.time() - t, 2)

        lo = (T0 // day_ns + 1) * day_ns
        hi = lo + max(1, int(span_days) - 1) * day_ns
        t = time.time()
        nd = distinct_over_range(spark, path, lo, hi).count()
        out["serve_distinct_s"] = round(time.time() - t, 2)
        t = time.time()
        nq = quantiles_over_range(spark, path, lo, hi,
                                  [0.5, 0.9, 0.99]).count()
        out["serve_quantiles_s"] = round(time.time() - t, 2)
        assert nd == 8 and nq == 24, (nd, nq)
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def zcorpus_smoke(spark, n_docs: int) -> dict:
    """Corpus z-order at volume: cluster n_docs synthetic documents
    along (lang, n_chars) — lang synthesized as 8 skewed values, length
    varied by trimming — then serve the canonical curation gate
    (language slice ∧ length band) with files-skipped evidence."""
    import shutil
    import tempfile

    from akumuli_spark.sources.zorder import (
        zorder_corpus_select,
        zorder_corpus_table,
    )

    docs = synthetic_docs(spark, n_docs).select(
        "doc_id",
        F.expr("substring(text, 1, 20 + CAST(abs(hash(doc_id, 7)) % 130 AS INT))").alias("text"),
        F.expr("element_at(array('en','en','en','en','de','fr','es','zh'), CAST(doc_id % 8 + 1 AS INT))").alias("lang"),
    ).withColumn("n_chars", F.length("text"))
    path = tempfile.mkdtemp(prefix="zcorpus_smoke_") + "/docs"
    out = {}
    try:
        t = time.time()
        zorder_corpus_table(spark, docs, path, files_total=64)
        out["build_s"] = round(time.time() - t, 2)

        st: dict = {}
        t = time.time()
        n = zorder_corpus_select(spark, path, cat="fr", stats=st).count()
        out["lang_slice_s"] = round(time.time() - t, 2)
        out["lang_slice_files"] = f"{st['files_selected']}/{st['files_total']}"
        assert n == docs.filter("lang = 'fr'").count()

        st2: dict = {}
        t = time.time()
        n2 = zorder_corpus_select(spark, path, num_lo=40, num_hi=60,
                                  stats=st2).count()
        out["band_s"] = round(time.time() - t, 2)
        out["band_files"] = f"{st2['files_selected']}/{st2['files_total']}"
        assert n2 == docs.filter("n_chars >= 40 AND n_chars < 60").count()

        st3: dict = {}
        t = time.time()
        n3 = zorder_corpus_select(spark, path, cat="en", num_lo=40,
                                  num_hi=60, stats=st3).count()
        out["gate_s"] = round(time.time() - t, 2)
        out["gate_files"] = f"{st3['files_selected']}/{st3['files_total']}"
        assert n3 == docs.filter(
            "lang = 'en' AND n_chars >= 40 AND n_chars < 60").count()
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def optimize_smoke(spark, n_rows: int, n_appends: int = 4) -> dict:
    """Scoped OPTIMIZE at scale (r12): build over n_rows, erode with
    ``n_appends`` full-time-span appends (each adds its own rectangles
    to EVERY bucket), then measure what the maintenance loop claims —
    the erosion report is metadata-priced, the scoped optimize costs
    O(selected buckets) not O(table), and a time-slice probe's
    files-scanned drops back after it while results are unchanged."""
    import shutil
    import tempfile

    from akumuli_spark.sources.zorder import (
        vacuum_zorder,
        zorder_append,
        zorder_erosion,
        zorder_metrics_table,
        zorder_optimize,
        zorder_select,
    )

    day_ns = 86_400 * NS
    frame = synthetic_metrics(spark, n_rows)
    path = tempfile.mkdtemp(prefix="optimize_smoke_") + "/metrics"
    out = {}
    try:
        t = time.time()
        # split on the sample index (ts is a pure 10ms ramp), so the
        # build and every append each cover the FULL time span — the
        # maximal-erosion shape
        idx = (F.col("ts_ns") - F.lit(T0)) / F.lit(10_000_000)
        zorder_metrics_table(spark, frame.filter(
            idx % (n_appends + 1) == 0), path,
            bucket_ns=day_ns, files_per_partition=8)
        out["build_s"] = round(time.time() - t, 2)
        t = time.time()
        for k in range(1, n_appends + 1):
            zorder_append(spark, frame.filter(
                idx % (n_appends + 1) == k), path, epoch=k)
        out["appends_s"] = round(time.time() - t, 2)

        span_ns = n_rows * 10_000_000
        lo = T0 + span_ns // 2
        hi = lo + max(span_ns // 50, 60 * NS)
        st_pre: dict = {}
        t = time.time()
        n_pre = zorder_select(spark, path, ts_from=lo, ts_to=hi,
                              stats=st_pre).count()
        out["probe_pre_s"] = round(time.time() - t, 2)
        out["probe_pre_files"] = (
            f"{st_pre['files_selected']}/{st_pre['files_total']}")

        t = time.time()
        eroded = zorder_erosion(spark, path).filter("epochs >= 2").count()
        out["erosion_report_s"] = round(time.time() - t, 2)
        out["eroded_buckets"] = eroded
        t = time.time()
        out["optimized_buckets"] = zorder_optimize(spark, path)
        out["optimize_s"] = round(time.time() - t, 2)
        t = time.time()
        out["vacuumed_files"] = vacuum_zorder(spark, path, grace_s=0,
                                              snapshots_keep=1)
        out["vacuum_s"] = round(time.time() - t, 2)

        st_post: dict = {}
        t = time.time()
        n_post = zorder_select(spark, path, ts_from=lo, ts_to=hi,
                               stats=st_post).count()
        out["probe_post_s"] = round(time.time() - t, 2)
        out["probe_post_files"] = (
            f"{st_post['files_selected']}/{st_post['files_total']}")
        assert n_post == n_pre, (n_post, n_pre)
        assert st_post["files_selected"] < st_pre["files_selected"]
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def widewhere_smoke(spark, n_rows: int = 10_000_000,
                    n_series: int = 20_000) -> dict:
    """Wide-`where` guard at reference-grade series cardinality (r12):
    a z-store over ``n_series`` series, probed two ways a naive
    implementation dies on — a 5 000-entry series LIST through
    ``zorder_select`` (driver-side bisect prune, broadcast semi-join
    residual) and a ``ZorderDatabase`` where-clause matching
    every host (past WIDE_WHERE_CAP → metric+time pruning + ordinary
    column predicate).  Reports wall-clock (the claim: plan compile
    stays bounded) and asserts row parity with direct filters."""
    import shutil
    import tempfile

    from akumuli_spark.api import open_zorder_database
    from akumuli_spark.sources.zorder import (
        zorder_metrics_table,
        zorder_select,
    )

    day_ns = 86_400 * NS
    frame = synthetic_metrics(spark, n_rows, n_series)
    path = tempfile.mkdtemp(prefix="widewhere_smoke_") + "/metrics"
    out = {}
    try:
        t = time.time()
        zorder_metrics_table(spark, frame, path, bucket_ns=day_ns,
                             files_per_partition=8)
        out["build_s"] = round(time.time() - t, 2)

        hosts = n_series // 4
        wanted = [f"cpu.user host={i}" for i in range(0, hosts, 2)]
        st: dict = {}
        t = time.time()
        n = zorder_select(spark, path, metric="cpu.user", series=wanted,
                          stats=st).count()
        out["list_series"] = len(wanted)
        out["list_select_s"] = round(time.time() - t, 2)
        out["list_files"] = f"{st['files_selected']}/{st['files_total']}"
        exp_n = frame.filter(F.col("series").isin(wanted)).count()
        assert n == exp_n, (n, exp_n)

        zdb = open_zorder_database(spark, path)
        span_ns = n_rows * 10_000_000
        q = {
            "select": "cpu.user",
            "range": {"from": T0, "to": T0 + span_ns // 4},
            "where": {"host": [str(i) for i in range(hosts)]},
        }
        t = time.time()
        n2 = zdb.query(q).count()
        out["where_series_matched"] = hosts
        out["where_query_s"] = round(time.time() - t, 2)
        out["where_files"] = (
            f"{zdb.last_prune_stats['files_selected']}"
            f"/{zdb.last_prune_stats['files_total']}")
        exp2 = frame.filter(
            (F.col("metric") == "cpu.user")
            & (F.col("ts_ns") >= T0) & (F.col("ts_ns") < T0 + span_ns // 4)
        ).count()
        assert n2 == exp2, (n2, exp2)
    finally:
        shutil.rmtree(os.path.dirname(path), ignore_errors=True)
    return out


def main() -> None:
    spark = get_spark("scale-smoke")
    if len(sys.argv) > 1 and sys.argv[1] == "widewhere":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        n_series = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000
        print(json.dumps(
            {"rows": n_rows, "series": n_series,
             "widewhere": widewhere_smoke(spark, n_rows, n_series)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "optimize":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000_000
        print(json.dumps(
            {"rows": n_rows, "optimize": optimize_smoke(spark, n_rows)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "zcorpus":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps(
            {"docs": n_docs, "zcorpus": zcorpus_smoke(spark, n_docs)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "zorder":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
        print(json.dumps(
            {"rows": n_rows, "zorder": zorder_smoke(spark, n_rows)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "sketch_store":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
        print(json.dumps(
            {"rows": n_rows, "sketch_store": sketch_store_smoke(spark, n_rows)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "events":
        n_e = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
        n_u = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_000
        print(json.dumps(
            {"events": n_e, "users": n_u,
             "ev": events_smoke(spark, n_e, n_u)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "dsir":
        import tempfile

        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        tmp = tempfile.mkdtemp(prefix="dsir_smoke_")
        try:
            print(json.dumps(
                {"docs": n_docs, "dsir": dsir_smoke(spark, n_docs, tmp)}
            ))
        finally:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "qsketch":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000_000
        print(json.dumps(
            {"rows": n_rows, "qsketch": qsketch_smoke(spark, n_rows)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "interval":
        n_s = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        n_i = int(sys.argv[3]) if len(sys.argv) > 3 else 200_000
        print(json.dumps(
            {"samples": n_s, "intervals": n_i,
             "interval": interval_smoke(spark, n_s, n_i)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "hll":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000_000
        print(json.dumps({"rows": n_rows, "hll": hll_smoke(spark, n_rows)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "quota":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps({"docs": n_docs, "quota": quota_smoke(spark, n_docs)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "semdedup":
        n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
        print(json.dumps(
            {"vecs": n_vecs, "semdedup": semdedup_smoke(spark, n_vecs)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "asof":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps({"rows": n_rows, "asof": asof_smoke(spark, n_rows)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "multimodal":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps(
            {"docs": n_docs, "multimodal": multimodal_smoke(spark, n_docs)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "r8curation":
        import shutil
        import tempfile

        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
        tmp = tempfile.mkdtemp(prefix="r8curation_smoke_")
        try:
            print(json.dumps(
                {"docs": n_docs,
                 "r8curation": r8_curation_smoke(spark, n_docs, tmp)}
            ))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "substring":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
        print(json.dumps(
            {"docs": n_docs, "substring": substring_smoke(spark, n_docs)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "quality":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps(
            {"docs": n_docs, "quality": quality_smoke(spark, n_docs)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "pq":
        n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
        print(json.dumps({"vecs": n_vecs, "pq": pq_smoke(spark, n_vecs)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bloom":
        n_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
        n_probe = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000_000
        print(json.dumps(
            {"keys": n_keys, "bloom": bloom_smoke(spark, n_keys, n_probe)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf":
        n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
        print(json.dumps({"vecs": n_vecs, "ivf": ivf_smoke(spark, n_vecs)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "groupsets":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000
        print(json.dumps(
            {"rows": n_rows, "groupsets": groupsets_smoke(spark, n_rows)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bpe":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        n_m = int(sys.argv[3]) if len(sys.argv) > 3 else 5
        print(json.dumps(
            {"docs": n_docs, "bpe": bpe_smoke(spark, n_docs, n_m)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bpe_cadence":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
        exact_m = int(sys.argv[3]) if len(sys.argv) > 3 else 100
        batched_m = int(sys.argv[4]) if len(sys.argv) > 4 else 1024
        print(json.dumps(
            {"docs": n_docs,
             "bpe_cadence": bpe_cadence_smoke(
                 spark, n_docs, exact_m, batched_m)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf_batch":
        n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
        n_q = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
        print(json.dumps(
            {"vecs": n_vecs, "queries": n_q,
             "ivf_batch": ivf_batch_smoke(spark, n_vecs, n_q)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivf_append":
        n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
        n_app = int(sys.argv[3]) if len(sys.argv) > 3 else 200_000
        print(json.dumps(
            {"vecs": n_vecs, "appended": n_app,
             "ivf_append": ivf_append_smoke(spark, n_vecs, n_app)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bm25":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000
        print(json.dumps({"docs": n_docs, "bm25": bm25_smoke(spark, n_docs)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "sigstore":
        n_store = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        n_new = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
        print(json.dumps(
            {"sigstore": sigstore_smoke(spark, n_store, n_new)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "curation":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        span = int(sys.argv[3]) if len(sys.argv) > 3 else None
        print(json.dumps(
            {"docs": n_docs, "curation": curation_smoke(spark, n_docs, span)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "text":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps({"docs": n_docs, "text": text_smoke(spark, n_docs)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "spacesaver":
        n_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 32
        print(json.dumps(
            {"spacesaver": spacesaver_smoke(spark, n_rows, chunks)}
        ))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "pack":
        n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
        print(json.dumps({"docs": n_docs, "pack": pack_smoke(spark, n_docs)}))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "anomaly":
        n_series = int(sys.argv[2]) if len(sys.argv) > 2 else 2000
        n_steps = int(sys.argv[3]) if len(sys.argv) > 3 else 500
        print(json.dumps(
            {"anomaly_sketch": anomaly_sketch_smoke(spark, n_series, n_steps)}
        ))
        return
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    if n_docs:
        print(json.dumps({"docs": n_docs, "dedup": dedup_smoke(spark, n_docs)}))
        return
    m = synthetic_metrics(spark, n_rows)
    end = T0 + n_rows * 10_000_000
    queries = {
        "select_filtered": {
            "select": "cpu.user", "range": {"from": T0, "to": end},
            "where": {"host": [str(h) for h in range(10)]},
            "filter": {"gt": 9_000},
        },
        "aggregate": {
            "aggregate": {"cpu.user": ["sum", "mean", "min_timestamp"]},
            "range": {"from": T0, "to": end},
        },
        "group_aggregate_1h": {
            "group-aggregate": {"metric": "mem.res", "step": "1h",
                                "func": ["count", "sum", "max"]},
            "range": {"from": T0, "to": end},
        },
        "join_pivot": {
            "join": ["cpu.user", "cpu.syst"],
            "range": {"from": T0, "to": T0 + (n_rows // 4) * 10_000_000},
        },
        "top10_time_weighted": {
            "select": "net.rx", "range": {"from": T0, "to": end},
            "apply": [{"name": "top", "N": 10}],
        },
    }
    out = {}
    for name, q in queries.items():
        t = time.time()
        execute_query(spark, q, m).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t, 2)
    print(json.dumps({"rows": n_rows, "series": 1000, "sec": out}))


if __name__ == "__main__":
    main()
