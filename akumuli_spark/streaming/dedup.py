"""Continuous exact dedup of an arriving document stream — the online
form of ``pipeline.dedup.exact_duplicates`` for ingest-time curation
(dedup the crawl as it lands instead of re-scanning the corpus).

Spark-first shape: ``dropDuplicates`` on the md5 text fingerprint over a
streaming frame — Spark's own streaming-deduplication state store (HDFS-
or RocksDB-backed at scale) keeps the seen-key set, partitioned by the
fingerprint, exactly the state layout a hand-rolled
``applyInPandasWithState`` would rebuild.  The fingerprint rule is the
batch operator's verbatim (md5 of the raw text), so the same key dedups
online and offline.

Keep rule: FIRST ARRIVAL wins.  The batch operator keeps min(doc_id);
for a stream delivered in doc_id order the two agree exactly
(pytest-pinned across arbitrary micro-batch splits and a checkpoint
restart).  Out-of-order delivery keeps an arbitrary-but-single copy per
fingerprint — the standard streaming-dedup contract.

State growth: unbounded in distinct fingerprints by design (exact dedup
IS membership over all history).  Two bounding strategies, both
standard: pass ``within`` to scope dedup to an event-time window
(``dropDuplicatesWithinWatermark`` — state evicts past the watermark,
the "recent-dup storm" filter), or periodically compact the stream into
the batch path (the marks-table rollup pattern in ``ingest.py``) and
let offline ``exact_duplicates`` own full history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_exact_dedup(docs: DataFrame, within: str | None = None,
                          event_time_col: str = "ts") -> DataFrame:
    """First-seen-wins exact dedup of a streaming document frame.

    Input: a streaming frame with ``doc_id`` and ``text`` (plus an
    ``event_time_col`` timestamp column when ``within`` is used).
    Output: the surviving rows, with the ``fingerprint`` column added.

    ``within=None``: full-history dedup (state = all distinct
    fingerprints).  ``within="10 minutes"``: watermarked dedup — a
    duplicate arriving later than the window may be re-emitted, state is
    evicted with the watermark.
    """
    keyed = docs.withColumn("fingerprint", F.md5(F.col("text")))
    if within is None:
        return keyed.dropDuplicates(["fingerprint"])
    return (
        keyed.withWatermark(event_time_col, within)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def near_dup_batch_against_store(spark, batch: DataFrame, store_dir: str,
                                 n: int = 5, threshold: float = 0.5,
                                 epoch_id: int | None = None) -> DataFrame:
    """One micro-batch of the continuous NEAR-dup pipeline: dedup
    ``batch`` against the accumulated store, then grow the store.

    Store layout under ``store_dir``: ``docs`` (doc_id, text — the
    verification corpus) and ``signatures`` (the
    :func:`~akumuli_spark.pipeline.dedup.minhash_signatures` table — the
    LSH index).  Steps per batch:

    1. pairs = :func:`~akumuli_spark.pipeline.dedup.
       minhash_lsh_pairs_incremental` (batch-vs-store band joins +
       within-batch; exact-Jaccard verify over candidates only);
    2. append the batch's rows to ``docs`` and its signature rows to
       ``signatures`` — per-document, so the store grows by O(|batch|).

    Across a whole stream with unique doc_ids this emits EXACTLY the
    full-corpus ``minhash_lsh_pairs`` pair set, each pair once, in the
    batch where its later endpoint arrived (pytest-pinned across
    micro-batch splits).  Signatures are computed ONCE per document,
    in its arrival batch — the store amortization that makes continuous
    ingest-time near-dedup affordable at crawl scale.

    Returns the pairs frame (already materialized by the verify step's
    checkpoint barrier — safe to write and discard).

    Retry semantics: pass ``epoch_id`` (foreachBatch provides it) for
    EXACTLY-ONCE store growth — docs and signature rows land in an
    ``epoch=<id>`` partition via dynamic partition overwrite, and the
    incremental pair computation EXCLUDES the in-flight epoch's stored
    rows, so a retry after a partial append recomputes the identical
    pair set against exactly the pre-epoch store and overwrites its own
    partition (VERDICT r8 Next #5).  Without ``epoch_id`` the store is
    append-only and a retry can duplicate rows (dedup the store on
    doc_id during compaction) — the legacy at-least-once mode; don't mix
    the two layouts in one ``store_dir`` (flat files and epoch partition
    directories can't share a parquet root).
    """
    from pyspark.errors import AnalysisException

    from akumuli_spark.pipeline.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )
    from akumuli_spark.sources.layout import is_absent_table

    batch = batch.select("doc_id", "text").localCheckpoint(eager=True)
    docs_path = f"{store_dir}/docs"
    sig_path = f"{store_dir}/signatures"
    try:
        stored_sig = spark.read.parquet(sig_path)
        stored_docs = spark.read.parquet(docs_path)
    except AnalysisException as exc:
        if not is_absent_table(exc):
            raise
        stored_sig = stored_docs = None

    if stored_sig is not None and epoch_id is not None:
        # drop any partial commit from a failed attempt at THIS epoch:
        # the retry must see exactly the pre-epoch store state
        stored_sig = stored_sig.filter(F.col("epoch") != epoch_id) \
            .drop("epoch")
        stored_docs = stored_docs.filter(F.col("epoch") != epoch_id) \
            .drop("epoch")

    if stored_sig is None:
        # first batch: the store IS empty — incremental against an empty
        # index degenerates to within-batch pairs
        from akumuli_spark.pipeline.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(batch, n=n, threshold=threshold)
    else:
        pairs = minhash_lsh_pairs_incremental(
            stored_docs.unionByName(batch), stored_sig, batch,
            n=n, threshold=threshold,
        )
    pairs = pairs.localCheckpoint(eager=True)  # force compute BEFORE the
    # store grows: the lazy plan would otherwise see the batch twice
    sigs = minhash_signatures(batch, n=n)
    if epoch_id is None:
        batch.write.mode("append").parquet(docs_path)
        sigs.write.mode("append").parquet(sig_path)
    else:
        for frame, path in ((batch, docs_path), (sigs, sig_path)):
            (
                frame.withColumn("epoch", F.lit(int(epoch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("epoch")
                .parquet(path)
            )
    return pairs


def start_streaming_near_dup(docs: DataFrame, store_dir: str,
                             pairs_dir: str, checkpoint_dir: str,
                             n: int = 5, threshold: float = 0.5):
    """Wire :func:`near_dup_batch_against_store` into a foreachBatch
    sink: near-dup pairs append to ``pairs_dir`` as they are discovered;
    the store under ``store_dir`` accumulates the corpus + signature
    index.  The batch analogue of the whole stream's output is
    ``minhash_lsh_pairs`` over everything ingested.  Epoch-keyed end to
    end (store partitions AND the pairs sink), so a foreachBatch retry
    overwrites its own epoch's output instead of duplicating it —
    exactly-once under at-least-once triggers."""
    spark = docs.sparkSession

    def handle(batch: DataFrame, epoch_id: int) -> None:
        (
            near_dup_batch_against_store(
                spark, batch, store_dir, n=n, threshold=threshold,
                epoch_id=epoch_id,
            )
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(pairs_dir)
        )

    return (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .start()
    )
