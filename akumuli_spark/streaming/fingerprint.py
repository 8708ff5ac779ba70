"""Continuous fingerprint dedup — the multimodal twin of
``streaming.dedup``: an arriving stream of 60-bit signatures (text
SimHash, image dHash, audio/video fingerprints — anything shaped
(id, simhash)) deduped against the accumulated signature store.

Per micro-batch: pair the arriving signatures against the stored table
plus within-batch (``dedup.signature_hamming_pairs_incremental`` — chunk
equi-joins, XOR/bit_count verify, no raw payloads ever touched), then
grow the store by the batch's rows.  Across a whole stream with unique
ids this emits EXACTLY the full-corpus
``dedup._signature_hamming_pairs`` pair set, each pair once, in the
batch where its later endpoint arrived.

Exactly-once: same epoch-keyed protocol as the other foreachBatch
stores — store and sink writes land in ``epoch=<id>`` partitions via
dynamic partition overwrite, and the in-flight epoch's stored rows are
excluded on read, so a retry reproduces its decisions bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from akumuli_spark.smallframe import local_frame
from akumuli_spark.sources.layout import read_table_or_none


def fingerprint_batch_against_store(spark: SparkSession, batch: DataFrame,
                                    store_dir: str, max_hamming: int = 3,
                                    epoch_id: int | None = None) -> DataFrame:
    """One micro-batch of continuous fingerprint dedup: pair the
    arriving (id, simhash) rows against the store, then grow the store.

    ``epoch_id`` (foreachBatch provides it) keys the append for
    exactly-once retries; without it the store is append-only
    at-least-once (legacy mode; don't mix layouts in one dir).
    Returns the (doc_a, doc_b, hamming) pairs frame, already
    materialized."""
    from akumuli_spark.pipeline.dedup import (
        signature_hamming_pairs_incremental,
    )

    batch = batch.select("id", "simhash").localCheckpoint(eager=True)
    stored = read_table_or_none(spark, store_dir)
    if stored is not None and epoch_id is not None:
        stored = stored.filter(F.col("epoch") != epoch_id)
    if stored is None:
        stored = local_frame(spark, [], "id long, simhash long")
    pairs = signature_hamming_pairs_incremental(
        stored.select("id", "simhash"), batch, max_hamming
    ).localCheckpoint(eager=True)  # force BEFORE the store grows
    if epoch_id is None:
        batch.write.mode("append").parquet(store_dir)
    else:
        (
            batch.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(store_dir)
        )
    return pairs


def start_streaming_fingerprint_dedup(sigs: DataFrame, store_dir: str,
                                      pairs_dir: str, checkpoint_dir: str,
                                      max_hamming: int = 3):
    """Wire :func:`fingerprint_batch_against_store` into a foreachBatch
    sink: pairs append (epoch-keyed) to ``pairs_dir``; the signature
    store accumulates under ``store_dir``.  Input must carry
    (id, simhash) — derive upstream from ``image_dhash`` /
    ``audio_fingerprint`` / ``video_fingerprint`` /
    ``simhash_signatures``."""
    spark = sigs.sparkSession

    def handle(batch: DataFrame, epoch_id: int) -> None:
        (
            fingerprint_batch_against_store(
                spark, batch, store_dir, max_hamming=max_hamming,
                epoch_id=epoch_id,
            )
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(pairs_dir)
        )

    return (
        sigs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .start()
    )
