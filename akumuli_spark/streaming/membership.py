"""Continuous Bloom-gated ingest — the crawler's "skip what we've seen"
stream, composing :mod:`akumuli_spark.pipeline.membership` with
foreachBatch (the same store-and-grow pattern as
``streaming.dedup.near_dup_batch_against_store``).

Per micro-batch: probe arriving keys against the accumulated filter,
pass only never-seen rows downstream, and OR the passed keys' bits into
the store.  The store is APPEND-ONLY delta rows of the mergeable
(word_idx, bits) representation — a probe aggregates them with bit_or
at read time (bounded by m/63 rows regardless of history), and
:func:`compact_bloom_store` folds the deltas down between triggers.

Contract: no false negatives ever (a seen key never passes twice); a
false positive drops a never-seen key at the designed rate — the
standard Bloom-gate trade, deterministic here (md5 positions), so the
exact pass set is replayable and test-pinned.  Within one batch,
duplicate keys collapse first (``dedupe_batch``) — the filter only
learns a key when the batch carrying it commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from akumuli_spark.pipeline.membership import (
    BLOOM_K,
    BLOOM_MBITS,
    bloom_probe,
    build_bloom_filter,
)
from akumuli_spark.sources.fs import (
    compaction_dirs, get_fs, recover_compaction, swap_compact,
)
from akumuli_spark.sources.layout import read_table_or_none


def _with_epoch(stored: DataFrame) -> DataFrame:
    """Normalize a store frame to carry an ``epoch`` column (legacy
    append-mode stores have none — their rows are all long-committed, so
    they get the sentinel ``-1``, which no real foreachBatch epoch uses)."""
    if "epoch" in stored.columns:
        return stored.withColumn("epoch", F.col("epoch").cast("long"))
    return stored.withColumn("epoch", F.lit(-1).cast("long"))


def _read_store(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """The stored delta rows, healed first of a crashed compaction swap
    — without the heal a store missing between the swap's renames would
    read as empty and pass EVERY key, breaking "no false negatives
    ever" (ADVICE r8).  None for a store that was never written."""
    recover_compaction(store_dir)
    stored = read_table_or_none(spark, store_dir)
    if stored is not None:
        return stored
    # a missing store with a crashed-swap sibling that recovery could
    # not heal (e.g. tmp incomplete AND old already consumed) must fail
    # loudly, not silently pass every key
    fs = get_fs(store_dir)
    sib = [p for p in compaction_dirs(store_dir) if fs.exists(p)]
    if sib:
        raise RuntimeError(
            f"bloom store {store_dir} missing but compaction leftovers "
            f"{sib} exist and are unrecoverable; refusing to treat all "
            "keys as never-seen"
        )
    return None


def bloom_gate_batch(spark: SparkSession, batch: DataFrame, store_dir: str,
                     key_col: str = "fingerprint",
                     mbits: int = BLOOM_MBITS, k: int = BLOOM_K,
                     dedupe_batch: bool = True,
                     epoch_id: int | None = None) -> DataFrame:
    """Gate one micro-batch: return its never-seen rows and grow the
    stored filter by exactly those keys.

    Pass ``epoch_id`` (foreachBatch provides it) for EXACTLY-ONCE retry
    semantics: the delta rows land in an ``epoch=<id>`` partition via
    dynamic partition overwrite, and the probe EXCLUDES the in-flight
    epoch's rows — so a retry after a partial commit recomputes the
    identical pass set against exactly the pre-epoch filter state and
    overwrites its own partition instead of appending on top of it.
    Without it a retry is only at-least-once: the re-OR of bits is
    harmless, but keys committed by the failed attempt would probe as
    seen and the retry would pass ZERO of them — dropping rows the
    downstream sink never received (VERDICT r8 Next #5)."""
    batch = batch.localCheckpoint(eager=True)
    if dedupe_batch:
        batch = batch.dropDuplicates([key_col])
    stored = _read_store(spark, store_dir)
    if stored is not None and epoch_id is not None:
        stored = _with_epoch(stored).filter(F.col("epoch") != epoch_id)
    if stored is None:
        novel = batch
    else:
        bloom = stored.groupBy("word_idx").agg(
            F.expr("bit_or(bits)").alias("bits")
        )
        novel = (
            bloom_probe(batch, bloom, key_col=key_col, mbits=mbits, k=k)
            .filter(F.col("maybe_seen") == 0)
            .drop("maybe_seen")
        )
    # force the pass set BEFORE the store grows (the lazy plan would
    # otherwise probe a filter already containing this batch)
    novel = novel.localCheckpoint(eager=True)
    delta = build_bloom_filter(novel, key_col=key_col, mbits=mbits, k=k)
    if epoch_id is None:
        delta.write.mode("append").parquet(store_dir)
    else:
        (
            delta.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(store_dir)
        )
    return novel


def start_streaming_bloom_gate(docs: DataFrame, store_dir: str,
                               out_dir: str, checkpoint_dir: str,
                               key_col: str = "fingerprint",
                               mbits: int = BLOOM_MBITS, k: int = BLOOM_K):
    """Wire :func:`bloom_gate_batch` into a foreachBatch sink: rows that
    survive the gate append to ``out_dir``; the filter accumulates under
    ``store_dir``.  Input must carry ``key_col`` (derive it upstream,
    e.g. ``F.md5("text")``)."""
    spark = docs.sparkSession

    def handle(batch: DataFrame, epoch_id: int) -> None:
        # epoch-keyed end to end: the store grows under epoch partitions
        # (retry recomputes against pre-epoch state, overwrites its own
        # partition) and the pass-set sink is partitioned the same way,
        # so a replayed epoch overwrites rather than duplicates — the
        # whole gate is exactly-once under foreachBatch retries
        (
            bloom_gate_batch(
                spark, batch, store_dir, key_col=key_col, mbits=mbits, k=k,
                epoch_id=epoch_id,
            )
            .withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(out_dir)
        )

    return (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(handle)
        .start()
    )


def compact_bloom_store(spark: SparkSession, store_dir: str) -> int:
    """Fold the append-only delta rows down to one row per word_idx.
    Single-writer maintenance (run it between triggers, like the layout
    compactor): writes the folded rows to a sibling tmp dir, then swaps
    with the crash-recoverable two-rename protocol
    (:func:`~akumuli_spark.sources.fs.swap_compact`) — a crash mid-swap
    self-heals via :func:`~akumuli_spark.sources.fs.recover_compaction`
    on the next read or compaction, so the gate can never silently
    restart empty.  Returns the compacted row count."""
    recover_compaction(store_dir, gc=True)
    stored = _read_store(spark, store_dir)
    if stored is None:
        return 0
    epoch_mode = "epoch" in stored.columns
    if epoch_mode:
        # keep the NEWEST epoch's delta rows out of the fold: the stream
        # checkpoint can only ever retry the last epoch, and that
        # retry's exactly-once recompute needs "store minus my epoch" to
        # still be expressible after compaction.  Everything older folds
        # into the epoch=-1 (long-committed) partition.
        mx = stored.agg(F.max("epoch")).collect()[0][0]
        newest = stored.filter(F.col("epoch") == mx)
        folded = (
            stored.filter(F.col("epoch") != mx)
            .groupBy("word_idx")
            .agg(F.expr("bit_or(bits)").alias("bits"))
            .withColumn("epoch", F.lit(-1).cast("long"))
            .unionByName(newest.select("word_idx", "bits", "epoch"))
        )
    else:
        folded = stored.groupBy("word_idx").agg(
            F.expr("bit_or(bits)").alias("bits")
        )

    def write(tmp: str) -> int:
        writer = folded.write.mode("overwrite")
        if epoch_mode:
            writer = writer.partitionBy("epoch")
        writer.parquet(tmp)
        return spark.read.parquet(tmp).count()

    return swap_compact(get_fs(store_dir), store_dir, write)
