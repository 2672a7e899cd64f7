"""Structured Streaming surface for the extraction pipeline.

The reference is strictly batch (one PDF per call); at transcript
scale the same per-turn extraction must also run continuously over an
arriving turn stream.  The fused ``mapInPandas`` stage is stateless
per-row, so it lifts to a streaming DataFrame unchanged — one code
path for batch and streaming (the Spark idiom).

Provided:
* ``extract_stream`` — readStream (parquet dir source; Kafka/Iceberg
  at production) -> the SAME ``extract()`` transformation.
* ``write_stream_merged`` — writeStream to parquet with checkpointing;
  ``Trigger.AvailableNow`` drains the backlog exactly-once and stops
  (the streaming analog of the batch MERGE resume).
* ``turn_rate_per_conv`` — watermarked windowed aggregation (late-data
  handling) counting turns per conversation per window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ExtractConfig
from ..operators.pipeline import extract
from ..schema import TRANSCRIPT_SCHEMA


def extract_stream(
    spark: SparkSession,
    input_path: str,
    cfg: ExtractConfig | None = None,
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming transcripts -> streaming extraction output."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    return extract(stream, cfg or ExtractConfig())


def write_stream_merged(
    out: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Exactly-once streaming sink: parquet + checkpoint dir.  With
    ``available_now`` the query drains current input and finishes —
    used for incremental backfills and in tests."""
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_merge(path: str, n_buckets: int = 16,
                        key_cols=("conv_id", "turn_idx"),
                        payload_col: str = "markdown"):
    """Streaming analog of the batch MERGE sink: a ``foreachBatch``
    function that appends each micro-batch to the bucketed layout and
    commits a per-batch lineage manifest (batch id, row count, bytes,
    checksum).

    Exactly-once under replay: Structured Streaming re-runs a failed
    micro-batch with the SAME ``batch_id``.  Two guards compose:

    * each batch's rows land in ``_batch=<id>/bucket=<b>/`` partitions
      written with DYNAMIC partition overwrite — a replay of the same
      ``batch_id`` overwrites exactly its own partitions, so the data
      write itself is idempotent.  (An append here would duplicate on
      the crash window between data commit and manifest commit.)
    * a batch whose manifest already exists is skipped outright (the
      cheap path for replays that follow a fully successful batch).

    The batch ``merge_write`` is whole-dataset/overwrite semantics —
    wrong for incremental appends — hence the separate per-batch
    contract; both share the bucketed layout and the manifest helpers
    of ``sinks.merge``.
    """
    import os

    from ..sinks.merge import (
        LINEAGE_DIR, _bucket_col, _commit_manifest, _dynamic_overwrite,
        _stats,
    )

    stream_lineage = os.path.join(path, LINEAGE_DIR, "stream")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        manifest_path = os.path.join(stream_lineage,
                                     f"batch_{batch_id:010d}.json")
        if os.path.exists(manifest_path):  # replayed batch — already in
            return
        with_bucket = (
            batch_df.withColumn("_batch", F.lit(int(batch_id)))
            .withColumn("bucket", _bucket_col(key_cols, n_buckets))
            .persist()
        )
        try:
            stats = _stats(with_bucket, key_cols, payload_col)[()]
            with _dynamic_overwrite(with_bucket.sparkSession):
                (
                    with_bucket.write.mode("overwrite")
                    .partitionBy("_batch", "bucket")
                    .parquet(path)
                )
        finally:
            with_bucket.unpersist()
        _commit_manifest(manifest_path, {"batch_id": int(batch_id), **stats})

    return write_batch


def foreach_batch_upsert(path: str, n_buckets: int = 16,
                         key_cols=("conv_id", "turn_idx"),
                         payload_col: str = "markdown"):
    """Streaming KEYED-UPSERT sink: each micro-batch MERGEs into the
    bucketed table (matched keys updated, new keys inserted) via
    ``sinks.merge.merge_upsert``.  This is the sink for UPDATE-mode
    flows — re-emitted keys (e.g. a watermarked aggregation revising a
    window, or re-extraction after a formatter fix) overwrite their
    previous values instead of duplicating.

    Exactly-once under replay: ``merge_upsert`` is idempotent for a
    given batch (same incoming keys -> same post-merge table), and a
    crash mid-swap leaves a staging redo log that the next call
    completes — so Structured Streaming's re-run of a failed batch_id
    converges to the same table.
    """
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..sinks.merge import merge_upsert

        if batch_df.isEmpty():
            return
        merge_upsert(batch_df, path, run_id=f"batch-{int(batch_id)}",
                     n_buckets=n_buckets, key_cols=key_cols,
                     payload_col=payload_col)

    return write_batch


def turn_rate_per_conv(
    stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation over the turn stream: turns and
    distinct roles per conv per window; late rows beyond the watermark
    are dropped (bounded state at 10^12-turn scale)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.approx_count_distinct("role").alias("n_roles"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "conv_id", "n_turns", "n_roles",
        )
    )


def foreach_batch_dedup_append(
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
):
    """Streaming INCREMENTAL-DEDUP sink: each micro-batch keeps only
    rows that near-duplicate neither the accumulated corpus nor each
    other (``minhash_dedup_incremental(dedup_within_batch=True)`` —
    the day-2 continuous-crawl shape), then appends the survivors
    under ``_batch=<id>`` partitions.

    Exactly-once under replay, composing three guards:

    * the corpus side of the dedup reads only COMMITTED batches
      (manifest-gated ``_batch`` partition pruning), so a crashed
      attempt's partial output can never shadow its own replay's rows
      as "duplicates";
    * the data write uses dynamic partition overwrite of the batch's
      own ``_batch=<id>`` partition — a replay overwrites exactly
      itself;
    * a batch whose manifest exists is skipped outright.

    At corpus scale the signature side of the committed corpus is the
    recomputation to watch: the operator reads corpus TEXTS each batch
    (signatures recomputed per batch).  The production evolution is a
    persisted signature table updated alongside the corpus — the
    operator boundary is unchanged, so that swap is local to this
    function.
    """
    import os

    from ..operators.dedup import minhash_dedup, minhash_dedup_incremental
    from ..sinks.merge import (
        LINEAGE_DIR, _commit_manifest, _dynamic_overwrite, _stats,
        read_manifests,
    )

    stream_lineage = os.path.join(path, LINEAGE_DIR, "stream")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        manifest_path = os.path.join(stream_lineage,
                                     f"batch_{batch_id:010d}.json")
        if os.path.exists(manifest_path):
            return
        spark = batch_df.sparkSession
        new = batch_df.select(id_col, text_col)
        # committed batches that WROTE rows: a zero-row batch has a
        # manifest but no ``_batch=`` partition, and reading a path
        # holding only ``_lineage`` would raise UNABLE_TO_INFER_SCHEMA
        # (permanently, since the manifest persists)
        committed = [m["batch_id"] for m in read_manifests(stream_lineage)
                     if m["row_count"] > 0 and m["batch_id"] != int(batch_id)]
        if committed:
            corpus = (
                spark.read.parquet(path)
                .filter(F.col("_batch").isin(committed))
                .select(id_col, text_col)
            )
            survivors = minhash_dedup_incremental(
                new, corpus, id_col, text_col,
                jaccard_threshold=jaccard_threshold,
                dedup_within_batch=True,
            )
        else:  # first batch: self-dedup only
            survivors = minhash_dedup(
                new, id_col, text_col,
                jaccard_threshold=jaccard_threshold)
        survivors = survivors.withColumn(
            "_batch", F.lit(int(batch_id))).persist()
        try:
            stats = _stats(survivors, [id_col], text_col)[()]
            if stats["row_count"] > 0:
                with _dynamic_overwrite(spark):
                    (survivors.write.mode("overwrite").partitionBy("_batch")
                     .parquet(path))
        finally:
            survivors.unpersist()
        _commit_manifest(manifest_path, {"batch_id": int(batch_id),
                                         "row_count": stats["row_count"],
                                         "checksum": stats["checksum"]})

    return write_batch
