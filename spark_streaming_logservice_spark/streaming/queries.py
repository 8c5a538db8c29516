"""Reusable streaming query shapes — the §2.4 contract as composable
DataFrame→DataFrame functions, streaming-safe (each works on a batch OR
streaming DataFrame; Catalyst plans the incremental version automatically).

These are the operators the reference's tests/examples run on its source:
wordcount (EX/sql/streaming/StructuredLoghubWordCount.scala:77), watermarked
tumbling windows (TEST/LoghubMicroBatchSourceSuite.scala:381-424),
stream-stream equi-joins (:426-459), update/complete aggregations
(TEST/LoghubSinkSuite.scala:171-202).

Scale notes: all stateful operators key their state by the groupBy columns —
state store partitioning follows spark.sql.shuffle.partitions; watermarks
bound state size (late data dropped, windows evicted)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def wordcount(df: DataFrame, text_col: str = "content") -> DataFrame:
    """explode(split) → groupBy → count; partial aggregation happens map-side
    before the shuffle."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .count()
    )


def windowed_counts(
    df: DataFrame,
    time_col: str = "__time__",
    window: str = "5 seconds",
    watermark: str = "10 seconds",
    *extra_keys: str,
) -> DataFrame:
    """Tumbling event-time window with a watermark (late data beyond the
    watermark is dropped; closed windows evict state)."""
    return (
        df.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window).alias("window"), *extra_keys)
        .agg(F.count("*").alias("n"))
    )


def keyed_join(
    left: DataFrame, right: DataFrame, key: Column | str, how: str = "inner"
) -> DataFrame:
    """Stream-stream equi-join (state-store symmetric hash join when both
    sides stream). Key skew at scale → AQE skew handling (batch) or salting."""
    return left.join(right, key, how)


def dedup_stream(df: DataFrame, *key_cols: str, watermark_col: str | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: dropDuplicates keyed on content columns.
    With a watermark the state is bounded to the watermark horizon —
    mandatory at 100 TB (unbounded dedup state OOMs)."""
    if watermark_col is not None:
        return df.withWatermark(watermark_col, watermark).dropDuplicates(
            [*key_cols, watermark_col]
        )
    return df.dropDuplicates(list(key_cols))


def query_id(spark) -> str | None:
    """Id of the streaming query whose micro-batch this thread runs, or None
    outside a query (direct calls). Spark sets it as a local property on the
    thread that runs foreachBatch; a restart from the same checkpoint keeps
    it, a fresh checkpoint gets a new one. Batch ids restart at 0 per
    query, so a replay guard keyed on the batch id alone reads another
    query's batch N as its own replay."""
    return spark.sparkContext.getLocalProperty("sql.streaming.queryId")


def idempotent_foreach_batch(write_fn, marker_dir: str):
    """Wrap a foreachBatch function with the reference sink's batchId guard
    (SINK/LoghubSink.scala:31-38), persisted to ``marker_dir`` so redelivery
    after driver restart is also skipped (SURVEY.md §7.4.5). The marker
    ``batch-<id>`` holds the query id (``ok`` outside a query) and skips
    only that query's replay: a second query with a fresh checkpoint over
    the same store runs its own batch ids."""
    import os

    from spark_streaming_logservice_spark.streaming import storefs

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        storefs.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        owner = query_id(batch_df.sparkSession) or "ok"
        if storefs.exists(marker) and storefs.read_text(marker) == owner:
            return
        write_fn(batch_df, batch_id)
        storefs.write_text(marker, owner)

    return apply
