"""Incremental ingestion — batch harness + Structured Streaming variant
(SURVEY §2.11 ST1-ST4).

The reference hand-rolls the incremental state machine: read max cursor
via delegated SQL, pull ``> cursor``, dedup, MERGE with a
cursor-differs guard, append a new cursor row
(``/root/reference/pipeline/hubspot_2_bigquery_migration/companies_pipeline.py:97-136``).

Two formalizations:

* :func:`incremental_batch_run` — the scheduled-micro-batch shape the
  reference actually runs (GitLab CI cron), as one function over a
  :class:`~data_pipeline_bigquery_spark.state.cursor.CursorStore` and a
  target parquet table.
* :func:`streaming_upsert` — the same semantics on Structured
  Streaming: ``readStream`` → ``withWatermark`` +
  ``dropDuplicatesWithinWatermark`` (ST3 late/duplicate handling) →
  ``foreachBatch`` merge (exactly-once per epoch, the checkpoint is the
  cursor table).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_bigquery_spark.operators.dedup import dedup_keep_latest
from data_pipeline_bigquery_spark.operators.merge import merge_upsert
from data_pipeline_bigquery_spark.operators.metadata import generate_emitted_info, zip_emitted_info
from data_pipeline_bigquery_spark.operators.observe import observed, standard_load_metrics
from data_pipeline_bigquery_spark.state.cursor import CursorStore


def incremental_batch_run(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    cursor_store: CursorStore,
    object_name: str,
    pk: str,
    cursor_col: str,
    now: _dt.datetime | None = None,
) -> int:
    """One scheduled run: cursor read → incremental filter → dedup →
    merge into the target parquet table → cursor append.  Returns rows
    upserted (the reference's workflow row-count contract,
    ``companies_pipeline.py:136``)."""
    emitted_at, emitted_id = generate_emitted_info(now)
    cursor = cursor_store.max_cursor(object_name)

    batch = source
    if cursor is not None:
        batch = batch.filter(F.col(cursor_col) > F.lit(cursor))
    batch = dedup_keep_latest(batch, [pk], [cursor_col, pk])
    batch = zip_emitted_info(batch, emitted_at, emitted_id)
    # row count and max cursor ride on the write job instead of two
    # more jobs that would each recompute the filter and dedup
    batch, obs = observed(batch, "incremental_batch", standard_load_metrics(pk, cursor_col))

    if os.path.exists(target_path):
        target = spark.read.parquet(target_path)
        merged = merge_upsert(target, batch.select(*target.columns), pk, cursor_col)
    else:
        merged = batch
    # overwrite via staging so the read and write don't race on the same files
    staging = target_path + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    final = spark.read.parquet(staging)
    final.write.mode("overwrite").parquet(target_path)

    metrics = obs.get
    if metrics["max_cursor"] is not None:
        cursor_store.append(object_name, metrics["max_cursor"], emitted_at, emitted_id)
    return metrics["n_rows"]


def streaming_upsert(
    spark: SparkSession,
    stream_path: str,
    schema,
    target_path: str,
    pk: str,
    event_time_col: str,
    watermark: str = "10 minutes",
    checkpoint: str | None = None,
    transform=None,
    partition_col: str | None = None,
):
    """Structured Streaming version of the email-read-log path
    (SURVEY §3.3): files land in ``stream_path``, late/duplicate events
    are dropped within the watermark, every micro-batch merges into the
    target table.  Returns the StreamingQuery (caller stops it).

    At scale: the ``foreachBatch`` merge is the same join-based upsert
    as batch; the watermark bounds dedup state so it doesn't grow
    unboundedly (the reference's equivalent guard is the MERGE no-op on
    unchanged cursor rows, bigquery.py:249-251).

    ``partition_col`` selects the sink strategy:

    * ``None`` — unpartitioned target, full staged rewrite per batch.
      O(target) per micro-batch: fine for dimension-sized targets, NOT
      for a lake-scale fact.
    * a hive partition column (e.g. an event date) — each batch routes
      through :func:`..sources.lake.merge_partitioned`: the batch's
      distinct partition values prune the target scan, the merge runs
      over the touched slice only, and only touched ``col=value``
      directories are swapped.  IO per micro-batch is O(touched
      partitions) — the configuration a 100 TB streaming sink needs.
    """
    stream = spark.readStream.schema(schema).parquet(stream_path)
    if transform is not None:
        stream = transform(stream)
    # duplicate = same pk AND same event time — the streaming analog of
    # the MERGE no-op on unchanged cursor (ST3).  Deduping on pk alone
    # would silently drop *updates* delivered within the watermark.
    deduped = stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        [pk, event_time_col]
    )

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # a batch may still carry several versions of one pk → keep latest
        batch_df = dedup_keep_latest(batch_df, [pk], [event_time_col])
        sess = batch_df.sparkSession
        if partition_col is not None:
            from data_pipeline_bigquery_spark.sources.lake import merge_partitioned

            if os.path.exists(target_path):
                merge_partitioned(
                    sess, batch_df, target_path, pk, partition_col, event_time_col
                )
            else:
                batch_df.write.mode("overwrite").partitionBy(partition_col).parquet(
                    target_path
                )
            return
        if os.path.exists(target_path):
            target = sess.read.parquet(target_path)
            merged = merge_upsert(
                target, batch_df.select(*target.columns), pk, event_time_col
            )
        else:
            merged = batch_df
        staging = target_path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        sess.read.parquet(staging).write.mode("overwrite").parquet(target_path)

    writer = deduped.writeStream.foreachBatch(merge_batch).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
