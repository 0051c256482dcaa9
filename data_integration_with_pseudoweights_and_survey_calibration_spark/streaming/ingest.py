"""Streaming ingestion into analysis-ready storage layouts.

``stream_to_bucketed`` lands a stream into a hash-bucketed catalog
table via ``foreachBatch``: the stream pays the bucketing shuffle once
per micro-batch, and every later join/aggregation on the bucket key is
shuffle-free (see ``sources/sinks.py``).  Exactly-once at the batch
level comes from the checkpoint: a replayed micro-batch re-runs with
the same ``batch_id``, which the idempotent-append guard skips.

This is the production shape for continuous 100 TB ingestion: the
write amortizes the expensive partitioning while readers stay cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf


def stream_to_bucketed(
    stream_df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    checkpoint: str,
    query_name: str = "ingest",
    available_now: bool = True,
):
    """Start (and return) a streaming query landing each micro-batch
    into the bucketed catalog table ``table``.  Creates the table on
    the first batch; later batches insert with the identical
    bucket spec.

    Batch-level idempotence is CRASH-SAFE: every batch lands in its own
    ``_ingest_batch=<batch_id>`` partition via dynamic-partition
    OVERWRITE, so a replayed micro-batch (checkpoint recovery — even
    one that died mid-write) replaces its own partition instead of
    double-appending.  No side marker table is needed: the data write
    itself is the idempotence mechanism (a marker written after the
    data, as a first version did, leaves a crash window between the two
    writes where replay double-appends).
    """

    def _write_batch(df: DataFrame, batch_id: int) -> None:
        s: SparkSession = df.sparkSession
        # Scope the dynamic-overwrite mode to this write: the conf is
        # session-wide, and leaving it set would silently change
        # overwrite semantics for unrelated writes on the same session.
        with scoped_conf(s, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
            data = df.withColumn("_ingest_batch", F.lit(int(batch_id)))
            if not s.catalog.tableExists(table):
                (
                    data.write.mode("overwrite")
                    .partitionBy("_ingest_batch")
                    .bucketBy(n_buckets, *bucket_cols)
                    .format("parquet")
                    .saveAsTable(table)
                )
            else:
                # positional insert into the existing (partitioned +
                # bucketed) table; dynamic mode overwrites ONLY the
                # _ingest_batch partitions present in this frame
                data.write.mode("overwrite").format("parquet").insertInto(
                    table
                )

    writer = (
        stream_df.writeStream.foreachBatch(_write_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
