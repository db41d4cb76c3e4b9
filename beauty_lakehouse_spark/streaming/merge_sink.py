"""Streaming upsert sink: apply a change stream to a versioned table.

The lakehouse pattern the reference's curated zone implies but never
builds: a CDC/append stream continuously MERGEd into a managed table
(Delta's ``foreachBatch`` + ``MERGE`` idiom). Each micro-batch is
deduplicated to the latest row per key (by a monotonically-meaningful
sequence column, e.g. the event timestamp) and applied as a
merge-on-read upsert via :mod:`beauty_lakehouse_spark.tables` — so the
table is always a consistent snapshot, readers time-travel across
micro-batches, and a replayed batch (streaming's at-least-once
foreachBatch contract) re-applies the same rows idempotently (same
keys -> same final state).

Scale: state lives in the table, not the stream — the only streaming
state is the file-source offset log in the checkpoint dir. Each
micro-batch's merge writes one delta file set of that batch's rows;
`tables.compact` folds accumulated deltas into the base.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import tables


def latest_per_key(batch: DataFrame, keys: list[str], seq_col: str) -> DataFrame:
    """Collapse a micro-batch to its newest row per key (ties broken by
    favoring the largest sequence value deterministically)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_stream(
    stream: DataFrame,
    path: str,
    keys: list[str],
    seq_col: str,
    checkpoint_dir: str,
    partition_by: str | None = None,
) -> StreamingQuery:
    """Start a streaming query that MERGEs each micro-batch into the
    versioned table at ``path`` (created on first batch if absent). It
    drains currently-available input and stops (Trigger.AvailableNow)."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        latest = latest_per_key(batch, keys, seq_col)
        if tables.latest_version(path) == 0:
            tables.write_versioned(latest, path, partition_by=partition_by)
        else:
            tables.merge_upsert(batch.sparkSession, path, latest, keys=keys)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
