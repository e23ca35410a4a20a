"""foreachBatch merge-upsert sink: maintain a parquet-backed materialized
view holding the LATEST row per key as a stream flows in.

Plain file sinks can only append; upsert semantics need a merge per
micro-batch, which is exactly what foreachBatch is for: the batch
DataFrame unions with the current view, a per-key window keeps the
newest row, and the result replaces the view through
``sinks/writers.write_atomic_parquet`` (a parquet path cannot be
overwritten while a plan is reading it, and the symlink flip leaves no
moment at which the view is missing).

Scale note: the publish rewrites the whole view each batch — fine for a
bounded key space (a dimension table fed by CDC), wrong for an unbounded
one. At 100 TB the same foreachBatch body would target a transactional
table format's MERGE (Delta/Iceberg/Hudi) so only touched files rewrite;
the streaming-side wiring here is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_exporter_spark.sinks.writers import write_atomic_parquet


def merge_latest(current: DataFrame | None, batch: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Latest row per key across the current view and a new batch; ties on
    the timestamp resolve to the batch side (monotonic __src ordinal)."""
    tagged_new = batch.withColumn("__src", F.lit(1))
    union = (
        tagged_new
        if current is None
        else current.withColumn("__src", F.lit(0)).unionByName(tagged_new)
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).desc(), F.col("__src").desc()
    )
    return (
        union.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def upsert_to_parquet(
    stream_df: DataFrame,
    view_path: str,
    key_col: str,
    ts_col: str,
    checkpoint_dir: str | None = None,
):
    """Start a foreachBatch query maintaining `view_path` as the
    latest-per-key view of the stream. Returns the StreamingQuery.

    With `checkpoint_dir`, the query is restartable: committed source
    offsets persist, so a restarted query resumes after the last
    committed micro-batch instead of replaying the stream; an
    interrupted batch may re-run, which the merge absorbs (same keys,
    same timestamps -> same view), giving end-to-end effectively-once."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        current = None
        if os.path.isdir(view_path):
            current = batch_df.sparkSession.read.parquet(view_path)
        latest = merge_latest(current, batch_df, key_col, ts_col)
        write_atomic_parquet(latest, view_path)

    writer = stream_df.writeStream.foreachBatch(_merge).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
