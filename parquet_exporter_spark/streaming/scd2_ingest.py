"""Incremental SCD2 dimension maintenance from a CDC change stream.

The streaming half of the SCD2 story: ``cdc_scd2_build`` (the batch
query) rebuilds the whole valid_from/valid_to dimension from the full
log; this module maintains the SAME dimension incrementally, one
micro-batch of Debezium-parsed changes at a time — the composition a
warehouse actually runs between full rebuilds. Per batch:

- CLOSED versions are immutable history: never touched.
- Each affected key's OPEN version (valid_to IS NULL) re-enters the
  per-key window as a pseudo-change at its original valid_from, joined
  by the batch's new changes in ts order; the standard lead() pass
  re-derives validity — the first new change closes the old open
  version, tombstones close without emitting, and the last surviving
  change stays open. Unaffected keys are carried through untouched.
- The updated dimension is published as a new immutable GENERATION
  with the protocol in ``sinks/writers.py``: batch-scoped data files,
  then a per-batch marker. Readers (``read_scd2_dim``) resolve the
  current generation from the newest committed marker, never by
  globbing all dim files, so the input to a replayed batch is immutable
  until its marker lands — which is what makes exactly-once hold.

INVARIANT (asserted): batches must arrive in event-time order per key —
every new change ts must be STRICTLY GREATER than the affected key's
open-version valid_from. A change at exactly the open version's
valid_from would tie with the reopened pseudo-change in the per-key
window (lead() between the two is nondeterministic — a zero-width
version or a dropped update depending on partition order), so ties are
rejected as out-of-order rather than silently interleaved; the batch
rebuild's contract likewise assumes unique ts per key.

Equality contract, pinned in tests/test_round13_ops.py: after applying
the log's batches in order, the incremental dimension equals
``cdc_scd2_build``'s full-rebuild output EXACTLY — including at every
intermediate batch boundary against the corresponding log prefix.

Scale shape: per batch the work is O(batch + affected open versions) —
affected keys resolve via a broadcast semi-join against the (bounded)
batch key set; the full-dimension rewrite here is the local-parquet
simplification, the 100 TB form overwrites only the affected keys'
partitions (overwrite_partitions in sinks/writers.py) or MERGEs into a
transactional table.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
scd2_apply_batch(b, i, dim_dir)).option("checkpointLocation", ...)``.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.sinks.writers import (
    commit_marker,
    marker_ids,
    marker_path,
    publish_parts,
)


def read_scd2_dim(spark, dim_dir: str) -> DataFrame | None:
    """The current dimension, or None before the first committed batch.

    Resolves the file set from the newest committed marker — an
    uncommitted generation left by a crashed ``scd2_apply_batch`` is
    never read (its replay will overwrite it), and stale generations
    awaiting post-marker cleanup are ignored."""
    gens = marker_ids(dim_dir, "batch")
    if not gens:
        return None
    gen = gens[-1]
    files = sorted(glob.glob(os.path.join(dim_dir, f"dim-{gen:08d}-*.parquet")))
    if not files:
        raise FileNotFoundError(
            f"scd2 dim at {dim_dir}: marker for batch {gen} exists but its "
            "generation files are missing — the directory was modified "
            "outside the publish protocol"
        )
    return spark.read.parquet(*files)


def scd2_apply_batch(batch_df: DataFrame, batch_id: int, dim_dir: str) -> bool:
    """Apply one micro-batch of parsed changes (ts_ms, op, key_id, name,
    balance) to the dimension at ``dim_dir``. Returns False for a
    replayed (already-committed) batch, True after a commit."""
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    os.makedirs(dim_dir, exist_ok=True)
    marker = marker_path(dim_dir, "batch", batch_id)
    if os.path.isfile(marker):
        return False  # replay of a fully-committed batch
    changes = batch_df.select("ts_ms", "op", "key_id", "name", "balance")
    dim = read_scd2_dim(spark, dim_dir)
    keys = changes.select("key_id").distinct()
    if dim is None:
        closed = None
        reopened = spark.createDataFrame([], changes.schema)
        untouched = None
    else:
        cols = [
            "key_id",
            "name",
            "balance",
            "valid_from_ms",
            "valid_to_ms",
            "is_current",
        ]
        affected = dim.join(F.broadcast(keys), "key_id", "semi")
        untouched = dim.join(F.broadcast(keys), "key_id", "anti").select(cols)
        closed = affected.filter(F.col("valid_to_ms").isNotNull()).select(cols)
        open_vers = affected.filter(F.col("valid_to_ms").isNull())
        # event-time-order invariant: every new change must be STRICTLY
        # newer than the affected key's open version — a tie at
        # valid_from would make lead() ordering against the reopened
        # pseudo-change nondeterministic (zero-width version or dropped
        # update), so it is rejected, not interleaved
        viol = (
            changes.join(
                open_vers.select("key_id", "valid_from_ms"), "key_id"
            )
            .filter(F.col("ts_ms") <= F.col("valid_from_ms"))
            .count()
        )
        if viol:
            raise ValueError(
                f"batch {batch_id}: {viol} change(s) at or before an open "
                "version's valid_from — out-of-order CDC needs a full rebuild"
            )
        reopened = open_vers.select(
            F.col("valid_from_ms").alias("ts_ms"),
            F.lit("u").alias("op"),
            "key_id",
            "name",
            "balance",
        )
    timeline = reopened.unionByName(changes)
    wk = Window.partitionBy("key_id").orderBy("ts_ms")
    rebuilt = (
        timeline.withColumn("valid_to_ms", F.lead("ts_ms").over(wk))
        .filter(F.col("op") != "d")
        .select(
            "key_id",
            "name",
            F.round("balance", 2).alias("balance"),
            F.col("ts_ms").alias("valid_from_ms"),
            "valid_to_ms",
            F.col("valid_to_ms").isNull().alias("is_current"),
        )
    )
    parts = [rebuilt]
    if closed is not None:
        parts.append(closed)
    if untouched is not None:
        parts.append(untouched)
    new_dim = parts[0]
    for p in parts[1:]:
        new_dim = new_dim.unionByName(p)
    # version_seq is a per-key renumbering over the final row set
    wseq = Window.partitionBy("key_id").orderBy("valid_from_ms")
    out = new_dim.select(
        "key_id", "name", "balance", "valid_from_ms", "valid_to_ms", "is_current"
    ).withColumn("version_seq", F.row_number().over(wseq).cast("long"))
    final_files = publish_parts(out, dim_dir, f"dim-{batch_id:08d}-")
    commit_marker(marker, batch_id)
    # superseded generations go only after the durable marker
    for p in glob.glob(os.path.join(dim_dir, "dim-*.parquet")):
        if p not in final_files:
            os.unlink(p)
    return True
