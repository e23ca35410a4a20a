"""Streaming t-digest maintenance: a ``foreachBatch`` handler that
commits one immutable PARTIAL digest per micro-batch and serves global
quantiles off the merged centroid store — the round-13 verdict's
'streaming sketch maintenance' item, wiring the merge law
``agg_tdigest_merged`` proved into the monitor shape the streaming
modules share.

Per micro-batch:

- ``tdigest_partial`` builds the batch's dyadic t-digest (rank -> tail
  distance -> bit-length level -> 4-way sub-split; exact integer
  arithmetic throughout) — O(log batch) centroid rows.
- ``tdigest_apply_batch`` commits the centroids APPEND-ONLY under a
  batch-scoped name plus a durable marker. Partials are immutable, so
  exactly-once is simpler than the SCD2 generational protocol: a replay
  of a committed batch is a marker-checked no-op, a crash before the
  marker leaves an orphan file no reader resolves (readers glob only
  batches with committed markers), and the replay overwrites it with
  identical content (the partial is a deterministic function of the
  batch).
- ``serve_tdigest_quantiles`` merges ALL committed partials without
  touching data rows — the re-bin: centroids sorted by value bounds,
  cumulative weight assigns each centroid's midpoint rank to a merged
  dyadic cell, probes interpolate inside the containing bucket's exact
  cents bounds.

These functions are the one implementation of the partial/merge/serve
t-digest: the batch query agg_tdigest_merged (queries/aggregates.py)
builds its per-half partials, merges and serves through them too. The
global-rank batch t-digest queries (agg_tdigest_sketch and its family)
emit rank bounds the partial does not carry and build their own.

Equality contract (pinned in tests/test_streaming.py and oracled by the
registered ``stream_tdigest_twin``): serving off the store after k
committed batches equals the BATCH merge of the same k partials —
bit-for-bit, because build, merge, and the interpolation inputs are all
exact integers; the one IEEE divide is deterministic on both engines.

Scale shape: state is O(k log n) centroid rows (k = committed batches).
``partial_store.compact_partials(..., fold_tdigest)`` folds all live
partials up to a bound into one partial through the same re-bin and
commits it with the partial_store compaction protocol. The fold is
ACCURACY-preserving, not content-identical: re-binning a re-bin can
place mass in different dyadic cells than one flat merge would, so the
pinned contract is total-weight and value-bound conservation plus the
t-digest rank-error bound on every served quantile
(tests/test_streaming.py), never bucket-level equality. Serving never
re-reads data either way.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
tdigest_apply_batch(b, i, store_dir)).option("checkpointLocation", ...)``.

Reference parity note: the reference engine (OpenBeta/parquet-exporter)
has no streaming or sketch surface (export.py is a one-shot batch
export); this extends the engine per SURVEY.md section 2.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.partial_store import (
    commit_partial,
    committed_batches,
    read_partials,
)

__all__ = [
    "TD_SUB",
    "tdigest_cell",
    "tdigest_partial",
    "tdigest_apply_batch",
    "committed_batches",
    "read_tdigest_centroids",
    "merge_tdigest",
    "fold_tdigest",
    "serve_tdigest_quantiles",
]

TD_SUB = 4  # sub-buckets per dyadic level: rank error <= d/4 at tail-distance d


def tdigest_cell(df: DataFrame, rank: str, n, suffix: str = "") -> DataFrame:
    """``df`` plus the dyadic t-digest cell of the 0-based ``rank`` among
    ``n`` (a Column) rows: ``side`` (0 = lower half), ``dd`` (1-based
    distance to the nearer tail), ``lvl`` = floor(log2 dd) (bit length
    via base-2 rendering) and ``sub``, the ``TD_SUB``-way split of the
    level. Exact integer arithmetic. Every column name takes ``suffix``
    (the merge re-bin's ``*2`` cells)."""
    side, dd, lvl, sub = (c + suffix for c in ("side", "dd", "lvl", "sub"))
    lower = 2 * F.col(rank) < n
    p2 = f"shiftleft(1L, CAST({lvl} AS INT))"
    return (
        df.select(
            "*",
            F.when(lower, 0).otherwise(1).alias(side),
            F.when(lower, F.col(rank) + 1).otherwise(n - F.col(rank)).alias(dd),
        )
        .withColumn(
            lvl, (F.length(F.conv(F.col(dd).cast("string"), 10, 2)) - 1).cast("long")
        )
        .withColumn(
            sub,
            F.floor(F.expr(f"(({dd} - {p2}) * {TD_SUB})") / F.expr(p2)).cast("long"),
        )
    )


def tdigest_partial(
    batch_df: DataFrame, value_col: str = "cents", batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's t-digest: (side, lvl, sub, w, lo, hi, sc)
    centroid rows over the integer ``value_col``. The batch-local rank
    is a single-partition window — a micro-batch is bounded by the
    trigger, and the output is O(log batch) rows.

    With ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), ``batch_df`` carries that column and EVERY batch's
    partial is built in one plan: the rank/count windows partition by
    the batch key (identical per-batch ranks — tied cents swap freely
    between ranks, but a bucket's w/lo/hi/sc aggregates see the same
    cents multiset either way) and the output keeps ``batch_col`` for
    ``commit_partials_batched`` to split on."""
    from pyspark.sql import Window

    keep = [F.col(batch_col)] if batch_col else []
    wo = (
        Window.partitionBy(batch_col).orderBy("cents")
        if batch_col
        else Window.orderBy("cents")
    )
    wc = Window.partitionBy(batch_col) if batch_col else Window.partitionBy()
    ranked = batch_df.select(
        *keep, F.col(value_col).cast("long").alias("cents")
    ).select(
        *keep,
        "cents",
        (F.row_number().over(wo) - 1).cast("long").alias("r0"),
        F.count(F.lit(1)).over(wc).cast("long").alias("nb"),
    )
    bucketed = tdigest_cell(ranked, "r0", F.col("nb"))
    keys = ([batch_col] if batch_col else []) + ["side", "lvl", "sub"]
    return bucketed.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.min("cents").cast("long").alias("lo"),
        F.max("cents").cast("long").alias("hi"),
        F.sum("cents").cast("long").alias("sc"),
    )


def tdigest_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    value_col: str = "cents",
) -> bool:
    """Commit one micro-batch's partial digest to ``store_dir`` via the
    shared append-only partial_store protocol. Returns False for a
    replayed (already-committed) batch, True after a commit."""
    return commit_partial(tdigest_partial(batch_df, value_col), batch_id, store_dir)


def read_tdigest_centroids(spark, store_dir: str) -> DataFrame | None:
    """All live partials (newest compacted fold + batches above its
    bound), tagged with batch_id; None before the first commit."""
    return read_partials(spark, store_dir)


def fold_tdigest(cent: DataFrame) -> DataFrame:
    """The compaction fold for ``partial_store.compact_partials``: the
    merge re-bin written back as centroid rows. Accuracy-preserving (see
    module docstring): the compacted store serves the same n and value
    bounds and every quantile stays inside the t-digest rank-error
    bound."""
    return merge_tdigest(cent).select(
        F.col("side2").alias("side"),
        F.col("lvl2").alias("lvl"),
        F.col("sub2").alias("sub"),
        F.col("weight").alias("w"),
        F.col("mlo").alias("lo"),
        F.col("mhi").alias("hi"),
        F.col("msc").alias("sc"),
    )


def merge_tdigest(cent: DataFrame) -> DataFrame:
    """The merge re-bin over a tagged centroid table:
    sort by (lo, hi, batch_id, side, lvl, sub), cumulative weight,
    midpoint rank -> merged dyadic cell. Output one row per merged
    bucket with exact cents bounds and the disjoint cum-weight span
    [cw_start, cw_end] that tiles [0, n-1]."""
    from pyspark.sql import Window

    wo = Window.orderBy("lo", "hi", "batch_id", "side", "lvl", "sub")
    ordered = cent.withColumn(
        "cw",
        F.coalesce(
            F.sum("w").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    ).withColumn(
        "n",
        F.sum("w")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long"),
    )
    rekeyed = ordered.withColumn("mid", F.col("cw") + F.expr("(w - 1) div 2"))
    mbucket = tdigest_cell(rekeyed, "mid", F.col("n"), "2")
    return mbucket.groupBy("side2", "lvl2", "sub2").agg(
        F.sum("w").cast("long").alias("weight"),
        F.min("lo").cast("long").alias("mlo"),
        F.max("hi").cast("long").alias("mhi"),
        F.sum("sc").cast("long").alias("msc"),
        F.count(F.lit(1)).cast("long").alias("n_inputs"),
        F.min("cw").cast("long").alias("cw_start"),
        (F.max(F.col("cw") + F.col("w")) - 1).cast("long").alias("cw_end"),
        F.first("n").cast("long").alias("n"),
    )


def serve_tdigest_quantiles(
    spark, cent: DataFrame, probes: list[float]
) -> DataFrame:
    """Quantile serving off the merged sketch: each probe's target rank
    t = floor(p * (n-1)) joins exactly one merged bucket (spans tile
    [0, n-1]) and interpolates inside its exact cents bounds. Returns
    (p, t, weight, n_inputs, n, est_cents)."""
    mcent = merge_tdigest(cent)
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal probe relation (tables.tiny_df)
    pdf = tiny_df(spark, [(p,) for p in probes], "p double")
    targets = pdf.crossJoin(F.broadcast(mcent.select("n").limit(1))).select(
        "p", F.floor(F.col("p") * (F.col("n") - 1)).cast("long").alias("t")
    )
    return targets.join(
        F.broadcast(mcent),
        (F.col("t") >= F.col("cw_start")) & (F.col("t") <= F.col("cw_end")),
    ).select(
        "p",
        "t",
        "weight",
        "n_inputs",
        "n",
        (
            F.col("mlo")
            + F.when(
                F.col("weight") > 1,
                (F.col("mhi") - F.col("mlo")).cast("double")
                * (
                    (F.col("t") - F.col("cw_start")).cast("double")
                    / (F.col("weight") - 1).cast("double")
                ),
            ).otherwise(F.lit(0.0))
        ).alias("est_cents"),
    )
