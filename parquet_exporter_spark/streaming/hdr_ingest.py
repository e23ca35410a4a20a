"""Streaming HdrHistogram maintenance: the third member of the
foreachBatch sketch family (t-digest: rank-error quantiles; HLL:
distinct counts; this: RELATIVE-value-error quantiles — the latency-
percentile monitor shape).

Like HLL — and unlike the t-digest re-bin — the HDR merge is EXACTLY
associative: bucket identity (octave = bit length, linear subbucket)
depends only on the VALUE, never on ranks or on other partials, so
partials combine by counter ADDITION plus min/max bound folds, and any
grouping of batches (including compaction) yields the identical merged
histogram — which also equals the single-pass whole-stream build. The
registered ``stream_hdr_twin`` hash-checks that identity bucket by
bucket (FULL OUTER mismatch count provably 0) and serves quantiles off
the merged sketch with the structural 12.5% relative-width ceiling.

This module is the one implementation of the portable HDR histogram:
the batch queries agg_hdr_histogram and agg_hdr_merge
(queries/aggregates.py) build, merge and serve through
``hdr_partial`` / ``merge_hdr`` / ``serve_hdr_quantiles`` too. Integer
cents -> (bit-length octave, one of 8 linear subbuckets) — exact
integer arithmetic only, no libm in any decision, one map-side-
combinable aggregate per batch. Per-batch state is O(octaves * 8)
counter rows; the store compacts losslessly.

Store protocol: partial_store (append-only files + durable markers;
replays no-op; compaction supersedes bounded batches only after its
marker is durable).

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
hdr_apply_batch(b, i, store_dir)).option("checkpointLocation", ...)``.

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
    "HDR_SUB",
    "hdr_partial",
    "hdr_apply_batch",
    "committed_batches",
    "read_hdr_buckets",
    "merge_hdr",
    "serve_hdr_quantiles",
]

# linear subbuckets per bit-length octave -> relative bucket width <= 1/8
HDR_SUB = 8


def hdr_partial(
    batch_df: DataFrame, value_col: str = "cents", batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's histogram partial: (lvl, sub, c, lo, hi) rows —
    ONE map-side-combinable aggregate, no ranking anywhere (bucket
    identity is a pure function of the value).

    With ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), every batch's partial is built in one aggregate keyed
    additionally by the batch — per-batch rows identical (bucket identity
    is per-value, the fold per (batch, bucket))."""
    keep = [F.col(batch_col)] if batch_col else []
    lvled = batch_df.select(
        *keep, F.col(value_col).cast("long").alias("cents")
    ).withColumn(
        "lvl", F.length(F.conv(F.col("cents").cast("string"), 10, 2)).cast("long")
    )
    bucketed = lvled.withColumn(
        "sub",
        F.floor(
            F.expr(
                f"((cents - shiftleft(1L, CAST(lvl - 1 AS INT))) * {HDR_SUB})"
            )
            / F.expr("shiftleft(1L, CAST(lvl - 1 AS INT))")
        ).cast("long"),
    )
    keys = ([batch_col] if batch_col else []) + ["lvl", "sub"]
    return bucketed.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.min("cents").cast("long").alias("lo"),
        F.max("cents").cast("long").alias("hi"),
    )


def hdr_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    value_col: str = "cents",
) -> bool:
    """Commit one micro-batch's histogram partial. False on replay."""
    return commit_partial(hdr_partial(batch_df, value_col), batch_id, store_dir)


def read_hdr_buckets(spark, store_dir: str) -> DataFrame | None:
    """All live partials tagged with batch_id; None before the first
    commit."""
    return read_partials(spark, store_dir)


def merge_hdr(buckets: DataFrame) -> DataFrame:
    """Counter add + bound min/max over tagged partials — all three
    folds associative, so the merge is grouping-invariant and equals
    the single-pass build; it is also the lossless compaction fold
    (``partial_store.compact_partials``). Output (lvl, sub, c, lo,
    hi)."""
    return buckets.groupBy("lvl", "sub").agg(
        F.sum("c").cast("long").alias("c"),
        F.min("lo").cast("long").alias("lo"),
        F.max("hi").cast("long").alias("hi"),
    )


def serve_hdr_quantiles(spark, buckets: DataFrame, probes: list[float]) -> DataFrame:
    """Quantiles off the merged histogram: cumulative counts over
    (octave, subbucket), target rank t = floor(p * (n-1)) hits exactly
    one bucket, interpolation inside its exact member bounds. Returns
    (p, t, c, lo, hi, cw, n, est_cents)."""
    from pyspark.sql import Window

    merged = merge_hdr(buckets)
    wo = Window.orderBy("lvl", "sub")
    cum = merged.withColumn(
        "cw",
        F.coalesce(
            F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    ).withColumn(
        "n",
        F.sum("c")
        .over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long"),
    )
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal probe relation (tables.tiny_df)
    pdf = tiny_df(spark, [(p,) for p in probes], "p double")
    targets = pdf.crossJoin(F.broadcast(cum.select("n").limit(1))).select(
        "p", F.floor(F.col("p") * (F.col("n") - 1)).cast("long").alias("t")
    )
    return targets.join(
        F.broadcast(cum),
        (F.col("t") >= F.col("cw")) & (F.col("t") < F.col("cw") + F.col("c")),
    ).select(
        "p",
        "t",
        "c",
        "lo",
        "hi",
        "cw",
        "n",
        (
            F.col("lo")
            + F.when(
                F.col("c") > 1,
                (F.col("hi") - F.col("lo")).cast("double")
                * (
                    (F.col("t") - F.col("cw")).cast("double")
                    / (F.col("c") - 1).cast("double")
                ),
            ).otherwise(F.lit(0.0))
        ).alias("est_cents"),
    )
