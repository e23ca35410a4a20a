"""Streaming count-min-sketch maintenance: the heavy-hitter /
frequency-monitor member of the foreachBatch sketch family (t-digest:
rank quantiles; HLL: distinct counts; HDR: relative-error quantiles;
this: per-key frequency estimates).

CMS cells are plain counters and counting is associative, so the merge
is grouping-invariant like HDR's: partials combine by counter ADDITION
and any fold order — including compaction — yields the identical
(depth x width) table, which equals the single-pass whole-stream
sketch cell for cell. The registered ``stream_cms_twin`` hash-checks
that identity (FULL OUTER mismatch count provably 0) and serves point
estimates for a literal probe-key set with the one-sided CMS guarantee
emitted as data: est >= true count ALWAYS (counters only ever add),
with the measured overcount alongside.

This module is the one implementation of the portable CMS: the batch
queries agg_count_min_portable and agg_cms_merge
(queries/aggregates.py) build through ``_bucket_rows`` /
``cms_partial`` too. A 31-bit md5-prefix base hash feeds d=4
pairwise-independent (a*h + b) mod p mod w maps with LCG-derived
literal coefficients — identical in both engines, no engine-private
binary.

Store protocol: partial_store (append-only files + durable markers;
replays no-op; compaction supersedes bounded batches only after its
marker is durable). Per-batch state is <= d*w = 256 counter rows.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
cms_apply_batch(b, i, store_dir, "user_id")).option(
"checkpointLocation", ...)``.

Reference parity note: the reference engine (OpenBeta/parquet-exporter)
has no streaming or sketch surface (export.py is a one-shot batch
export); this extends the engine per SURVEY.md section 2.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_exporter_spark.functions import dedup as _D
from parquet_exporter_spark.streaming.partial_store import (
    commit_partial,
    committed_batches,
    read_partials,
)

__all__ = [
    "CMS_D",
    "CMS_W",
    "cms_partial",
    "cms_apply_batch",
    "committed_batches",
    "read_cms_counters",
    "merge_cms",
    "serve_cms_estimates",
]

CMS_D = 4  # depth (hash functions)
CMS_W = 64  # width (buckets per depth)


def _bucket_rows(df: DataFrame, key_col: str, *keep: str) -> DataFrame:
    """One (depth, bucket) row per input row and depth, carrying the
    caller-named ``keep`` columns through."""
    coeffs = _D.hash_coefficients(CMS_D)
    h = df.select(
        *keep, _D.base_hash_31(F.col(key_col).cast("string")).alias("h")
    )
    return h.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("depth"),
                        (
                            (F.lit(a) * F.col("h") + F.lit(b))
                            % _D.MERSENNE_31
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for i, (a, b) in enumerate(coeffs)
                ]
            )
        ).alias("db"),
    ).select(
        *keep,
        F.col("db.depth").alias("depth"),
        F.col("db.bucket").alias("bucket"),
    )


def cms_partial(
    batch_df: DataFrame, key_col: str, batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's counter partial: (depth, bucket, c) rows,
    <= d*w of them — ONE map-side-combinable aggregate. With
    ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), every batch's counters come out of one aggregate keyed
    additionally by the batch — per-batch rows identical (pure counting
    per (batch, cell))."""
    keep = [batch_col] if batch_col else []
    return _bucket_rows(batch_df, key_col, *keep).groupBy(
        *keep, "depth", "bucket"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def cms_apply_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, key_col: str
) -> bool:
    """Commit one micro-batch's counter partial. False on replay."""
    return commit_partial(cms_partial(batch_df, key_col), batch_id, store_dir)


def read_cms_counters(spark, store_dir: str) -> DataFrame | None:
    """All live partials tagged with batch_id; None before the first
    commit."""
    return read_partials(spark, store_dir)


def merge_cms(counters: DataFrame) -> DataFrame:
    """Counter addition over tagged partials — grouping-invariant, so
    the merge equals the single-pass build cell for cell, and it is the
    lossless compaction fold (``partial_store.compact_partials``).
    Output (depth, bucket, c)."""
    return counters.groupBy("depth", "bucket").agg(
        F.sum("c").cast("long").alias("c")
    )


def serve_cms_estimates(spark, counters: DataFrame, probe_keys: list) -> DataFrame:
    """Point-frequency estimates for literal probe keys off the merged
    sketch: est(key) = min over depths of the counter at (depth,
    bucket_d(key)) — the standard CMS read, one broadcast join of
    d rows per probe against the <= d*w counter table. Returns
    (key, est)."""
    merged = merge_cms(counters)
    from parquet_exporter_spark.tables import tiny_df

    # single-slice literal probe relation (tables.tiny_df): plain
    # createDataFrame spreads a handful of rows over defaultParallelism
    # near-empty tasks per downstream operator
    probes = tiny_df(spark, [(str(k),) for k in probe_keys], "key string")
    pb = _bucket_rows(probes, "key", "key")
    return (
        pb.join(merged, ["depth", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("est"))
    )
