"""Streaming k-minimum-values maintenance: the fifth and last member
of the foreachBatch sketch family — the distinct-count sketch that,
unlike HLL, keeps actual sample hashes, so any two maintained stores
are one more merge away from a Jaccard estimate.

The KMV merge law is the bottom-k invariant agg_kmv_union executed:
every hash in the global bottom-k is in its own batch's bottom-k, so
union + re-truncate is grouping-invariant — any fold order (including
compaction) yields the identical k-row state, whose k-th minimum
PROVABLY equals the single-pass whole-stream k-th minimum. The
registered ``stream_kmv_twin`` hash-checks that law (NULL-safe for
under-k streams) and serves the (k-1)/U_(k) distinct estimate with
truth and error verdict.

This module is the one implementation of the portable KMV: the batch
queries agg_kmv_distinct and agg_kmv_union (queries/aggregates.py)
build, merge and serve through ``kmv_partial`` / ``merge_kmv`` /
``serve_kmv_estimate`` too. Hashes are the portable 60-bit md5-prefix
family (exact in BIGINT on both engines); the per-batch bottom-k is
TakeOrderedAndProject — per-partition top-k, no global sort.

Store protocol: partial_store (append-only files + durable markers;
replays no-op; compaction supersedes bounded batches only after its
marker is durable). Per-batch state is <= k = 128 hash rows.

Wire-up: ``parsed.writeStream.foreachBatch(lambda b, i:
kmv_apply_batch(b, i, store_dir, "user_id")).option(
"checkpointLocation", ...)``.

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
    "KMV_K",
    "KMV_HEX",
    "KMV_SPACE",
    "kmv_partial",
    "kmv_apply_batch",
    "committed_batches",
    "read_kmv_hashes",
    "merge_kmv",
    "serve_kmv_estimate",
    "kmv_jaccard_stores",
]

KMV_K = 128
KMV_HEX = 15  # 60-bit hashes: exact in BIGINT on both engines
KMV_SPACE = float(1 << 60)


def kmv_partial(
    batch_df: DataFrame, key_col: str, batch_col: str | None = None
) -> DataFrame:
    """One micro-batch's bottom-k: the k smallest distinct 60-bit
    hashes — DISTINCT + orderBy(hv).limit(k), which plans as
    TakeOrderedAndProject (per-partition top-k, no global sort).

    With ``batch_col`` set (optimization r15, the batched first-build
    bootstrap), every batch's bottom-k comes out of one plan: DISTINCT
    per (batch, hv), then a per-batch rank window cut at k — identical
    per-batch hash sets (hv is distinct within a batch, so the rank has
    no ties)."""
    hv = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, KMV_HEX), 16, 10
    ).cast("long")
    if batch_col is None:
        return (
            batch_df.select(hv.alias("hv")).distinct().orderBy("hv").limit(KMV_K)
        )
    from pyspark.sql import Window

    w = Window.partitionBy(batch_col).orderBy("hv")
    return (
        batch_df.select(F.col(batch_col), hv.alias("hv"))
        .distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KMV_K)
        .select(batch_col, "hv")
    )


def kmv_apply_batch(
    batch_df: DataFrame, batch_id: int, store_dir: str, key_col: str
) -> bool:
    """Commit one micro-batch's bottom-k partial. False on replay."""
    return commit_partial(kmv_partial(batch_df, key_col), batch_id, store_dir)


def read_kmv_hashes(spark, store_dir: str) -> DataFrame | None:
    """All live partials tagged with batch_id; None before the first
    commit."""
    return read_partials(spark, store_dir)


def merge_kmv(hashes: DataFrame) -> DataFrame:
    """Union + re-truncate over tagged partials: DISTINCT the <= n*k
    kept hashes, keep the k smallest — grouping-invariant by the
    bottom-k invariant, so the merged state equals the single-pass
    whole-stream bottom-k exactly. Also the lossless compaction fold
    (``partial_store.compact_partials``)."""
    return (
        hashes.select("hv").distinct().orderBy("hv").limit(KMV_K)
    )


def serve_kmv_estimate(spark, hashes: DataFrame) -> DataFrame:
    """The merged state and distinct estimate as ONE row: (k, n_kept,
    kth, est_distinct) — est = (k-1) * SPACE / U_(k), or n_kept exactly
    when the stream held fewer than k distinct hashes."""
    merged = merge_kmv(hashes)
    from pyspark.sql import Window

    ranked = merged.withColumn(
        "rk", F.row_number().over(Window.orderBy("hv")).cast("long")
    )
    state = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max(F.when(F.col("rk") == KMV_K, F.col("hv")))
        .cast("long")
        .alias("kth"),
    )
    est = (
        F.when(F.col("kth").isNull(), F.col("n_kept"))
        .otherwise(
            F.round(
                (KMV_K - 1) * F.lit(KMV_SPACE) / F.col("kth").cast("double")
            ).cast("long")
        )
        .cast("long")
    )
    return state.select(
        F.lit(KMV_K).cast("long").alias("k"),
        "n_kept",
        "kth",
        est.alias("est_distinct"),
    )


def kmv_jaccard_stores(spark, store_a: str, store_b: str) -> DataFrame:
    """Streaming Jaccard between two maintained KMV stores — the 'one
    more merge away' the module docstring promises, executed: U =
    bottom-k of (merged A  union  merged B), estimate = |U n sketch_A n
    sketch_B| / |U|.

    The sketch-only membership test is EXACT for U's elements, not an
    approximation: U equals the true bottom-k of A u B (bottom-k
    invariant), and any h in U that belongs to A satisfies h <=
    kth(A u B) <= kth(A), so h is necessarily inside A's kept bottom-k
    — membership in the sketch coincides with membership in the set.
    The estimator therefore equals the full-set-marked estimator the
    batch query (agg_kmv_jaccard) computes, which the suite pins by
    direct equality. Returns ONE row (k, n_union_sample, n_both,
    est_jaccard)."""
    a = merge_kmv(read_kmv_hashes(spark, store_a))
    b = merge_kmv(read_kmv_hashes(spark, store_b))
    u = a.union(b).distinct().orderBy("hv").limit(KMV_K)
    marked = (
        u.join(F.broadcast(a.withColumn("in_a", F.lit(1))), "hv", "left")
        .join(F.broadcast(b.withColumn("in_b", F.lit(1))), "hv", "left")
        .select(
            F.when(F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1)
            .otherwise(0)
            .alias("both")
        )
    )
    return marked.agg(
        F.lit(KMV_K).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_union_sample"),
        F.sum("both").cast("long").alias("n_both"),
        F.round(
            F.sum("both").cast("double") / F.count(F.lit(1)), 6
        ).alias("est_jaccard"),
    )
