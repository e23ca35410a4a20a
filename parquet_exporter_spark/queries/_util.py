"""Shared helpers for oracle-parity queries.

Float aggregates are rounded on both the Spark and DuckDB sides: the two
engines sum partitions in different orders, so raw double aggregates differ
in the last bits and would break the driver's value-hash compare
(SURVEY.md section 5 trap list). ROUND_MONEY for large magnitudes (sums of
prices), ROUND_RATIO for small ones (averaged discounts, correlations).

The sketch verdicts (exact truth, error and merge-law columns next to a
served estimate) are shared by the batch sketch queries and their
streaming twins, which build, merge and serve through the same
``streaming/*_ingest.py`` functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.hdr_ingest import HDR_SUB, hdr_partial, merge_hdr
from parquet_exporter_spark.tables import read_table

ROUND_MONEY = 2
ROUND_RATIO = 6


def rmoney(c: Column) -> Column:
    return F.round(c, ROUND_MONEY)


def rratio(c: Column) -> Column:
    return F.round(c, ROUND_RATIO)


def true_distinct(df: DataFrame, key_col: str) -> DataFrame:
    """The exact distinct count a distinct sketch is graded against."""
    return df.agg(F.countDistinct(key_col).cast("long").alias("true_distinct"))


def distinct_verdict(bound: float) -> list:
    """rel_error and within_bound (|est - true| <= bound * true + 1) of
    est_distinct against true_distinct."""
    err = F.abs(F.col("est_distinct").cast("double") - F.col("true_distinct"))
    return [
        F.round(err / F.col("true_distinct"), 6).alias("rel_error"),
        (err <= bound * F.col("true_distinct") + 1).alias("within_bound"),
    ]


def lineitem_cents(spark: SparkSession, sf_dir: str, *keep) -> DataFrame:
    """lineitem prices as integer cents, the value the quantile sketches
    bucket, with ``keep`` columns alongside."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"), *keep
    )


def tdigest_verdict(served: DataFrame, cents: DataFrame, *extra) -> DataFrame:
    """The verification harness of a merged t-digest serve: the exact
    value at each target rank, the tie-aware rank error of the served
    value (count< / count<= brackets), the distance to the nearer tail
    and the rank_err <= 0.35*d + 8 verdict. ``extra`` columns ride
    after n_inputs."""
    gr = cents.select(
        "cents",
        (F.row_number().over(Window.orderBy("cents")) - 1).cast("long").alias("r0g"),
    )
    exact = (
        served.select("p", F.col("t").alias("r0g"))
        .join(gr, "r0g")
        .select("p", F.col("cents").alias("exact_cents"))
    )
    ranks = (
        gr.crossJoin(F.broadcast(served.select("p", "est_cents")))
        .groupBy("p")
        .agg(
            F.sum(F.when(F.col("cents") < F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("lt"),
            F.sum(F.when(F.col("cents") <= F.col("est_cents"), 1).otherwise(0))
            .cast("long")
            .alias("le"),
        )
    )
    rank_err = (
        F.when(F.col("lt") > F.col("t"), F.col("lt") - F.col("t"))
        .when(F.col("le") - 1 < F.col("t"), F.col("t") - (F.col("le") - 1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    d_tail = (
        F.when(F.col("t") + 1 < F.col("n") - F.col("t"), F.col("t") + 1)
        .otherwise(F.col("n") - F.col("t"))
        .cast("long")
    )
    return (
        served.join(exact, "p")
        .join(ranks, "p")
        .select(
            "p",
            F.col("t").alias("target_rank"),
            F.col("weight").alias("merged_weight"),
            "n_inputs",
            *extra,
            F.round(F.col("est_cents") / 100.0, 4).alias("est_price"),
            F.round(F.col("exact_cents") / 100.0, 4).alias("exact_price"),
            rank_err.alias("rank_err"),
            d_tail.alias("d_tail"),
            (rank_err.cast("double") <= 0.35 * d_tail + 8).alias("within_bound"),
        )
    )


def hdr_verdict(served: DataFrame, cents: DataFrame) -> DataFrame:
    """A served HDR quantile next to the exact value at its target rank
    (the verification harness, not the serve path): the hit bucket's
    bounds, the interpolated estimate, whether the exact value lies
    inside the bucket, and the structural 1/HDR_SUB relative-width
    verdict."""
    gr = cents.select(
        "cents",
        (F.row_number().over(Window.orderBy("cents")) - 1).cast("long").alias("r0"),
    )
    exact = (
        served.select("p", F.col("t").alias("r0"))
        .join(gr, "r0")
        .select("p", F.col("cents").alias("exact_cents"))
    )
    rel_width = (F.col("hi") - F.col("lo")).cast("double") / F.col("lo")
    return served.join(exact, "p").select(
        "p",
        F.col("t").alias("target_rank"),
        F.col("c").alias("bucket_count"),
        F.round(F.col("lo") / 100.0, 4).alias("bucket_lo"),
        F.round(F.col("hi") / 100.0, 4).alias("bucket_hi"),
        F.round(F.col("est_cents") / 100.0, 4).alias("est_price"),
        F.round(F.col("exact_cents") / 100.0, 4).alias("exact_price"),
        F.round(rel_width, 6).alias("rel_bucket_width"),
        F.col("exact_cents").between(F.col("lo"), F.col("hi")).alias("within_bucket"),
        (rel_width <= 1.0 / HDR_SUB).alias("width_bound_ok"),
    )


def hdr_merge_law(part: DataFrame, cents: DataFrame) -> DataFrame:
    """The HDR merge law as one row: merge_hdr over the partials FULL
    OUTER joined bucket by bucket against the single-pass whole build
    (n_buckets, n_mismatch; n_mismatch is provably 0)."""
    whole = (
        hdr_partial(cents.select("cents"))
        .withColumnRenamed("c", "wc")
        .withColumnRenamed("lo", "wlo")
        .withColumnRenamed("hi", "whi")
    )
    return (
        merge_hdr(part)
        .join(whole, ["lvl", "sub"], "full_outer")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(
                F.when(
                    ~F.col("c").eqNullSafe(F.col("wc"))
                    | ~F.col("lo").eqNullSafe(F.col("wlo"))
                    | ~F.col("hi").eqNullSafe(F.col("whi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_mismatch"),
        )
    )
