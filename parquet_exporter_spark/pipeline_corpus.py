"""Corpus release pipeline: the LLM-data user story end-to-end.

Composes the engine's curation operators into the pass a training-data
team runs to cut a corpus snapshot:

    documents -> quality gate (Gopher-style rules)
              -> exact dedup (sha-256 keyed, keep lowest doc_id)
              -> per-source token budget (deterministic hash order)
              -> global deterministic shuffle (reproducible example order)
              -> partitioned zstd parquet + dataset card (per-source stats)

Every stage is the same logic the registered queries verify against
DuckDB (`text_gopher_quality_filter`, `dedup_exact_hash`,
`sample_tokens_budget`, `sample_global_shuffle`); this module wires them
into one plan so the release is a single Spark job whose health metrics
ride the write action via observe() — no second scan.

Scale: quality and hashing are per-row expressions; dedup shuffles on
the 256-bit content hash; the budget cut is one window per source; the
shuffle order is the global-row-id operator (range exchange + offset
prefix sum — no single-partition sort). Nothing is collected to the
driver except the bounded dataset card (|sources| rows).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from parquet_exporter_spark.functions import text as T
from parquet_exporter_spark.operators.ids import global_row_number
from parquet_exporter_spark.queries.llm4 import (
    MAX_SYMBOL_RATIO,
    MAX_WORDS,
    MIN_WORDS,
)
from parquet_exporter_spark.tables import read_table


def quality_gate(docs: DataFrame) -> DataFrame:
    """Gopher-style keep rules (the registered filter's constants)."""
    toks = T.tokens(F.col("text"))
    n_words = F.size(toks)
    symbol_ratio = F.length(
        F.regexp_replace("text", "[a-zA-Z0-9 ]", "")
    ).cast("double") / F.greatest(F.length("text"), F.lit(1))
    return docs.filter(
        n_words.between(MIN_WORDS, MAX_WORDS) & (symbol_ratio <= MAX_SYMBOL_RATIO)
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep the lowest doc_id per distinct text (sha-256 keyed shuffle)."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy("doc_id")
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def token_budget_cut(docs: DataFrame, budget_per_source: int) -> DataFrame:
    """Running-sum token cut per source in deterministic md5 order: a doc
    is kept while the budget is not yet exhausted when its turn comes."""
    from pyspark.sql import Window

    n_tokens = F.size(T.tokens(F.col("text")))
    order_key = F.md5(F.col("text"))
    w = (
        Window.partitionBy("source")
        .orderBy(order_key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spent_before = F.coalesce(F.sum("__n_tok").over(w), F.lit(0))
    return (
        docs.withColumn("__n_tok", n_tokens)
        .withColumn("__spent", spent_before)
        .filter(F.col("__spent") < budget_per_source)
        .drop("__spent")
    )


def release_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    budget_per_source: int = 20_000,
) -> dict:
    """Run the release; returns the dataset card (also written as JSON).

    Output layout: ``<out_dir>/data`` partitioned by source (zstd
    parquet, each row carrying its global shuffle position) and
    ``<out_dir>/dataset_card.json``.
    """
    docs = read_table(spark, sf_dir, "documents")
    kept = token_budget_cut(dedup_exact(quality_gate(docs)), budget_per_source)
    # reproducible pre-training order: contiguous positions in md5 order
    shuffled = global_row_number(
        kept.withColumn("__shuffle_key", F.md5(F.concat_ws("|", "doc_id", "text"))),
        ["__shuffle_key"],
        id_col="example_order",
    ).drop("__shuffle_key")

    obs = Observation("release_metrics")
    observed = shuffled.observe(
        obs,
        F.count(F.lit(1)).alias("examples"),
        F.sum("__n_tok").alias("tokens"),
        F.approx_count_distinct("source").alias("approx_sources"),
    )
    data_path = os.path.join(out_dir, "data")
    release = observed.withColumnRenamed("__n_tok", "n_tokens")
    (
        release.write.mode("overwrite")
        .partitionBy("source")
        .option("compression", "zstd")
        .parquet(data_path)
    )

    # dataset card: bounded per-source summary off the written snapshot
    # (read-back doubles as write verification); the schema is the one just
    # written, which an empty release leaves no file to infer from
    released = spark.read.schema(release.schema).parquet(data_path)
    per_source = [
        r.asDict()
        for r in released.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("examples"),
            F.sum("n_tokens").cast("long").alias("tokens"),
        )
        .orderBy("source")
        .collect()
    ]
    card = {
        "budget_per_source": budget_per_source,
        # sums over zero rows are NULL
        "metrics": {k: int(v or 0) for k, v in obs.get.items()},
        "sources": per_source,
    }
    with open(os.path.join(out_dir, "dataset_card.json"), "w") as f:
        json.dump(card, f, indent=2, sort_keys=True)
    return card
