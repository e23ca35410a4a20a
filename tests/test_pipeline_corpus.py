"""End-to-end corpus release: quality gate -> exact dedup -> token budget
-> deterministic shuffle -> partitioned zstd write + dataset card."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from parquet_exporter_spark.pipeline_corpus import release_corpus
from parquet_exporter_spark.tables import read_table

BUDGET = 5_000


def test_release_corpus_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "release")
    card = release_corpus(spark, sf_dir, out, budget_per_source=BUDGET)

    released = spark.read.parquet(os.path.join(out, "data"))
    n = released.count()
    assert n > 0
    # observe() metrics rode the write action and agree with the snapshot
    assert card["metrics"]["examples"] == n
    assert card["metrics"]["tokens"] == (
        released.agg(F.sum("n_tokens")).first()[0]
    )

    # exact dedup held: no duplicate text survives
    assert released.select("text").distinct().count() == n

    # budget semantics: tokens spent BEFORE a kept doc's turn are under
    # budget, so per-source totals overshoot by at most one document
    max_doc_tokens = released.agg(F.max("n_tokens")).first()[0]
    for src in card["sources"]:
        assert src["tokens"] < BUDGET + max_doc_tokens

    # the card's per-source rows reconcile with the data
    got = {
        (r.source): (r.n, r.tok)
        for r in released.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tokens").cast("long").alias("tok"))
        .collect()
    }
    assert got == {s["source"]: (s["examples"], s["tokens"]) for s in card["sources"]}

    # example_order is a contiguous 1..n permutation (reproducible
    # pre-training order), and the hive layout partitioned by source
    orders = [r.example_order for r in released.select("example_order").collect()]
    assert sorted(orders) == list(range(1, n + 1))
    assert any(
        e.startswith("source=") for e in os.listdir(os.path.join(out, "data"))
    )

    # determinism: a second release produces the identical snapshot
    out2 = str(tmp_path / "release2")
    release_corpus(spark, sf_dir, out2, budget_per_source=BUDGET)
    released2 = spark.read.parquet(os.path.join(out2, "data"))
    a = {(r.doc_id, r.example_order) for r in released.select("doc_id", "example_order").collect()}
    b = {(r.doc_id, r.example_order) for r in released2.select("doc_id", "example_order").collect()}
    assert a == b

    # card file round-trips
    with open(os.path.join(out, "dataset_card.json")) as f:
        assert json.load(f) == card

    # every released doc passes the quality gate it was cut with
    src_docs = read_table(spark, sf_dir, "documents").select("doc_id")
    assert released.join(src_docs, "doc_id", "left_anti").count() == 0


def test_empty_release_returns_zero_counts(spark, sf_dir, tmp_path):
    """A zero token budget keeps no document: the release still succeeds,
    with an empty snapshot and zero counts on its card."""
    out = str(tmp_path / "empty_release")
    card = release_corpus(spark, sf_dir, out, budget_per_source=0)
    assert card["metrics"] == {"examples": 0, "tokens": 0, "approx_sources": 0}
    assert card["sources"] == []
