"""Incremental dedup ingest: one signing pass and one materialized verdict
per micro-batch, and a sketch-store read whose job count does not grow
with the store.

- ``dedup_batch_against_index`` must return the same accepted/rejected
  ids as the two-pass composition it replaced (index probe, then a
  portable self-join over the survivors), kept here as the reference.
- A steady-state handler call fires a bounded number of Spark jobs.
- ``read_partials`` fires the same number of jobs at any store size.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from parquet_exporter_spark.functions.dedup import (
    minhash_lsh_pairs_portable,
    probe_minhash_band_index,
)
from parquet_exporter_spark.streaming.dedup_ingest import (
    _readable_parquet,
    dedup_batch_against_index,
    make_ingest_batch_handler,
)
from parquet_exporter_spark.streaming.hll_ingest import hll_apply_batch, merge_hll
from parquet_exporter_spark.streaming.partial_store import (
    commit_compaction,
    read_partials,
)

SCHEMA = "doc_id long, text string"


def _reference_two_pass(batch_df, index_path, corpus_path, exclude_ingest_batch):
    """The pre-refactor verdict: probe the index, then self-join the
    survivors with the portable LSH pipeline (each signs the batch again),
    and derive rejected as the batch ids minus the accepted ids."""
    spark = batch_df.sparkSession

    def _without_own_batch(df):
        if df is not None and "ingest_batch" in df.columns:
            return df.filter(F.col("ingest_batch") != exclude_ingest_batch)
        return df

    corpus = _without_own_batch(_readable_parquet(spark, corpus_path))
    index_df = _without_own_batch(_readable_parquet(spark, index_path))
    if corpus is not None and index_df is not None:
        cross_hits = probe_minhash_band_index(
            spark, index_path, batch_df, corpus, n_hashes=8, band_size=2,
            jaccard_threshold=0.8, index_df=index_df,
        )
        dup_ids = cross_hits.select(F.col("new_id").alias("doc_id")).distinct()
        survivors = batch_df.join(dup_ids, "doc_id", "left_anti")
    else:
        survivors = batch_df
    intra = minhash_lsh_pairs_portable(
        survivors, n_hashes=8, band_size=2, jaccard_threshold=0.8
    )
    losers = intra.select(F.col("id_b").alias("doc_id")).distinct()
    accepted = survivors.join(losers, "doc_id", "left_anti")
    rejected_ids = batch_df.select("doc_id").exceptAll(accepted.select("doc_id"))
    rejected = batch_df.join(rejected_ids.distinct(), "doc_id", "semi")
    return _ids(accepted), _ids(rejected)


def _ids(df) -> set[int]:
    return {r.doc_id for r in df.select("doc_id").collect()}


def _swap(text: str, positions: list[int]) -> str:
    """``text`` with the words at ``positions`` replaced by fresh words."""
    words = text.split()
    for p in positions:
        words[p] = f"q{p}z{len(words)}"
    return " ".join(words)


def _batches(seed: int = 11) -> list[tuple[int, list[tuple[int, str | None]]]]:
    """(batch_id, rows) for a seeded ingest sequence: batch 0 lands on an
    empty store with intra-batch near-dups, docs with no 5-char shingle and
    NULL texts; batch 1 mixes cross-batch near-dups with new docs and is
    then replayed under the same id; every doc of batch 2 is a near-dup of
    an accepted doc; batch 3 holds a cross-batch dup whose own within-batch
    near-dup is below the threshold against the corpus doc, so it must
    survive."""
    rng = random.Random(seed)
    vocab = [f"w{i}{'x' * (i % 4)}" for i in range(600)]

    def doc(n: int | None = None) -> str:
        return " ".join(rng.choice(vocab) for _ in range(n or rng.randint(40, 70)))

    originals = [doc() for _ in range(30)]
    anchor = doc(60)
    b0 = [(i, t) for i, t in enumerate(originals)]
    b0 += [(30, _swap(originals[3], [5])), (31, originals[7])]
    b0 += [(32, "abc"), (33, "abc"), (34, "xyzw"), (35, None), (36, None), (37, anchor)]
    b1 = [(100 + i, doc()) for i in range(20)]
    b1 += [(110 + i, _swap(originals[i], [i])) for i in range(10, 16)]
    b1 += [(126, _swap(b1[0][1], [3])), (127, "abc"), (128, None)]
    b2 = [(200 + i, _swap(originals[i], [2, 30])) for i in range(20, 30)]
    b2 += [(210, b1[3][1]), (211, "xyzw")]
    # 300 is near the anchor (3 words swapped); 301 is near 300 (3 more)
    # but 6 words away from the anchor, below the threshold
    d300 = _swap(anchor, [5, 20, 35])
    b3 = [(300, d300), (301, _swap(d300, [12, 44, 55]))]
    b3 += [(302 + i, doc()) for i in range(8)]
    return [(0, b0), (1, b1), (1, b1), (2, b2), (3, b3)]


def test_single_pass_verdict_matches_two_pass_reference(spark, tmp_path):
    index_path = str(tmp_path / "index")
    corpus_path = str(tmp_path / "corpus")
    rejects_path = str(tmp_path / "rejects")
    handler = make_ingest_batch_handler(index_path, corpus_path, rejects_path=rejects_path)
    verdicts = {}
    for batch_id, rows in _batches():
        df = spark.createDataFrame(rows, SCHEMA)
        handles: list = []
        acc, rej = dedup_batch_against_index(
            df, index_path, corpus_path, persist_handles=handles,
            exclude_ingest_batch=batch_id,
        )
        got = (_ids(acc), _ids(rej))
        for h in handles:
            h.unpersist()
        assert got == _reference_two_pass(df, index_path, corpus_path, batch_id)
        assert got[0] | got[1] == {r[0] for r in rows} and not got[0] & got[1]
        handler(df, batch_id)
        stored = tuple(
            _ids(spark.read.parquet(p).filter(F.col("ingest_batch") == batch_id))
            for p in (corpus_path, rejects_path)
        )
        assert stored == got
        verdicts[batch_id] = got

    acc0, rej0 = verdicts[0]
    assert {30, 31, 33, 36} <= rej0  # intra-batch near-dup, copy, "abc", NULL
    assert {32, 34, 35} <= acc0
    assert verdicts[1][1] >= set(range(120, 129))  # index hits, intra loser
    assert verdicts[2][0] == set()  # every doc rejected
    assert 300 in verdicts[3][1] and 301 in verdicts[3][0]
    index_ids = {r.doc_id for r in spark.read.parquet(index_path).collect()}
    corpus_ids = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
    assert index_ids == corpus_ids


def test_steady_state_ingest_batch_fires_at_most_ten_jobs(spark, tmp_path):
    """Measured with AQE off, as in the ingest benchmark's session: with
    AQE on every shuffle stage is its own job. Two schema reads, the
    index-probe and self-join broadcasts, one verdict checkpoint and the
    three writes."""
    sc = spark.sparkContext
    handler = make_ingest_batch_handler(
        str(tmp_path / "index"), str(tmp_path / "corpus"),
        rejects_path=str(tmp_path / "rejects"),
    )
    batches = _batches()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for batch_id, rows in (batches[0], batches[1]):
            handler(spark.createDataFrame(rows, SCHEMA), batch_id)
        batch_id, rows = batches[3]
        df = spark.createDataFrame(rows, SCHEMA)
        sc.setJobGroup("dedup-ingest-steady-state", "one handler call")
        handler(df, batch_id)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("dedup-ingest-steady-state")
    assert 0 < len(jobs) <= 10


def test_read_partials_job_count_does_not_grow_with_store(spark, tmp_path):
    sc = spark.sparkContext
    store = str(tmp_path / "hll")

    def read_jobs(tag: str) -> tuple[int, list]:
        sc.setJobGroup(tag, "read_partials")
        try:
            rows = read_partials(spark, store).select("batch_id", "bucket", "r").collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(tag)), rows

    def commit(b: int) -> None:
        df = spark.range(b * 50, b * 50 + 50).select(F.col("id").alias("k"))
        hll_apply_batch(df, b, store, "k")

    for b in range(2):
        commit(b)
    jobs_2, rows_2 = read_jobs("read-partials-2")
    for b in range(2, 6):
        commit(b)
    jobs_6, rows_6 = read_jobs("read-partials-6")
    assert jobs_2 == jobs_6
    assert {r.batch_id for r in rows_2} == {0, 1}
    assert {r.batch_id for r in rows_6} == set(range(6))

    # a compacted fold is tagged with its bound, later partials with their ids
    live = read_partials(spark, store)
    assert commit_compaction(merge_hll(live.filter("batch_id <= 3")), 3, store)
    tagged = read_partials(spark, store).select("batch_id", "bucket", "r").collect()
    assert {r.batch_id for r in tagged} == {3, 4, 5}
    before = {(r.bucket, r.r) for r in rows_6 if r.batch_id <= 3}
    folded = {}
    for bucket, r in before:
        folded[bucket] = max(folded.get(bucket, r), r)
    assert {(r.bucket, r.r) for r in tagged if r.batch_id == 3} == set(folded.items())
