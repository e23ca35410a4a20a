"""Round-15 optimization regression tests.

Pins the equality laws behind the round's internal restructures:

- batched first-build bootstrap (streaming/partial_store.py
  commit_partials_batched + the batch_col forms of every *_partial):
  the one-job bootstrap must publish byte-equal partial ROWS and the
  same markers as the per-batch foreachBatch replica it replaces.
- the PQ expr-string literal trees (operators/pq.py _dists) must
  round-trip doubles exactly.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.partial_store import (
    commit_partial,
    commit_partials_batched,
    committed_batches,
    read_partials,
)


def _rows(spark, store):
    return sorted(map(tuple, read_partials(spark, store).collect()))


@pytest.mark.parametrize("sketch", ["tdigest", "hdr", "cms", "hll", "kmv"])
def test_batched_bootstrap_equals_per_batch_store(spark, tmp_path, sketch):
    """For every sketch maintainer: commit_partials_batched over the
    batch-tagged input publishes the same live rows and markers as the
    per-batch commit loop (the foreachBatch replica)."""
    from parquet_exporter_spark.streaming import (
        cms_ingest,
        hdr_ingest,
        hll_ingest,
        kmv_ingest,
        tdigest_ingest,
    )

    vals = [(7 * i % 113 + 1, i % 3) for i in range(200)]
    df = spark.createDataFrame(vals, "v long, batch long")
    build = {
        "tdigest": lambda d, b: tdigest_ingest.tdigest_partial(d, "v", batch_col=b),
        "hdr": lambda d, b: hdr_ingest.hdr_partial(d, "v", batch_col=b),
        "cms": lambda d, b: cms_ingest.cms_partial(d, "v", batch_col=b),
        "hll": lambda d, b: hll_ingest.hll_partial(d, "v", batch_col=b),
        "kmv": lambda d, b: kmv_ingest.kmv_partial(d, "v", batch_col=b),
    }[sketch]

    loop_store = str(tmp_path / "loop")
    for b in range(3):
        commit_partial(
            build(df.filter(F.col("batch") == b).select("v"), None),
            b,
            loop_store,
        )
    boot_store = str(tmp_path / "boot")
    n = commit_partials_batched(build(df, "batch"), [0, 1, 2], boot_store, "batch")
    assert n == 3
    assert committed_batches(boot_store) == [0, 1, 2]
    assert _rows(spark, boot_store) == _rows(spark, loop_store)


def test_batched_bootstrap_skips_committed_batches(spark, tmp_path):
    """Exactly-once posture: batches with durable markers are left
    untouched (files and marker), only the missing ones are published."""
    from parquet_exporter_spark.streaming.hdr_ingest import hdr_partial

    df = spark.createDataFrame(
        [(i % 50 + 1, i % 3) for i in range(120)], "v long, batch long"
    )
    store = str(tmp_path / "store")
    commit_partial(hdr_partial(df.filter("batch = 1").select("v"), "v"), 1, store)
    before = sorted(glob.glob(os.path.join(store, "cent-00000001-*.parquet")))
    stamps = [os.path.getmtime(p) for p in before]

    n = commit_partials_batched(hdr_partial(df, "v", batch_col="batch"), [0, 1, 2], store, "batch")
    assert n == 2
    assert committed_batches(store) == [0, 1, 2]
    after = sorted(glob.glob(os.path.join(store, "cent-00000001-*.parquet")))
    assert after == before
    assert [os.path.getmtime(p) for p in after] == stamps
    # the merged store equals a full per-batch build
    loop_store = str(tmp_path / "loop")
    for b in range(3):
        commit_partial(
            hdr_partial(df.filter(F.col("batch") == b).select("v"), "v"),
            b,
            loop_store,
        )
    assert _rows(spark, store) == _rows(spark, loop_store)


@pytest.mark.parametrize("sketch", ["tdigest", "hdr", "cms", "hll", "kmv"])
def test_compact_partials_preserves_merged_state(spark, tmp_path, sketch):
    """compact_partials over three committed batches at bound 1: the
    exactly-mergeable sketches serve the identical merged state, the
    t-digest re-bin conserves total weight and the lo/hi bounds, and a
    second compaction at the same bound is a no-op."""
    from parquet_exporter_spark.streaming import (
        cms_ingest,
        hdr_ingest,
        hll_ingest,
        kmv_ingest,
        tdigest_ingest,
    )
    from parquet_exporter_spark.streaming.partial_store import compact_partials

    build, fold = {
        "tdigest": (tdigest_ingest.tdigest_partial, tdigest_ingest.fold_tdigest),
        "hdr": (hdr_ingest.hdr_partial, hdr_ingest.merge_hdr),
        "cms": (cms_ingest.cms_partial, cms_ingest.merge_cms),
        "hll": (hll_ingest.hll_partial, hll_ingest.merge_hll),
        "kmv": (kmv_ingest.kmv_partial, kmv_ingest.merge_kmv),
    }[sketch]
    df = spark.createDataFrame(
        [(7 * i % 113 + 1, i % 3) for i in range(200)], "v long, batch long"
    )
    store = str(tmp_path / "store")
    for b in range(3):
        assert commit_partial(
            build(df.filter(F.col("batch") == b).select("v"), "v"), b, store
        )

    def state(live):
        if sketch == "tdigest":
            return tuple(live.agg(F.sum("w"), F.min("lo"), F.max("hi")).first())
        return sorted(map(tuple, fold(live).collect()))

    before = state(read_partials(spark, store))
    assert compact_partials(spark, store, 1, fold)
    assert state(read_partials(spark, store)) == before
    assert not compact_partials(spark, store, 1, fold)


def test_nearest_centroid_edge_rows_match_when_chain(spark):
    """nearest_centroid gives the cluster and dist the K-deep
    F.least/when-chain assignment gave, including a tie (lowest index
    wins), a NULL and a short vector (no distance: cluster K-1, NULL
    dist) and a NaN component (every distance NaN: cluster 0)."""
    from parquet_exporter_spark.operators.pq import nearest_centroid

    cents = [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0], [1.0, 1.0, 1.0], [5.0, 5.0, 5.0]]
    rows = [
        (0, [0.1, 0.2, 0.0]),
        (1, [1.0, 1.0, 1.0]),
        (2, None),
        (3, [float("nan"), 1.0, 1.0]),
        (4, [1.0]),
        (5, [9.0, 9.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, x array<double>")
    dists = [
        F.round(
            F.aggregate(
                F.zip_with(
                    "x", F.array(*[F.lit(v) for v in c]), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        )
        for c in cents
    ]
    m = F.least(*dists)
    chain = F.lit(len(cents) - 1)
    for cid in range(len(cents) - 2, -1, -1):
        chain = F.when(dists[cid] == m, F.lit(cid)).otherwise(chain)
    ref = df.select("vec_id", chain.alias("cluster"), m.alias("dist"))
    want = {r.vec_id: (r.cluster, r.dist) for r in ref.collect()}
    got = {r.vec_id: (r.cluster, r.dist) for r in nearest_centroid(df, cents).collect()}

    def same(a, b):
        return a == b or (a != a and b != b)  # NaN-aware

    assert got.keys() == want.keys()
    for k, (cluster, dist) in want.items():
        assert got[k][0] == cluster and same(got[k][1], dist), (k, got[k], want[k])
    assert got[1] == (1, 0.0)
    assert got[2] == (3, None) and got[4] == (3, None)
    assert got[3][0] == 0 and got[3][1] != got[3][1]


def test_scratch_dir_tracks_source_version(tmp_path):
    """tables.scratch_dir: the same files give the same path; a changed
    size or sub-second mtime gives a new one; two kinds over one source
    stay apart; a pattern that matches nothing does not raise."""
    from parquet_exporter_spark.tables import scratch_dir

    src = tmp_path / "t.parquet"
    src.write_bytes(b"abc")
    pattern = str(tmp_path / "t*")
    os.utime(src, ns=(0, 1_000_000_000_250_000_000))
    a = scratch_dir("k", pattern)
    assert scratch_dir("k", pattern) == a
    assert scratch_dir("other", pattern) != a
    os.utime(src, ns=(0, 1_000_000_000_750_000_000))
    b = scratch_dir("k", pattern)
    assert b != a
    src.write_bytes(b"abcd")
    os.utime(src, ns=(0, 1_000_000_000_750_000_000))
    assert scratch_dir("k", pattern) != b
    missing = scratch_dir("k", str(tmp_path / "missing*"))
    assert os.path.basename(missing).startswith("pes_k_")


def test_pq_expr_literals_round_trip_exactly(spark):
    """_dists builds the codebook as a SQL string; the doubles must
    survive the string trip bit-for-bit (repr + correctly-rounded
    parse), including awkward values."""
    from parquet_exporter_spark.operators.pq import _dists

    vals = [
        0.1,
        1.0 / 3.0,
        2.0**-52,
        1e300,
        -1.2345678901234567e-8,
        123456789.123456789,
        -0.0,
        5e-324,
    ]
    books = [vals[:4], vals[4:]]
    df = spark.range(1).select(
        F.expr(
            "array(" + ", ".join(repr(v) + "D" for v in vals[:4]) + ")"
        ).alias("s0")
    )
    # reference: the identical fold built through the Column API (the
    # pre-r15 construction) — the string trip must be bit-equal to it
    books_lit = F.array(*[F.array(*[F.lit(v) for v in c]) for c in books])
    ref = F.transform(
        books_lit,
        lambda c: F.round(
            F.aggregate(
                F.zip_with(F.col("s0"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            9,
        ),
    )
    row = df.select(_dists("s0", books).alias("d"), ref.alias("r")).first()
    assert list(row["d"]) == list(row["r"])
    # distance to the first centroid (identical values) must be exactly 0
    assert row["d"][0] == 0.0


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_fmt_double_spells_non_finite_values(spark, bad):
    """NaN and the infinities have no numeric SQL literal; the shared
    formatter must emit a form Spark parses back to the same value."""
    from parquet_exporter_spark.operators.pq import _fmt_double

    got = spark.range(1).select(F.expr(_fmt_double(bad)).alias("v")).first().v
    assert got != got if bad != bad else got == bad


def test_pq_model_builds_with_nan_in_init_centroids(spark):
    """pq_model's init centroids are the first n_centroids raw vectors, so
    a NaN there lands in the codebook literal tree: plan build and
    encoding must still run."""
    from parquet_exporter_spark.operators.pq import pq_model

    rows = [
        (i, [float("nan") if (i, j) == (0, 1) else float((i * 7 + j) % 11) for j in range(8)])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    encoded, books = pq_model(emb, n_subspaces=2, n_centroids=4, n_iters=2)
    got = encoded.collect()
    assert len(got) == 12
    assert any(v != v for v in books[0][0])


def test_lsh_bucket_rejects_column_argument():
    """lsh_bucket splices ``vec`` into SQL text: a Column must fail with a
    clear TypeError, not as an AnalysisException on its repr."""
    from parquet_exporter_spark.functions.similarity import lsh_bucket, random_hyperplanes

    planes = random_hyperplanes(4, 2)
    with pytest.raises(TypeError, match="column name"):
        lsh_bucket(F.col("embedding"), planes)
    assert lsh_bucket("embedding", planes) is not None
