"""Structured Streaming behavior tests: file-source replay into memory
sinks, batch-vs-stream equivalence, session boundary semantics, watermark
late-data drop, stateful dedup.

Gotcha captured here: the file stream source only picks up files sitting
directly in the watched directory — a nested `name.parquet/` directory
written by df.write.parquet is invisible to it, so _write_events stages
the write and copies the part file flat into the watch dir.
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from parquet_exporter_spark.streaming.partial_store import compact_partials
from parquet_exporter_spark.streaming.windows import (
    EVENTS_SCHEMA,
    dedup_within_watermark,
    read_stream,
    run_to_memory,
    session_counts,
    tumbling_counts,
)
from parquet_exporter_spark.tables import read_table


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written to a clean parquet dir (ms timestamps) so the
    streaming file source can read them."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def _write_events(spark, rows, directory, filename):
    """Write one parquet FILE (flat) into the stream-watched directory."""
    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    staging = os.path.join(directory, f"__staging_{filename}")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(directory, filename))
    shutil.rmtree(staging)


def test_stream_tumbling_equals_batch(spark, sf_dir, events_dir):
    """The same F.window aggregation, run as a stream replay and as a batch
    query, must produce identical window rows (complete output mode so
    open windows are visible)."""
    stream = tumbling_counts(read_stream(spark, events_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("tumbling_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.win_start, r.win_end, r.event_type): (r.n, r.sum_value)
            for r in spark.sql("SELECT * FROM tumbling_out").collect()
        }
        expected_df = (
            read_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        )
        expected = {
            (r.win.start, r.win.end, r.event_type): (r.n, r.sum_value)
            for r in expected_df.collect()
        }
        assert got == expected
    finally:
        q.stop()


def test_session_window_boundary_semantics(spark):
    """Session boundaries are CLOSED: an event exactly `gap` after its
    predecessor still extends the session; strictly more than `gap` starts
    a new one. The DuckDB oracle mirrors this with `diff > gap -> new`."""
    base = datetime(2024, 1, 1, 0, 0, 0)
    gap = timedelta(minutes=5)

    def n_sessions(rows):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA)
        return (
            df.groupBy(F.session_window("ts", "5 minutes"), "user_id").count().count()
        )

    exactly_gap = [
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + gap, 1, "a", 1.0, "{}"),
    ]
    assert n_sessions(exactly_gap) == 1  # closed boundary: still merged

    just_over_gap = [
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + gap + timedelta(microseconds=1), 1, "a", 1.0, "{}"),
    ]
    assert n_sessions(just_over_gap) == 2

    multi_user = [
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + gap - timedelta(microseconds=1), 1, "a", 1.0, "{}"),  # merged
        (3, base + 3 * gap, 1, "a", 1.0, "{}"),  # new session
        (4, base + 4 * gap, 2, "a", 1.0, "{}"),
        (5, base + 4 * gap, 2, "a", 1.0, "{}"),  # same ts, same session
    ]
    assert n_sessions(multi_user) == 3


def test_streaming_session_counts(spark, events_dir):
    q = run_to_memory(session_counts(read_stream(spark, events_dir)), "session_out")
    try:
        n = spark.sql("SELECT count(*) AS n FROM session_out").first().n
        # append mode only emits sessions finalized by the watermark; the
        # events fixture spans a month, so almost all sessions are closed.
        assert n > 0
    finally:
        q.stop()


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_watermark_drops_late_events(spark, tmp_path):
    """Two micro-batches: batch 1 advances the watermark far ahead; batch 2
    delivers an event older than the watermark -> it must be dropped from
    the append-mode aggregate (the already-finalized window is emitted
    with the on-time count only)."""
    d = str(tmp_path / "late_events")
    os.makedirs(d)
    base = datetime(2024, 1, 1, 0, 0, 0)
    _write_events(
        spark,
        [
            (1, base, 1, "a", 1.0, "{}"),
            (2, base + timedelta(hours=2), 1, "a", 1.0, "{}"),  # watermark -> ~1h50
        ],
        d,
        "batch1.parquet",
    )
    stream = (
        read_stream(spark, d, max_files_per_trigger=1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )
    q = stream.writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try:
        q.processAllAvailable()
        # batch 2: an event far older than the watermark -> late, dropped
        _write_events(
            spark,
            [(3, base + timedelta(minutes=1), 1, "a", 1.0, "{}")],
            d,
            "batch2.parquet",
        )
        q.processAllAvailable()
        # batch 3: fresh event forces another trigger so finalized windows flush
        _write_events(
            spark,
            [(4, base + timedelta(hours=3), 1, "a", 1.0, "{}")],
            d,
            "batch3.parquet",
        )
        q.processAllAvailable()
        emitted = {(r.win_start, r.n) for r in spark.sql("SELECT * FROM late_out").collect()}
        assert (base, 1) in emitted  # on-time event finalized alone
        assert (base, 2) not in emitted  # late event did NOT reopen the window
    finally:
        q.stop()


def test_dedup_within_watermark(spark, tmp_path):
    d = str(tmp_path / "dup_events")
    os.makedirs(d)
    base = datetime(2024, 1, 1, 0, 0, 0)
    _write_events(
        spark,
        [
            (1, base, 1, "a", 1.0, "{}"),
            (1, base + timedelta(seconds=30), 1, "a", 1.0, "{}"),  # dup id in-window
            (2, base + timedelta(minutes=1), 1, "b", 1.0, "{}"),
        ],
        d,
        "batch1.parquet",
    )
    q = run_to_memory(dedup_within_watermark(read_stream(spark, d)), "dedup_out")
    try:
        ids = sorted(r.event_id for r in spark.sql("SELECT * FROM dedup_out").collect())
        assert ids == [1, 2]
    finally:
        q.stop()


def test_foreach_batch_parquet_sink(spark, events_dir, tmp_path):
    """foreachBatch: the exactly-once custom-sink pattern — each micro-batch
    lands as parquet; the union of batches equals the input."""
    out = str(tmp_path / "sink")
    stream = read_stream(spark, events_dir).select("event_id", "user_id", "value")

    def write_batch(df, epoch_id):
        df.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(write_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_in = spark.read.parquet(events_dir).count()
    assert spark.read.parquet(out).count() == n_in


def test_stream_static_join(spark, sf_dir, events_dir):
    """Stream-static join: the static dim is re-planned per micro-batch and
    broadcast — no state store involved, unlike stream-stream joins."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = read_stream(spark, events_dir).select("event_id", "user_id")
    q = (
        stream.join(F.broadcast(cust), "user_id")
        .writeStream.format("memory")
        .queryName("ss_static_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT count(*) AS n, count(DISTINCT c_mktsegment) AS segs FROM ss_static_out"
        ).first()
        expect = (
            read_table(spark, sf_dir, "events")
            .select("event_id", "user_id")
            .join(cust, "user_id")
            .count()
        )
        assert got.n == expect and got.n > 0
        assert got.segs >= 1
    finally:
        q.stop()


def test_available_now_trigger_drains_and_stops(spark, events_dir):
    """Trigger.AvailableNow: process everything currently in the source in
    bounded micro-batches, then stop on its own — the incremental-batch
    pattern (cron-driven catch-up jobs) as opposed to always-on streams."""
    stream = tumbling_counts(read_stream(spark, events_dir, max_files_per_trigger=1))
    q = (
        stream.writeStream.format("memory")
        .queryName("availnow")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # stopped itself after draining
    got = spark.table("availnow")
    expected = tumbling_counts(
        spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_stream_stream_interval_join(spark, events_dir):
    """Stream-stream inner join with event-time interval bounds: 'click'
    events join 'view' events of the same user within 10 minutes AFTER the
    view. Both sides carry watermarks so the state store can evict views
    older than the join horizon — the unbounded-state hazard a raw
    stream-stream join would have. Verified against the equivalent batch
    range join over the same files."""
    views = (
        read_stream(spark, events_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "30 minutes")
    )
    clicks = (
        read_stream(spark, events_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_interval_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n FROM ss_interval_out").first().n
        ev = spark.read.parquet(events_dir)
        v = ev.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts")
        )
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
        expect = v.join(
            c,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("view_ts"))
            & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
        ).count()
        assert got == expect, (got, expect)
        assert got > 0
    finally:
        q.stop()


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """Exactly-once resume across a query restart: the checkpoint's file-
    source offsets mean a restarted query processes ONLY data that arrived
    while it was down — nothing is replayed into the sink twice."""
    watch = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(watch)
    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def run_available_now():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(watch)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        stream.awaitTermination(120)

    _write_events(
        spark,
        [(i, t0 + timedelta(seconds=i), 1, "click", 1.0, "{}") for i in range(5)],
        watch,
        "batch1.parquet",
    )
    run_available_now()
    _write_events(
        spark,
        [(i, t0 + timedelta(seconds=i), 1, "click", 1.0, "{}") for i in range(5, 8)],
        watch,
        "batch2.parquet",
    )
    run_available_now()

    got = spark.read.parquet(out)
    assert got.count() == 8  # 5 + 3, batch1 not replayed on restart
    assert got.select("event_id").distinct().count() == 8


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_drift_monitor_flags_shifted_batches(spark, tmp_path):
    """A micro-batch drawn from the reference distribution scores a low
    PSI; a batch shifted out of the reference's bins scores high and
    trips the alert. Scoring happens per micro-batch with only n_bins
    histogram rows leaving the executors."""
    from datetime import datetime, timedelta

    from parquet_exporter_spark.streaming.drift import (
        histogram_dict,
        monitor_drift,
    )
    from parquet_exporter_spark.streaming.windows import read_stream

    lo, hi, n_bins = 0.0, 100.0, 10
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def rows(values, start_id):
        return [
            (start_id + i, t0 + timedelta(seconds=i), 1, "view", float(v), "{}")
            for i, v in enumerate(values)
        ]

    # reference: uniform over [0, 100)
    ref_vals = [(i * 7919) % 100 for i in range(500)]
    ref_df = spark.createDataFrame(rows(ref_vals, 0), EVENTS_SCHEMA)
    reference = histogram_dict(ref_df, "value", lo, hi, n_bins)

    directory = str(tmp_path / "drift_stream")
    os.makedirs(directory)
    # batch 0: same distribution; batch 1: all mass in the top bin
    _write_events(spark, rows(ref_vals, 10_000), directory, "b0.parquet")

    results: list = []
    stream = read_stream(spark, directory, max_files_per_trigger=1)
    q = monitor_drift(stream, reference, "value", lo, hi, n_bins, results)
    try:
        q.processAllAvailable()
        _write_events(
            spark, rows([95.0] * 500, 20_000), directory, "b1.parquet"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(results) == 2
    (b0, n0, psi0, alert0), (b1, n1, psi1, alert1) = sorted(results)
    assert n0 == 500 and n1 == 500
    assert psi0 < 0.01 and not alert0  # same distribution: no drift
    assert psi1 > 1.0 and alert1  # mass collapsed into one bin: loud alarm
    assert psi1 > psi0


def test_dynamic_gap_session_stream_equals_batch(spark, sf_dir, events_dir):
    """The per-event-gap session aggregation produces identical sessions
    run as a stream replay (complete mode) and as the registered batch
    query — pinning that dynamic-gap session merging is deterministic
    under micro-batched arrival."""
    from parquet_exporter_spark.registry import REGISTRY, _ensure_loaded
    from parquet_exporter_spark.streaming.windows import read_stream

    _ensure_loaded()

    gap = F.when(F.col("event_type") == "purchase", F.lit("10 minutes")).otherwise(
        F.lit("5 minutes")
    )
    stream = (
        read_stream(spark, events_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dyn_session_out")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.session_start, r.session_end, r.user_id): r.n
            for r in spark.sql("SELECT * FROM dyn_session_out").collect()
        }
    finally:
        q.stop()
    expected = {
        (r.session_start, r.session_end, r.user_id): r.n
        for r in REGISTRY["stream_session_window_dynamic"].fn(spark, sf_dir).collect()
    }
    assert got == expected


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_dedup_ingest_grows_index_across_batches(spark, tmp_path):
    """The incremental-dedup steady state as a STREAM: batch 1 seeds the
    corpus + band index; batch 2 (arriving later) is rejected where it
    near-duplicates batch-1 content it has never been co-scanned with —
    the match happens purely through the persisted index."""
    from parquet_exporter_spark.streaming.dedup_ingest import ingest_dedup_stream

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the morning light"
    )
    other = "completely different content about spark sql query planning and shuffles"
    watch = str(tmp_path / "incoming")
    os.makedirs(watch)
    index_path = str(tmp_path / "band_index")
    corpus_path = str(tmp_path / "corpus")
    rejects_path = str(tmp_path / "rejects")

    def _write_docs(rows, filename):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = os.path.join(watch, f"__staging_{filename}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(watch, filename))
        shutil.rmtree(staging)

    # batch 1: one doc + its exact dup (intra-batch loser) + one unrelated
    _write_docs([(1, base), (2, base), (3, other)], "b1.parquet")
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(watch)
    )
    q = ingest_dedup_stream(
        stream, index_path, corpus_path, rejects_path=rejects_path,
        n_hashes=16, band_size=4, jaccard_threshold=0.5,
    )
    try:
        q.processAllAvailable()
        accepted1 = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
        assert accepted1 == {1, 3}  # 2 lost intra-batch to 1 (keep-smallest)

        # batch 2: near-dup of doc 1 (cross-batch, caught via the INDEX)
        # plus one genuinely new doc
        _write_docs(
            [(10, base.replace("quick", "swift")),
             (11, "a fresh document mentioning embeddings and tokenizers only")],
            "b2.parquet",
        )
        q.processAllAvailable()
        accepted2 = {r.doc_id for r in spark.read.parquet(corpus_path).collect()}
        assert accepted2 == {1, 3, 11}  # 10 rejected through the index
        rejects = {r.doc_id for r in spark.read.parquet(rejects_path).collect()}
        assert rejects == {2, 10}
        # the index now carries bands for every ACCEPTED doc (and only those)
        idx_ids = {r.doc_id for r in spark.read.parquet(index_path).collect()}
        assert idx_ids == {1, 3, 11}
    finally:
        q.stop()


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_dedup_ingest_checkpoint_restart(spark, tmp_path):
    """Restartability of the dedup ingest: with a checkpoint dir, a
    RESTARTED query processes only files that arrived while it was down —
    committed batches are not replayed, and the restarted query still
    rejects near-dups of pre-restart content through the persisted
    index."""
    from parquet_exporter_spark.streaming.dedup_ingest import ingest_dedup_stream

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the morning light"
    )
    watch = str(tmp_path / "incoming")
    os.makedirs(watch)
    index_path = str(tmp_path / "band_index")
    corpus_path = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def _write_docs(rows, filename):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        staging = os.path.join(watch, f"__staging_{filename}")
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(watch, filename))
        shutil.rmtree(staging)

    def _run():
        stream = spark.readStream.schema("doc_id long, text string").parquet(watch)
        q = ingest_dedup_stream(
            stream, index_path, corpus_path, checkpoint_dir=ckpt,
            n_hashes=16, band_size=4, jaccard_threshold=0.5,
        )
        q.processAllAvailable()
        q.stop()

    _write_docs([(1, base), (2, "unrelated text about parquet and shuffles")], "b1.parquet")
    _run()
    assert {r.doc_id for r in spark.read.parquet(corpus_path).collect()} == {1, 2}

    # query is DOWN; two files arrive: a near-dup of doc 1 and a new doc
    _write_docs([(10, base.replace("dog", "hound"))], "b2.parquet")
    _write_docs([(11, "fresh content mentioning tokenizers and embeddings")], "b3.parquet")
    _run()  # restart from the checkpoint

    corpus_ids = sorted(r.doc_id for r in spark.read.parquet(corpus_path).collect())
    # 10 rejected via the index built before the restart; 11 accepted;
    # batch 1 NOT replayed (ids appear exactly once)
    assert corpus_ids == [1, 2, 11]


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_dedup_ingest_replayed_batch_is_exactly_once(spark, tmp_path):
    """The foreachBatch exactly-once contract: a REPLAYED micro-batch
    (same batch_id delivered twice — the crash-between-sink-commit-and-
    checkpoint-commit case) leaves zero duplicate doc_ids in the corpus,
    index, and rejects stores, because every sink write overwrites that
    batch's own ingest_batch= partition instead of appending."""
    from parquet_exporter_spark.streaming.dedup_ingest import (
        make_ingest_batch_handler,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the morning light"
    )
    index_path = str(tmp_path / "band_index")
    corpus_path = str(tmp_path / "corpus")
    rejects_path = str(tmp_path / "rejects")
    handler = make_ingest_batch_handler(
        index_path, corpus_path, rejects_path=rejects_path,
        n_hashes=16, band_size=4, jaccard_threshold=0.5,
    )

    b1 = spark.createDataFrame(
        [(1, base), (2, base), (3, "unrelated text about shuffles")],
        "doc_id long, text string",
    )
    handler(b1, 0)
    handler(b1, 0)  # forced replay of the SAME committed batch
    b2 = spark.createDataFrame(
        [(10, base.replace("quick", "swift")), (11, "fresh tokenizer text")],
        "doc_id long, text string",
    )
    handler(b2, 1)
    handler(b2, 1)  # and of the second batch

    corpus_ids = [r.doc_id for r in spark.read.parquet(corpus_path).collect()]
    assert sorted(corpus_ids) == [1, 3, 11]  # exactly once each
    idx_ids = [
        r.doc_id
        for r in spark.read.parquet(index_path).select("doc_id").distinct().collect()
    ]
    assert sorted(idx_ids) == [1, 3, 11]
    # every (doc_id, band) appears exactly once despite the replays
    idx = spark.read.parquet(index_path)
    dup_bands = (
        idx.groupBy("doc_id", "band")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_bands == 0
    reject_ids = [r.doc_id for r in spark.read.parquet(rejects_path).collect()]
    assert sorted(reject_ids) == [2, 10]


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_dedup_ingest_fails_fast_on_unreadable_corpus(spark, tmp_path):
    """A corpus store that EXISTS but cannot be read (torn footer from a
    crashed writer, throttling...) must FAIL the micro-batch for retry —
    silently treating it as 'no corpus yet' would skip cross-batch dedup
    and permanently accept near-duplicates. Only the two expected
    empty-store shapes read as bootstrap."""
    from parquet_exporter_spark.streaming.dedup_ingest import (
        dedup_batch_against_index,
        make_ingest_batch_handler,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the morning light"
    )
    index_path = str(tmp_path / "band_index")
    corpus_path = str(tmp_path / "corpus")
    handler = make_ingest_batch_handler(
        index_path, corpus_path, n_hashes=16, band_size=4,
        jaccard_threshold=0.5,
    )
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    handler(b1, 0)

    # tear the corpus: a parquet file whose footer is garbage
    part = glob.glob(os.path.join(corpus_path, "ingest_batch=0", "*.parquet"))[0]
    with open(part, "r+b") as f:
        f.seek(0)
        f.write(b"torn!" * 40)
        f.truncate(200)

    b2 = spark.createDataFrame(
        [(10, base.replace("quick", "swift"))], "doc_id long, text string"
    )
    with pytest.raises(Exception):
        dedup_batch_against_index(
            b2, index_path, corpus_path, n_hashes=16, band_size=4,
            jaccard_threshold=0.5,
        )[0].collect()


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_dedup_ingest_rejects_foreign_checkpoint_lineage(spark, tmp_path):
    """Store paths are bound to ONE checkpoint lineage: a stream restarted
    with a FRESH checkpoint dir restarts batch ids at 0, and its
    overwrite-own-partition writes would clobber the prior lineage's
    committed partitions (while exclude_ingest_batch also hides them from
    the probe). The handler must refuse: a legitimate replay can only
    ever see existing partition ids <= its own batch_id."""
    from parquet_exporter_spark.streaming.dedup_ingest import (
        make_ingest_batch_handler,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the morning light"
    )
    index_path = str(tmp_path / "band_index")
    corpus_path = str(tmp_path / "corpus")
    handler = make_ingest_batch_handler(
        index_path, corpus_path, n_hashes=16, band_size=4,
        jaccard_threshold=0.5,
    )
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(2, "unrelated text about shuffles")], "doc_id long, text string"
    )
    handler(b1, 0)
    handler(b2, 1)
    corpus_before = sorted(
        r.doc_id for r in spark.read.parquet(corpus_path).collect()
    )

    # a second lineage (fresh checkpoint) delivers ITS batch 0 against
    # the same store paths — must raise, and the store must be untouched
    fresh = spark.createDataFrame(
        [(99, "a brand new corpus text")], "doc_id long, text string"
    )
    with pytest.raises(RuntimeError, match="checkpoint lineage"):
        handler(fresh, 0)
    # batch_id 1 (== current max) is a legitimate replay shape — allowed
    handler(b2, 1)
    corpus_after = sorted(
        r.doc_id for r in spark.read.parquet(corpus_path).collect()
    )
    assert corpus_after == corpus_before


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_spike_monitor_matches_trailing_hampel(spark, tmp_path):
    """The online Hampel monitor must (a) carry its trailing window
    across micro-batch boundaries, (b) flag exactly the planted spike —
    which must not inflate the threshold that judges it, (c) agree with
    a straight-line Python replay of the shared two-middle median
    contract on every emitted med/mad, and (d) keep a constant series
    silent (MAD=0)."""
    import time as _time

    from parquet_exporter_spark.streaming.spike_monitor import (
        SPIKE_WINDOW,
        _two_middle_median,
        rolling_spike_monitor,
    )

    base = datetime(2024, 1, 1)
    series = {
        # varied enough that the trailing MAD is nonzero (a window where
        # >= 4 of 7 values equal the median has MAD = 0, and the
        # canonical filter is correctly silent on it — the constant
        # 'view' series pins that case): win [10,13,8,11,9,12,10] ->
        # med 10, mad 1, threshold 4.45 -> the 50 fires, its successors
        # don't (the spike enters their windows but cannot drag a
        # MEDIAN/MAD the way it drags a mean/stddev)
        "click": [10.0, 13.0, 8.0, 11.0, 9.0, 12.0, 10.0, 50.0, 10.0, 11.0],
        "view": [7.0] * 10,
    }
    rows = []
    eid = 0
    for etype, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((eid, base + timedelta(days=i), etype, v))
            eid += 1
    rows.sort(key=lambda r: r[1])
    d = str(tmp_path / "spike_points")
    os.makedirs(d)
    schema = "event_id long, ts timestamp, event_type string, v double"

    def _write_flat(subset, filename):
        # flat FILES, not Spark directory-parquets — the streaming file
        # source does not recurse into subdirectories (same pattern as
        # _write_events above)
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame(subset, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(d, filename))
        shutil.rmtree(staging)

    # split mid-series so the trailing window must survive a batch boundary
    _write_flat(rows[: len(rows) // 2], "b1.parquet")
    _write_flat(rows[len(rows) // 2 :], "b2.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        rolling_spike_monitor(stream)
        .writeStream.format("memory")
        .queryName("spike_out")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 180
        want = sum(len(v) for v in series.values())
        while _time.time() < deadline:
            got = spark.sql("SELECT * FROM spike_out").collect()
            if len(got) >= want:
                break
            _time.sleep(1)
        assert len(got) == want
    finally:
        q.stop()

    by_key = {(r.event_type, r.event_id): r for r in got}
    eid = 0
    for etype, vals in series.items():
        for i, v in enumerate(vals):
            r = by_key[(etype, eid)]
            if i < SPIKE_WINDOW:
                assert r.med is None and r.mad is None and r.is_spike is False
            else:
                win = sorted(vals[i - SPIKE_WINDOW : i])
                med = _two_middle_median(win)
                mad = _two_middle_median(sorted(abs(x - med) for x in win))
                assert r.med == med and r.mad == mad
                expect_spike = mad > 0 and abs(v - med) > 3.0 * 1.4826 * mad
                assert r.is_spike == expect_spike
            eid += 1
    spikes = [(r.event_type, r.event_id) for r in got if r.is_spike]
    # exactly the planted 50 (click ordinal 7) fires; the constant view
    # series and the spike's own successors stay silent
    assert spikes == [("click", 7)]


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_cusum_matches_recursion_and_flags_drift(spark, tmp_path):
    """The online CUSUM must (a) carry calibration + statistics across a
    micro-batch boundary, (b) alarm on a sustained small drift that no
    single point would flag, (c) agree bit-for-bit with a straight-line
    Python replay of the recursion (which the batch twin's prefix
    identity equals in exact arithmetic), and (d) stay silent on a
    constant series and on one isolated spike."""
    import time as _time

    from parquet_exporter_spark.streaming.cusum_monitor import (
        CUSUM_CAL,
        CUSUM_H,
        CUSUM_K,
        _two_middle_median,
        rolling_cusum_monitor,
    )

    base = datetime(2024, 1, 1)
    series = {
        # cal median 10; drift +5/day: each step adds 5-2=3 to S+,
        # crossing H=12 on the 5th drifted day
        "click": [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0] + [15.0] * 6,
        # one isolated spike: +40-2 = 38 > 12 on that day -> a CUSUM
        # DOES alarm on a huge single point (it is a shift detector,
        # not spike-blind), but decays back below H two days later
        "view": [7.0] * 7 + [7.0, 7.0, 7.0, 7.0, 7.0, 7.0],
    }
    rows, eid = [], 0
    for etype, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((eid, base + timedelta(days=i), etype, v))
            eid += 1
    rows.sort(key=lambda r: r[1])
    d = str(tmp_path / "cusum_points")
    os.makedirs(d)
    schema = "event_id long, ts timestamp, event_type string, v double"

    def _write_flat(subset, filename):
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame(subset, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(d, filename))
        shutil.rmtree(staging)

    # split INSIDE the drifted region so S+ must survive the boundary
    _write_flat(rows[: len(rows) // 2], "b1.parquet")
    _write_flat(rows[len(rows) // 2 :], "b2.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        rolling_cusum_monitor(stream)
        .writeStream.format("memory")
        .queryName("cusum_out")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 180
        want = sum(len(v) for v in series.values())
        while _time.time() < deadline:
            got = spark.sql("SELECT * FROM cusum_out").collect()
            if len(got) >= want:
                break
            _time.sleep(1)
        assert len(got) == want
    finally:
        q.stop()

    by_key = {(r.event_type, r.event_id): r for r in got}
    eid = 0
    for etype, vals in series.items():
        target = _two_middle_median(sorted(vals[:CUSUM_CAL]))
        s_pos = s_neg = 0.0
        for i, v in enumerate(vals):
            r = by_key[(etype, eid)]
            if i < CUSUM_CAL:
                assert r.target is None and r.is_alarm is False
            else:
                s_pos = max(0.0, s_pos + (v - target) - CUSUM_K)
                s_neg = max(0.0, s_neg + (target - v) - CUSUM_K)
                # exact-halves contract: recursion == stream bit-for-bit
                assert r.target == target
                assert r.s_pos == s_pos and r.s_neg == s_neg
                assert r.is_alarm == (s_pos > CUSUM_H or s_neg > CUSUM_H)
            eid += 1
    alarms = sorted(
        (r.event_type, r.event_id) for r in got if r.is_alarm
    )
    # click drifts from ordinal 7; S+ = 3,6,9,12,15,18 -> alarms on the
    # 5th and 6th drifted days (ordinals 11, 12); view never alarms
    click_ids = [
        eid
        for eid, (et, i) in enumerate(
            (et, i) for et, vals in series.items() for i, _ in enumerate(vals)
        )
        if et == "click"
    ]
    assert alarms == [("click", click_ids[11]), ("click", click_ids[12])]


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_cusum_checkpoint_restart_carries_state(spark, tmp_path):
    """A KILLED-and-restarted CUSUM query must resume from the
    checkpointed state store: the calibration and accumulated S+ built
    before the stop must carry into the restarted run (a from-scratch
    restart would re-calibrate on drifted data and never alarm), and
    the combined output must equal the straight-line recursion."""
    import time as _time

    from parquet_exporter_spark.streaming.cusum_monitor import (
        CUSUM_CAL,
        CUSUM_H,
        CUSUM_K,
        _two_middle_median,
        rolling_cusum_monitor,
    )

    watch = str(tmp_path / "cusum_in")
    out = str(tmp_path / "cusum_out_pq")
    ckpt = str(tmp_path / "cusum_ckpt")
    os.makedirs(watch)
    base = datetime(2024, 1, 1)
    vals = [10.0, 11.0, 9.0, 10.0, 12.0, 8.0, 10.0] + [15.0] * 6
    rows = [
        (i, base + timedelta(days=i), "click", v) for i, v in enumerate(vals)
    ]
    schema = "event_id long, ts timestamp, event_type string, v double"

    def _write_flat(subset, filename):
        staging = os.path.join(watch, f"__staging_{filename}")
        spark.createDataFrame(subset, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(watch, filename))
        shutil.rmtree(staging)

    def run_available_now():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(watch)
        )
        q = (
            rolling_cusum_monitor(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # The stateful query does not self-terminate under availableNow:
        # the ProcessingTimeTimeout schedules empty timer micro-batches
        # forever, so a bare awaitTermination(180) burned the full
        # timeout TWICE (~360 s of idle wait). A zero-input progress
        # entry proves the available backlog drained and its sink commit
        # landed — then KILL the query, which is the scenario under test
        # (a killed-and-restarted monitor).
        try:
            deadline = _time.time() + 180
            seen_data = False
            while _time.time() < deadline and q.isActive:
                lp = q.lastProgress
                if lp is not None:
                    if lp["numInputRows"] > 0:
                        seen_data = True
                    elif seen_data:
                        # empty batch AFTER the file batch: backlog
                        # drained and its commit landed
                        break
                _time.sleep(0.25)
        finally:
            q.stop()
            q.awaitTermination(60)

    # first run: calibration + the first 3 drifted days (S+ reaches 9)
    _write_flat(rows[:10], "b1.parquet")
    run_available_now()
    # process dies here; the remaining drift arrives while it is down
    _write_flat(rows[10:], "b2.parquet")
    run_available_now()

    got = {r.event_id: r for r in spark.read.parquet(out).collect()}
    assert len(got) == len(vals)  # nothing replayed twice
    target = _two_middle_median(sorted(vals[:CUSUM_CAL]))
    s_pos = 0.0
    alarms = []
    for i, v in enumerate(vals):
        r = got[i]
        if i < CUSUM_CAL:
            assert r.target is None
        else:
            s_pos = max(0.0, s_pos + (v - target) - CUSUM_K)
            assert r.target == target  # calibration survived the restart
            assert r.s_pos == s_pos  # accumulated state survived
            if r.is_alarm:
                alarms.append(i)
    # S+ = 3,6,9 | restart | 12,15,18 -> alarms fire on ordinals 11, 12
    assert alarms == [11, 12]


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_tdigest_store_equals_batch_merge_across_boundary(
    spark, tmp_path
):
    """A real readStream (2 file-triggers) drives the foreachBatch
    t-digest handler; serving off the resulting store must equal, row
    for row, serving off a store built by applying the same two batches
    in batch mode — the streaming == batch-merge pin ACROSS a batch
    boundary. Replaying a committed batch is a marker-checked no-op,
    and orphan centroid files without a marker are invisible."""
    import time as _time

    from parquet_exporter_spark.streaming.tdigest_ingest import (
        committed_batches,
        read_tdigest_centroids,
        serve_tdigest_quantiles,
        tdigest_apply_batch,
    )

    rng_a = [1700 + 13 * i for i in range(40)]  # batch 0 values (cents)
    rng_b = [900 + 29 * i for i in range(35)]  # batch 1 values
    d = str(tmp_path / "td_points")
    os.makedirs(d)
    schema = "cents long"

    def _write_flat(vals, filename, mtime):
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame([(v,) for v in vals], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(d, filename)
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))  # pin file-source trigger order
        shutil.rmtree(staging)

    t0 = _time.time() - 100
    _write_flat(rng_a, "b0.parquet", t0)
    _write_flat(rng_b, "b1.parquet", t0 + 10)

    store = str(tmp_path / "td_store")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: tdigest_apply_batch(b, i, store)
        )
        .option("checkpointLocation", str(tmp_path / "td_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert committed_batches(store) == [0, 1]

    probes = [0.1, 0.5, 0.9]
    s_stream = sorted(
        tuple(r)
        for r in serve_tdigest_quantiles(
            spark, read_tdigest_centroids(spark, store), probes
        ).collect()
    )
    # batch-mode store: the SAME two batches applied directly
    store2 = str(tmp_path / "td_store_batch")
    assert tdigest_apply_batch(
        spark.createDataFrame([(v,) for v in rng_a], schema), 0, store2
    )
    assert tdigest_apply_batch(
        spark.createDataFrame([(v,) for v in rng_b], schema), 1, store2
    )
    s_batch = sorted(
        tuple(r)
        for r in serve_tdigest_quantiles(
            spark, read_tdigest_centroids(spark, store2), probes
        ).collect()
    )
    assert s_stream == s_batch
    # replay of a committed batch: no-op, serving unchanged
    assert (
        tdigest_apply_batch(
            spark.createDataFrame([(v,) for v in rng_a], schema), 0, store
        )
        is False
    )
    s_replay = sorted(
        tuple(r)
        for r in serve_tdigest_quantiles(
            spark, read_tdigest_centroids(spark, store), probes
        ).collect()
    )
    assert s_replay == s_stream
    # orphan without marker: invisible to the reader
    orphan = os.path.join(store, "cent-00000007-0000.parquet")
    src = glob.glob(os.path.join(store, "cent-00000000-*.parquet"))[0]
    shutil.copy(src, orphan)
    cents = read_tdigest_centroids(spark, store)
    assert cents.filter(F.col("batch_id") == 7).count() == 0
    # total weight across committed partials == total input rows
    total_w = cents.groupBy().sum("w").collect()[0][0]
    assert total_w == len(rng_a) + len(rng_b)


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_tdigest_compaction_preserves_accuracy(spark, tmp_path):
    """compact_partials with fold_tdigest folds partials <= bound into
    one committed base: total weight and global value bounds are conserved exactly,
    superseded files are gone, later appends still work, and every
    served quantile off the compacted store stays within the t-digest
    rank-error bound against the exact values (the fold is
    accuracy-preserving, NOT bucket-identical — that is the documented
    contract)."""
    from parquet_exporter_spark.streaming.tdigest_ingest import (
        fold_tdigest,
        read_tdigest_centroids,
        serve_tdigest_quantiles,
        tdigest_apply_batch,
    )

    batches = [
        [500 + 7 * i for i in range(60)],
        [1200 + 11 * i for i in range(45)],
        [300 + 13 * i for i in range(50)],
    ]
    store = str(tmp_path / "td_compact")
    schema = "cents long"
    for i, vals in enumerate(batches):
        assert tdigest_apply_batch(
            spark.createDataFrame([(v,) for v in vals], schema), i, store
        )
    # compact batches 0-1; batch 2 stays a live partial
    assert compact_partials(spark, store, 1, fold_tdigest)
    assert not compact_partials(spark, store, 1, fold_tdigest)  # no-op
    files = os.listdir(store)
    assert any(f.startswith("compact-00000001-") for f in files)
    assert not any(f.startswith("cent-00000000-") for f in files)
    assert not any(f.startswith("cent-00000001-") for f in files)
    assert any(f.startswith("cent-00000002-") for f in files)

    cents = read_tdigest_centroids(spark, store)
    allv = sorted(v for b in batches for v in b)
    total_w = cents.groupBy().sum("w").collect()[0][0]
    assert total_w == len(allv)
    glo = cents.agg(F.min("lo"), F.max("hi")).collect()[0]
    assert (glo[0], glo[1]) == (allv[0], allv[-1])

    probes = [0.05, 0.25, 0.5, 0.75, 0.95]
    for r in serve_tdigest_quantiles(spark, cents, probes).collect():
        # tie-aware exact rank interval of the served value
        lt = sum(1 for v in allv if v < r.est_cents)
        le = sum(1 for v in allv if v <= r.est_cents)
        err = lt - r.t if lt > r.t else (r.t - (le - 1) if le - 1 < r.t else 0)
        d_tail = min(r.t + 1, len(allv) - r.t)
        assert err <= 0.35 * d_tail + 8, (r.p, err, d_tail)

    # a later batch appends on top of the compacted base
    extra = [5000 + 3 * i for i in range(30)]
    assert tdigest_apply_batch(
        spark.createDataFrame([(v,) for v in extra], schema), 3, store
    )
    cents2 = read_tdigest_centroids(spark, store)
    assert cents2.groupBy().sum("w").collect()[0][0] == len(allv) + len(extra)


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_hll_registers_exact_across_boundary_and_compaction(
    spark, tmp_path
):
    """A real readStream drives the HLL foreachBatch handler across two
    triggers; the merged registers must equal a single-pass whole-stream
    sketch register-for-register (max is associative), the served
    estimate must match the batch-built store bit-for-bit, and
    compaction must leave the merged registers IDENTICAL (idempotent
    max) while collapsing the store to <= m rows."""
    import time as _time

    from parquet_exporter_spark.streaming.hll_ingest import (
        committed_batches,
        hll_apply_batch,
        hll_partial,
        merge_hll,
        read_hll_registers,
        serve_hll_estimate,
    )

    keys_a = [f"user-{i}" for i in range(400)]
    keys_b = [f"user-{i}" for i in range(250, 700)]  # overlap exercises max
    d = str(tmp_path / "hll_points")
    os.makedirs(d)
    schema = "k string"

    def _write_flat(vals, filename, mtime):
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame([(v,) for v in vals], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(d, filename)
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(staging)

    t0 = _time.time() - 100
    _write_flat(keys_a, "b0.parquet", t0)
    _write_flat(keys_b, "b1.parquet", t0 + 10)

    store = str(tmp_path / "hll_store")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: hll_apply_batch(b, i, store, "k")
        )
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert committed_batches(store) == [0, 1]

    regs = read_hll_registers(spark, store)
    merged = {
        (r.bucket, r.r) for r in merge_hll(regs).collect()
    }
    whole_df = spark.createDataFrame(
        [(v,) for v in keys_a + keys_b], schema
    )
    whole = {(r.bucket, r.r) for r in hll_partial(whole_df, "k").collect()}
    assert merged == whole  # register-for-register, across the boundary

    est_stream = serve_hll_estimate(spark, regs).collect()[0]
    true_n = len(set(keys_a) | set(keys_b))
    assert abs(est_stream.est_distinct - true_n) <= 0.15 * true_n + 1

    # compaction: idempotent max -> identical registers, <= m rows left
    assert compact_partials(spark, store, 1, merge_hll)
    regs2 = read_hll_registers(spark, store)
    assert {
        (r.bucket, r.r) for r in merge_hll(regs2).collect()
    } == whole
    assert regs2.count() <= 512
    assert serve_hll_estimate(spark, regs2).collect()[0] == est_stream
    # replay of a compacted-away batch is still a no-op
    assert hll_apply_batch(whole_df, 0, store, "k") is False


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_hdr_buckets_exact_across_boundary_and_compaction(
    spark, tmp_path
):
    """The HDR foreachBatch handler under a real readStream: merged
    buckets equal the single-pass whole-stream build bucket for bucket
    (counter add + bound folds are grouping-invariant), compaction is
    lossless, and serving keeps the structural width ceiling."""
    import time as _time

    from parquet_exporter_spark.streaming.hdr_ingest import (
        committed_batches,
        hdr_apply_batch,
        hdr_partial,
        merge_hdr,
        read_hdr_buckets,
        serve_hdr_quantiles,
    )

    vals_a = [137 + 19 * i for i in range(80)]
    vals_b = [900 + 31 * i for i in range(70)]
    d = str(tmp_path / "hdr_points")
    os.makedirs(d)
    schema = "cents long"

    def _write_flat(vals, filename, mtime):
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame([(v,) for v in vals], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(d, filename)
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(staging)

    t0 = _time.time() - 100
    _write_flat(vals_a, "b0.parquet", t0)
    _write_flat(vals_b, "b1.parquet", t0 + 10)

    store = str(tmp_path / "hdr_store")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: hdr_apply_batch(b, i, store)
        )
        .option("checkpointLocation", str(tmp_path / "hdr_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert committed_batches(store) == [0, 1]

    allv = sorted(vals_a + vals_b)
    whole_df = spark.createDataFrame([(v,) for v in allv], schema)
    whole = {tuple(r) for r in hdr_partial(whole_df).collect()}
    merged = {
        tuple(r)
        for r in merge_hdr(read_hdr_buckets(spark, store))
        .select("lvl", "sub", "c", "lo", "hi")
        .collect()
    }
    assert merged == whole

    probes = [0.1, 0.5, 0.9]
    before = sorted(
        tuple(r)
        for r in serve_hdr_quantiles(
            spark, read_hdr_buckets(spark, store), probes
        ).collect()
    )
    for r in before:
        p, t, c, lo, hi, cw, n, est = r
        exact = allv[t]
        assert lo <= exact <= hi
        assert (hi - lo) / lo <= 0.125
    # lossless compaction: identical serve
    assert compact_partials(spark, store, 1, merge_hdr)
    after = sorted(
        tuple(r)
        for r in serve_hdr_quantiles(
            spark, read_hdr_buckets(spark, store), probes
        ).collect()
    )
    assert after == before
    assert read_hdr_buckets(spark, store).count() == len(whole)


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_cms_cells_exact_and_guarantee(spark, tmp_path):
    """CMS foreachBatch under a real readStream: merged counters equal
    the single-pass whole-stream sketch cell for cell, compaction is
    lossless, and the one-sided guarantee (est >= true) holds for every
    probed key."""
    import time as _time

    from parquet_exporter_spark.streaming.cms_ingest import (
        cms_apply_batch,
        cms_partial,
        committed_batches,
        merge_cms,
        read_cms_counters,
        serve_cms_estimates,
    )

    keys_a = [f"k{i % 17}" for i in range(300)]
    keys_b = [f"k{i % 23}" for i in range(250)]
    d = str(tmp_path / "cms_points")
    os.makedirs(d)
    schema = "k string"

    def _write_flat(vals, filename, mtime):
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame([(v,) for v in vals], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(d, filename)
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(staging)

    t0 = _time.time() - 100
    _write_flat(keys_a, "b0.parquet", t0)
    _write_flat(keys_b, "b1.parquet", t0 + 10)

    store = str(tmp_path / "cms_store")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: cms_apply_batch(b, i, store, "k")
        )
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert committed_batches(store) == [0, 1]

    allv = keys_a + keys_b
    whole_df = spark.createDataFrame([(v,) for v in allv], schema)
    whole = {tuple(r) for r in cms_partial(whole_df, "k").collect()}
    counters = read_cms_counters(spark, store)
    merged = {
        tuple(r)
        for r in merge_cms(counters).select("depth", "bucket", "c").collect()
    }
    assert merged == whole
    # one-sided guarantee on every key actually present
    import collections

    true_counts = collections.Counter(allv)
    probe = sorted(true_counts)[:10] + ["never-seen"]
    est = {
        r.key: r.est
        for r in serve_cms_estimates(spark, counters, probe).collect()
    }
    for k in probe:
        assert est[k] >= true_counts.get(k, 0), k
    # lossless compaction
    assert compact_partials(spark, store, 1, merge_cms)
    merged2 = {
        tuple(r)
        for r in merge_cms(read_cms_counters(spark, store))
        .select("depth", "bucket", "c")
        .collect()
    }
    assert merged2 == whole


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_kmv_bottomk_invariant_and_compaction(spark, tmp_path):
    """KMV foreachBatch under a real readStream: the merged k-th
    minimum equals the single-pass whole-stream k-th minimum (bottom-k
    invariant), the merged state is exactly the global bottom-k set,
    and compaction is lossless."""
    import time as _time

    from parquet_exporter_spark.streaming.kmv_ingest import (
        KMV_K,
        committed_batches,
        kmv_apply_batch,
        kmv_partial,
        merge_kmv,
        read_kmv_hashes,
        serve_kmv_estimate,
    )

    keys_a = [f"user-{i}" for i in range(400)]
    keys_b = [f"user-{i}" for i in range(250, 700)]
    d = str(tmp_path / "kmv_points")
    os.makedirs(d)
    schema = "k string"

    def _write_flat(vals, filename, mtime):
        staging = os.path.join(d, f"__staging_{filename}")
        spark.createDataFrame([(v,) for v in vals], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        part = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(d, filename)
        shutil.copy(part, dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(staging)

    t0 = _time.time() - 100
    _write_flat(keys_a, "b0.parquet", t0)
    _write_flat(keys_b, "b1.parquet", t0 + 10)

    store = str(tmp_path / "kmv_store")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: kmv_apply_batch(b, i, store, "k")
        )
        .option("checkpointLocation", str(tmp_path / "kmv_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert committed_batches(store) == [0, 1]

    all_keys = list(dict.fromkeys(keys_a + keys_b))
    whole_df = spark.createDataFrame([(v,) for v in all_keys], schema)
    whole = sorted(r.hv for r in kmv_partial(whole_df, "k").collect())
    merged = sorted(
        r.hv for r in merge_kmv(read_kmv_hashes(spark, store)).collect()
    )
    assert merged == whole and len(merged) == KMV_K
    served = serve_kmv_estimate(spark, read_kmv_hashes(spark, store)).collect()[0]
    assert served.kth == whole[-1]
    true_n = len(all_keys)
    assert abs(served.est_distinct - true_n) <= 0.35 * true_n + 1
    # lossless compaction, replay no-op on a compacted-away batch
    assert compact_partials(spark, store, 1, merge_kmv)
    merged2 = sorted(
        r.hv for r in merge_kmv(read_kmv_hashes(spark, store)).collect()
    )
    assert merged2 == whole
    assert kmv_apply_batch(whole_df, 0, store, "k") is False


@pytest.mark.slow  # real-readStream replay / restart scenario (see pytest.ini)
def test_streaming_kmv_jaccard_between_stores(spark, tmp_path):
    """Jaccard between two maintained KMV stores: the sketch-only
    membership test is exact for the union bottom-k, so the estimate
    equals the full-set-marked estimator computed from the raw key
    sets, and sits within the k=128 sampling bound of the true
    Jaccard."""
    from parquet_exporter_spark.streaming.kmv_ingest import (
        KMV_K,
        kmv_apply_batch,
        kmv_jaccard_stores,
        kmv_partial,
    )

    set_a = [f"u{i}" for i in range(600)]
    set_b = [f"u{i}" for i in range(300, 900)]  # true J = 300/900 = 1/3
    store_a = str(tmp_path / "ja")
    store_b = str(tmp_path / "jb")
    schema = "k string"
    # two batches per store — the stores are genuinely maintained
    for store, keys in ((store_a, set_a), (store_b, set_b)):
        half = len(keys) // 2
        assert kmv_apply_batch(
            spark.createDataFrame([(v,) for v in keys[:half]], schema),
            0,
            store,
            "k",
        )
        assert kmv_apply_batch(
            spark.createDataFrame([(v,) for v in keys[half:]], schema),
            1,
            store,
            "k",
        )
    got = kmv_jaccard_stores(spark, store_a, store_b).collect()[0]
    assert got.n_union_sample == KMV_K
    # equality with the full-set-marked estimator (exactness claim)
    ha = {r.hv for r in kmv_partial(
        spark.createDataFrame([(v,) for v in set_a], schema), "k"
    ).collect()}
    full_a = {r.hv for r in spark.createDataFrame(
        [(v,) for v in set_a], schema
    ).selectExpr(
        "CAST(conv(substring(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS LONG) AS hv"
    ).collect()}
    full_b = {r.hv for r in spark.createDataFrame(
        [(v,) for v in set_b], schema
    ).selectExpr(
        "CAST(conv(substring(md5(CAST(k AS STRING)), 1, 15), 16, 10) AS LONG) AS hv"
    ).collect()}
    u = sorted(full_a | full_b)[:KMV_K]
    n_both_true = sum(1 for h in u if h in full_a and h in full_b)
    assert got.n_both == n_both_true
    assert got.est_jaccard == round(n_both_true / KMV_K, 6)
    # sampling bound vs the true Jaccard (3-sigma-ish for k=128)
    assert abs(got.est_jaccard - 1 / 3) <= 0.15
