"""Batch-equivalent twins of the streaming window operators, oracle-checked
against gaps-and-islands / bucketing SQL (SURVEY.md section 2: tumbling,
sliding, session windows). The same expressions run under readStream — see
parquet_exporter_spark/streaming/windows.py and tests/test_streaming.py
for watermark/late-data/stateful-dedup behavior that batch SQL can't
express.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_exporter_spark.queries._util import (
    distinct_verdict,
    hdr_merge_law,
    hdr_verdict,
    lineitem_cents,
    tdigest_verdict,
    true_distinct,
)
from parquet_exporter_spark.registry import query
from parquet_exporter_spark.streaming.cms_ingest import (
    CMS_D,
    CMS_W,
    cms_partial,
    merge_cms,
    read_cms_counters,
    serve_cms_estimates,
)
from parquet_exporter_spark.streaming.hdr_ingest import (
    HDR_SUB,
    hdr_partial,
    read_hdr_buckets,
    serve_hdr_quantiles,
)
from parquet_exporter_spark.streaming.hll_ingest import (
    HLL_HEX,
    HLL_LC_CUT,
    HLL_M,
    HLL_NUM,
    HLL_REM,
    HLL_RMAX,
    hll_partial,
    merge_hll,
    read_hll_registers,
    serve_hll_estimate,
)
from parquet_exporter_spark.streaming.kmv_ingest import (
    KMV_HEX,
    KMV_K,
    KMV_SPACE,
    kmv_partial,
    read_kmv_hashes,
    serve_kmv_estimate,
)
from parquet_exporter_spark.streaming.partial_store import commit_partials_batched
from parquet_exporter_spark.streaming.tdigest_ingest import (
    TD_SUB,
    read_tdigest_centroids,
    serve_tdigest_quantiles,
    tdigest_partial,
)
from parquet_exporter_spark.tables import read_table, scratch_dir, tiny_df


@query(
    "stream_tumbling_window",
    oracle="""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 600) * 600 * 1000000 AS BIGINT))
               AS win_start,
           make_timestamp(CAST((floor(epoch(ts) / 600) + 1) * 600 * 1000000 AS BIGINT))
               AS win_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2, event_type
    """,
    doc=(
        "Tumbling 10-minute event-time windows per event type. F.window "
        "aligns to the epoch, i.e. floor(epoch/width) bucketing."
    ),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "stream_sliding_window",
    oracle="""
    WITH shifted AS (
        SELECT (floor(epoch(ts) / 300) - k) * 300 AS start_s
        FROM events CROSS JOIN (VALUES (0), (1)) AS offs(k)
    )
    SELECT make_timestamp(CAST(start_s * 1000000 AS BIGINT)) AS win_start,
           CAST(count(*) AS BIGINT) AS n
    FROM shifted
    GROUP BY start_s
    """,
    doc=(
        "Sliding windows (width 10 min, slide 5 min): every event lands in "
        "width/slide = 2 windows; the oracle enumerates the shifted starts."
    ),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 5 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 5 MINUTE AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n
    FROM islands
    GROUP BY user_id, island
    """,
    doc=(
        "Session windows (5-minute gap) per user via F.session_window; the "
        "oracle is the gaps-and-islands formulation. Boundary semantics are "
        "CLOSED: an event exactly gap after its predecessor still extends "
        "the session (so a new session needs diff > gap) — pinned by a "
        "crafted fixture in tests/test_streaming.py."
    ),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "5 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n",
        )
    )


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, min(ts) AS first_ts, CAST(count(*) AS BIGINT) AS n_copies
    FROM events
    GROUP BY event_id
    """,
    doc=(
        "Batch twin of stateful stream dedup: one row per event_id with "
        "first-seen time. The streaming form (dropDuplicatesWithinWatermark) "
        "is exercised in tests/test_streaming.py."
    ),
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.groupBy("event_id").agg(
        F.min("ts").alias("first_ts"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "sessionize_gaps_islands",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER w > INTERVAL 5 MINUTE
                    OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    islands AS (
        SELECT user_id, ts, event_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM flagged
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    """,
    doc=(
        "Batch sessionization via lag + running-sum gaps-and-islands — the "
        "window-function composition of the session operator (same 5-minute "
        "closed-gap semantics as F.session_window, numbered sessions). One "
        "shuffle on user_id shared by both windows and the aggregate."
    ),
)
def sessionize_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_expr = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = events.withColumn(
        "new_session",
        F.when(gap_expr.isNull() | (gap_expr > 300), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return islands.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events")
    )


@query(
    "stream_interval_join",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS lag_seconds
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    doc=(
        "Stream-stream interval join (batch twin): purchases attributed to "
        "a same-user click within the preceding 30 minutes. The streaming "
        "form (two readStreams + watermarks bounding state retention to "
        "the interval width) runs in tests/test_streaming.py::"
        "test_stream_stream_interval_join; this registered twin is the "
        "oracle-checked semantics. Plan: ONE equi-shuffle on user_id with "
        "the time bound as a post-join residual — never a cartesian; at "
        "100 TB state/skew is bounded per user-partition."
    ),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")
        ).alias("lag_seconds"),
    )


@query(
    "cdc_latest_snapshot",
    oracle="""
    SELECT user_id, event_type, event_id AS last_event_id,
           ts AS last_ts, round(value, 6) AS last_value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type
            ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc=(
        "CDC log compaction / latest-record-per-key snapshot: collapse an "
        "append-only change log to the newest row per (user_id, "
        "event_type), deterministic tiebreak on event_id. One shuffle on "
        "the key; Catalyst plans the rn=1 filter as WindowGroupLimit "
        "(per-partition top-1 pushed below the shuffle), so state never "
        "exceeds one row per key per partition — the upsert-sink shape "
        "(streaming/upsert.py) in batch form."
    ),
)
def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.round("value", 6).alias("last_value"),
        )
    )


@query(
    "cdc_apply_deletes",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           round(value, 6) AS last_value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 AND event_type <> 'error'
    """,
    doc=(
        "CDC merge with tombstones: the latest event per user determines "
        "the key's final state, and a trailing 'error' event acts as a "
        "delete marker that removes the key from the snapshot (re-insert "
        "on any later non-delete event falls out of the same rule). Same "
        "WindowGroupLimit shape as cdc_latest_snapshot plus the tombstone "
        "filter — MERGE INTO semantics from plain operators."
    ),
)
def cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


@query(
    "stream_session_window_dynamic",
    oracle="""
    WITH base AS (
        SELECT user_id, ts,
               CASE WHEN event_type = 'purchase' THEN INTERVAL 10 MINUTE
                    ELSE INTERVAL 5 MINUTE END AS gap
        FROM events
    ),
    pe AS (
        SELECT user_id, ts, ts + gap AS w_end,
               max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_end
        FROM base
    ),
    isl AS (
        SELECT user_id, ts, w_end,
               sum(CASE WHEN prev_max_end IS NULL OR ts > prev_max_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM pe
    )
    SELECT min(ts) AS session_start,
           max(w_end) AS session_end,
           user_id,
           CAST(count(*) AS BIGINT) AS n
    FROM isl
    GROUP BY user_id, island
    """,
    doc=(
        "Dynamic-gap session windows (Spark 3.2+/4): the session gap is "
        "a per-EVENT expression — purchases hold a session open 10 "
        "minutes, everything else 5 — so high-intent activity tolerates "
        "longer pauses. Session end = max(ts + own gap) over the merged "
        "events, and the merge rule is the closed-boundary running-max "
        "form (an event at exactly the current session end still "
        "extends it), matching the static-gap semantics pinned in "
        "tests/test_streaming.py. The oracle replays the merge as "
        "running-max gaps-and-islands; the result is invariant to "
        "tie-order among equal timestamps because an equal-ts event "
        "always lands inside its twin's window."
    ),
)
def stream_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("10 minutes")).otherwise(
        F.lit("5 minutes")
    )
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n",
        )
    )


@query(
    "cdc_merge_upsert",
    oracle="""
    WITH target AS (
        SELECT user_id, round(value, 6) AS value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-16'
        ) WHERE rn = 1
    ),
    source AS (
        SELECT user_id, round(value, 6) AS value,
               (event_type = 'error') AS tombstone
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        ) WHERE rn = 1
    )
    SELECT COALESCE(t.user_id, s.user_id) AS user_id,
           COALESCE(s.value, t.value) AS value,
           CASE WHEN t.user_id IS NULL THEN 'insert'
                WHEN s.user_id IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM target t FULL OUTER JOIN source s ON t.user_id = s.user_id
    WHERE NOT COALESCE(s.tombstone, FALSE)
    """,
    doc=(
        "MERGE INTO semantics as a batch operator: the pre-cutoff latest "
        "state per user is the target table, the post-cutoff latest "
        "change per user is the source, and the full outer join "
        "classifies every resulting row as insert / update / keep, with "
        "source tombstones ('error' as delete marker) removing matched "
        "AND unmatched keys (WHEN MATCHED AND cond THEN DELETE). Spark "
        "has MERGE INTO SQL only for v2 row-level-operation tables, so "
        "the engine spells the identical semantics from a full outer "
        "join — the standard warehouse upsert shape. Both branch "
        "snapshots are WindowGroupLimit per-key top-1 plans on the same "
        "user_id key, so AQE can plan the outer join without a third "
        "shuffle; at 100 TB the target side is the previous snapshot "
        "(already compacted) and only the delta shuffles."
    ),
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(df):
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.round("value", 6).alias("value"), "event_type")
        )

    target = latest(events.filter(F.col("ts") < cutoff)).select(
        F.col("user_id").alias("t_user"), F.col("value").alias("t_value")
    )
    source = latest(events.filter(F.col("ts") >= cutoff)).select(
        F.col("user_id").alias("s_user"),
        F.col("value").alias("s_value"),
        (F.col("event_type") == "error").alias("tombstone"),
    )
    return (
        target.join(source, target.t_user == source.s_user, "full_outer")
        .filter(~F.coalesce(F.col("tombstone"), F.lit(False)))
        .select(
            F.coalesce(F.col("t_user"), F.col("s_user")).alias("user_id"),
            F.coalesce(F.col("s_value"), F.col("t_value")).alias("value"),
            F.when(F.col("t_user").isNull(), F.lit("insert"))
            .when(F.col("s_user").isNull(), F.lit("keep"))
            .otherwise(F.lit("update"))
            .alias("action"),
        )
    )


@query(
    "cdc_incremental_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Incremental aggregate maintenance: the materialized per-type "
        "(count, sum) state computed over the pre-cutoff log is MERGED "
        "with the delta's partial aggregates (count adds, sum adds) "
        "instead of rescanning history — the incremental-view shape every "
        "warehouse pipeline runs at 100 TB, where the base table is too "
        "big to re-aggregate per batch. The oracle recomputes over the "
        "full log; equality IS the correctness statement for mergeable "
        "state (count/sum/min/max merge losslessly; non-mergeable "
        "aggregates need sketches — see agg_hll_rollup). Plan: two "
        "partial-agg'd scans (state + delta, each pre-filtered at the "
        "parquet scan) and one union re-aggregate on the tiny per-type "
        "rows; at scale the state side is a stored table, not a scan."
    ),
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )

    state = partial(events.filter(F.col("ts") < cutoff))     # materialized
    delta = partial(events.filter(F.col("ts") >= cutoff))    # new batch
    return (
        state.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value"), 2).alias("total_value"),
        )
    )


@query(
    "stream_topk_per_window",
    oracle="""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
               event_type, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, total_value FROM (
        SELECT *, row_number() OVER (
            PARTITION BY window_start
            ORDER BY total_value DESC, event_type) AS rn
        FROM agg
    ) WHERE rn <= 2
    """,
    doc=(
        "Continuous leaderboard: top-2 event types by total value per "
        "6-hour tumbling window — the batch twin of the foreachBatch "
        "ranking a streaming dashboard maintains (windowed aggregation "
        "runs incrementally under a watermark; the rank-and-cut runs "
        "per micro-batch on the window's closed aggregates). Plan: one "
        "(window, type) partial-agg shuffle, then a window-keyed "
        "WindowGroupLimit over aggregate-sized rows — the top-k input "
        "is |windows|x|types|, never the event stream."
    ),
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    agg = (
        events.groupBy(
            F.window("ts", "6 hours").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("total_value").desc(), F.col("event_type")
    )
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("window_start", "event_type", "total_value")
    )


@query(
    "cdc_snapshot_diff",
    oracle="""
    WITH bounds AS (
        SELECT make_timestamp((epoch_us(min(ts)) + epoch_us(max(ts))) // 2) AS mid
        FROM events
    ),
    old AS (
        SELECT user_id, event_type, count(*) AS n, round(sum(value), 2) AS v
        FROM events, bounds WHERE ts < mid GROUP BY 1, 2
    ),
    new AS (
        SELECT user_id, event_type, count(*) AS n, round(sum(value), 2) AS v
        FROM events, bounds WHERE ts >= mid GROUP BY 1, 2
    )
    SELECT CASE WHEN o.user_id IS NULL THEN 'added'
                WHEN n.user_id IS NULL THEN 'removed'
                WHEN o.n <> n.n OR o.v <> n.v THEN 'changed'
                ELSE 'unchanged' END AS change_kind,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM old o FULL OUTER JOIN new n
      ON o.user_id = n.user_id AND o.event_type = n.event_type
    GROUP BY 1
    """,
    doc=(
        "Snapshot diff (reconciliation report): the two time-halves of "
        "the event log are aggregated per key and full-outer joined to "
        "classify every key as added / removed / changed / unchanged — "
        "the audit you run between a table and its reloaded copy. The "
        "midpoint is computed in integer microseconds (floor-div) so "
        "both engines split identically; both snapshot aggregates and "
        "the diff join share the same key, so at scale this is two "
        "partial-agg passes + one co-partitioned join, with the "
        "output bounded by key cardinality."
    ),
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.timestamp_micros(
            F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2")
        ).alias("mid")
    )
    withmid = ev.join(F.broadcast(bounds))
    old = (
        withmid.filter(F.col("ts") < F.col("mid"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_o"), F.round(F.sum("value"), 2).alias("v_o"))
    )
    new = (
        withmid.filter(F.col("ts") >= F.col("mid"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_n"), F.round(F.sum("value"), 2).alias("v_n"))
    )
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(
        n,
        (F.col("o.user_id").eqNullSafe(F.col("n.user_id")))
        & (F.col("o.event_type").eqNullSafe(F.col("n.event_type"))),
        "full_outer",
    )
    kind = (
        F.when(F.col("o.user_id").isNull(), "added")
        .when(F.col("n.user_id").isNull(), "removed")
        .when((F.col("n_o") != F.col("n_n")) | (F.col("v_o") != F.col("v_n")), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(kind.alias("change_kind"))
        .groupBy("change_kind")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    )


@query(
    "stream_lateness_profile",
    oracle="""
    WITH arr AS (
        SELECT event_type,
               epoch_us(max(ts) OVER (PARTITION BY event_type ORDER BY event_id))
                   - epoch_us(ts) AS late_us
        FROM events
    )
    SELECT event_type,
           round(quantile_cont(late_us, 0.5) / 1e6, 6) AS p50_lateness_sec,
           round(quantile_cont(late_us, 0.95) / 1e6, 6) AS p95_lateness_sec,
           round(max(late_us) / 1e6, 6) AS max_lateness_sec
    FROM arr GROUP BY 1
    """,
    doc=(
        "Event-time lateness profile: treating event_id as arrival "
        "order, each event's lateness is the running max event-time "
        "minus its own — the disorder measurement that tells you what "
        "withWatermark delay the streaming jobs need (p95 lateness = "
        "the delay that drops <5% of events). One keyed window + one "
        "keyed aggregate, shared partitioning."
    ),
)
def stream_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    arr = ev.select(
        "event_type",
        (F.unix_micros(F.max("ts").over(w)) - F.unix_micros("ts")).alias("late_us"),
    )
    return arr.groupBy("event_type").agg(
        F.round(F.percentile("late_us", F.lit(0.5)) / 1e6, 6).alias("p50_lateness_sec"),
        F.round(F.percentile("late_us", F.lit(0.95)) / 1e6, 6).alias("p95_lateness_sec"),
        F.round(F.max("late_us") / 1e6, 6).alias("max_lateness_sec"),
    )


@query(
    "stream_watermark_what_if",
    oracle="""
    WITH arr AS (
        SELECT event_type,
               epoch_us(max(ts) OVER (PARTITION BY event_type ORDER BY event_id))
                   - epoch_us(ts) AS late_us
        FROM events
    )
    SELECT d.delay_s,
           CAST(count(*) FILTER (WHERE late_us > d.delay_s * 1000000) AS BIGINT)
               AS n_dropped,
           round(count(*) FILTER (WHERE late_us > d.delay_s * 1000000)
                 / CAST(count(*) AS DOUBLE), 6) AS drop_fraction
    FROM arr CROSS JOIN (VALUES (60), (300), (900)) AS d(delay_s)
    GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Watermark what-if: for candidate withWatermark delays (1, 5, "
        "15 min), the fraction of events arriving later than the delay "
        "and therefore DROPPED by a streaming aggregate — the decision "
        "table stream_lateness_profile's percentiles feed. One lateness "
        "window + a 3-row broadcast replication."
    ),
)
def stream_watermark_what_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    arr = ev.select(
        (F.unix_micros(F.max("ts").over(w)) - F.unix_micros("ts")).alias("late_us")
    )
    delays = spark.range(1).select(
        F.explode(F.array(F.lit(60), F.lit(300), F.lit(900))).alias("delay_s")
    )
    rep = arr.crossJoin(F.broadcast(delays))
    dropped = F.col("late_us") > F.col("delay_s").cast("long") * 1000000
    return (
        rep.groupBy("delay_s")
        .agg(
            F.count(F.when(dropped, 1)).cast("long").alias("n_dropped"),
            F.round(F.count(F.when(dropped, 1)) / F.count(F.lit(1)).cast("double"), 6).alias(
                "drop_fraction"
            ),
        )
        .orderBy("delay_s")
    )


@query(
    "stream_record_highs_twin",
    oracle="""
    WITH runs AS (
        SELECT user_id, ts, event_id, value,
               max(value) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_best
        FROM events
    )
    SELECT user_id, ts, round(value, 6) AS new_high,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS BIGINT) AS n_records
    FROM runs
    WHERE prev_best IS NULL OR value > prev_best
    """,
    doc=(
        "Batch twin of the stateful record-high detector "
        "(streaming/stateful.py user_record_highs / "
        "user_record_highs_aip): rows where value exceeds the per-user "
        "running max of all PRIOR events (ties broken by event_id, the "
        "arrival order the stream twin sees). One user-keyed exchange "
        "serves the running-max frame and the record index — same "
        "equivalence contract as the other stream_* twins: the batch "
        "query is the oracle for what the stateful operator must emit "
        "when the stream is replayed in order."
    ),
)
def stream_record_highs_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_best = F.max("value").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn("prev_best", prev_best).filter(
        F.col("prev_best").isNull() | (F.col("value") > F.col("prev_best"))
    )
    return flagged.select(
        "user_id",
        "ts",
        F.round("value", 6).alias("new_high"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("long")
        .alias("n_records"),
    )


_TB_RATE, _TB_BURST = 0.5, 5.0  # tokens/sec refill, bucket capacity


@query(
    "stream_token_bucket_twin",
    oracle=f"""
    WITH pts AS (
        SELECT user_id,
               list([CAST(epoch(ts) AS DOUBLE)] ORDER BY ts, event_id) AS xs
        FROM events WHERE user_id < 150
        GROUP BY user_id
    ),
    folded AS (
        SELECT user_id, CAST(len(xs) AS BIGINT) AS n_events,
               list_reduce(xs, (acc, x) -> [
                   x[1],
                   CASE WHEN least({_TB_BURST},
                                   coalesce(acc[2], {_TB_BURST} - 1.0)
                                   + (x[1] - acc[1]) * {_TB_RATE}) >= 1.0
                        THEN least({_TB_BURST},
                                   coalesce(acc[2], {_TB_BURST} - 1.0)
                                   + (x[1] - acc[1]) * {_TB_RATE}) - 1.0
                        ELSE least({_TB_BURST},
                                   coalesce(acc[2], {_TB_BURST} - 1.0)
                                   + (x[1] - acc[1]) * {_TB_RATE})
                   END,
                   coalesce(acc[3], 1.0)
                   + CASE WHEN least({_TB_BURST},
                                     coalesce(acc[2], {_TB_BURST} - 1.0)
                                     + (x[1] - acc[1]) * {_TB_RATE}) >= 1.0
                          THEN 1.0 ELSE 0.0 END
               ]) AS st
        FROM pts
    )
    SELECT user_id, n_events,
           -- single-event users: DuckDB's list_reduce on a 1-element list
           -- returns the SEED ELEMENT [t0] without applying the lambda, so
           -- st[2]/st[3] are out-of-bounds NULLs; coalesce to the init
           -- state (first event admits from a full bucket), matching
           -- Spark's F.aggregate init struct exactly.
           CAST(coalesce(st[3], 1.0) AS BIGINT) AS admitted,
           round(coalesce(st[2], {_TB_BURST} - 1.0), 6) AS tokens_left
    FROM folded
    """,
    doc=(
        "Token-bucket admission control as a per-key event-time fold — "
        "the BATCH TWIN of a streaming rate limiter (the admit/refill "
        "recurrence drops into applyInPandasWithState unchanged): the "
        f"bucket refills at {_TB_RATE} tokens/s up to {_TB_BURST}, each "
        "event admits iff a full token is available and spends it; "
        "emits per-user admitted counts + final level. The replay "
        "oracle for throttled ingest: burst traffic admits the first "
        "`burst` events then throttles to the refill rate, which "
        "timestamp-sorted windows cannot express (the level depends on "
        "every prior admit decision). Rational arithmetic only, fold "
        "seeded from the first event (bucket starts full, so event 1 "
        "admits and leaves burst-1) — bit-identical to DuckDB "
        "list_reduce. One user-keyed shuffle, O(1) state per key."
    ),
)
def stream_token_bucket_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 150)
    pts = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("ts").cast("double").alias("t"),
                    F.col("event_id").cast("double").alias("e"),
                )
            )
        ).alias("xs")
    )

    def step(acc, x):
        avail = F.least(
            F.lit(_TB_BURST), acc.tokens + (x.t - acc.t) * F.lit(_TB_RATE)
        )
        admit = avail >= 1.0
        return F.struct(
            x.t.alias("t"),
            F.when(admit, avail - 1.0).otherwise(avail).alias("tokens"),
            (acc.admitted + F.when(admit, 1.0).otherwise(0.0)).alias("admitted"),
        )

    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.struct(
            F.element_at("xs", 1).t.alias("t"),
            F.lit(_TB_BURST - 1.0).alias("tokens"),
            F.lit(1.0).alias("admitted"),
        ),
        step,
    )
    return pts.select(
        "user_id",
        F.size("xs").cast("long").alias("n_events"),
        fold.admitted.cast("long").alias("admitted"),
        F.round(fold.tokens, 6).alias("tokens_left"),
    )


@query(
    "stream_spike_monitor_twin",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    win AS (
        SELECT event_type, day, v,
               list(v) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS lst
        FROM daily
    ),
    full7 AS (SELECT * FROM win WHERE len(lst) = 7),
    med AS (
        SELECT event_type, day, v, lst,
               (list_sort(lst)[(len(lst)+1)//2]
                + list_sort(lst)[(len(lst)+2)//2]) / 2 AS med
        FROM full7
    ),
    mad AS (
        SELECT event_type, day, v, med,
               (list_sort([abs(x - med) for x in lst])[(len(lst)+1)//2]
                + list_sort([abs(x - med) for x in lst])[(len(lst)+2)//2]) / 2
                   AS mad
        FROM med
    )
    SELECT event_type, day, CAST(v AS BIGINT) AS n_events,
           round(med, 6) AS med, round(mad, 6) AS mad,
           (mad > 0 AND abs(v - med) > 3.0 * 1.4826 * mad) AS is_spike
    FROM mad
    """,
    doc=(
        "Batch twin of the streaming ONLINE Hampel spike monitor "
        "(streaming/spike_monitor.py rolling_spike_monitor): each day's "
        "volume is tested against the median/MAD of the TRAILING 7 "
        "previous days — the causal form an alerting stream can compute "
        "at arrival time, versus timeseries_hampel_outliers' centered "
        "retrospective window; the tested value is excluded from its "
        "own window, so a spike cannot inflate the threshold that "
        "judges it. Emits EVERY evaluated day with its verdict (not "
        "just spikes): the hash pins med, mad, and the boolean "
        "decision, and the streaming operator is proven equal to this "
        "exact output on replayed micro-batches (the token-bucket twin "
        "protocol). All inputs are integer day-counts, the median is "
        "the shared two-middle formula, and the threshold compare runs "
        "on exact values — deterministic cross-engine with no rounding "
        "in the decision path. One event_type exchange over the "
        "bounded rollup; streaming state is O(keys x 7) floats."
    ),
)
def stream_spike_monitor_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    win = daily.withColumn("lst", F.collect_list("v").over(w)).filter(
        F.size("lst") == 7
    )

    def _arr_median(arr):
        s = F.array_sort(arr)
        n = F.size(arr)
        lo = F.element_at(s, F.floor((n + 1) / 2).cast("int"))
        hi = F.element_at(s, F.floor((n + 2) / 2).cast("int"))
        return (lo + hi) / 2

    med = win.withColumn("med", _arr_median(F.col("lst")))
    mad = med.withColumn(
        "mad", _arr_median(F.transform("lst", lambda x: F.abs(x - F.col("med"))))
    )
    return mad.select(
        "event_type",
        "day",
        F.col("v").cast("long").alias("n_events"),
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        (
            (F.col("mad") > 0)
            & (F.abs(F.col("v") - F.col("med")) > 3.0 * 1.4826 * F.col("mad"))
        ).alias("is_spike"),
    )


@query(
    "stream_cusum_monitor_twin",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    ),
    rn AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day)
                      AS rnum
        FROM daily
    ),
    cal AS (
        SELECT event_type,
               (list_sort(list(v))[(count(*)+1)//2]
                + list_sort(list(v))[(count(*)+2)//2]) / 2 AS target
        FROM rn WHERE rnum <= 7 GROUP BY event_type HAVING count(*) = 7
    ),
    post AS (
        SELECT rn.event_type, rn.day, rn.v, cal.target,
               rn.v - cal.target - 2.0 AS dp,
               cal.target - rn.v - 2.0 AS dn
        FROM rn JOIN cal USING (event_type) WHERE rn.rnum > 7
    ),
    sums AS (
        SELECT *,
               sum(dp) OVER w AS pp,
               sum(dn) OVER w AS pn
        FROM post
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pre AS (
        SELECT *,
               least(CAST(0 AS DOUBLE), min(pp) OVER w) AS mp,
               least(CAST(0 AS DOUBLE), min(pn) OVER w) AS mn
        FROM sums
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, CAST(v AS BIGINT) AS n_events, target,
           pp - mp AS s_pos, pn - mn AS s_neg,
           (pp - mp > 12.0 OR pn - mn > 12.0) AS is_alarm
    FROM pre
    """,
    doc=(
        "Batch twin of the streaming ONLINE CUSUM drift monitor "
        "(streaming/cusum_monitor.py rolling_cusum_monitor): after a "
        "7-day calibration window fixes the target as the TWO-MIDDLE "
        "MEDIAN of the first week's counts, each later day updates the "
        "two-sided Page statistics S+ = max(0, S+ + (x - target - K)), "
        "S- mirrored, alarm when either exceeds H=12 — the detector "
        "that accumulates many small same-direction deviations a "
        "per-point threshold (spike monitor) structurally misses: the "
        "drift-vs-spike split. The twin computes the recursion through "
        "the prefix identity S_t = P_t - min(0, min_{j<=t} P_j), which "
        "equals the streaming recursion BIT-FOR-BIT because every "
        "quantity is an exact binary half (integer counts, median "
        "target, K=2 — the median, not the mean, is load-bearing: a "
        "mean target like 71/7 would round and split the two forms "
        "apart), so streaming == batch == oracle with no tolerance "
        "anywhere, including inside the alarm comparison. One "
        "event_type exchange over the bounded daily rollup; streaming "
        "state is 5 floats per key."
    ),
)
def stream_cusum_monitor_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    wrn = Window.partitionBy("event_type").orderBy("day")
    rn = daily.withColumn("rnum", F.row_number().over(wrn))
    cal7 = rn.filter(F.col("rnum") <= 7).groupBy("event_type").agg(
        F.array_sort(F.collect_list("v")).alias("s"),
        F.count(F.lit(1)).alias("ncal"),
    ).filter(F.col("ncal") == 7)
    cal = cal7.select(
        "event_type",
        (
            (
                F.element_at("s", F.floor((F.col("ncal") + 1) / 2).cast("int"))
                + F.element_at("s", F.floor((F.col("ncal") + 2) / 2).cast("int"))
            )
            / 2
        ).alias("target"),
    )
    post = rn.filter(F.col("rnum") > 7).join(cal, "event_type").select(
        "event_type",
        "day",
        "v",
        "target",
        (F.col("v") - F.col("target") - 2.0).alias("dp"),
        (F.col("target") - F.col("v") - 2.0).alias("dn"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = (
        post.withColumn("pp", F.sum("dp").over(w))
        .withColumn("pn", F.sum("dn").over(w))
        .withColumn("mp", F.least(F.lit(0.0), F.min("pp").over(w)))
        .withColumn("mn", F.least(F.lit(0.0), F.min("pn").over(w)))
    )
    s_pos = F.col("pp") - F.col("mp")
    s_neg = F.col("pn") - F.col("mn")
    return pre.select(
        "event_type",
        "day",
        F.col("v").cast("long").alias("n_events"),
        "target",
        s_pos.alias("s_pos"),
        s_neg.alias("s_neg"),
        ((s_pos > 12.0) | (s_neg > 12.0)).alias("is_alarm"),
    )


CDC_CHANGES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
    "cdc_changes.jsonl",
)


@query(
    "cdc_debezium_parse",
    oracle=f"""
    WITH env AS (
        SELECT * FROM read_json('{CDC_CHANGES}',
            columns = {{'op': 'VARCHAR', 'ts_ms': 'BIGINT',
                        'before': 'STRUCT(id BIGINT, name VARCHAR, balance DOUBLE)',
                        'after': 'STRUCT(id BIGINT, name VARCHAR, balance DOUBLE)'}}))
    SELECT ts_ms,
           CASE op WHEN 'c' THEN 'insert' WHEN 'u' THEN 'update'
                   ELSE 'delete' END AS change_kind,
           coalesce(after.id, before.id) AS key_id,
           after.name AS new_name,
           round(after.balance, 2) AS new_balance,
           round(before.balance, 2) AS old_balance,
           (op = 'd') AS is_tombstone
    FROM env
    """,
    doc=(
        "Debezium change-envelope parser — the ingestion step every "
        "Kafka-CDC pipeline runs before the merge logic this repo "
        "already has (cdc_merge_upsert / cdc_latest_snapshot / "
        "cdc_apply_deletes consume TYPED change rows; this produces "
        "them from the wire format): op c/u/d plus before/after row "
        "images parsed with an EXPLICIT struct schema (no inference in "
        "prod paths, the scan_csv rule), key extracted as "
        "coalesce(after.id, before.id) so deletes — whose after is "
        "null — still carry their key, and deletes flagged as "
        "tombstones rather than dropped. The fixture's synthetic "
        "sequence (creates, double updates, deletes) exercises all "
        "three kinds and null images on both sides. Scale shape: pure "
        "per-row projection over the envelope scan — no shuffle at "
        "all; at 100 TB this is the stateless map stage in front of "
        "the keyed MERGE, exactly where Debezium's unwrap SMT sits."
    ),
)
def cdc_debezium_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = "id bigint, name string, balance double"
    schema = f"op string, ts_ms bigint, before struct<{img}>, after struct<{img}>"
    env = spark.read.schema(schema).json(CDC_CHANGES)
    return env.select(
        "ts_ms",
        F.when(F.col("op") == "c", "insert")
        .when(F.col("op") == "u", "update")
        .otherwise("delete")
        .alias("change_kind"),
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("key_id"),
        F.col("after.name").alias("new_name"),
        F.round("after.balance", 2).alias("new_balance"),
        F.round("before.balance", 2).alias("old_balance"),
        (F.col("op") == "d").alias("is_tombstone"),
    )


@query(
    "cdc_scd2_build",
    oracle=f"""
    WITH env AS (
        SELECT * FROM read_json('{CDC_CHANGES}',
            columns = {{'op': 'VARCHAR', 'ts_ms': 'BIGINT',
                        'before': 'STRUCT(id BIGINT, name VARCHAR, balance DOUBLE)',
                        'after': 'STRUCT(id BIGINT, name VARCHAR, balance DOUBLE)'}})),
    ch AS (
        SELECT ts_ms, op, coalesce(after.id, before.id) AS key_id,
               after.name AS name, after.balance AS balance
        FROM env),
    seq AS (
        SELECT *, lead(ts_ms) OVER (PARTITION BY key_id ORDER BY ts_ms)
                   AS valid_to_ms
        FROM ch)
    SELECT key_id,
           CAST(row_number() OVER (PARTITION BY key_id ORDER BY ts_ms)
                AS BIGINT) AS version_seq,
           name, round(balance, 2) AS balance,
           ts_ms AS valid_from_ms, valid_to_ms,
           valid_to_ms IS NULL AS is_current
    FROM seq WHERE op <> 'd'
    """,
    doc=(
        "SCD2 dimension BUILD from the raw Debezium change log — the "
        "round-12 verdict's item 4: the repo had the parser "
        "(cdc_debezium_parse), the MERGE (sql_merge_upsert), and the "
        "point-in-time LOOKUP (timeseries scd2_temporal_lookup), but "
        "not the composition every warehouse actually runs to create "
        "the valid_from/valid_to table those lookups read. Each "
        "create/update becomes a version row whose validity closes at "
        "the key's NEXT change of ANY kind — computed with lead() over "
        "the unfiltered per-key change sequence, so a delete closes the "
        "last open version (tombstone closure) while emitting no row "
        "itself; keys whose history ends in a delete therefore have NO "
        "is_current row, and live keys have exactly one. version_seq "
        "renumbers surviving versions per key (the window runs after "
        "the tombstone filter). One keyed window over the change log — "
        "the same shuffle the MERGE already pays; at 100 TB this is the "
        "daily dimension rebuild: partition by key, order by ts, no "
        "data-sized gather anywhere."
    ),
)
def cdc_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    img = "id bigint, name string, balance double"
    schema = f"op string, ts_ms bigint, before struct<{img}>, after struct<{img}>"
    env = spark.read.schema(schema).json(CDC_CHANGES)
    ch = env.select(
        "ts_ms",
        "op",
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("key_id"),
        F.col("after.name").alias("name"),
        F.col("after.balance").alias("balance"),
    )
    wk = Window.partitionBy("key_id").orderBy("ts_ms")
    seq = ch.withColumn("valid_to_ms", F.lead("ts_ms").over(wk))
    versions = seq.filter(F.col("op") != "d")
    return versions.select(
        "key_id",
        F.row_number().over(wk).cast("long").alias("version_seq"),
        "name",
        F.round("balance", 2).alias("balance"),
        F.col("ts_ms").alias("valid_from_ms"),
        "valid_to_ms",
        F.col("valid_to_ms").isNull().alias("is_current"),
    )


@query(
    "cdc_scd2_asof_lookup",
    oracle=f"""
    WITH env AS (
        SELECT * FROM read_json('{CDC_CHANGES}',
            columns = {{'op': 'VARCHAR', 'ts_ms': 'BIGINT',
                        'before': 'STRUCT(id BIGINT, name VARCHAR, balance DOUBLE)',
                        'after': 'STRUCT(id BIGINT, name VARCHAR, balance DOUBLE)'}})),
    ch AS (
        SELECT ts_ms, op, coalesce(after.id, before.id) AS key_id,
               after.balance AS balance
        FROM env),
    seq AS (
        SELECT *, lead(ts_ms) OVER (PARTITION BY key_id ORDER BY ts_ms)
                   AS valid_to_ms
        FROM ch),
    dim AS MATERIALIZED (
        SELECT key_id, balance, ts_ms AS valid_from_ms, valid_to_ms
        FROM seq WHERE op <> 'd'),
    probes AS (
        SELECT DISTINCT ts_ms AS probe_ts_ms FROM env)
    SELECT p.probe_ts_ms,
           CAST(count(d.key_id) AS BIGINT) AS n_live_keys,
           round(coalesce(sum(d.balance), 0.0), 2) AS total_balance
    FROM probes p LEFT JOIN dim d
      ON d.valid_from_ms <= p.probe_ts_ms
     AND (d.valid_to_ms IS NULL OR p.probe_ts_ms < d.valid_to_ms)
    GROUP BY p.probe_ts_ms
    """,
    doc=(
        "AS-OF serving off the BUILT SCD2 dimension (cdc_scd2_build's "
        "output consumed, closing the build->serve loop): every change "
        "timestamp in the log is probed against the dimension's "
        "half-open [valid_from, valid_to) intervals — live-key count "
        "and balance total AT each instant, i.e. the balance-sheet "
        "time series reconstructed purely from versioned dimension "
        "rows, deletes visible as dips. The interval join is "
        "probe x dimension with the dimension broadcast (it is "
        "version-bounded: one row per change, not per entity-instant); "
        "exact integer timestamps decide interval membership, the only "
        "float is the round-2 balance payload. At 100 TB the dimension "
        "stays metadata-sized relative to facts and this exact join "
        "shape serves fact-table point-in-time enrichment — the "
        "standard warehouse PIT join."
    ),
)
def cdc_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    img = "id bigint, name string, balance double"
    schema = f"op string, ts_ms bigint, before struct<{img}>, after struct<{img}>"
    env = spark.read.schema(schema).json(CDC_CHANGES)
    ch = env.select(
        "ts_ms",
        "op",
        F.coalesce(F.col("after.id"), F.col("before.id")).alias("key_id"),
        F.col("after.balance").alias("balance"),
    )
    wk = Window.partitionBy("key_id").orderBy("ts_ms")
    dim = (
        ch.withColumn("valid_to_ms", F.lead("ts_ms").over(wk))
        .filter(F.col("op") != "d")
        .select(
            "key_id",
            "balance",
            F.col("ts_ms").alias("valid_from_ms"),
            "valid_to_ms",
        )
    )
    probes = env.select(F.col("ts_ms").alias("probe_ts_ms")).distinct()
    joined = probes.join(
        F.broadcast(dim),
        (F.col("valid_from_ms") <= F.col("probe_ts_ms"))
        & (
            F.col("valid_to_ms").isNull()
            | (F.col("probe_ts_ms") < F.col("valid_to_ms"))
        ),
        "left",
    )
    return joined.groupBy("probe_ts_ms").agg(
        F.count("key_id").cast("long").alias("n_live_keys"),
        F.round(F.coalesce(F.sum("balance"), F.lit(0.0)), 2).alias(
            "total_balance"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming t-digest maintenance (round 14): the foreachBatch handler in
# streaming/tdigest_ingest.py commits one immutable partial digest per
# micro-batch and serves global quantiles off the merged store. This
# twin drives the REAL handler in batch mode (three deterministic
# "micro-batches" by l_orderkey % 3 into a versioned scratch store) so
# the driver hash-checks the streaming implementation itself, not a
# re-expression of it.

_STD_PROBES = (0.01, 0.25, 0.5, 0.9, 0.99)
_STD_PARTS = 3


def _td_part_centroids_sql(parts: int) -> str:
    """Per-micro-batch t-digest builds as SQL — the agg_tdigest_merged
    half-centroid recipe generalized to ``parts`` batches keyed by
    l_orderkey % parts (the deterministic stand-in for file-replay
    micro-batches)."""
    return f"""
    ranked AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_orderkey % {parts} AS batch_id,
               CAST(row_number() OVER (PARTITION BY l_orderkey % {parts}
                                       ORDER BY l_extendedprice) - 1 AS BIGINT)
                   AS r0,
               CAST(count(*) OVER (PARTITION BY l_orderkey % {parts}) AS BIGINT)
                   AS nb
        FROM lineitem),
    keyed AS (
        SELECT cents, batch_id,
               CASE WHEN 2 * r0 < nb THEN 0 ELSE 1 END AS side,
               CASE WHEN 2 * r0 < nb THEN r0 + 1 ELSE nb - r0 END AS dd
        FROM ranked),
    lvled AS (
        SELECT cents, batch_id, side, dd,
               CAST(length(format('{{:b}}', dd)) - 1 AS BIGINT) AS lvl
        FROM keyed),
    bucketed AS (
        SELECT cents, batch_id, side, lvl,
               ((dd - (CAST(1 AS BIGINT) << CAST(lvl AS INT))) * {TD_SUB})
                   // (CAST(1 AS BIGINT) << CAST(lvl AS INT)) AS sub
        FROM lvled),
    cent AS MATERIALIZED (
        SELECT batch_id, side, lvl, sub,
               CAST(count(*) AS BIGINT) AS w,
               CAST(min(cents) AS BIGINT) AS lo,
               CAST(max(cents) AS BIGINT) AS hi,
               CAST(sum(cents) AS BIGINT) AS sc
        FROM bucketed GROUP BY batch_id, side, lvl, sub)
    """


@query(
    "stream_tdigest_twin",
    oracle=f"""
    WITH {_td_part_centroids_sql(_STD_PARTS)},
    ordered AS (
        SELECT *,
               CAST(coalesce(sum(w) OVER (
                   ORDER BY lo, hi, batch_id, side, lvl, sub
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cw,
               CAST(sum(w) OVER () AS BIGINT) AS n
        FROM cent),
    rekeyed AS (
        SELECT *, cw + (w - 1) // 2 AS mid FROM ordered),
    resided AS (
        SELECT *,
               CASE WHEN 2 * mid < n THEN 0 ELSE 1 END AS side2,
               CASE WHEN 2 * mid < n THEN mid + 1 ELSE n - mid END AS dd2
        FROM rekeyed),
    relvled AS (
        SELECT *, CAST(length(format('{{:b}}', dd2)) - 1 AS BIGINT) AS lvl2
        FROM resided),
    mbucket AS (
        SELECT *,
               ((dd2 - (CAST(1 AS BIGINT) << CAST(lvl2 AS INT))) * {TD_SUB})
                   // (CAST(1 AS BIGINT) << CAST(lvl2 AS INT)) AS sub2
        FROM relvled),
    mcent AS MATERIALIZED (
        SELECT side2, lvl2, sub2,
               CAST(sum(w) AS BIGINT) AS weight,
               CAST(min(lo) AS BIGINT) AS mlo,
               CAST(max(hi) AS BIGINT) AS mhi,
               CAST(count(*) AS BIGINT) AS n_inputs,
               CAST(min(cw) AS BIGINT) AS cw_start,
               CAST(max(cw + w) - 1 AS BIGINT) AS cw_end,
               CAST(any_value(n) AS BIGINT) AS n
        FROM mbucket GROUP BY side2, lvl2, sub2),
    probes AS (SELECT * FROM (VALUES {", ".join(f"({p!r})" for p in _STD_PROBES)})
               AS t(p)),
    targets AS (
        SELECT p, CAST(floor(p * (any_value(c.n) - 1)) AS BIGINT) AS t
        FROM probes CROSS JOIN mcent c GROUP BY p),
    served AS MATERIALIZED (
        SELECT t.p, t.t, c.weight, c.n_inputs, c.n,
               (c.mlo + CASE WHEN c.weight > 1
                        THEN CAST(c.mhi - c.mlo AS DOUBLE)
                             * (CAST(t.t - c.cw_start AS DOUBLE)
                                / CAST(c.weight - 1 AS DOUBLE))
                        ELSE 0.0 END) AS est_cents
        FROM targets t JOIN mcent c ON t.t BETWEEN c.cw_start AND c.cw_end),
    gr AS MATERIALIZED (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(row_number() OVER (ORDER BY l_extendedprice) - 1 AS BIGINT)
                   AS r0g
        FROM lineitem),
    exact AS (
        SELECT s.p, CAST(any_value(g.cents) AS BIGINT) AS exact_cents
        FROM served s JOIN gr g ON g.r0g = s.t GROUP BY s.p),
    ranks AS (
        SELECT s.p,
               CAST(sum(CASE WHEN g.cents < s.est_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS lt,
               CAST(sum(CASE WHEN g.cents <= s.est_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS le
        FROM served s CROSS JOIN gr g GROUP BY s.p)
    SELECT s.p, s.t AS target_rank, s.weight AS merged_weight, s.n_inputs,
           CAST({_STD_PARTS} AS BIGINT) AS n_batches,
           round(s.est_cents / 100.0, 4) AS est_price,
           round(x.exact_cents / 100.0, 4) AS exact_price,
           CAST(CASE WHEN r.lt > s.t THEN r.lt - s.t
                     WHEN r.le - 1 < s.t THEN s.t - (r.le - 1)
                     ELSE 0 END AS BIGINT) AS rank_err,
           CAST(CASE WHEN s.t + 1 < s.n - s.t THEN s.t + 1 ELSE s.n - s.t END
                AS BIGINT) AS d_tail,
           CAST(CASE WHEN r.lt > s.t THEN r.lt - s.t
                     WHEN r.le - 1 < s.t THEN s.t - (r.le - 1)
                     ELSE 0 END AS DOUBLE)
               <= 0.35 * (CASE WHEN s.t + 1 < s.n - s.t THEN s.t + 1
                               ELSE s.n - s.t END) + 8 AS within_bound
    FROM served s JOIN exact x USING (p) JOIN ranks r USING (p)
    """,
    doc=(
        "Batch twin of STREAMING t-digest maintenance — and unlike most "
        "twins it EXECUTES the streaming code: lineitem is split into "
        f"{_STD_PARTS} deterministic micro-batches (l_orderkey % "
        f"{_STD_PARTS}, the stand-in for file-replay triggers), each "
        "committed through the real foreachBatch handler "
        "(streaming/tdigest_ingest.tdigest_apply_batch — append-only "
        "immutable partials, durable markers, replayed batches no-op) "
        "into a versioned scratch store, and quantiles are served off "
        "the merged store exactly as a monitor would serve them "
        "mid-stream. The oracle rebuilds the same per-batch partials, "
        "the same (lo, hi, batch, side, lvl, sub)-ordered cum-weight "
        "re-bin, and the same containing-bucket interpolation in pure "
        "SQL — hash equality proves streaming build + merge + serve "
        "are exact-integer identical to the batch merge law "
        "agg_tdigest_merged already pinned (the replay test in "
        "tests/test_streaming.py additionally pins equality ACROSS a "
        "batch boundary under a real readStream). rank_err/d_tail/"
        "within_bound emit the t-digest accuracy guarantee as data. "
        "At 100 TB: per-trigger state is O(log batch) centroid rows, "
        "the store grows O(k log n) over k batches and compacts "
        "through the same associative re-bin, and serving never "
        "re-reads data."
    ),
)
def stream_tdigest_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = scratch_dir("stdigest", os.path.join(sf_dir, "lineitem.parquet"))
    cents = lineitem_cents(
        spark, sf_dir, (F.col("l_orderkey") % _STD_PARTS).alias("batch")
    )
    # Optimization r15 (VERDICT item 4): ONE-JOB batched bootstrap of
    # every still-missing partial — the per-batch rank windows run
    # partitioned by batch in a single pass — instead of one sequential
    # job (scan + single-partition window + write) per micro-batch. Same
    # partial rows, same marker protocol; a no-op without any Spark job
    # once every marker exists. The foreachBatch handler
    # (tdigest_apply_batch) remains the real streaming path.
    commit_partials_batched(
        tdigest_partial(cents, "cents", batch_col="batch"),
        list(range(_STD_PARTS)),
        store,
        "batch",
    )
    cent = read_tdigest_centroids(spark, store)
    served = serve_tdigest_quantiles(spark, cent, list(_STD_PROBES))
    return tdigest_verdict(
        served, cents, F.lit(_STD_PARTS).cast("long").alias("n_batches")
    )


_SHLL_PARTS = 3


@query(
    "stream_hll_twin",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT l_orderkey % {_SHLL_PARTS} AS batch_id,
               ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),
                                  1, {HLL_HEX}))::BIGINT AS hv
        FROM lineitem),
    rho AS (
        SELECT batch_id, hv // {1 << HLL_REM} AS bucket,
               CASE WHEN hv % {1 << HLL_REM} = 0 THEN {HLL_RMAX}
                    ELSE {HLL_REM} + 1 - length(format('{{:b}}', hv % {1 << HLL_REM}))
               END AS rho
        FROM h),
    part AS MATERIALIZED (
        SELECT batch_id, bucket, CAST(max(rho) AS BIGINT) AS r
        FROM rho GROUP BY batch_id, bucket),
    merged AS MATERIALIZED (
        SELECT bucket, CAST(max(r) AS BIGINT) AS r FROM part GROUP BY bucket),
    whole AS MATERIALIZED (
        SELECT bucket, CAST(max(rho) AS BIGINT) AS r FROM rho GROUP BY bucket),
    law AS (
        SELECT CAST(sum(CASE WHEN m.r IS DISTINCT FROM w.r THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_register_mismatch
        FROM merged m FULL OUTER JOIN whole w USING (bucket)),
    state AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nonempty,
               CAST({HLL_M} - count(*) AS BIGINT) AS v_empty,
               CAST(sum(CAST(1 AS BIGINT) << CAST({HLL_RMAX} - r AS INT))
                    + ({HLL_M} - count(*))
                      * (CAST(1 AS BIGINT) << {HLL_RMAX}) AS BIGINT)
                   AS s_scaled
        FROM merged),
    est AS (
        SELECT n_nonempty, v_empty, s_scaled,
               CAST(CASE WHEN {HLL_NUM!r} / CAST(s_scaled AS DOUBLE)
                              <= {HLL_LC_CUT!r} AND v_empty > 0
                    THEN round({float(HLL_M)!r}
                               * ln({float(HLL_M)!r} / CAST(v_empty AS DOUBLE)))
                    ELSE round({HLL_NUM!r} / CAST(s_scaled AS DOUBLE))
                    END AS BIGINT) AS est_distinct
        FROM state),
    truth AS (
        SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS true_distinct
        FROM lineitem)
    SELECT CAST({HLL_M} AS BIGINT) AS m, CAST({_SHLL_PARTS} AS BIGINT) AS n_batches,
           e.n_nonempty, e.v_empty, e.s_scaled, e.est_distinct,
           t.true_distinct,
           round(abs(CAST(e.est_distinct AS DOUBLE) - t.true_distinct)
                 / t.true_distinct, 6) AS rel_error,
           abs(CAST(e.est_distinct AS DOUBLE) - t.true_distinct)
               <= 0.15 * t.true_distinct + 1 AS within_bound,
           l.n_register_mismatch,
           l.n_register_mismatch = 0 AS merge_exact
    FROM est e CROSS JOIN truth t CROSS JOIN law l
    """,
    doc=(
        "Batch twin of STREAMING HyperLogLog maintenance — like "
        "stream_tdigest_twin it EXECUTES the streaming code "
        "(streaming/hll_ingest.py): lineitem's l_partkey stream splits "
        f"into {_SHLL_PARTS} deterministic micro-batches committed "
        "through the real foreachBatch handler into a versioned scratch "
        "store (append-only register partials, durable markers), and "
        "the merged global state is served exactly as a distinct-count "
        "monitor would serve it mid-stream. The HLL merge law is "
        "STRONGER than the digest's: register-wise max is associative "
        "AND idempotent, so the merged registers equal the whole-corpus "
        "sketch register-for-register — the oracle's FULL OUTER "
        "mismatch count is provably 0 (merge_exact), and the served "
        "estimate is bit-identical to the single-pass estimate "
        "(exact-integer s_scaled, one IEEE divide, published "
        "linear-counting branch — agg_hll_portable's estimator). "
        "rel_error/within_bound grade the estimate against the true "
        "distinct count (~3 sigma of 1.04/sqrt(512)). At 100 TB: "
        "per-trigger state is <= 512 register rows, the store compacts "
        "to 512 rows with zero information loss (idempotent max), and "
        "serving is a 512-row aggregate."
    ),
)
def stream_hll_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = scratch_dir("shll", os.path.join(sf_dir, "lineitem.parquet"))
    li = read_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_partkey", (F.col("l_orderkey") % _SHLL_PARTS).alias("batch")
    )
    # one-job batched bootstrap — see stream_tdigest_twin
    commit_partials_batched(
        hll_partial(keyed, "l_partkey", batch_col="batch"),
        list(range(_SHLL_PARTS)),
        store,
        "batch",
    )
    regs = read_hll_registers(spark, store)
    served = serve_hll_estimate(spark, regs)
    whole = hll_partial(li.select("l_partkey"), "l_partkey").withColumnRenamed(
        "r", "wr"
    )
    law = (
        merge_hll(regs)
        .join(whole, "bucket", "full_outer")
        .agg(
            F.sum(
                F.when(~F.col("r").eqNullSafe(F.col("wr")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_register_mismatch")
        )
    )
    return (
        served.crossJoin(F.broadcast(true_distinct(li, "l_partkey")))
        .crossJoin(F.broadcast(law))
        .select(
            "m",
            F.lit(_SHLL_PARTS).cast("long").alias("n_batches"),
            "n_nonempty",
            "v_empty",
            "s_scaled",
            "est_distinct",
            "true_distinct",
            *distinct_verdict(0.15),
            "n_register_mismatch",
            (F.col("n_register_mismatch") == 0).alias("merge_exact"),
        )
    )


_SHDR_PARTS = 3
_SHDR_PROBES = (0.5, 0.99)


@query(
    "stream_hdr_twin",
    oracle=f"""
    WITH ranked AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_orderkey % {_SHDR_PARTS} AS batch_id,
               CAST(row_number() OVER (ORDER BY l_extendedprice) - 1 AS BIGINT)
                   AS r0
        FROM lineitem),
    lvled AS (
        SELECT cents, batch_id, r0,
               CAST(length(format('{{:b}}', cents)) AS BIGINT) AS lvl
        FROM ranked),
    bucketed AS MATERIALIZED (
        SELECT cents, batch_id, r0, lvl,
               ((cents - (CAST(1 AS BIGINT) << CAST(lvl - 1 AS INT))) * {HDR_SUB})
                   // (CAST(1 AS BIGINT) << CAST(lvl - 1 AS INT)) AS sub
        FROM lvled),
    part AS MATERIALIZED (
        SELECT batch_id, lvl, sub,
               CAST(count(*) AS BIGINT) AS c,
               CAST(min(cents) AS BIGINT) AS lo,
               CAST(max(cents) AS BIGINT) AS hi
        FROM bucketed GROUP BY batch_id, lvl, sub),
    merged AS MATERIALIZED (
        SELECT lvl, sub, CAST(sum(c) AS BIGINT) AS c,
               CAST(min(lo) AS BIGINT) AS lo, CAST(max(hi) AS BIGINT) AS hi
        FROM part GROUP BY lvl, sub),
    whole AS MATERIALIZED (
        SELECT lvl, sub, CAST(count(*) AS BIGINT) AS wc,
               CAST(min(cents) AS BIGINT) AS wlo,
               CAST(max(cents) AS BIGINT) AS whi
        FROM bucketed GROUP BY lvl, sub),
    law AS (
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(CASE WHEN m.c IS DISTINCT FROM w.wc
                              OR m.lo IS DISTINCT FROM w.wlo
                              OR m.hi IS DISTINCT FROM w.whi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
        FROM merged m FULL OUTER JOIN whole w USING (lvl, sub)),
    cum AS (
        SELECT *, CAST(coalesce(sum(c) OVER (
                   ORDER BY lvl, sub
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cw,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM merged),
    probes AS (SELECT * FROM (VALUES {", ".join(f"({p!r})" for p in _SHDR_PROBES)})
               AS t(p)),
    targets AS (
        SELECT p, CAST(floor(p * (any_value(c.n) - 1)) AS BIGINT) AS t
        FROM probes CROSS JOIN cum c GROUP BY p),
    hit AS (
        SELECT t.p, t.t, c.c, c.lo, c.hi, c.cw
        FROM targets t JOIN cum c ON t.t >= c.cw AND t.t < c.cw + c.c),
    exact AS (
        SELECT t.p, CAST(any_value(r.cents) AS BIGINT) AS exact_cents
        FROM targets t JOIN ranked r ON r.r0 = t.t GROUP BY t.p)
    SELECT h.p, h.t AS target_rank, h.c AS bucket_count,
           CAST({_SHDR_PARTS} AS BIGINT) AS n_batches,
           round(h.lo / 100.0, 4) AS bucket_lo,
           round(h.hi / 100.0, 4) AS bucket_hi,
           round((h.lo + CASE WHEN h.c > 1
                         THEN CAST(h.hi - h.lo AS DOUBLE)
                              * (CAST(h.t - h.cw AS DOUBLE)
                                 / CAST(h.c - 1 AS DOUBLE))
                         ELSE 0.0 END) / 100.0, 4) AS est_price,
           round(x.exact_cents / 100.0, 4) AS exact_price,
           x.exact_cents BETWEEN h.lo AND h.hi AS within_bucket,
           CAST(h.hi - h.lo AS DOUBLE) / h.lo <= {1.0 / HDR_SUB!r} AS width_bound_ok,
           l.n_buckets, l.n_mismatch, l.n_mismatch = 0 AS merge_exact
    FROM hit h JOIN exact x USING (p) CROSS JOIN law l
    """,
    doc=(
        "Batch twin of STREAMING HdrHistogram maintenance — third "
        "member of the foreachBatch sketch family, and like its "
        "siblings it EXECUTES the streaming code "
        "(streaming/hdr_ingest.py): lineitem's cents stream splits "
        f"into {_SHDR_PARTS} deterministic micro-batches committed "
        "through the real handler into a versioned scratch store, and "
        "p50/p99 are served off the merged histogram exactly as a "
        "latency monitor would serve them mid-stream. HDR's merge law "
        "matches HLL's strength, not the digest's: bucket identity is "
        "a pure function of the VALUE (bit-length octave x linear "
        "subbucket — no ranks), so counter add + bound min/max are "
        "grouping-invariant and the merged store equals the whole-"
        "stream single-pass build bucket for bucket — the oracle's "
        "FULL OUTER mismatch count is provably 0 (merge_exact), and "
        "compaction is lossless (pinned in tests/test_streaming.py "
        "across a real readStream boundary). Serving keeps the "
        "structural guarantees: exact value inside the hit bucket's "
        "member bounds, relative bucket width <= 12.5% at any "
        "magnitude. The global exact ranking is the verification "
        "harness, not the serve path. At 100 TB: per-trigger state is "
        "O(octaves * 8) counter rows and the store compacts to one "
        "such table with zero information loss."
    ),
)
def stream_hdr_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = scratch_dir("shdr", os.path.join(sf_dir, "lineitem.parquet"))
    cents = lineitem_cents(
        spark, sf_dir, (F.col("l_orderkey") % _SHDR_PARTS).alias("batch")
    )
    # one-job batched bootstrap — see stream_tdigest_twin
    commit_partials_batched(
        hdr_partial(cents, "cents", batch_col="batch"),
        list(range(_SHDR_PARTS)),
        store,
        "batch",
    )
    buckets = read_hdr_buckets(spark, store)
    served = serve_hdr_quantiles(spark, buckets, list(_SHDR_PROBES))
    return (
        hdr_verdict(served, cents)
        .crossJoin(F.broadcast(hdr_merge_law(buckets, cents)))
        .select(
            "p",
            "target_rank",
            "bucket_count",
            F.lit(_SHDR_PARTS).cast("long").alias("n_batches"),
            "bucket_lo",
            "bucket_hi",
            "est_price",
            "exact_price",
            "within_bucket",
            "width_bound_ok",
            "n_buckets",
            "n_mismatch",
            (F.col("n_mismatch") == 0).alias("merge_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming CMS + KMV maintenance twins (round 14): with these, every
# mergeable sketch in the repo (t-digest, HLL, HDR, CMS, KMV) has a
# foreachBatch maintainer on the shared partial store, each twin
# executing its real handler and hash-checking the exact merge law the
# sketch actually has.

_SCMS_PARTS = 3
_SCMS_PROBES = (1, 2, 7, 13)


def _scms_oracle() -> str:
    from parquet_exporter_spark.functions import dedup as _D

    coeffs = _D.hash_coefficients(CMS_D)
    seeds = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(coeffs))
    bh = _D.sql_base_hash_31("CAST(o_custkey AS VARCHAR)")
    bhp = _D.sql_base_hash_31("CAST(p.key AS VARCHAR)")
    probes = ", ".join(f"('{k}')" for k in _SCMS_PROBES)
    return f"""
    WITH h AS MATERIALIZED (
        SELECT o_custkey, o_orderkey % {_SCMS_PARTS} AS batch_id, {bh} AS h
        FROM orders),
    buck AS MATERIALIZED (
        SELECT batch_id, seed AS depth,
               ((a * h + b) % {_D.MERSENNE_31}) % {CMS_W} AS bucket
        FROM h CROSS JOIN (VALUES {seeds}) AS t(seed, a, b)),
    part AS MATERIALIZED (
        SELECT batch_id, depth, bucket, CAST(count(*) AS BIGINT) AS c
        FROM buck GROUP BY batch_id, depth, bucket),
    merged AS MATERIALIZED (
        SELECT depth, bucket, CAST(sum(c) AS BIGINT) AS c
        FROM part GROUP BY depth, bucket),
    whole AS MATERIALIZED (
        SELECT depth, bucket, CAST(count(*) AS BIGINT) AS wc
        FROM buck GROUP BY depth, bucket),
    law AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(CASE WHEN m.c IS DISTINCT FROM w.wc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cell_mismatch
        FROM merged m FULL OUTER JOIN whole w USING (depth, bucket)),
    pk AS (SELECT * FROM (VALUES {probes}) AS t(key)),
    pb AS (
        SELECT p.key, t.seed AS depth,
               ((t.a * {bhp} + t.b) % {_D.MERSENNE_31}) % {CMS_W} AS bucket
        FROM pk p CROSS JOIN (VALUES {seeds}) AS t(seed, a, b)),
    est AS (
        SELECT pb.key,
               CAST(min(coalesce(m.c, 0)) AS BIGINT) AS est
        FROM pb LEFT JOIN merged m USING (depth, bucket)
        GROUP BY pb.key),
    truth AS (
        SELECT p.key, CAST(count(o.o_orderkey) AS BIGINT) AS true_cnt
        FROM pk p LEFT JOIN orders o
          ON CAST(o.o_custkey AS VARCHAR) = p.key
        GROUP BY p.key)
    SELECT e.key, e.est, t.true_cnt,
           CAST(e.est - t.true_cnt AS BIGINT) AS overcount,
           e.est >= t.true_cnt AS guarantee_holds,
           CAST({_SCMS_PARTS} AS BIGINT) AS n_batches,
           l.n_cells, l.n_cell_mismatch,
           l.n_cell_mismatch = 0 AS merge_exact
    FROM est e JOIN truth t USING (key) CROSS JOIN law l
    """


@query(
    "stream_cms_twin",
    oracle=_scms_oracle(),
    doc=(
        "Batch twin of STREAMING count-min-sketch maintenance — the "
        "heavy-hitter monitor member of the foreachBatch family, "
        "executing the real handler (streaming/cms_ingest.py): orders' "
        f"o_custkey stream splits into {_SCMS_PARTS} deterministic "
        "micro-batches committed as (depth x width) counter partials "
        "into a versioned scratch store. CMS counters add, so the "
        "merge is grouping-invariant like HDR's: the merged table "
        "equals the single-pass whole-stream sketch CELL FOR CELL "
        "(FULL OUTER mismatch count provably 0 — merge_exact), and "
        "compaction is lossless. Serving is the standard min-over-"
        "depths point read for a literal probe-key set, with the CMS "
        "guarantee emitted as data: est >= true ALWAYS (counters only "
        "ever add — guarantee_holds), measured overcount alongside. "
        "Same portable LCG-coefficient hash family as "
        "agg_count_min_portable, so build, merge, law, and serve all "
        "hash-match DuckDB. At 100 TB: per-trigger state is <= 256 "
        "counter rows; the store compacts to one such table with zero "
        "information loss, and the serve is a d-row broadcast probe."
    ),
)
def stream_cms_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = scratch_dir("scms", os.path.join(sf_dir, "orders.parquet"))
    orders = read_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_custkey", (F.col("o_orderkey") % _SCMS_PARTS).alias("batch")
    )
    # one-job batched bootstrap — see stream_tdigest_twin
    commit_partials_batched(
        cms_partial(keyed, "o_custkey", batch_col="batch"),
        list(range(_SCMS_PARTS)),
        store,
        "batch",
    )
    counters = read_cms_counters(spark, store)
    est = serve_cms_estimates(
        spark, counters, [str(k) for k in _SCMS_PROBES]
    )
    whole = cms_partial(keyed.select("o_custkey"), "o_custkey").withColumnRenamed(
        "c", "wc"
    )
    law = (
        merge_cms(counters)
        .join(whole, ["depth", "bucket"], "full_outer")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum(F.when(~F.col("c").eqNullSafe(F.col("wc")), 1).otherwise(0))
            .cast("long")
            .alias("n_cell_mismatch"),
        )
    )
    probes = tiny_df(spark, [(str(k),) for k in _SCMS_PROBES], "key string")
    truth = (
        probes.join(
            orders.select(
                F.col("o_custkey").cast("string").alias("key"),
                F.lit(1).alias("_m"),
            ),
            "key",
            "left",
        )
        .groupBy("key")
        .agg(F.sum(F.coalesce(F.col("_m"), F.lit(0))).cast("long").alias("true_cnt"))
    )
    return (
        est.join(truth, "key")
        .crossJoin(F.broadcast(law))
        .select(
            "key",
            "est",
            "true_cnt",
            (F.col("est") - F.col("true_cnt")).cast("long").alias("overcount"),
            (F.col("est") >= F.col("true_cnt")).alias("guarantee_holds"),
            F.lit(_SCMS_PARTS).cast("long").alias("n_batches"),
            "n_cells",
            "n_cell_mismatch",
            (F.col("n_cell_mismatch") == 0).alias("merge_exact"),
        )
    )


_SKMV_PARTS = 3


@query(
    "stream_kmv_twin",
    oracle=f"""
    WITH h AS MATERIALIZED (
        SELECT DISTINCT l_orderkey % {_SKMV_PARTS} AS batch_id,
               ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)),
                                  1, {KMV_HEX}))::BIGINT AS hv
        FROM lineitem),
    part_topk AS MATERIALIZED (
        SELECT batch_id, hv,
               row_number() OVER (PARTITION BY batch_id ORDER BY hv) AS rk
        FROM h QUALIFY rk <= {KMV_K}),
    merged AS (
        SELECT hv, row_number() OVER (ORDER BY hv) AS rk
        FROM (SELECT DISTINCT hv FROM part_topk)
        QUALIFY rk <= {KMV_K}),
    mstats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_kept,
               CAST(max(CASE WHEN rk = {KMV_K} THEN hv END) AS BIGINT) AS kth
        FROM merged),
    whole AS (
        SELECT hv, row_number() OVER (ORDER BY hv) AS rk
        FROM (SELECT DISTINCT hv FROM h)
        QUALIFY rk <= {KMV_K}),
    wstats AS (
        SELECT CAST(max(CASE WHEN rk = {KMV_K} THEN hv END) AS BIGINT) AS kth_whole
        FROM whole),
    truth AS (
        SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS true_distinct
        FROM lineitem)
    SELECT CAST({KMV_K} AS BIGINT) AS k, CAST({_SKMV_PARTS} AS BIGINT) AS n_batches,
           m.n_kept, m.kth AS kth_merged, w.kth_whole,
           m.kth IS NOT DISTINCT FROM w.kth_whole AS merge_exact,
           CAST(CASE WHEN m.kth IS NULL THEN m.n_kept
                ELSE CAST(round({KMV_K - 1} * {KMV_SPACE!r}
                                / CAST(m.kth AS DOUBLE)) AS BIGINT)
                END AS BIGINT) AS est_distinct,
           t.true_distinct,
           round(abs(CAST(CASE WHEN m.kth IS NULL THEN m.n_kept
                     ELSE CAST(round({KMV_K - 1} * {KMV_SPACE!r}
                                     / CAST(m.kth AS DOUBLE)) AS BIGINT)
                     END AS DOUBLE) - t.true_distinct)
                 / t.true_distinct, 6) AS rel_error,
           abs(CAST(CASE WHEN m.kth IS NULL THEN m.n_kept
               ELSE CAST(round({KMV_K - 1} * {KMV_SPACE!r}
                               / CAST(m.kth AS DOUBLE)) AS BIGINT)
               END AS DOUBLE) - t.true_distinct)
               <= 0.35 * t.true_distinct + 1 AS within_bound
    FROM mstats m CROSS JOIN wstats w CROSS JOIN truth t
    """,
    doc=(
        "Batch twin of STREAMING k-minimum-values maintenance — the "
        "fifth and last mergeable sketch gains its foreachBatch "
        "maintainer (streaming/kmv_ingest.py), executing the real "
        f"handler: lineitem's l_partkey stream splits into "
        f"{_SKMV_PARTS} deterministic micro-batches committed as "
        "bottom-k (k=128) hash partials into a versioned scratch "
        "store. The merge law is agg_kmv_union's bottom-k invariant "
        "run through the store: every hash in the global bottom-k is "
        "in its own batch's bottom-k, so union + re-truncate is "
        "grouping-invariant and the merged k-th minimum PROVABLY "
        "equals the single-pass whole-stream k-th minimum — "
        "merge_exact with NULL-safe equality for under-k streams; "
        "compaction is lossless for the same reason. The "
        "(k-1)/U_(k) distinct estimate, truth, and 0.35 error verdict "
        "ride along. Unlike the HLL maintainer the merged state holds "
        "ACTUAL sample hashes, so two maintained stores are one more "
        "merge from a streaming Jaccard. At 100 TB: per-trigger state "
        "is 128 exact longs; serving is a k-row aggregate."
    ),
)
def stream_kmv_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = scratch_dir("skmv", os.path.join(sf_dir, "lineitem.parquet"))
    li = read_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        "l_partkey", (F.col("l_orderkey") % _SKMV_PARTS).alias("batch")
    )
    # one-job batched bootstrap — see stream_tdigest_twin
    commit_partials_batched(
        kmv_partial(keyed, "l_partkey", batch_col="batch"),
        list(range(_SKMV_PARTS)),
        store,
        "batch",
    )
    served = serve_kmv_estimate(spark, read_kmv_hashes(spark, store))
    # whole-stream bottom-k, built single-pass for the law check
    whole = serve_kmv_estimate(spark, kmv_partial(li, "l_partkey")).select(
        F.col("kth").alias("kth_whole")
    )
    return (
        served.crossJoin(F.broadcast(whole))
        .crossJoin(F.broadcast(true_distinct(li, "l_partkey")))
        .select(
            "k",
            F.lit(_SKMV_PARTS).cast("long").alias("n_batches"),
            "n_kept",
            F.col("kth").alias("kth_merged"),
            "kth_whole",
            F.col("kth").eqNullSafe(F.col("kth_whole")).alias("merge_exact"),
            "est_distinct",
            "true_distinct",
            *distinct_verdict(0.35),
        )
    )
