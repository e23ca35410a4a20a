"""Join operators: inner/outer/semi/anti equi-joins, broadcast star join,
cross join, theta (non-equi), range join, as-of join.

Scale notes:
- Star joins broadcast the bounded dims (region/nation explicitly; Catalyst
  auto-broadcasts customer/supplier/part under the threshold) so the fact
  table never shuffles for dimension lookups.
- Fact-to-fact joins (lineitem-orders) shuffle on the join key; AQE handles
  skew by splitting oversized partitions.
- The as-of join uses the union-window form (operators/asof.py) — one
  shuffle, no candidate-pair blowup.
- The range join bounds the non-equi condition with an equi prefix
  (bucketed value), so it never degrades to a broadcast nested loop over
  the full fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_exporter_spark.operators.asof import asof_join, asof_join_nearest
from parquet_exporter_spark.queries._util import rmoney
from parquet_exporter_spark.registry import query
from parquet_exporter_spark.tables import read_table, scratch_dir, tiny_df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


@query(
    "join_inner_equi",
    oracle="""
    SELECT l_orderkey, l_linenumber, o_orderstatus,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 200000
    """,
    doc="Inner equi-join fact-to-fact (planner picks sort-merge/shuffled-hash).",
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_linenumber",
        "o_orderstatus",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'F'
    """,
    doc="Left outer join with a join-side predicate (kept in ON, not WHERE).",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "F")
    return cust.join(orders, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT a.o_orderkey AS big_key, b.o_orderkey AS urgent_key,
           coalesce(a.o_totalprice, b.o_totalprice) AS any_price
    FROM (SELECT * FROM orders WHERE o_totalprice > 250000) a
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') b
      ON a.o_orderkey = b.o_orderkey
    """,
    doc="Full outer join of two overlapping subsets (nulls on both sides).",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_totalprice") > 250000).alias("a")
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").alias("b")
    return a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full").select(
        F.col("a.o_orderkey").alias("big_key"),
        F.col("b.o_orderkey").alias("urgent_key"),
        F.coalesce(F.col("a.o_totalprice"), F.col("b.o_totalprice")).alias("any_price"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
    doc="Left semi join (EXISTS): customers with at least one big order.",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
    doc="Left anti join (NOT EXISTS): customers with no orders at all.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_star_broadcast",
    oracle="""
    SELECT r_name AS region, n_name AS nation,
           round(sum(c_acctbal), 2) AS total_balance,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc=(
        "Star-dimension broadcast join: nation and region are explicitly "
        "broadcast, so customer never shuffles for the lookup (plan asserted "
        "in tests/test_plans.py)."
    ),
)
def join_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            rmoney(F.sum("c_acctbal")).alias("total_balance"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "join_cross",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    """,
    doc="Cross join (bounded inputs only — never on a fact table).",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    a = region.alias("a")
    b = region.alias("b")
    return a.crossJoin(b).filter(F.col("a.r_regionkey") != F.col("b.r_regionkey")).select(
        F.col("a.r_name").alias("from_region"), F.col("b.r_name").alias("to_region")
    )


@query(
    "join_theta",
    oracle="""
    SELECT s1.s_suppkey AS richer, s2.s_suppkey AS poorer,
           s1.s_acctbal - s2.s_acctbal AS gap
    FROM supplier s1
    JOIN supplier s2
      ON s1.s_nationkey = s2.s_nationkey AND s1.s_acctbal > s2.s_acctbal
    """,
    doc=(
        "Theta join: equi prefix (nationkey) plus inequality. The equi part "
        "hash-partitions the join; the inequality filters within partitions — "
        "no nested loop over the full input."
    ),
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    s1 = sup.alias("s1")
    s2 = sup.alias("s2")
    cond = (F.col("s1.s_nationkey") == F.col("s2.s_nationkey")) & (
        F.col("s1.s_acctbal") > F.col("s2.s_acctbal")
    )
    return s1.join(s2, cond).select(
        F.col("s1.s_suppkey").alias("richer"),
        F.col("s2.s_suppkey").alias("poorer"),
        (F.col("s1.s_acctbal") - F.col("s2.s_acctbal")).alias("gap"),
    )


@query(
    "join_range",
    oracle="""
    SELECT b.band, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 1e9))
         AS b(band, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band
    """,
    doc=(
        "Range/interval join: events banded into value intervals. The band "
        "table is tiny and broadcast; at scale this is a broadcast-nested-"
        "loop over 3 rows per event — O(n), no shuffle."
    ),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    bands = tiny_df(
        spark,
        [("low", 0.0, 25.0), ("mid", 25.0, 75.0), ("high", 75.0, 1e9)],
        "band string, lo double, hi double",
    )
    cond = (events.value >= bands.lo) & (events.value < bands.hi)
    return (
        events.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(
    "join_asof",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, ts - INTERVAL 27 YEAR AS shifted_ts
        FROM events
    ),
    day_orders AS (
        SELECT o_custkey, o_orderdate,
               CAST(max(o_orderkey) AS BIGINT) AS last_orderkey,
               round(sum(o_totalprice), 2) AS day_total
        FROM orders
        GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, d.last_orderkey, d.day_total
    FROM ev e
    ASOF LEFT JOIN day_orders d
      ON e.user_id = d.o_custkey AND e.shifted_ts >= d.o_orderdate
    """,
    doc=(
        "As-of join: each event matched to the latest prior order-day of the "
        "same customer (events shifted into the order era). Union-window "
        "implementation — see operators/asof.py; oracle is DuckDB ASOF JOIN."
    ),
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 27 YEARS")).alias("shifted_ts"),
    )
    day_orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            rmoney(F.sum("o_totalprice")).alias("day_total"),
        )
    )
    joined = asof_join(
        events,
        day_orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="shifted_ts",
        right_time="o_orderdate",
        payload_cols=["last_orderkey", "day_total"],
    )
    return joined.select("event_id", "user_id", "last_orderkey", "day_total")


@query(
    "flagship_revenue_by_region",
    oracle="""
    SELECT r_name AS region,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY r_name
    """,
    doc=(
        "Flagship (TPC-H Q5-shaped): 5-way star join, revenue by region. "
        "lineitem-orders shuffles on orderkey; customer/nation/region are "
        "broadcast lookups; one final tiny aggregation."
    ),
)
def flagship_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            rmoney(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "join_hint_merge",
    oracle="""
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_extendedprice), 2) AS volume
    FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
    """,
    doc=(
        "Join strategy hint: force sort-merge on a join the planner would "
        "broadcast (supplier is tiny). Same result, different physical "
        "plan — asserted in tests/test_plans.py. The hint surface is how "
        "a user overrides the planner when a 'small' dim is small only "
        "in the sample."
    ),
)
def join_hint_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = read_table(spark, sf_dir, "supplier").hint("merge")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("volume"),
        )
    )


@query(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l.l_quantity), 2) AS qty
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
    doc=(
        "Join strategy hint: force shuffled-hash (build a hash table per "
        "partition, no sort) — the right call when one side is much "
        "smaller per key but too big to broadcast. Plan asserted in "
        "tests/test_plans.py."
    ),
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").hint("shuffle_hash")
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
        SELECT nullif(o_orderkey % 7, 0) AS k, CAST(count(*) AS BIGINT) AS n_a
        FROM orders GROUP BY 1
    ), b AS (
        SELECT nullif(o_custkey % 7, 0) AS k, CAST(count(*) AS BIGINT) AS n_b
        FROM orders GROUP BY 1
    )
    SELECT a.k AS k, n_a, n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc=(
        "Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
        "match each other instead of dropping out — the semantics MERGE "
        "and dimension-key reconciliation need. Still a hash-joinable "
        "equi-condition (Catalyst plans <=> as an equi-join key, not a "
        "filter), so it shuffles/broadcasts like any equi join."
    ),
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    a = orders.groupBy(
        F.nullif(F.col("o_orderkey") % 7, F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).alias("n_a"))
    b = orders.groupBy(
        F.nullif(F.col("o_custkey") % 7, F.lit(0)).alias("k_b")
    ).agg(F.count(F.lit(1)).alias("n_b"))
    return (
        a.join(b, a.k.eqNullSafe(b.k_b))
        .select(a.k.alias("k"), "n_a", "n_b")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id,
               epoch_us(ts - INTERVAL 27 YEAR) AS t
        FROM events
    ),
    day_orders AS (
        SELECT o_custkey, epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS rt,
               CAST(max(o_orderkey) AS BIGINT) AS last_orderkey,
               round(sum(o_totalprice), 2) AS day_total
        FROM orders
        GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, d.last_orderkey, d.day_total
    FROM ev e
    LEFT JOIN LATERAL (
        SELECT last_orderkey, day_total
        FROM day_orders d
        WHERE d.o_custkey = e.user_id
        ORDER BY CASE WHEN e.t >= d.rt THEN e.t - d.rt ELSE d.rt - e.t END,
                 d.rt
        LIMIT 1
    ) d ON TRUE
    """,
    doc=(
        "Nearest-direction as-of join: each event matched to the closest "
        "order-day of the same customer in EITHER direction, ties backward "
        "— the alignment sensor-fusion and feature-join pipelines need "
        "when a reading may precede or follow its reference. Single-"
        "shuffle dual-RANGE-frame union form (operators/asof.py:"
        "asof_join_nearest); oracle is a DuckDB lateral argmin over "
        "abs(time difference)."
    ),
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts") - F.expr("INTERVAL 27 YEAR")).alias("t"),
    )
    day_orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").cast("bigint").alias("last_orderkey"),
            rmoney(F.sum("o_totalprice")).alias("day_total"),
        )
        .select(
            "o_custkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("rt"),
            "last_orderkey",
            "day_total",
        )
    )
    return asof_join_nearest(
        ev,
        day_orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="t",
        right_time="rt",
        payload_cols=["last_orderkey", "day_total"],
    ).select("event_id", "user_id", "last_orderkey", "day_total")


@query(
    "join_interval_overlap",
    oracle="""
    WITH audit AS (
        SELECT o_orderkey AS audit_key, CAST(o_orderdate AS DATE) AS w_start,
               CAST(o_orderdate AS DATE) + 5 AS w_end
        FROM orders WHERE o_orderkey % 997 = 0
    ),
    ship AS (
        SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS l_shipdate,
               CAST(l_shipdate AS DATE) + CAST(1 + l_orderkey % 20 AS INTEGER)
                   AS l_deliverydate
        FROM lineitem
    )
    SELECT a.audit_key, l.l_orderkey, l.l_linenumber,
           CAST(least(a.w_end, l.l_deliverydate)
                - greatest(a.w_start, l.l_shipdate) + 1 AS BIGINT)
               AS overlap_days
    FROM audit a
    JOIN ship l
      ON l.l_shipdate <= a.w_end AND a.w_start <= l.l_deliverydate
    """,
    doc=(
        "Interval-overlap join: delivery windows [l_shipdate, "
        "l_shipdate + 1 + l_orderkey % 20 days] against audit windows [o_orderdate, +5d] with NO "
        "equi key — the genomics/sessions overlap-join shape. Implemented "
        "as a GRID-BINNED equi-join: both sides explode their interval "
        "onto a 32-day grid, join on bin equality, and a pair is emitted "
        "only from the bin containing greatest(start_a, start_b) — "
        "lossless (every overlapping pair shares that bin) and duplicate-"
        "free without a distinct. At 100 TB this turns an O(|A|*|B|) "
        "nested-loop theta join into one bounded shuffle whose key "
        "cardinality scales with the time span / grid width; grid width "
        "trades fan-out (intervals span few bins) against per-bin "
        "selectivity, and is chosen ~= the typical interval length. "
        "Oracle is the plain inequality join."
    ),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid_days = 32

    def _bin(col: str):
        return F.floor(F.datediff(F.col(col), F.lit("1970-01-01")) / grid_days)

    audit = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 997 == 0)
        .select(
            F.col("o_orderkey").alias("audit_key"),
            F.to_date("o_orderdate").alias("w_start"),
            F.date_add(F.to_date("o_orderdate"), 5).alias("w_end"),
        )
        .withColumn("bin", F.explode(F.sequence(_bin("w_start"), _bin("w_end"))))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.to_date("l_shipdate").alias("l_shipdate"),
            F.date_add(
                F.to_date("l_shipdate"),
                (F.lit(1) + F.col("l_orderkey") % 20).cast("int"),
            ).alias("l_deliverydate"),
        )
        .withColumn(
            "bin", F.explode(F.sequence(_bin("l_shipdate"), _bin("l_deliverydate")))
        )
    )
    anchor_bin = F.floor(
        F.datediff(F.greatest("w_start", "l_shipdate"), F.lit("1970-01-01"))
        / grid_days
    )
    return (
        audit.join(
            li,
            (audit.bin == li.bin)
            & (F.col("l_shipdate") <= F.col("w_end"))
            & (F.col("w_start") <= F.col("l_deliverydate")),
        )
        .filter(audit.bin == anchor_bin)
        .select(
            "audit_key",
            "l_orderkey",
            "l_linenumber",
            (
                F.datediff(
                    F.least("w_end", "l_deliverydate"),
                    F.greatest("w_start", "l_shipdate"),
                )
                + 1
            )
            .cast("bigint")
            .alias("overlap_days"),
        )
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, ts - INTERVAL 27 YEAR AS shifted_ts
        FROM events
    ),
    day_orders AS (
        SELECT o_custkey, o_orderdate,
               CAST(max(o_orderkey) AS BIGINT) AS last_orderkey,
               round(sum(o_totalprice), 2) AS day_total
        FROM orders
        GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN d.o_orderdate >= e.shifted_ts - INTERVAL 30 DAY
                THEN d.last_orderkey END AS last_orderkey,
           CASE WHEN d.o_orderdate >= e.shifted_ts - INTERVAL 30 DAY
                THEN d.day_total END AS day_total
    FROM ev e
    ASOF LEFT JOIN day_orders d
      ON e.user_id = d.o_custkey AND e.shifted_ts >= d.o_orderdate
    """,
    doc=(
        "As-of join with a tolerance bound (pandas merge_asof `tolerance` "
        "semantics): the latest prior match counts only if it is within 30 "
        "days, else the payload is NULL — how feature pipelines avoid "
        "joining against stale state. Same single-shuffle union-window "
        "plan; the right-side time rides along as payload and the bound is "
        "a post-window expression, so tolerance costs nothing extra."
    ),
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 27 YEARS")).alias("shifted_ts"),
    )
    day_orders = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            rmoney(F.sum("o_totalprice")).alias("day_total"),
        )
    )
    joined = asof_join(
        events,
        day_orders,
        left_key="user_id",
        right_key="o_custkey",
        left_time="shifted_ts",
        right_time="o_orderdate",
        payload_cols=["o_orderdate", "last_orderkey", "day_total"],
    )
    within = F.col("o_orderdate").cast("timestamp") >= (
        F.col("shifted_ts") - F.expr("INTERVAL 30 DAYS")
    )
    return joined.select(
        "event_id",
        "user_id",
        F.when(within, F.col("last_orderkey")).alias("last_orderkey"),
        F.when(within, F.col("day_total")).alias("day_total"),
    )


def _bucketed_table(spark: SparkSession, sf_dir: str, name: str, key: str, n_buckets: int = 8) -> str:
    """Materialize a testdata table as a bucketed catalog table (once per
    (session, source-data version)) at an external scratch path,
    returning its name.

    bucketBy requires saveAsTable; the explicit path keeps the location
    independent of the caller session's warehouse directory. The table
    name is keyed on the source dir AND the source file mtimes, so a
    stale scratch table from an earlier data generation is never reused
    (it simply stops being referenced). Concurrent creators (parallel
    test workers) are tolerated: losing a saveAsTable race falls back to
    the winner's table; a catalog entry whose scratch path was wiped is
    dropped and rebuilt."""
    import os

    path = scratch_dir(f"bkt_{name}", os.path.join(sf_dir, name + "*"))
    tbl = os.path.basename(path)
    if spark.catalog.tableExists(tbl) and not os.path.isdir(path):
        # Catalog survived (e.g. shared derby metastore) but the scratch
        # files did not: rebuild instead of failing at scan time.
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if not spark.catalog.tableExists(tbl):
        try:
            (
                read_table(spark, sf_dir, name)
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
        except Exception:
            # Lost a create race to a parallel worker: their table is
            # equivalent (name encodes source version). Anything else is
            # a real failure.
            if not spark.catalog.tableExists(tbl):
                raise
    return tbl


@query(
    "join_bucketed_no_shuffle",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
    doc=(
        "Bucketed co-located join: orders and lineitem are written once "
        "as catalog tables bucketed (and sorted) on the order key with "
        "matching bucket counts, so the fact-fact join needs NO exchange "
        "on the join key — each task joins its bucket pair locally "
        "(plan-asserted in tests/test_plans.py with broadcast disabled). "
        "This is THE 100 TB pattern for repeated big-big joins: pay the "
        "layout shuffle once at write time, then every subsequent join "
        "of the co-bucketed tables skips its shuffle entirely. Values "
        "are layout-independent, so the oracle is the plain join over "
        "the original parquet."
    ),
)
def join_bucketed_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.table(_bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    li = spark.table(_bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


@query(
    "join_time_bucketed_range",
    oracle="""
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS lag_seconds
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    doc=(
        "Range join via time bucketing: the scalable rewrite of the "
        "interval join (same semantics and oracle as "
        "stream_interval_join). Each side is assigned a 30-minute "
        "bucket (integer-microsecond floor division on BOTH engines); "
        "clicks probe their own bucket and the next, so every purchase "
        "within (ts, ts+30min] collides on an EQUI key (user, bucket) "
        "and the exact residual runs only on collided pairs. At 100 TB "
        "this replaces the range-condition join (which degrades to "
        "per-user nested loops) with a plain hash-partitioned equi "
        "join whose duplication factor is exactly 2."
    ),
)
def join_time_bucketed_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    bucket_us = 30 * 60 * 1000000  # bucket width == the join range
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.expr(f"unix_micros(ts) div {bucket_us}").alias("bucket"),
    )
    probes = clicks.withColumn(
        "probe", F.explode(F.array(F.col("bucket"), F.col("bucket") + 1))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.expr(f"unix_micros(ts) div {bucket_us}").alias("probe"),
    )
    joined = probes.join(purchases, ["user_id", "probe"])
    return joined.filter(
        (F.col("purchase_ts") > F.col("click_ts"))
        & (F.unix_micros("purchase_ts") <= F.unix_micros("click_ts") + F.lit(bucket_us))
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (
            F.expr("unix_micros(purchase_ts) div 1000000")
            - F.expr("unix_micros(click_ts) div 1000000")
        ).alias("lag_seconds"),
    )


@query(
    "join_lateral_df_api",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM (SELECT * FROM customer WHERE c_custkey < 200) c,
    LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) o
    """,
    doc=(
        "Spark 4.1's DataFrame.lateralJoin(): per-customer top-2 orders "
        "as a correlated LATERAL subquery built in the DataFrame API "
        "(col(...).outer() marks the correlated reference) — the "
        "API-surface twin of sql_lateral_topn. Catalyst decorrelates to "
        "the join + per-key window shape (DeduplicateRightSideOfLeftSemi "
        "/ WindowGroupLimit family), so the executed plan is the same "
        "one-shuffle ranked join the SQL form gets; ties are broken by "
        "order key so both engines return identical rows."
    ),
)
def join_lateral_df_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    orders = _t(spark, sf_dir, "orders")
    topo = (
        orders.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return cust.lateralJoin(topo).select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )
