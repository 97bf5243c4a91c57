"""Join operators (SURVEY §2.3 J1-J7).

Joins are absent from the reference (single-table query); its nearest relative
is the generator's uniform pick from the 413-city array
(`rust_1brc/src/bin/generate.rs:31-33`) — morally a broadcast lookup, which is
exactly how sources/generator.py expresses it. This module is the declared
extension surface over the TPC-H-ish testdata.

Scale notes (100 TB):
  - dim tables (region/nation/supplier/part-ish) are broadcast: zero shuffle
    of the fact side. Explicit `F.broadcast` hints where the dim is known
    small; Catalyst's autoBroadcastJoinThreshold covers the rest.
  - fact-fact joins (lineitem⋈orders) shuffle on the join key — both sides
    hash-partitioned once; AQE converts to broadcast when a filtered side
    turns out small and splits skewed partitions.
  - the as-of join avoids a per-row sort-probe by union-tagging both streams
    and running ONE window pass — O(n log n) per key partition, no cross
    product, no driver-side state (this is the standard Spark formulation of
    time-series as-of at scale).
  - the range join bounds the cross product by equi-bucketing time into
    coarse buckets and joining bucket-to-bucket before the exact range
    filter — turning BroadcastNestedLoopJoin into an equi-join whose
    fan-out is the bucket width, the standard interval-join trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from onebrc_spark.functions import round_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


@query(
    "join_inner_fact",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    survey_ref="J1",
)
def join_inner_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact inner equi-join: shuffle on the key, partial agg after.
    Catalyst/AQE picks sort-merge vs shuffled-hash vs broadcast at runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(round_long("l_extendedprice * 100")) / F.lit(100.0)).alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_broadcast_dims",
    oracle="""
    SELECT r_name, count(*) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
    """,
    survey_ref="J2",
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dim chain customer→nation→region with explicit broadcast
    hints: the fact side never shuffles (asserted in tests/test_plans.py)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(round_long("c_acctbal * 100")) / F.lit(100.0)).alias("sum_bal"),
        )
        .orderBy("r_name")
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                AS BIGINT) / 1e2 AS sum_spend
    FROM customer LEFT JOIN (SELECT * FROM orders
                             WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') o
      ON o_custkey = c_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
    survey_ref="J3",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (count(col) skips
    NULLs). The order side is windowed to the final two years so unmatched
    customers actually exist (~55 at sf0.01) — with all orders, every
    customer matched and the outer-ness was never exercised."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            # exact integer cents before the sum (registry quantization rule):
            # a raw double sum's low bits follow partition merge order
            (
                F.coalesce(
                    F.sum(round_long("o_totalprice * 100")),
                    F.lit(0),
                )
                / F.lit(100.0)
            ).alias("sum_spend"),
        )
        .orderBy("c_custkey")
    )


@query(
    "join_full_outer",
    # Both sides made genuinely partial (customers sans %5==0 keys; orders
    # from the final year only) so BOTH outer directions produce rows —
    # round 1's all-customers/all-orders version never emitted an unmatched
    # row on either side, making the full-outer green vacuous (sf0.01:
    # 1371 rows = 171 customer-less + 486 order-less + 714 matched).
    oracle="""
    WITH cust AS (SELECT * FROM customer WHERE c_custkey % 5 <> 0),
    by_cust AS (SELECT o_custkey, count(*) AS n FROM orders
                WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
                GROUP BY o_custkey)
    SELECT coalesce(c_custkey, o_custkey) AS custkey,
           CASE WHEN c_custkey IS NULL THEN 0 ELSE 1 END AS has_customer,
           coalesce(n, 0) AS n_orders
    FROM cust FULL JOIN by_cust ON o_custkey = c_custkey
    ORDER BY custkey
    """,
    survey_ref="J3",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join against a pre-aggregated side, with both unmatched
    directions exercised (see oracle note)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 5 != 0)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "full")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.when(F.col("c_custkey").isNull(), 0).otherwise(1).alias("has_customer"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
        .orderBy("custkey")
    )


@query(
    "join_semi_anti",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 100000))
        AS n_big_spenders,
      (SELECT count(*) FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'))
        AS n_dormant
    """,
    survey_ref="J4",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS) and LEFT ANTI (NOT EXISTS) joins. The anti side
    counts customers dormant in the final two years (~55 at sf0.01) — the
    all-time version counted 0 (every customer has some order), leaving the
    anti join unexercised."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 100000)
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    )
    semi = c.join(big, c.c_custkey == big.o_custkey, "left_semi")
    anti = c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
    return semi.agg(F.count(F.lit(1)).alias("n_big_spenders")).crossJoin(
        anti.agg(F.count(F.lit(1)).alias("n_dormant"))
    )


@query(
    "join_theta_nonequi",
    oracle="""
    SELECT s_suppkey, count(*) AS n_richer_cust
    FROM supplier JOIN customer
      ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
    GROUP BY s_suppkey ORDER BY s_suppkey
    """,
    survey_ref="J5",
)
def join_theta_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi part (nationkey) keys the shuffle; the non-equi
    acctbal predicate evaluates post-match, so this stays a hash/merge join,
    not a nested-loop cross product."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (c.c_nationkey == s.s_nationkey) & (c.c_acctbal > s.s_acctbal),
            "inner",
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_cust"))
        .orderBy("s_suppkey")
    )


@query(
    "join_cross",
    oracle="""
    SELECT r1.r_name AS from_region, r2.r_name AS to_region
    FROM region r1 CROSS JOIN region r2
    WHERE r1.r_regionkey <> r2.r_regionkey
    ORDER BY from_region, to_region
    """,
    survey_ref="J5",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join (BroadcastNestedLoopJoin) — only ever dim×dim by design."""
    r1 = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"), F.col("r_regionkey").alias("k1"))
    r2 = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"), F.col("r_regionkey").alias("k2"))
    return (
        r1.crossJoin(r2)
        .filter(F.col("k1") != F.col("k2"))
        .select("from_region", "to_region")
        .orderBy("from_region", "to_region")
    )


# Range-join bucket width. 1 day in seconds: events span ~30 days, orders span
# years; the exact filter runs after the bucket equi-join.
_BUCKET_SECONDS = 86400


@query(
    "join_range_interval",
    oracle="""
    WITH a AS (SELECT date_trunc('day', min(ts)) AS anchor FROM events),
    o AS (
      SELECT o_orderkey, o_custkey % 150 AS user_id,
             anchor + (o_orderkey % 28) * INTERVAL 1 DAY AS t_lo,
             anchor + (o_orderkey % 28 + 1) * INTERVAL 1 DAY AS t_hi
      FROM orders, a
    )
    SELECT o_orderkey, count(*) AS n_events
    FROM o JOIN events e
      ON e.user_id = o.user_id AND e.ts >= o.t_lo AND e.ts < o.t_hi
    GROUP BY o_orderkey ORDER BY o_orderkey
    """,
    survey_ref="J6",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: event ts within a 1-day interval for the matching
    user. Spark has no native interval join; we bucket both sides to 1-day
    grains and equi-join on (user, bucket), expanding the order side to the
    (at most 2) buckets its interval overlaps, then apply the exact range
    predicate. The cross product never materializes.

    The probe intervals are anchored to the EVENTS table's own epoch
    (date_trunc('day', min(ts)) — a 1-row broadcast aggregate) and each order
    offsets by (o_orderkey % 28) days, so the intervals always land inside
    the ~30-day event span at every SF. Round 1 anchored to o_orderdate
    (1995-2001) which never overlapped the 2024 events — a vacuous 0=0 green.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", (F.unix_timestamp("ts") / _BUCKET_SECONDS).cast("long").alias("bucket")
    )
    anchor = (
        load_table(spark, sf_dir, "events")
        .agg(F.date_trunc("day", F.min("ts")).alias("anchor"))
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 150).alias("user_id"),
            F.expr("timestampadd(DAY, CAST(o_orderkey % 28 AS INT), anchor)").alias("t_lo"),
            F.expr("timestampadd(DAY, CAST(o_orderkey % 28 AS INT) + 1, anchor)").alias("t_hi"),
        )
    )
    # Explode each interval into the day-buckets it overlaps (≤2 here).
    o_b = o.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.unix_timestamp("t_lo") / _BUCKET_SECONDS).cast("long"),
                (F.unix_timestamp("t_hi") / _BUCKET_SECONDS).cast("long"),
            )
        ),
    )
    return (
        o_b.join(ev, ["user_id", "bucket"])
        .filter((F.col("ts") >= F.col("t_lo")) & (F.col("ts") < F.col("t_hi")))
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("o_orderkey")
    )


@query(
    "join_asof",
    # Events-to-events (purchase ← last view of the same user): both streams
    # share the 2024 time range, so matches AND non-matches occur (~92% /
    # ~8% at sf0.01). Round-1 anchored the probe on orders, whose 1995-2001
    # dates all precede the events — every match NULL, a vacuous green.
    oracle="""
    SELECT c.event_id AS purchase_id,
           v.event_id AS last_view_id,
           CAST(floor(epoch(c.ts)) - floor(epoch(v.ts)) AS BIGINT)
             AS lag_seconds
    FROM (SELECT * FROM events WHERE event_type = 'purchase') c
    ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id
                    FROM events WHERE event_type = 'view'
                    GROUP BY user_id, ts) v
      ON v.user_id = c.user_id AND c.ts >= v.ts
    ORDER BY purchase_id
    """,
    survey_ref="J7",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (attribution shape): for each purchase, the
    latest view by the same user at or before it. Implemented as ONE union
    + window pass: tag both streams, sort by (user, ts) within partitions,
    and carry the last-seen view id forward with last(ignorenulls) — no
    cross join, no per-key probe. The oracle is DuckDB's native ASOF JOIN.
    """
    ev = load_table(spark, sf_dir, "events")
    # Canonicalize the build side to ONE row per (user, ts) — max event_id
    # ("latest view") — BEFORE the join: DuckDB's ASOF picks an unspecified
    # row among equal-ts matches, so without this dedup a fixture with
    # duplicate view timestamps could hash-diverge even though both engines
    # are individually deterministic (round-5 review; the current fixtures
    # happen to have no such duplicates, so results are unchanged).
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(
            F.col("user_id").alias("k"), F.col("ts").alias("t")
        )
        .agg(F.max("event_id").alias("build_id"))
        .select(
            "k",
            "t",
            "build_id",
            F.lit(None).cast("long").alias("purchase_id"),
            F.lit(0).alias("is_probe"),
        )
    )
    c = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("build_id"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("is_probe"),
    )
    # Views sort before probes at equal t (is_probe 0 < 1) so ties honor
    # `v.ts <= c.ts`. build_id breaks exact duplicates (latest wins,
    # matching ASOF's single-match semantics deterministically).
    w = (
        Window.partitionBy("k")
        .orderBy("t", "is_probe", "build_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = v.unionByName(c).withColumn(
        "last_view_id", F.last("build_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_view_t",
        F.last(F.when(F.col("is_probe") == 0, F.col("t")), ignorenulls=True).over(w),
    )
    return (
        tagged.filter(F.col("is_probe") == 1)
        .select(
            "purchase_id",
            "last_view_id",
            (F.unix_timestamp("t") - F.unix_timestamp("last_view_t")).alias(
                "lag_seconds"
            ),
        )
        .orderBy("purchase_id")
    )


@query(
    "join_asof_forward",
    oracle="""
    SELECT v.event_id AS view_id,
           c.event_id AS next_purchase_id,
           CAST(floor(epoch(c.ts)) - floor(epoch(v.ts)) AS BIGINT)
             AS lead_seconds
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    ASOF LEFT JOIN (SELECT user_id, ts, min(event_id) AS event_id
                    FROM events WHERE event_type = 'purchase'
                    GROUP BY user_id, ts) c
      ON c.user_id = v.user_id AND v.ts <= c.ts
    ORDER BY view_id
    """,
    survey_ref="J7 (forward direction: next-match instead of last-match)",
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (conversion shape): for each view, the NEXT
    purchase by the same user at or after it — the direction axis J7
    implementations expose (backward/forward/nearest). Same union-window
    construction mirrored: probes sort before builds at equal t (so
    `v.ts <= c.ts` ties match) and first(ignorenulls) over the FOLLOWING
    frame carries the next purchase backward to each view."""
    ev = load_table(spark, sf_dir, "events")
    # build-side canonicalization mirrors join_asof (min event_id = "first
    # purchase" among equal-ts duplicates; see the tie note there)
    c = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.col("user_id").alias("k"), F.col("ts").alias("t")
        )
        .agg(F.min("event_id").alias("build_id"))
        .select(
            "k",
            "t",
            "build_id",
            F.lit(None).cast("long").alias("view_id"),
            F.lit(0).alias("is_probe"),
        )
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("build_id"),
        F.col("event_id").alias("view_id"),
        F.lit(1).alias("is_probe"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", F.desc("is_probe"), "build_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    tagged = c.unionByName(v).withColumn(
        "next_purchase_id", F.first("build_id", ignorenulls=True).over(w)
    ).withColumn(
        "next_purchase_t",
        F.first(F.when(F.col("is_probe") == 0, F.col("t")), ignorenulls=True).over(w),
    )
    return (
        tagged.filter(F.col("is_probe") == 1)
        .select(
            "view_id",
            "next_purchase_id",
            (F.unix_timestamp("next_purchase_t") - F.unix_timestamp("t")).alias(
                "lead_seconds"
            ),
        )
        .orderBy("view_id")
    )
