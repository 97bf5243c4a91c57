"""Aggregation operators — the heart of the reference (SURVEY §2.4).

The flagship 1BRC query (per-key min/mean/max, sorted, 1-dp rounded) is the
single logical plan that every reference implementation hand-executes
(`python_1brc/main.py:16-22`, `rust_1brc/src/main.rs:237-243`,
`thebracket.rs:73-187`, `purple_mist.rs:41-75`,
`rangnargrootkeorkamp.rs:183-233`). In Spark it is exactly one declarative
statement whose physical plan — partial HashAggregate → Exchange
hashpartitioning(key) → final HashAggregate → Sort — is the same
partial-then-final decomposable-aggregation shape all five reference
implementations converge on (SURVEY §2.4 A1/A2), planned by Catalyst instead
of by hand.

Scale notes (100 TB): group-by key cardinality here is small relative to row
count (413 stations; ~hundreds of user_ids per sf) so map-side partial
aggregation collapses the shuffle to |keys|×partitions rows — the same
insight as the reference's per-thread maps. Skewed keys are handled by AQE
skew handling; no salting needed for an agg whose partial state is 4 machine
words per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.functions import round_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table


def onebrc_aggregate(df: DataFrame, key: str, value: str) -> DataFrame:
    """The flagship logical plan over any (key, value) frame.

    Mirrors SURVEY §3.4's canonical output contract: per-key min / 1-dp mean /
    max, ordered by key. `purple_mist.rs:67-75`'s unsorted-unrounded variant is
    deliberately not reproduced (SURVEY §7.3 non-goals).

    The 1-dp mean is computed on exact integer cents (values are ≤2-dp
    grids), with half-away-from-zero expressed in integer arithmetic —
    `round(avg(double), 1)` leaves the rounding to wherever the parallel
    sum's last ulp lands, and at sf0.1 two stations' means sit EXACTLY on a
    .x5 boundary, making the float formulation a per-run coin flip. The
    plan is unchanged: same partial→final hash aggregate, the sum is just
    a long instead of a double. Cents are `round_long` of `value * 100`:
    Spark's `round` bit for bit, in double arithmetic instead of a
    per-row BigDecimal (see `onebrc_spark.functions.round_long`).
    """
    cents = round_long(f"{value} * 100")
    s, n = F.col("_s"), F.col("_n")
    tenths = F.floor((2 * F.abs(s) + 10 * n) / (20 * n))
    mean = (F.when(s >= 0, tenths).otherwise(-tenths) / 10.0 + 0.0).alias("mean")
    return (
        df.groupBy(F.col(key).alias("station"))
        .agg(
            F.min(value).alias("min"),
            F.sum(cents).alias("_s"),
            F.count(value).alias("_n"),
            F.max(value).alias("max"),
        )
        .select("station", "min", mean, "max")
        .orderBy("station")
    )


@query(
    "onebrc_flagship",
    oracle="""
    WITH g AS (
      SELECT user_id AS station, min(value) AS mn, max(value) AS mx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             count(value) AS n
      FROM events GROUP BY user_id
    )
    SELECT station, mn AS min,
           CASE WHEN s >= 0 THEN floor((2 * s + 10 * n) / (20 * n))
                ELSE -floor((2 * (-s) + 10 * n) / (20 * n)) END / 10.0 + 0.0 AS mean,
           mx AS max
    FROM g ORDER BY station
    """,
    survey_ref="A1-A7,O1,S6",
)
def onebrc_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship 1BRC query phrased over the driver's `events` table
    (per-user_id min/mean/max of value ≅ per-station over measure)."""
    return onebrc_aggregate(load_table(spark, sf_dir, "events"), "user_id", "value")


@query(
    "onebrc_report",
    oracle="""
    WITH g AS (
      -- `+ 0` folds IEEE -0.0 to +0.0: DuckDB's round keeps the sign of a
      -- tiny negative (round(-0.04, 1) = -0.0 -> '-0.0' in format) while
      -- Spark's BigDecimal round has no signed zero ('0.0') — a planted
      -- (-0.05, 0) min/max diverged the report string (r11 boundary test,
      -- tests/test_boundary_properties.py::test_report_formatting_exact_half_ties)
      SELECT user_id AS station, round(min(value), 1) + 0 AS mn,
             round(max(value), 1) + 0 AS mx,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s,
             count(value) AS n
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT station, mn,
             CASE WHEN s >= 0 THEN floor((2 * s + 10 * n) / (20 * n))
                ELSE -floor((2 * (-s) + 10 * n) / (20 * n)) END / 10.0 + 0.0 AS mean,
             mx
      FROM g
    ), lines AS (
      SELECT station,
             format('{}={:.1f}/{:.1f}/{:.1f}', station, mn, mean, mx) AS line
      FROM agg WHERE mn IS NOT NULL
    )
    SELECT '{' || coalesce(string_agg(line, ', ' ORDER BY station), '') || '}' AS report
    FROM lines
    """,
    survey_ref="S8,F1,F3",
)
def onebrc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morling-canonical `{k=min/mean/max, ...}` single-line report
    (thebracket.rs:169-187, rangnargrootkeorkamp.rs:330-353).

    A station whose every measurement is NULL (reachable since the
    non-finite→NULL ingestion boundary) has no stats to report and is
    dropped on BOTH sides — min IS NULL ⇔ zero non-null measurements;
    without the symmetric filter Spark formats a sentinel line while
    DuckDB's format() returns NULL and string_agg silently skips it (the
    NaN-fixture divergence, same family as the ST6 NULL-only-user note)."""
    from onebrc_spark.sources.onebrc import format_report

    agg = onebrc_aggregate(load_table(spark, sf_dir, "events"), "user_id", "value")
    return format_report(agg.filter(F.col("min").isNotNull()))


def _generated_oracle() -> str:
    from onebrc_spark.sources.generator import measurements_oracle_sql

    return f"""
    WITH meas AS ({measurements_oracle_sql(100_000, seed=42)})
    , g AS (
      SELECT station, min(measure) AS mn, max(measure) AS mx,
             CAST(sum(CAST(round(measure * 100) AS BIGINT)) AS BIGINT) AS s,
             count(measure) AS n
      FROM meas GROUP BY station
    )
    SELECT station, mn AS min,
           CASE WHEN s >= 0 THEN floor((2 * s + 10 * n) / (20 * n))
                ELSE -floor((2 * (-s) + 10 * n) / (20 * n)) END / 10.0 + 0.0 AS mean,
           mx AS max
    FROM g ORDER BY station
    """


@query(
    "onebrc_generated",
    oracle=_generated_oracle(),
    survey_ref="S7,A1-A7,O1",
)
def onebrc_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship query over the S7 synthetic generator (generate.rs parity
    path): 100k generated `station;temp`-shaped rows → min/mean/max.

    Hash-verified, not rows-only: the content-addressed generator variant
    (md5-uniform station pick + Box-Muller temperature, pure functions of
    the row id) is regenerated EXACTLY by the DuckDB oracle — same relation
    in both engines with no intermediate file (sources/generator.py). Unit
    invariants stay in tests/test_flagship.py."""
    from onebrc_spark.sources.generator import generate_measurements_ca

    return onebrc_aggregate(
        generate_measurements_ca(spark, 100_000, seed=42), "station", "measure"
    )


@query(
    "agg_sum_count",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / 100.0 AS sum_price,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="A6,A7",
)
def agg_sum_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM/COUNT as first-class aggregates (internal accumulator state in the
    reference: main.py:71-72, main.rs:39-42, rangnar…rs:45-46).

    sum_qty stays a plain double SUM: l_quantity is integral, so every
    partial sum is exact and order-independent. sum_price sums EXACT
    INTEGER CENTS (2-dp grid) and divides once — a raw double sum's low
    bits depend on partition merge order (registry rule; the
    ml_temperature_mix ±1 flip was this class)."""
    li = load_table(spark, sf_dir, "lineitem")
    price_cents = round_long("l_extendedprice * 100")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            # grid-safe (rulebook r13b): integer-quantity sum is exact — identity
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.sum(price_cents) / F.lit(100.0)).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_tpch_q1",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus, l_quantity,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(round(l_discount * 100) AS BIGINT) AS dc,
             CAST(round(l_tax * 100) AS BIGINT) AS tc
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           CAST(sum(pc) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(sum(pc * (100 - dc)) AS BIGINT) / 10000.0 AS sum_disc_price,
           CAST(sum(pc * (100 - dc) * (100 + tc)) AS BIGINT) / 1000000.0
             AS sum_charge,
           avg(l_quantity) AS avg_qty,
           CAST(sum(pc) AS BIGINT) / count(*) / 1e2 AS avg_price,
           CAST(sum(dc) AS BIGINT) / count(*) / 1e2 AS avg_disc,
           count(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="A1-A7,P6",
)
def agg_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate single pass (SURVEY §2.4 A7) with a
    pushed-down date filter.

    The money aggregates run on EXACT INTEGERS: price/discount/tax are
    2-dp grids, so cents × discount-points × tax-points is an exact
    BIGINT per row and its SUM is order-independent — a raw
    sum(price*(1-disc)*(1+tax)) of doubles carries partition-merge-order
    low bits that round(·, 2) can flip at a boundary (the
    ml_temperature_mix class; the SQL-surface q1 at sqlsurface.py uses
    the same integer form). sum_qty/avg_qty stay double SUMs because
    l_quantity is integral — every partial sum is exact. Headroom: the
    cents×points×points per-row term is ≤ ~1.3e11, so BIGINT holds to
    ~7e7 rows per group at max values; past that widen the SUM to
    DECIMAL(38,0) on both engines (same plan shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    pc = round_long("l_extendedprice * 100")
    dc = round_long("l_discount * 100")
    tc = round_long("l_tax * 100")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # grid-safe (rulebook r13b): integer-quantity sum is exact — identity
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            (F.sum(pc) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(pc * (100 - dc)) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(pc * (100 - dc) * (100 + tc)) / F.lit(1000000.0)).alias(
                "sum_charge"
            ),
            # avg columns stay UNROUNDED: the quotient of an exact-integer
            # numerator is the same double in both engines, while a final
            # round(·, 4) re-introduces the engine disagreement on
            # print-boundary doubles (Spark string-BigDecimal HALF_UP vs
            # DuckDB binary round — the 46.94725 class, confirmed live at
            # 240918/48/100)
            F.avg("l_quantity").alias("avg_qty"),
            (F.sum(pc) / F.count(F.lit(1)) / F.lit(100.0)).alias("avg_price"),
            (F.sum(dc) / F.count(F.lit(1)) / F.lit(100.0)).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="A8",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — expands to a two-stage aggregate in Spark."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_approx_count_distinct",
    # The HLL++ estimate itself is engine-specific, so the oracle pins what
    # IS portable: the exact distinct count, and that Spark's estimate lands
    # within 5× the requested 1% relative error (TRUE on the oracle side by
    # construction). A broken sketch (or a silent fall-through to count(*))
    # flips within_tol to false and fails the hash — a real check, not
    # rows-only.
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_tol
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="A8",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) — the scale path for 100 TB distinct
    counts: fixed-size sketch per group instead of a distinct shuffle.
    Verified against the exact count with a 5% tolerance flag (estimate is
    requested at 1% standard error)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING count(*) > 0
    ORDER BY returnflag, linestatus
    """,
    survey_ref="A9",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregate. NULL group markers coalesced to a
    sentinel so the two engines' NULL orderings can't perturb the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            # grid-safe (rulebook r13b): integer-quantity sum is exact — identity
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / count(*) / 1e2 AS avg_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING count(*) > 0
    ORDER BY returnflag, linestatus
    """,
    survey_ref="A9",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        # unrounded exact-integer quotient (see agg_tpch_q1's avg note)
        .agg((
            F.sum(round_long("l_extendedprice * 100"))
            / F.count(F.lit(1))
            / F.lit(100.0)
        ).alias("avg_price"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "avg_price",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "agg_stats",
    oracle="""
    WITH q AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS qv FROM events
    ), m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv) AS BIGINT) AS s1,
             CAST(sum(CAST(qv AS HUGEINT) * qv) AS HUGEINT) AS s2
      FROM q GROUP BY event_type
    )
    SELECT m.event_type,
           sqrt(CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                / CAST(nullif(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1), 0)
                       AS DOUBLE) / 1e4) AS sd_value,
           CAST(CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
             / CAST(nullif(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1), 0)
                    AS DOUBLE) / 1e4 AS var_value,
           p.p50, p.p90
    FROM m JOIN (
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4) AS p50,
             round(quantile_cont(value, 0.9), 4) AS p90
      FROM events GROUP BY event_type
    ) p ON p.event_type = m.event_type
    ORDER BY m.event_type
    """,
    survey_ref="A10",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev / variance / exact interpolated percentile (Spark `percentile`
    == DuckDB `quantile_cont`).

    Variance is computed from EXACT integer moments over 2-dp-grid cents
    (n·Σq² − (Σq)² in decimal(38,0)/HUGEINT, one double division at the
    end, no final round) — raw var_samp/stddev_samp are float moment sums
    whose partition-merge order can flip a rounded digit at a boundary
    (the registry's blanket rule; the round-4 ±1 incident class). Both
    numerator and the n·(n−1) denominator are widened to decimal(38,0)/
    HUGEINT, so the integer form is exact for any group size the moment
    sums themselves can hold (Σq² < 10^38, i.e. ~1e30 rows/group at cents
    scale). Singleton groups (n=1) yield NULL via nullif(n·(n−1), 0) on
    both engines — matching var_samp/stddev_samp's built-in semantics;
    bare double x/0 is NaN/Inf in Spark but NULL in DuckDB, so the guard
    is also what keeps the engines aligned on degenerate groups.
    The percentiles keep the engines' interpolation
    at 4 dp: p50 of a cents grid has ≤3 decimals (midpoint of integers),
    so its round is exact; p90's interpolated value is the same double on
    both engines for identical sorted input (sanctioned exception,
    registry rules)."""
    ev = load_table(spark, sf_dir, "events")
    qv = round_long("value * 100")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qv).alias("s1"),
        F.sum(qv.cast("decimal(38,0)") * qv).alias("s2"),
        # grid-safe (rulebook r13b): percentile interpolation lands on the ≥5e-3 grid (docstring) — ≥5e-5 from any 5-digit tie
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s1").cast("decimal(38,0)") * F.col("s1")
    ).cast("double")
    den_int = F.col("n").cast("decimal(38,0)") * (
        F.col("n").cast("decimal(38,0)") - F.lit(1)
    )
    den = F.when(den_int == 0, F.lit(None)).otherwise(den_int).cast("double")
    var = num / den / F.lit(1e4)
    return (
        m.select(
            "event_type",
            F.sqrt(var).alias("sd_value"),
            var.alias("var_value"),
            "p50",
            "p90",
        )
        .orderBy("event_type")
    )


@query(
    "agg_collect_sorted_list",
    oracle="""
    SELECT s_nationkey,
           string_agg(s_name, '|' ORDER BY s_name) AS names,
           count(*) AS n
    FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
    survey_ref="A7 (array-valued aggregate: collect_list)",
)
def agg_collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-valued aggregate: per-nation sorted list of supplier names.

    collect_list's element order is partition-arrival order (nondeterministic
    under shuffle), so the sort_array wrapper is what makes the result
    well-defined — the same determinism rule as the flagship's orderBy
    (SURVEY §3.4). Scale note: array aggregates buffer whole groups; only
    safe when per-group cardinality is bounded (here ≤ suppliers/nation).

    The array is serialized with array_join (oracle: string_agg ... ORDER BY)
    per the registry rule: array/struct result columns crash the driver's
    pandas canonicalizer (CORRECTNESS_r01 err: unhashable type 'list'), so
    collection aggregates must ship a scalar rendering.
    """
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.groupBy("s_nationkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), "|").alias("names"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("s_nationkey")
    )


@query(
    "agg_min_by_max_by",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, o_totalprice) AS biggest_order,
           min_by(o_orderkey, o_totalprice) AS smallest_order,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    survey_ref="A7 (argmin/argmax aggregates)",
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by (SQL:2023 argmin/argmax): the order id carrying each
    priority's extreme price. Well-defined here because extreme prices are
    unique per group in this dataset (verified at sf0.01/sf0.1); for
    tie-prone data the deterministic form is max(struct(price, key))."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
            # grid-safe (rulebook r13b): 2-dp o_totalprice — identity
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


_GROUPING_SETS_SQL = """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           sum(l_quantity) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    HAVING count(*) > 0
    ORDER BY returnflag, linestatus
"""


@query(
    "agg_grouping_sets",
    oracle=_GROUPING_SETS_SQL,
    survey_ref="A9 (explicit GROUPING SETS; rollup/cube are the shorthands)",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface — one Expand node feeding
    one aggregate, NOT one pass per set (the plan property that makes cube/
    rollup affordable at 100 TB). Identical SQL text runs on both engines."""
    from onebrc_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


@query(
    "agg_corr_covar",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(round(l_discount * 100) AS BIGINT) AS d,
             CAST(round(l_tax * 100) AS BIGINT) AS t
      FROM lineitem
    ), m AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(d) AS BIGINT) AS sd, CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
             CAST(sum(CAST(d AS HUGEINT) * t) AS HUGEINT) AS sdt
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / nullif(
                sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                * sqrt(CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)),
                0)
             AS corr_qty_price,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / CAST(nullif(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) - 1), 0)
                    AS DOUBLE) / 1e2 AS covar_qty_price,
           CAST(CAST(n AS HUGEINT) * sdt - CAST(sd AS HUGEINT) * st AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) / 1e4 AS covar_disc_tax,
           CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
             / nullif(
                CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE),
                0)
             / 1e2 AS slope_price_on_qty
    FROM m ORDER BY l_returnflag
    """,
    survey_ref="A10 (bivariate statistics: corr/covar/regr)",
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample/population
    covariance, and OLS slope (regr_slope). All decomposable into per-partition
    moment sums (n, Σx, Σy, Σxy, Σx², Σy²), so the shuffle carries six machine
    words per group — same partial/final shape as the flagship (SURVEY §2.4
    A1/A2), nothing new at 100 TB.

    Round-5 determinism rewrite: the built-in corr/covar/regr_slope are
    float moment sums (partition-merge-order low bits) and the final
    round(·, d) diverges between engines on print-boundary doubles. The
    moments are instead computed on EXACT integers (quantity integral,
    price/discount/tax on 2-dp grids → cents/points; cross-products in
    decimal(38,0)/HUGEINT), composed into the standard closed forms with
    one double division at the end, unrounded — bit-identical across
    engines and partitionings. Scale factors: covar(x, cents)/1e2,
    covar(points, points)/1e4, slope(cents per unit)/1e2; corr is
    scale-invariant so the quantization cancels exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    x = round_long("l_quantity")
    y = round_long("l_extendedprice * 100")
    d = round_long("l_discount * 100")
    t = round_long("l_tax * 100")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(d).alias("sd"),
        F.sum(t).alias("st"),
        F.sum(x.cast("decimal(38,0)") * y).alias("sxy"),
        F.sum(x.cast("decimal(38,0)") * x).alias("sxx"),
        F.sum(y.cast("decimal(38,0)") * y).alias("syy"),
        F.sum(d.cast("decimal(38,0)") * t).alias("sdt"),
    )
    cov_num = (dec("n") * F.col("sxy") - dec("sx") * F.col("sy")).cast("double")
    varx = (dec("n") * F.col("sxx") - dec("sx") * F.col("sx")).cast("double")
    vary = (dec("n") * F.col("syy") - dec("sy") * F.col("sy")).cast("double")
    dt_num = (dec("n") * F.col("sdt") - dec("sd") * F.col("st")).cast("double")
    # NULL (not NaN/Inf) on degenerate groups — n=1 or zero variance —
    # matching the built-ins' semantics and DuckDB's x/0 = NULL. Denominator
    # products widened to decimal(38,0) like the numerators (BIGINT n·(n−1)
    # would overflow at n≈3e9 rows/group).
    nz = lambda c: F.when(c == 0, F.lit(None)).otherwise(c)  # noqa: E731
    n_pairs = nz(dec("n") * (dec("n") - F.lit(1))).cast("double")
    n_sq = (dec("n") * dec("n")).cast("double")
    return (
        m.select(
            "l_returnflag",
            (cov_num / nz(F.sqrt(varx) * F.sqrt(vary))).alias("corr_qty_price"),
            (cov_num / n_pairs / F.lit(1e2)).alias("covar_qty_price"),
            (dt_num / n_sq / F.lit(1e4)).alias("covar_disc_tax"),
            (cov_num / nz(varx) / F.lit(1e2)).alias("slope_price_on_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(value / 10.0) AS BIGINT) * 10 AS bin_lo,
           count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             / count(*) / 1e2 AS bin_avg
    FROM events
    GROUP BY bin_lo ORDER BY bin_lo
    """,
    survey_ref="A1/A10 (fixed-width histogram binning)",
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin = floor(value/width)*width, then count per
    bin — the distribution-profiling primitive (data-quality dashboards,
    feature bucketing). One narrow map + one hash agg whose shuffle carries
    |bins| rows per partition; at 100 TB this is the cheapest full-scan
    statistic after count(*)."""
    ev = load_table(spark, sf_dir, "events")
    bin_lo = (F.floor(F.col("value") / 10.0).cast("bigint") * 10).alias("bin_lo")
    return (
        ev.select(bin_lo, "value")
        .groupBy("bin_lo")
        # unrounded exact-integer quotient (see agg_tpch_q1's avg note)
        .agg(F.count(F.lit(1)).alias("n"), (
                F.sum(round_long("value * 100"))
                / F.count(F.lit(1))
                / F.lit(100.0)
            ).alias("bin_avg"))
        .orderBy("bin_lo")
    )


@query(
    "agg_partial_reaggregation",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_vc,
             min(value) AS min_v, max(value) AS max_v
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(date_trunc('week', day) AS DATE) AS week,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(sum_vc) AS BIGINT) / 100.0 AS sum_v,
           round(min(min_v), 4) AS min_v,
           round(max(max_v), 4) AS max_v
    FROM daily GROUP BY 1, 2 ORDER BY event_type, week
    """,
    survey_ref="X14,A1-A7 (algebraic partial re-aggregation: daily rollup -> weekly)",
)
def agg_partial_reaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregate pre-aggregated partials: maintain a daily rollup table
    and derive the weekly view from the PARTIALS, never re-scanning raw
    events — sum of sums, sum of counts, min of mins, max of maxes; avg is
    recomposed DOWNSTREAM as sum_v/n (never avg-of-avgs, wrong under
    unequal day sizes, and never a stored rounded ratio — sum/count of
    grid-rounded partials lands on exact round-half boundaries, e.g.
    2409.18/48 = 50.19125, which engines then tie-break differently). This algebraic-merge property is what makes hierarchical
    rollup tables (hour→day→week→month) correct and is the manual twin of
    Spark's own partial/final aggregation split.

    Scale: the weekly query touches day-cardinality rows, not raw events —
    at 100 TB the rollup is the only thing that makes dashboard-latency
    aggregation possible. The oracle computes the same two-level plan."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(round_long("value * 100")).alias("sum_vc"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    return (
        daily.groupBy(
            "event_type", F.date_trunc("week", "day").cast("date").alias("week")
        )
        .agg(
            F.sum("n").cast("long").alias("n"),
            (F.sum("sum_vc") / F.lit(100.0)).alias("sum_v"),
            # grid-safe (rulebook r13b): min/max of 2-dp value — identity at 4 dp
            F.round(F.min("min_v"), 4).alias("min_v"),
            F.round(F.max("max_v"), 4).alias("max_v"),
        )
        .orderBy("event_type", "week")
    )


@query(
    "agg_hll_sketch_merge",
    # Tolerance-flag pattern (same as agg_approx_count_distinct): the HLL
    # estimate is dense-mode-approximate once cardinality outgrows the
    # sparse list (seen live at sf0.1: 1480 vs exact 1500), so the oracle
    # pins the exact count and a 5%-band flag rather than the estimate.
    oracle="""
    WITH per_type AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
    ), total AS (
      SELECT 'ALL_MERGED' AS event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events
    )
    SELECT event_type, exact_users, TRUE AS within_tol
    FROM (SELECT * FROM per_type UNION ALL SELECT * FROM total)
    ORDER BY event_type
    """,
    survey_ref="A8 (mergeable HLL sketches: per-group sketch -> union -> estimate)",
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, built
    into Spark): build one sketch per event_type, UNION-merge the sketches,
    estimate. The merge property — sketch(A ∪ B) = union(sketch(A),
    sketch(B)) — is what count(DISTINCT) lacks and what makes hierarchical
    rollups possible at 100 TB: partial sketches merge across
    partitions/days/clusters with bounded error and fixed size. Each
    estimate (including the UNION-merged one) must land within 5% of the
    exact distinct count computed in the same pass."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    est = per_type.select(
        "event_type",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("est"),
    )
    merged = (
        per_type.agg(
            F.hll_union_agg("sk").alias("sk"),
        )
        .crossJoin(
            ev.agg(F.countDistinct("user_id").alias("exact_users"))
        )
        .select(
            F.lit("ALL_MERGED").alias("event_type"),
            "exact_users",
            F.hll_sketch_estimate("sk").alias("est"),
        )
    )
    return (
        est.unionAll(merged)
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_tol"),
        )
        .orderBy("event_type")
    )


def row_fingerprint(*cols) -> Column:
    """THE row-content fingerprint term (shared by agg_table_fingerprint and
    storage_compaction — one definition, so the two can never diverge):
    every field is coalesced to an explicit '<null>' sentinel BEFORE
    concatenation (concat_ws silently SKIPS null args, making (1,NULL,2)
    collide with (1,2); DuckDB's || nulls the whole key — both wrong for a
    content fingerprint), then md5-prefix-as-BIGINT, summable into an
    order-independent table checksum. Callers pre-canonicalize numeric
    columns (e.g. doubles to exact cents) identically in their oracles."""
    nul = F.lit("<null>")
    key = F.concat_ws("|", *[F.coalesce(c.cast("string"), nul) for c in cols])
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")


@query(
    "agg_table_fingerprint",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CAST('0x' || substring(
             md5(coalesce(CAST(l_orderkey AS VARCHAR), '<null>') || '|' ||
                 coalesce(CAST(l_linenumber AS VARCHAR), '<null>') || '|' ||
                 coalesce(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                               AS VARCHAR), '<null>')
                 || '|' || coalesce(l_returnflag, '<null>')),
             1, 8) AS BIGINT)) AS BIGINT) AS fingerprint
    FROM lineitem
    """,
    survey_ref="F5,A4 (order-independent table fingerprint for replica verification)",
)
def agg_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum: SUM of a per-row content hash —
    equal iff two replicas hold the same multiset of rows, regardless of
    row order, partitioning, or engine. This is how a 100 TB migration
    (or this repo vs the reference engine) verifies a copy without sorting
    or shuffling anything: one narrow scan, one scalar out, commutative-
    associative combine.

    The hash is the portable md5-prefix-as-bigint used across the repo
    (dedup.py), so DuckDB reproduces it bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    row_hash = row_fingerprint(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        # quantities canonicalize as exact CENTS: cast('long') truncates in
        # Spark while DuckDB CAST(AS BIGINT) rounds — round(*100) is the
        # one definition both engines (and storage_compaction) share
        round_long("l_quantity * 100"),
        F.col("l_returnflag"),
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_hash).cast("long").alias("fingerprint"),
    )


@query(
    "agg_equidepth_histogram",
    oracle="""
    WITH ranked AS (
      SELECT l_extendedprice,
             ntile(10) OVER (
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ) AS bucket
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    )
    SELECT bucket, count(*) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM ranked GROUP BY bucket ORDER BY bucket
    """,
    survey_ref="A10,W1 (equi-depth histogram: ntile deciles with total tiebreak)",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-count) histogram via ntile deciles — the
    statistics a cost-based optimizer keeps per column, and the dual of
    the equi-WIDTH agg_histogram. The ORDER BY carries a full tiebreak
    (price, orderkey, linenumber): ntile splits ties arbitrarily without
    it, making bucket edges engine-dependent.

    Scale: a global ntile is a total sort — acceptable for stats jobs; the
    streaming-friendly form is approx_percentile cut points + a narrow
    bucketize pass (no global sort), same output contract."""
    from pyspark.sql import Window

    # NULL measures are excluded (as optimizer column stats do — null_count
    # is its own statistic): with NULLs in the sort, Spark's NULLS-FIRST vs
    # DuckDB's NULLS-LAST default would shift every bucket boundary.
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
    )
    w = Window.orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    return (
        li.select("l_extendedprice", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # grid-safe (rulebook r13b): 2-dp l_extendedprice — identity
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "agg_rank_correlation",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rq,
             rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rp
      FROM lineitem
    )
    SELECT l_returnflag,
           count(*) AS n,
           -- floor quantizer, not round() (r12, similarity.cos_round6):
           -- immune to the decimal-vs-binary tie divergence on short-repr
           -- correlations (integer-rank corr is a small-denominator
           -- rational - exactly the reachable-tie class) and
           -- structurally -0.0-free, subsuming the r11 signed-zero fold
           floor(corr(rq, rp) * 10000 + 0.5) / 10000 AS spearman
    FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    survey_ref="A10,W1 (Spearman rank correlation: rank windows + Pearson corr)",
)
def agg_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group: rank both measures within the
    group (rank() gives ties identical ranks in both engines — no
    tiebreak needed, unlike ntile), then Pearson corr of the ranks.
    Monotonic-association stats are the outlier-robust complement to
    agg_corr_covar's Pearson on raw values.

    Scale: two windows + corr over the SAME partition key — one shuffle
    total; corr itself is a decomposable moment aggregate."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    wq = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    wp = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    return (
        li.select(
            "l_returnflag",
            F.rank().over(wq).alias("rq"),
            F.rank().over(wp).alias("rp"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.corr("rq", "rp") * 10000 + F.lit(0.5)) / 10000).alias("spearman"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_approx_percentile",
    # Same tolerance-flag pattern as agg_approx_count_distinct: the sketch
    # values are engine-specific, so the oracle pins the exact quantiles and
    # asserts Spark's estimates land inside a rank-error band. accuracy=1000
    # bounds rank error at 0.1%; the check allows 1% rank slack, converted
    # to a value band via the exact p49/p51 (p89/p91) quantiles.
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50_exact,
           round(quantile_cont(value, 0.9), 4) AS p90_exact,
           TRUE AS p50_in_band,
           TRUE AS p90_in_band
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="A10 (approx_percentile vs exact, rank-error tolerance)",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style quantile sketch) — the 100 TB quantile
    path: fixed-size mergeable sketch instead of a full sort. Verified, not
    demoed: each estimate must land between the exact 1%-rank-neighbor
    quantiles, computed in the same query via exact `percentile`."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        # grid-safe (rulebook r13b): percentile interpolation on the ≥5e-3 grid — ≥5e-5 from any tie
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50_exact"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90_exact"),
        F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("p50_est"),
        F.approx_percentile("value", F.lit(0.9), F.lit(1000)).alias("p90_est"),
        # DISCRETE (nearest-rank) band bounds, not interpolated: the KLL
        # sketch returns an ACTUAL data value, so for a small group the
        # interpolated p49..p51 band can be narrower than the gap between
        # adjacent elements and the exact-for-small-n estimate sits outside
        # it (edge-fixture class: 2-element group {5.55, 99.99} has
        # interpolated p50 52.77 but est 5.55). percentile_disc bounds are
        # data values at the slack ranks — the correct envelope for a
        # value-returning sketch at ANY group size.
        F.expr("percentile_disc(0.49) WITHIN GROUP (ORDER BY value)").alias("p49"),
        F.expr("percentile_disc(0.51) WITHIN GROUP (ORDER BY value)").alias("p51"),
        F.expr("percentile_disc(0.89) WITHIN GROUP (ORDER BY value)").alias("p89"),
        F.expr("percentile_disc(0.91) WITHIN GROUP (ORDER BY value)").alias("p91"),
    )
    return agg.select(
        "event_type",
        "p50_exact",
        "p90_exact",
        ((F.col("p50_est") >= F.col("p49")) & (F.col("p50_est") <= F.col("p51")))
        .alias("p50_in_band"),
        ((F.col("p90_est") >= F.col("p89")) & (F.col("p90_est") <= F.col("p91")))
        .alias("p90_in_band"),
    ).orderBy("event_type")


@query(
    "agg_bitmap_distinct",
    # Bitmap distinct is EXACT, so the oracle is a plain count(DISTINCT) —
    # no tolerance flag needed (contrast the HLL/KLL sketches above).
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_bitmap,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="A8 (bitmap-index exact distinct: bucketed bitmap_construct/or_agg)",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via bitmap indexes — the third point on the
    distinct-count cost curve: count(DISTINCT) shuffles every (group, id)
    pair; HLL shuffles a sketch but is approximate; bitmaps shuffle one
    4 KB bitmap per (group, 32768-id bucket) and stay EXACT. The two-level
    shape — bitmap_construct_agg per (group, bucket), then sum of
    bitmap_count — is the decomposable partial/final form, so map-side
    combine works and re-aggregation over saved bucket bitmaps is free
    (same property as agg_partial_reaggregation). The id domain must be
    integral — exactly the doc_id/user_id/vec_id case in every table here."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
            F.col("user_id"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    )
    bitmap = per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n_users_bitmap")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return bitmap.join(exact, "event_type").orderBy("event_type")


# --- X15b: count-min sketch heavy hitters -----------------------------------

_CMS_D = 4  # depth: independent hash rows
_CMS_W = 512  # width: buckets per row
_CMS_TOPK = 15


def _cms_bucket_sql(expr: str, d: str) -> str:
    """Row-d bucket of a token, DuckDB side: affine-permuted portable hash
    mod width (same (a,b,p) family as the MinHash signatures, dedup.py:38-40;
    the Spark twin is inlined in _cms_projection)."""
    from onebrc_spark.operators.dedup import _affine_sql

    cases = " ".join(
        f"WHEN {s} THEN ({_affine_sql(expr, s)}) % {_CMS_W}"
        for s in range(_CMS_D)
    )
    return f"(CASE {d} {cases} END)"


def _cms_oracle() -> str:
    from onebrc_spark.operators.dedup import _base_digits_sql

    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt
      FROM toks WHERE token <> '' GROUP BY token
    ), based AS (
      SELECT token, cnt, {_base_digits_sql("token")} AS b FROM counts
    ), proj AS (
      SELECT token, cnt, d, {_cms_bucket_sql("b", "d")} AS bucket
      FROM based, (SELECT unnest(range({_CMS_D})) AS d)
    ), cells AS (
      SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS cell
      FROM proj GROUP BY d, bucket
    ), topk AS (
      SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT {_CMS_TOPK}
    ), est AS (
      SELECT p.token, p.cnt AS exact_cnt, CAST(min(c.cell) AS BIGINT) AS cms_est
      FROM proj p
      JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
      JOIN topk t ON t.token = p.token
      GROUP BY p.token, p.cnt
    )
    SELECT token, exact_cnt, cms_est, cms_est - exact_cnt AS overest
    FROM est ORDER BY exact_cnt DESC, token
    """


def _cms_token_counts(docs: DataFrame) -> DataFrame:
    """(token, cnt) of the document token stream (map-side-combined)."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _cms_projection(counts: DataFrame) -> DataFrame:
    """(token, cnt, d, bucket): each token projected onto its D sketch
    rows via the portable md5-affine bucket hash."""
    from onebrc_spark.operators.dedup import _affine, _base_digits

    base = _base_digits(F.col("token"))
    return counts.select(
        "token",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (_affine(base, d) % F.lit(_CMS_W)).alias("bucket"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("token", "cnt", "p.d", "p.bucket")


def cms_cells(docs: DataFrame) -> DataFrame:
    """The D×W count-min sketch of a document set as (d, bucket, cell)
    rows — the mergeable artifact: sketches of disjoint corpus deltas fold
    by cell-wise sum (property-tested in tests/test_properties.py; folded
    incrementally by streaming/pipelines.stream_cms_fold)."""
    return (
        _cms_projection(_cms_token_counts(docs))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cell"))
    )


@query(
    "agg_cms_heavy_hitters",
    oracle=_cms_oracle(),
    survey_ref="X15,X15b (count-min sketch: mergeable heavy-hitter counts)",
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the document token stream, audited in-plan:
    build the D×W integer sketch (depth 4 × width 512 — a few KB,
    mergeable by cell-wise sum across any partitioning of the corpus),
    then read back the top-K exact heavy hitters through it. Emits per
    token the exact count, the CMS estimate (min over depth rows), and
    the overestimate — which the CMS guarantee says is always ≥ 0 and the
    oracle pins exactly (every quantity is integer arithmetic over
    deterministic hashes, so the sketch is bit-identical cross-engine).

    Scale (100 TB): the token stream never shuffles raw — tokens combine
    map-side into (token, cnt) [the same wordcount shuffle text_tfidf
    pays], then project onto D×W = 2048 cells; the sketch and the top-K
    list are broadcast-sized, so the estimate join is exchange-free on the
    big side. In production the sketch is the *persisted* artifact: daily
    corpus deltas each ship a 2 KB sketch and cell-wise sum folds them —
    the same partial-reaggregation property as agg_partial_reaggregation,
    at constant (not cardinality-proportional) state."""
    docs = load_table(spark, sf_dir, "documents")
    counts = _cms_token_counts(docs)
    proj = _cms_projection(counts)
    cells = proj.groupBy("d", "bucket").agg(F.sum("cnt").cast("long").alias("cell"))
    topk = counts.orderBy(F.col("cnt").desc(), "token").limit(_CMS_TOPK)
    est = (
        proj.join(F.broadcast(topk.select("token")), "token")
        .join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token", "cnt")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    return (
        est.select(
            "token",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).alias("overest"),
        )
        .orderBy(F.col("exact_cnt").desc(), "token")
    )
