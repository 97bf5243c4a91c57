"""Storage layout operators: sinks, partitioned writes, bucketing (SURVEY
§2.1 S6/S8 extension).

The reference's only sink is a formatted stdout report
(`thebracket.rs:169-187`); a general engine needs the write side of the
lifecycle too. These queries exercise the layouts that matter at 100 TB:

  - hive-style partitioned parquet + partition PRUNING at read (the scan
    skips non-matching directories entirely — `.explain` shows
    PartitionFilters, verified in tests/test_plans.py);
  - bucketed tables: pre-shuffled-on-disk layout so the fact-fact join
    needs NO exchange at query time (the shuffle is paid once at write);
  - CSV / JSON line sinks + schema-declared read-back (interchange formats
    for ingest/egress at the pipeline boundary).

All writes go under /tmp (never the repo or testdata), keyed by the sf_dir
tag so scale factors don't collide; oracles run against the ORIGINAL
parquet, so each round-trip is verified end-to-end: what was written is
exactly what was read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark import schemas
from onebrc_spark.functions import round_long
from onebrc_spark.registry import query
from onebrc_spark.sources.catalog import load_table

_ROOT = "/tmp/onebrc_spark_storage"


def _tag(sf_dir: str) -> str:
    # Must be a valid unquoted SQL identifier: bucketed-table names embed it
    # (pytest tmpdirs carry '-', which Spark's parser rejects unbackquoted).
    # The md5 suffix keeps DISTINCT sf_dirs distinct after sanitization
    # ('run-1' vs 'run_1' would otherwise share a /tmp workspace and
    # bucketed-table name, and interleaved runs would read each other's
    # data).
    import hashlib
    import re

    safe = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/").replace(".", "p"))
    return f"{safe}_{hashlib.md5(sf_dir.encode()).hexdigest()[:6]}"


@query(
    "storage_partitioned_pruning",
    oracle="""
    SELECT l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
             / 10000.0 AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    survey_ref="S6,S8 (partitioned write + partition pruning)",
)
def storage_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem hive-partitioned by l_returnflag, read it back with a
    partition-column filter, aggregate.

    At 100 TB this is THE layout decision: a filter on the partition column
    prunes whole directories before any IO (PartitionFilters in the scan
    node, no data-file reads for non-'R' flags). The oracle runs on the
    original table — proving the partitioned round-trip is lossless.
    """
    dest = f"{_ROOT}/{_tag(sf_dir)}/lineitem_by_returnflag"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dest)
    # Schema declared, not inferred (the repo's S1 no-inference rule): an
    # EMPTY source writes zero part files and zero partition dirs, and
    # schema inference on that directory fails outright — a production
    # "empty partition day" must read back as 0 rows, not crash. Derived
    # from the written DataFrame so it can never drift from the write.
    back = (
        spark.read.schema(li.schema)
        .parquet(dest)
        .filter(F.col("l_returnflag") == "R")
    )
    return (
        back.groupBy("l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            (
                F.sum(
                    round_long("l_extendedprice * 100")
                    * (100 - round_long("l_discount * 100"))
                )
                / F.lit(10000.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "storage_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    survey_ref="S6,J1 (bucketed layout → shuffle-free join)",
)
def storage_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two tables bucketed on the join key: the shuffle is paid once at
    write time, not per query.

    Both sides are written with bucketBy(8, custkey) + sortBy; the join then
    runs with NO Exchange on either side (bucket counts match, so Spark
    zips buckets directly — asserted in tests/test_plans.py). This is the
    batch analogue of co-partitioned storage: at 100 TB a fact-fact join on
    a pre-bucketed key is a per-bucket merge, not a 100 TB shuffle.
    """
    tag = _tag(sf_dir)
    to, tc = f"orders_b_{tag}", f"customer_b_{tag}"
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    for t, df, key in ((to, o, "o_custkey"), (tc, c, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{_ROOT}/{tag}/{t}")
            .mode("overwrite")
            .saveAsTable(t)
        )
    ob, cb = spark.table(to), spark.table(tc)
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(round_long("o_totalprice * 100")) / F.lit(100.0)).alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "storage_csv_roundtrip",
    oracle="""
    SELECT p_brand, count(*) AS n_parts, CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_retail
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    survey_ref="S1,P2,S8 (CSV sink + schema-declared read-back cast)",
)
def storage_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink → schema-declared CSV scan → aggregate (S1 read path, write
    side added). Quoting/escaping is exercised by p_name's embedded spaces;
    the explicit read schema mirrors the reference's no-inference rule
    (`rust_1brc/src/main.rs:228-234`). Oracle runs on the original parquet:
    the text round-trip must be value-exact."""
    dest = f"{_ROOT}/{_tag(sf_dir)}/part_csv"
    cols = "p_partkey BIGINT, p_name STRING, p_brand STRING, p_retailprice DOUBLE"
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    p.write.mode("overwrite").option("header", "false").csv(dest)
    back = spark.read.schema(cols).option("header", "false").csv(dest)
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum(round_long("p_retailprice * 100")) / F.lit(100.0)).alias("total_retail"),
        )
        .orderBy("p_brand")
    )


@query(
    "storage_json_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    survey_ref="S1,S8 (JSON-lines sink + schema-declared read-back)",
)
def storage_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → schema-declared JSON scan → aggregate. The ingest/
    egress interchange format of LLM data pipelines (one JSON doc per line,
    splittable exactly like the reference's newline-aligned text chunks,
    SURVEY §2.1 S3)."""
    dest = f"{_ROOT}/{_tag(sf_dir)}/events_json"
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(dest)
    back = spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(dest)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(round_long("value * 100")) / F.lit(100.0)).alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "storage_orc_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_bal
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    survey_ref="S6,S8 (columnar-format interchange: ORC sink + scan)",
)
def storage_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan → aggregate. The second columnar format a
    general engine must interoperate with (Hive/Trino estates are
    ORC-heavy); Spark's ORC reader has the same vectorized scan + predicate
    pushdown machinery as parquet. The oracle aggregates the ORIGINAL
    parquet, so the round-trip proves ORC wrote and read back every row and
    value bit-for-bit."""
    dest = f"{_ROOT}/{_tag(sf_dir)}/customer_orc"
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    c.write.mode("overwrite").orc(dest)
    back = spark.read.orc(dest)
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum(round_long("c_acctbal * 100")) / F.lit(100.0)).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


# --- Z-order layout: multi-dimensional clustering for min/max pruning -------

_Z_BITS = 8  # 8 bits per dimension -> 16-bit z-key, 256 z-buckets


def _zorder_key(a, b, bits: int = _Z_BITS):
    """Interleave the low `bits` bits of two long columns into a z-key
    (Morton code): bit j of `a` lands at position 2j, of `b` at 2j+1.
    Pure JVM bit arithmetic — whole-stage-codegen friendly, no UDF."""
    terms = []
    for j in range(bits):
        terms.append(F.shiftleft(F.shiftright(a, j).bitwiseAND(1), 2 * j))
        terms.append(F.shiftleft(F.shiftright(b, j).bitwiseAND(1), 2 * j + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _zorder_key_sql(a: str, b: str, bits: int = _Z_BITS) -> str:
    terms = [f"((({a} >> {j}) & 1) << {2 * j})" for j in range(bits)]
    terms += [f"((({b} >> {j}) & 1) << {2 * j + 1})" for j in range(bits)]
    return " + ".join(terms)


@query(
    "storage_zorder_layout",
    oracle=f"""
    WITH binned AS (
      SELECT l_partkey % 256 AS pk, l_suppkey % 256 AS sk,
             l_extendedprice
      FROM lineitem
    ), keyed AS (
      SELECT ({_zorder_key_sql("pk", "sk")}) // 256 AS z_bucket,
             pk, sk, l_extendedprice
      FROM binned
    )
    SELECT z_bucket,
           count(*) AS n_rows,
           min(pk) AS pk_lo, max(pk) AS pk_hi,
           min(sk) AS sk_lo, max(sk) AS sk_hi,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
    FROM keyed GROUP BY z_bucket ORDER BY z_bucket
    """,
    survey_ref="S6,O1 (Z-order multi-dim clustering: Morton-key layout audit)",
)
def storage_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit: interleave the bits of two filter
    dimensions into one sort key, bucket by its high bits (= the file a
    range-sorted writer would emit), and report each bucket's per-dimension
    min/max envelope. The payoff is visible in the result: every z-bucket
    spans ≤ 1/16 of BOTH key ranges simultaneously, so parquet min/max
    stats prune files for predicates on EITHER dimension — a 1-D sort only
    prunes its leading column.

    Scale: the production form is `repartitionByRange(z_key).sortWithin
    Partitions(z_key).write...` — one range shuffle at write time buys
    every subsequent scan 2-D file pruning. The audit here is the shape a
    layout job logs; Delta/Iceberg OPTIMIZE ZORDER is this exact transform."""
    li = load_table(spark, sf_dir, "lineitem")
    pk = (F.col("l_partkey") % 256).alias("pk")
    sk = (F.col("l_suppkey") % 256).alias("sk")
    binned = li.select(pk, sk, "l_extendedprice")
    keyed = binned.select(
        F.floor(
            _zorder_key(F.col("pk"), F.col("sk")) / 256
        ).alias("z_bucket"),
        "pk",
        "sk",
        "l_extendedprice",
    )
    return (
        keyed.groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("pk").alias("pk_lo"),
            F.max("pk").alias("pk_hi"),
            F.min("sk").alias("sk_lo"),
            F.max("sk").alias("sk_hi"),
            (F.sum(round_long("l_extendedprice * 100")) / F.lit(100.0)).alias("sum_price"),
        )
        .orderBy("z_bucket")
    )


@query(
    "storage_schema_evolution",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'LEGACY'
                ELSE o_orderpriority END AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
             AS total_price
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    survey_ref="S6,S8 (schema evolution: mergeSchema over mixed-epoch parquet)",
)
def storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across write epochs: batch 1 lands with the v1
    schema (key, price), batch 2 with v2 (adds o_orderpriority); a
    mergeSchema read unifies them, back-filling NULL for pre-evolution
    rows, which the query surfaces as the 'LEGACY' bucket. This is the
    standing reality of any year-old 100 TB estate — columns appear
    mid-corpus and old files are never rewritten.

    Scale: schema merging is footer-only work (one footer per file at
    planning time — at scale, set spark.sql.parquet.mergeSchema off
    globally and declare the evolved schema explicitly, which this read
    path also exercises via the unified projection); the data pages of
    epoch-1 files are never touched to add the column. The sum is exact
    integer cents (registry ratio rule) so the round-trip hash-verifies.
    """
    dest = f"{_ROOT}/{_tag(sf_dir)}/orders_evolving"
    o = load_table(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderkey") % 2 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v1.write.mode("overwrite").parquet(f"{dest}/epoch=1")
    v2.write.mode("overwrite").parquet(f"{dest}/epoch=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{dest}/epoch=1", f"{dest}/epoch=2"
    )
    return (
        back.groupBy(
            F.coalesce("o_orderpriority", F.lit("LEGACY")).alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # unrounded: cents/100 has at most 2 decimals, so the round was
            # dead code — dropped so the banned shape can't be copy-pasted
            (
                F.sum(round_long("o_totalprice * 100")) / 100.0
            ).alias("total_price"),
        )
        .orderBy("priority")
    )

@query(
    "storage_compaction",
    oracle="""
    WITH fp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(coalesce(sum(CAST('0x' || substring(
               md5(coalesce(CAST(l_orderkey AS VARCHAR), '<null>') || '|' ||
                   coalesce(CAST(l_linenumber AS VARCHAR), '<null>') || '|' ||
                   coalesce(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                                 AS VARCHAR), '<null>') || '|' ||
                   coalesce(l_returnflag, '<null>')),
               1, 8) AS BIGINT)), 0) AS BIGINT) AS fingerprint
      FROM lineitem
    )
    SELECT 'fragmented' AS layout, n_rows, fingerprint FROM fp
    UNION ALL
    SELECT 'compacted', n_rows, fingerprint FROM fp
    ORDER BY layout
    """,
    survey_ref="S9,S6,S8 (small-file compaction: lossless layout rewrite)",
)
def storage_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — THE operational chore of a 100 TB lake:
    ingest leaves thousands of tiny files per partition (one per task per
    micro-batch), and scan throughput collapses under per-file open/footer
    costs. This op writes a deliberately fragmented copy (64-way round-
    robin), compacts it with a coalesce-style rewrite to the target file
    count, and proves the rewrite LOSSLESS: the order-independent content
    fingerprint (agg_table_fingerprint's sum-of-row-hashes) of both
    layouts must equal the oracle's fingerprint of the original table.

    The file-count physics (64 files -> few, sizes near target) is a
    physical artifact no SQL oracle can see — it is asserted in
    tests/test_properties.py::test_compaction_reduces_files; the ORACLE
    contract here is content invariance, which is what makes compaction
    safe to run unattended. Scale: the rewrite is one narrow
    repartition-write per partition window — at 100 TB you compact
    per-partition (a day, a source), never the whole table at once."""
    import math

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    frag = f"{_ROOT}/{_tag(sf_dir)}/lineitem_fragmented"
    comp = f"{_ROOT}/{_tag(sf_dir)}/lineitem_compacted"
    li.repartition(64).write.mode("overwrite").parquet(frag)

    fragmented = spark.read.schema(li.schema).parquet(frag)
    n_rows = fragmented.count()
    # target ~256k rows/file (stand-in for a byte target: row width is
    # fixed here); never 0 partitions
    n_out = max(1, math.ceil(n_rows / 262_144))
    fragmented.repartition(n_out).write.mode("overwrite").parquet(comp)
    compacted = spark.read.schema(li.schema).parquet(comp)

    from onebrc_spark.operators.aggregates import row_fingerprint

    def fingerprint(df, layout):
        row_hash = row_fingerprint(
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            round_long("l_quantity * 100"),
            F.col("l_returnflag"),
        )
        return df.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum(row_hash), F.lit(0)).cast("long").alias("fingerprint"),
        )

    return (
        fingerprint(fragmented, "fragmented")
        .unionAll(fingerprint(compacted, "compacted"))
        .orderBy("layout")
    )

