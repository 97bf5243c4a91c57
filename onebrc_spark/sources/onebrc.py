"""1BRC text scan & sink (SURVEY §2.1 S1/S3/S8, §2.2 P1-P5).

The reference's scan surface is: lazy CSV with ';' separator, no header,
explicit 2-column schema (`python_1brc/main.py:15`,
`rust_1brc/src/main.rs:232-236`). Its parallel variants split the file at
byte offsets and snap chunk starts to the next newline
(`python_1brc/main.py:92-101`, `rust_1brc/src/main.rs:79-122`,
`thebracket.rs:35-44`) — Spark's text sources already do exactly that split
(Hadoop LineRecordReader semantics), tuned by
`spark.sql.files.maxPartitionBytes`, so the parallel scan needs zero code.

Malformed-row semantics mirror the strict reference parsers
(`rust_1brc/src/main.rs:140-144` errors on a line without ';'): FAILFAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onebrc_spark.functions import round_long
from onebrc_spark.schemas import MEASUREMENTS


def read_measurements(
    spark: SparkSession, path: str, mode: str = "FAILFAST"
) -> DataFrame:
    """Lazy, partitioned scan of `station;temp` text into (station, measure).

    `mode="FAILFAST"` reproduces the reference's error-on-malformed-line
    behavior (`main.rs:140-144`, `purple_mist.rs:37-38`); pass "DROPMALFORMED"
    for the python impl's skip-empty-lines behavior (`main.rs:135`).
    """
    return (
        spark.read.schema(MEASUREMENTS)
        .option("sep", ";")
        .option("header", "false")
        .option("mode", mode)
        .csv(path)
    )


def read_measurements_fast(spark: SparkSession, path: str) -> DataFrame:
    """Trusted-input scan of `station;temp` text: line reader + one split.

    The CSV reader (read_measurements) pays for quoting/escape/multi-column
    machinery a 2-column semicolon format never uses; this path reads raw
    lines and splits once — measured 18 → 25 M rows/s on 50M rows. It is
    the semantic twin of the reference's no-validation byte scanners
    (`thebracket.rs:80-107`, `rangnargrootkeorkamp.rs:137-181`): malformed
    lines yield NULL measure instead of an error (`try_cast`: a plain cast
    raises CAST_INVALID_INPUT under Spark 4's ANSI default), so use
    read_measurements (FAILFAST) when the input must be rejected. A line
    without ';' keeps the whole line as its station. Everything stays in
    whole-stage codegen — substring_index + try_cast are JVM expressions on
    the scan.
    """
    return spark.read.text(path).select(
        F.substring_index("value", ";", 1).alias("station"),
        F.substring_index("value", ";", -1).try_cast("double").alias("measure"),
    )


# Chunk granularity for the Arrow-native scan: the reference's own
# CHUNK_SIZE (`rust_1brc/src/main.rs:21`).
_ARROW_SCAN_CHUNK = 16 * 1024 * 1024


def onebrc_scan_agg_arrow(spark: SparkSession, path: str) -> DataFrame:
    """The flagship scan→aggregate fused as an Arrow-native stage — the
    trusted-input fast path for the 1BRC `station;temp` text format
    (r13 optimization round, guide §4.2/§8.3).

    Why: the JVM row path (read_measurements_fast → partial hash agg) costs
    ~25 ns/row/core in UTF8String scanning + double parse + per-row agg
    updates. Here each task instead reads ITS OWN byte range of the input
    (seek + newline snap — exactly the reference's chunked scan,
    `main.rs:79-122`, expressed over Spark's task model), hands the whole
    chunk to pyarrow.csv (vectorized C++ parse) and pre-aggregates to one
    (station, min, max, sum_cents, count) partial per station per chunk
    with pyarrow.compute group_by. Only ~413-row partials cross the
    Python→JVM boundary and the exchange; the final merge + exact-integer
    mean + sort reuse the flagship formula. Measured at 50M rows/815 MB:
    1.30 s → ~0.52 s warm (see OPTIMIZATION_r13.md).

    Output contract: IDENTICAL rows to
    onebrc_aggregate(read_measurements_fast(spark, path)) on well-formed
    1BRC text — min/max are order-free comparisons, the mean's cents sum
    is exact-integer (1-dp temps → measure·100 is exactly integral, so
    rint == java-round == identity), count is exact. Pinned by
    tests/test_flagship.py::test_arrow_scan_agg_matches_jvm_path.
    Trusted-input semantics like read_measurements_fast: malformed lines
    are a parse error here (pyarrow raises), not a NULL row — use
    read_measurements (FAILFAST) / the PERMISSIVE twin for untrusted data.
    """
    import glob as _glob
    import os as _os

    from pyspark.sql import types as T

    # match Spark's text-source file enumeration (read_measurements_fast
    # reads everything except _-/.-prefixed hidden files), so the two
    # paths see the same file set instead of silently diverging on
    # unrecognized extensions
    files = sorted(
        f
        for f in _glob.glob(_os.path.join(path, "*"))
        if _os.path.isfile(f)
        and not _os.path.basename(f).startswith(("_", "."))
    ) or [path]
    chunks = []
    for f in files:
        size = _os.path.getsize(f)
        if size == 0:
            continue
        # whole-file chunk when splitting wouldn't produce a second full
        # chunk; otherwise fixed 16 MiB ranges snapped in the task
        n = max(1, size // _ARROW_SCAN_CHUNK)
        step = -(-size // n)  # ceil
        for start in range(0, size, step):
            chunks.append((f, start, min(start + step, size)))
    chunk_schema = T.StructType(
        [
            T.StructField("file", T.StringType()),
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
        ]
    )
    if not chunks:
        # all-empty input: the JVM path returns an empty aggregate frame,
        # not a repartition(0) error
        empty = spark.createDataFrame(
            [], "station string, min double, mean double, max double"
        )
        return empty
    # one chunk per task: compute parallelism == chunk count (the scan
    # analogue of spread(); chunk count derives from input size by
    # construction, so this is scale-adaptive for free)
    cdf = spark.createDataFrame(chunks, chunk_schema).repartition(len(chunks))

    partial_schema = (
        "station string, mn double, mx double, s long, n long"
    )

    def scan_chunks(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.csv as pacsv

        read_opts = pacsv.ReadOptions(
            column_names=["station", "measure"], use_threads=False
        )
        parse_opts = pacsv.ParseOptions(delimiter=";", quote_char=False)
        conv_opts = pacsv.ConvertOptions(
            column_types={"station": pa.string(), "measure": pa.float64()}
        )
        for batch in batches:
            for row in batch.to_pylist():
                f, start, end = row["file"], row["start"], row["end"]
                # A chunk owns the lines whose first byte lies in
                # (start, end] (plus byte 0 for the first chunk), read
                # whole however long they are.
                with open(f, "rb") as fh:
                    fh.seek(start)
                    if start > 0:
                        # the line crossing `start` belongs to the previous
                        # chunk: skip through the first newline at or past
                        # `start` (reference snap, main.rs:79-122)
                        fh.readline()
                    begin = fh.tell()
                    if begin > end:
                        # that line runs past `end`: no line starts here
                        continue
                    # finish the line straddling `end` by reading through
                    # the first newline AT OR PAST byte `end` — the same
                    # newline the next chunk skips through, so a line
                    # starting exactly at `end` is ours and not dropped
                    buf = fh.read(end - begin) + fh.readline()
                if not buf:
                    continue
                tbl = pacsv.read_csv(
                    pa.BufferReader(buf),
                    read_options=read_opts,
                    parse_options=parse_opts,
                    convert_options=conv_opts,
                )
                # exact-integer cents: 1-dp temps make measure*100 exactly
                # integral, so any round mode is the identity there; pin
                # half_away_from_zero so the rounding CONTRACT matches the
                # flagship's java round even off the 1-dp happy path
                # (pc.round defaults to half-to-even, which would silently
                # diverge on exact .5 cents ties in 2-dp inputs;
                # half_towards_infinity IS pyarrow's half-away-from-zero)
                cents = pc.round(
                    pc.multiply(tbl["measure"], 100.0),
                    round_mode="half_towards_infinity",
                ).cast(pa.int64())
                g = pa.table(
                    {
                        "station": tbl["station"],
                        "measure": tbl["measure"],
                        "cents": cents,
                    }
                ).group_by("station").aggregate(
                    [
                        ("measure", "min"),
                        ("measure", "max"),
                        ("cents", "sum"),
                        ("cents", "count"),
                    ]
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        g["station"].combine_chunks(),
                        g["measure_min"].combine_chunks(),
                        g["measure_max"].combine_chunks(),
                        g["cents_sum"].combine_chunks(),
                        g["cents_count"].cast(pa.int64()).combine_chunks(),
                    ],
                    names=["station", "mn", "mx", "s", "n"],
                )

    partials = cdf.mapInArrow(scan_chunks, partial_schema)
    s, n = F.col("_s"), F.col("_n")
    tenths = F.floor((2 * F.abs(s) + 10 * n) / (20 * n))
    mean = (F.when(s >= 0, tenths).otherwise(-tenths) / 10.0 + 0.0).alias("mean")
    return (
        partials.groupBy("station")
        .agg(
            F.min("mn").alias("min"),
            F.sum("s").alias("_s"),
            F.sum("n").alias("_n"),
            F.max("mx").alias("max"),
        )
        .select("station", "min", mean, "max")
        .orderBy("station")
    )


def write_measurements(df: DataFrame, path: str) -> None:
    """Sink (station, measure) back to 1BRC text format (generate.rs:35).

    format_string, NOT format_number: format_number inserts
    thousands-grouping commas ('1,234.5'), which silently corrupts the
    `station;temp` line format for any |measure| >= 1000 — FAILFAST would
    abort on the extra field and the fast reader would NULL the value
    (round-5 review; latent while generator temps stay within ±150)."""
    (
        df.select(
            F.format_string("%s;%.1f", F.col("station"), F.col("measure"))
        ).write.mode("overwrite").text(path)
    )


def format_report(agg: DataFrame) -> DataFrame:
    """Morling-canonical single-line report sink (SURVEY §2.1 S8).

    Input: the flagship result (station, min, mean, max) sorted by station.
    Output: one row, one column `report` =
    `{a=min/mean/max, b=min/mean/max, ...}` — the format of
    `thebracket.rs:169-187` / `rangnargrootkeorkamp.rs:330-353`.

    Uses sort_array over collect_list of (station, line) STRUCTS — sorted
    by station name, then the line extracted — so the result is
    deterministic without a single-partition pre-sort AND the order is the
    canonical station order (sorting the formatted lines themselves breaks
    when one station name is a prefix of another: ' ' and digits sort
    below '=', so 'Foo Bar=...' would precede 'Foo=...').
    """
    # Round to 1 dp BEFORE formatting: Spark round() and DuckDB round() agree
    # (shortest-decimal half-up), but %.1f-style formatters disagree on raw
    # ties (Java formats the shortest repr, fmt formats the binary value).
    # Formatting an already-1-dp-rounded double is stable in both.
    per_station = agg.select(
        "station",
        F.format_string(
            "%s=%.1f/%.1f/%.1f",
            F.col("station"),
            # grid-safe: mean is on the 0.1 grid (identity); min/max 2-dp ties k.x5 scale
            # exactly onto the dyadic half — ×10 re-rounds onto the tie (exhaustive check:
            # tests/test_boundary_properties.py) — where both engines round half away
            F.round(F.col("min"), 1),
            F.round(F.col("mean"), 1),
            F.round(F.col("max"), 1),
        ).alias("line"),
    )
    return per_station.agg(
        F.concat(
            F.lit("{"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("station", "line"))),
                    lambda s: s["line"],
                ),
                ", ",
            ),
            F.lit("}"),
        ).alias("report")
    )


# --- P5 production twin: PERMISSIVE ingest with malformed-row quarantine ----

from onebrc_spark.registry import query  # noqa: E402 (scan-surface query)
from onebrc_spark.sources.catalog import load_table  # noqa: E402


@query(
    "onebrc_permissive_quarantine",
    oracle="""
    WITH lines AS (
      SELECT CASE s_suppkey % 7
               WHEN 0 THEN s_name ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
               WHEN 1 THEN s_name || ';x' ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
               WHEN 2 THEN ';' ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
               ELSE s_name || ';' ||
                    CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS VARCHAR)
             END AS line
      FROM supplier
    ), parsed AS (
      SELECT line, string_split(line, ';') AS parts FROM lines
    ), classified AS (
      SELECT CASE
               WHEN len(parts) <> 2 THEN 'missing_separator'
               WHEN parts[1] = '' THEN 'empty_station'
               WHEN try_cast(parts[2] AS BIGINT) IS NULL THEN 'bad_number'
               ELSE 'ok'
             END AS status,
             CASE WHEN len(parts) = 2 THEN try_cast(parts[2] AS BIGINT) END
               AS cents
      FROM parsed
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_rows,
           sum(CASE WHEN status = 'ok' THEN cents END)
             / (100.0 * nullif(sum(CASE WHEN status = 'ok' THEN 1 END), 0))
             AS avg_ok_value
    FROM classified
    GROUP BY status ORDER BY status
    """,
    survey_ref="P5 (PERMISSIVE twin: malformed-row quarantine, not job abort)",
)
def onebrc_permissive_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5's production counterpart: the reference (and our FAILFAST reader)
    ABORTS on the first malformed line — correct for a benchmark, wrong for
    a 100 TB ingest where one corrupt shard must not kill a 6-hour job.
    This is the PERMISSIVE pattern: parse every line, route failures to a
    quarantine with a reason (missing separator / empty key / unparseable
    number), aggregate the good rows — the same classify-don't-throw shape
    as spark.read.csv(mode='PERMISSIVE') + columnNameOfCorruptRecord, but
    expressed with try_cast so the oracle replays it exactly.

    The corrupt corpus is synthesized deterministically from `supplier`
    (every 7th row loses its separator, the next gets a non-numeric value,
    the next an empty key), and values ride as integer cents so no float
    text formatting crosses the engine boundary. Narrow one-pass plan: a
    projection + single aggregation, no shuffle beyond the 4-group merge."""
    s = load_table(spark, sf_dir, "supplier")
    cents_str = (
        round_long("s_acctbal * 100").cast("string")
    )
    line = (
        F.when(F.col("s_suppkey") % 7 == 0, F.concat(F.col("s_name"), cents_str))
        .when(
            F.col("s_suppkey") % 7 == 1,
            F.concat(F.col("s_name"), F.lit(";x"), cents_str),
        )
        .when(F.col("s_suppkey") % 7 == 2, F.concat(F.lit(";"), cents_str))
        .otherwise(F.concat(F.col("s_name"), F.lit(";"), cents_str))
    )
    parts = F.split(line, ";")
    cents = F.element_at(parts, 2).try_cast("bigint")
    classified = s.select(
        F.when(F.size(parts) != 2, "missing_separator")
        .when(F.element_at(parts, 1) == "", "empty_station")
        .when(cents.isNull(), "bad_number")
        .otherwise("ok")
        .alias("status"),
        F.when(F.size(parts) == 2, cents).alias("cents"),
    )
    ok = F.when(F.col("status") == "ok", F.col("cents"))
    n_ok = F.sum(F.when(F.col("status") == "ok", 1))
    return (
        classified.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # unrounded exact-integer ratio (registry rule: a final
            # round() diverges between engines on print-boundary doubles)
            (F.sum(ok) / (100.0 * F.nullif(n_ok, F.lit(0)))).alias(
                "avg_ok_value"
            ),
        )
        .orderBy("status")
    )
