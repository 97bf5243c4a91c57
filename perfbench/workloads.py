"""The benchmark's workloads: what each one runs, on which inputs, and the
DuckDB statement each result is checked against."""

from __future__ import annotations

import math
import random
from dataclasses import dataclass
from pathlib import Path

from perfbench import oracle, stats

ONEBRC_QUERY = "onebrc_text_scan_agg"
ONEBRC_FILE = "measurements.txt"

# Consumers of the memoized near-dup pair set: a call is a memo hit when the
# pair set built earlier in the same pass is still memoized when it starts.
PAIR_CONSUMERS = ("dedup_cluster_components", "dedup_graph_pagerank")


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    input_kind: str  # "onebrc_text" (rows), "documents" (docs), "warehouse" (scale factor)
    size: float
    queries: tuple[str, ...]
    rows_file: str  # the input file whose row count rows_per_s counts, per pass
    pass_s: float  # wall of one warm pass on a 4-core host: sizes the timed phase
    warmup_passes: int  # untimed passes after the cold one
    shuffle_order: bool = False  # seeded shuffle of the query order in each pass
    pair_memo: bool = False  # clear the pair and label memos before each pass

    def timed_passes(self, seconds: float) -> int:
        """Passes in the timed phase: about `seconds` of work on a 4-core
        host, at least two, and enough executions that the tail percentile
        (TAIL_MIN_BEYOND samples beyond it) is at least the median."""
        min_execs = 2 * stats.TAIL_MIN_BEYOND
        return max(2, math.ceil(min_execs / len(self.queries)), round(seconds / self.pass_s))

    def order(self, seed: int, pass_no: int) -> list[str]:
        names = list(self.queries)
        if self.shuffle_order:
            random.Random(f"{seed}:{pass_no}").shuffle(names)
        return names

    def oracle_sql(self, input_dir: Path) -> dict[str, str]:
        if self.input_kind == "onebrc_text":
            return {ONEBRC_QUERY: oracle.onebrc_sql(str(input_dir / ONEBRC_FILE))}
        from onebrc_spark import registry

        reg = registry.load_all()
        return {name: reg[name].oracle for name in self.queries}

    def builders(self, input_dir: Path) -> dict:
        """{query name: build(spark) -> DataFrame}: the timed registry call."""
        if self.input_kind == "onebrc_text":
            from onebrc_spark.operators.aggregates import onebrc_aggregate
            from onebrc_spark.sources.onebrc import read_measurements_fast

            path = str(input_dir / ONEBRC_FILE)
            return {
                ONEBRC_QUERY: lambda spark: onebrc_aggregate(
                    read_measurements_fast(spark, path), "station", "measure"
                )
            }
        from onebrc_spark import registry

        reg = registry.load_all()
        sf_dir = str(input_dir)
        return {name: (lambda spark, fn=reg[name].fn: fn(spark, sf_dir)) for name in self.queries}


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="onebrc_text",
            why="the paper's query: nearly all work is the sources text scan/parse "
                "and the partial hash aggregate; build, Catalyst, shuffle and collect "
                "are negligible",
            input_kind="onebrc_text",
            size=3_000_000,
            queries=(ONEBRC_QUERY,),
            rows_file=ONEBRC_FILE,
            pass_s=1.5,
            warmup_passes=4,
        ),
        Workload(
            name="llm_dedup",
            why="near-dup LLM pipeline: one-parse SQL builders, memo materialisation, "
                "shuffles, string-heavy task CPU and collects; almost no plain scanning",
            input_kind="documents",
            size=500,
            queries=(
                "dedup_minhash_lsh",
                "dedup_cluster_components",
                "dedup_graph_pagerank",
                "text_boilerplate_clean",
                "dedup_incremental_admission",
                "text_bpe_merge_pairs",
            ),
            rows_file="documents.parquet",
            pass_s=5.0,
            warmup_passes=2,
            pair_memo=True,
        ),
        Workload(
            name="olap_mix",
            why="short registered queries where Python-side build, Catalyst and "
                "per-job scheduling are a large share of the wall; writes beside reads",
            input_kind="warehouse",
            size=0.01,
            queries=(
                "agg_tpch_q1",
                "sql_tpch_q21_shape",
                "cdc_merge_upsert",
                "storage_csv_roundtrip",
                "udf_grouped_map_zscore",
                "window_running_frames",
            ),
            rows_file="lineitem.parquet",
            pass_s=5.0,  # not measured: a third of its 16 s cold pass
            warmup_passes=2,
            shuffle_order=True,
        ),
    )
}
