"""Spark side of one benchmark run: set up, run the timed phase, optionally
trace, and write the raw measurements as JSON.

Run by perfbench/run.py in a child process (the launch environment is set
there): ``python -m perfbench.worker <config.json>``.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
import traceback
from pathlib import Path

from perfbench import oracle, stats, trace
from perfbench.workloads import PAIR_CONSUMERS, WORKLOADS


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_pid(spark) -> int | None:
    """The JVM py4j launched: the gateway process itself once spark-submit
    has exec'd java, else its java child."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return None
    candidates = [str(proc.pid)]
    try:
        candidates += Path(f"/proc/{proc.pid}/task/{proc.pid}/children").read_text().split()
    except OSError:
        pass
    for pid in candidates:
        try:
            if Path(f"/proc/{pid}/comm").read_text().strip() == "java":
                return int(pid)
        except OSError:
            continue
    return None


class Run:
    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.workload = WORKLOADS[cfg["workload"]]
        self.input_dir = Path(cfg["input_dir"])
        self.refs = cfg["refs"]
        self.attempted = 0
        self.failures: list[dict] = []
        self.tracer = trace.Tracer()
        self.spark = None
        self.counter = None
        self.memo_calls = self.memo_hits = 0

    # -- one execution ---------------------------------------------------

    def _check(self, name: str, df, rows) -> None:
        digest, n = oracle.result_hash(list(df.columns), rows)
        if digest != self.refs[name]["hash"]:
            raise AssertionError(
                f"result differs from DuckDB ({n} rows, DuckDB {self.refs[name]['rows']})"
            )

    def _pair_memo_hit(self, name: str) -> bool | None:
        if name not in PAIR_CONSUMERS:
            return None
        from onebrc_spark.operators import dedup

        cache = getattr(dedup, "_MINHASH_PAIRS_CACHE", None)
        if cache is None:
            return None
        return (self.spark.sparkContext.applicationId, str(self.input_dir)) in cache

    def execute(self, name: str, label: str, traced: bool) -> dict:
        """Build, collect and check one query; with `traced`, also read its
        layers. Returns the execution record (latency None on failure)."""
        sc = self.spark.sparkContext
        group = f"perfbench:{label}"
        sc.setJobGroup(group, label)
        self.attempted += 1
        memo_hit = self._pair_memo_hit(name) if traced else None
        rec: dict = {"query": name, "label": label, "latency_s": None}
        try:
            if traced:
                self.counter.count, self.counter.active = 0, True
            t0, w0 = time.perf_counter(), time.time()
            try:
                df = self.builders[name](self.spark)
            finally:
                if traced:
                    self.counter.active = False
            w1 = time.time()
            # jobs already submitted now were started by the build itself
            eager_ids = set(sc.statusTracker().getJobIdsForGroup(group)) if traced else set()
            rows = df.collect()
            t2, w2 = time.perf_counter(), time.time()
            self._check(name, df, rows)
        except Exception as exc:  # a failing query counts; the run goes on
            self.failures.append({"query": name, "label": label, "error": repr(exc)[:500]})
            traceback.print_exc()
            return rec
        rec["latency_s"] = t2 - t0
        if traced:
            if memo_hit is not None:
                self.memo_calls += 1
                self.memo_hits += int(memo_hit)
            rec.update(self._layers(label, df, rows, group, eager_ids, w0, w1, w2))
        return rec

    def _layers(self, label, df, rows, group, eager_ids, w0, w1, w2) -> dict:
        """Per-layer numbers of one traced execution; adds its span tree.
        w0, w1, w2: epoch times of build start, build end, rows collected."""
        sc = self.spark.sparkContext
        trace.drain_listener_bus(sc._jsc.sc())
        jobs = trace.job_records(sc, group)
        selfs = trace.record_execution(self.tracer, label, w0, w1, w2, eager_ids, jobs)
        stages = [st for j in jobs for st in j["stages"]]

        def stage_sum(key: str) -> int:
            return sum(st[key] for st in stages)

        cat = trace.catalyst_ms(df)
        plan = trace.plan_metrics(df)
        return {
            "build.s": w1 - w0,
            "build.py4j_calls": self.counter.count,
            "build.eager_jobs": len(eager_ids),
            "catalyst.analysis_ms": cat["analysis"],
            "catalyst.optimization_ms": cat["optimization"],
            "catalyst.planning_ms": cat["planning"],
            "plan.exchanges": plan["exchanges"],
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": stage_sum("tasks"),
            "exec.job_s": selfs["job"] + selfs["stage"],
            "exec.task_cpu_s": stage_sum("task_cpu_ns") / 1e9,
            "exec.gc_ms": stage_sum("gc_ms"),
            "exec.shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
            "exec.shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
            "exec.input_bytes": stage_sum("input_bytes"),
            "exec.output_bytes": stage_sum("output_bytes"),
            "exec.spill_bytes": stage_sum("memory_spill_bytes") + stage_sum("disk_spill_bytes"),
            "collect.overhead_s": selfs["action"],
            "collect.rows": len(rows),
            "pyworker.rows": plan["pyworker_rows"],
            "pyworker.data_bytes": plan["pyworker_bytes"],
            "ops.peak_memory_bytes": plan["peak_memory_bytes"],
            "self.build_s": selfs["build"],
            "self.job_s": selfs["job"],
            "self.stage_s": selfs["stage"],
        }

    # -- passes -----------------------------------------------------------

    def one_pass(self, phase: str, pass_no: int, traced: bool) -> tuple[float, list[dict]]:
        if self.workload.pair_memo:
            from onebrc_spark.operators.clustering import clear_components_cache
            from onebrc_spark.operators.dedup import clear_pair_cache

            clear_pair_cache()
            clear_components_cache()
        seed = self.cfg["seed"]
        t0 = time.perf_counter()
        recs = [self.execute(name, f"{self.workload.name}/{name}/{phase}{pass_no}", traced)
                for name in self.workload.order(seed, pass_no)]
        return time.perf_counter() - t0, recs

    def phase(self, phase: str, passes: int) -> tuple[list[float], list[dict]]:
        """`passes` untraced passes."""
        walls, recs = [], []
        for _ in range(passes):
            wall, pass_recs = self.one_pass(phase, len(walls), traced=False)
            walls.append(wall)
            recs.extend(pass_recs)
        return walls, recs

    def traced_phase(self, seconds: float) -> tuple[list[float], list[float], list[dict]]:
        """Pairs of (untraced, traced) passes over the same query order until
        `seconds` have passed; the untraced twins measure tracing overhead."""
        plain, walls, recs = [], [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or not walls:
            plain.append(self.one_pass("u", len(walls), traced=False)[0])
            wall, pass_recs = self.one_pass("tr", len(walls), traced=True)
            walls.append(wall)
            recs.extend(pass_recs)
        return plain, walls, recs

    # -- sources layer (onebrc_text, traced only) ---------------------------

    def sources_probe(self, reps: int = 3) -> dict[str, float]:
        """Median wall of the text scan alone (into a noop sink) and of the
        Arrow twin of scan+aggregate, each after one untimed warm-up, plus the
        Python-worker rows and bytes of the twin's plan. The twin's result is
        checked like every other execution."""
        from onebrc_spark.sources.onebrc import onebrc_scan_agg_arrow, read_measurements_fast
        from perfbench.workloads import ONEBRC_FILE, ONEBRC_QUERY

        path = str(self.input_dir / ONEBRC_FILE)
        out: dict[str, float] = {}

        def scan() -> None:
            read_measurements_fast(self.spark, path).write.format("noop").mode("overwrite").save()

        def arrow() -> None:
            df = onebrc_scan_agg_arrow(self.spark, path)
            self._check(ONEBRC_QUERY, df, df.collect())
            plan = trace.plan_metrics(df)
            out["arrow_twin.pyworker.rows"] = plan["pyworker_rows"]
            out["arrow_twin.pyworker.data_bytes"] = plan["pyworker_bytes"]

        for key, fn in (("sources.scan_s", scan), ("sources.arrow_twin_s", arrow)):
            walls = []
            for _ in range(reps + 1):
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    fn()
                except Exception as exc:
                    self.failures.append({"query": key, "label": "sources",
                                          "error": repr(exc)[:500]})
                    traceback.print_exc()
                    break
                walls.append(time.perf_counter() - t0)
            if len(walls) > 1:
                out[key] = stats.median(walls[1:])
        return out

    # -- the run ----------------------------------------------------------

    def main(self) -> dict:
        cfg = self.cfg
        t0 = time.perf_counter()
        from onebrc_spark import registry
        from onebrc_spark.session import get_spark

        self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        registry.load_all()
        self.builders = self.workload.builders(self.input_dir)
        registry_s = time.perf_counter() - t1
        cold_wall, _ = self.one_pass("cold", 0, traced=False)
        setup_s = time.time() - cfg["spawn_time"]

        out = {
            "setup_s": setup_s, "session_start_s": session_s, "registry_s": registry_s,
            "cold_pass_s": cold_wall,
        }
        # untimed: JIT keeps compiling after the cold pass; let it settle
        out["warmup_walls"] = self.phase("w", self.workload.warmup_passes)[0]
        seconds = cfg["seconds"]
        if not cfg["trace"]:
            # a fixed amount of work: the same passes, so the same percentile
            # for latency_tail_s, in every run of this workload and --seconds
            walls, recs = self.phase("t", self.workload.timed_passes(seconds))
            out.update(pass_walls=walls, records=recs)
        else:
            self.counter = trace.Py4jCounter(self.spark.sparkContext._gateway._gateway_client)
            plain, walls, recs = self.traced_phase(seconds / 2)
            self.counter.close()
            out.update(pass_walls=walls, plain_pass_walls=plain, records=recs,
                       memo_calls=self.memo_calls, memo_hits=self.memo_hits)
            if self.workload.input_kind == "onebrc_text":
                out.update(self.sources_probe())
            self.tracer.write(Path(cfg["trace_out"]))
        jvm = _jvm_pid(self.spark)
        out["peak_rss_kb"] = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm) if jvm else 0)
        out["attempted"] = self.attempted
        out["failures"] = self.failures
        return out


def _shutdown(spark) -> None:
    """Stop Spark, then end the JVM py4j started and reap it here, so it
    does not outlive this process as an orphan."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    cfg = json.loads(Path(argv[1]).read_text())
    run = Run(cfg)
    try:
        out = run.main()
    finally:
        if run.spark is not None:
            _shutdown(run.spark)
    Path(cfg["out"]).write_text(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
