"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates (or reuses) the seeded inputs and
their DuckDB reference results, runs the Spark side in a child process with
the launch environment below, and prints the metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Launch environment of the Spark process (see README.md):
  - PYTHONPATH = repository root, so Python workers import the engine too;
  - cwd = .perfbench/work/<workload>, so saveAsTable/derby files stay out of
    the source tree;
  - SPARK_GRAFT_CPUS = half the usable CPUs, SPARK_LOCAL_DIRS and TMPDIR
    under .perfbench/work, PYTHONHASHSEED=0; SPARK_GRAFT_DRIVER_MEM is left
    unset (engine default).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import inputs, oracle, stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

STATE = ROOT / ".perfbench"
DEADLINE_S = 155  # a run must end within 180 s, stopping a stuck worker included

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rows_per_s": "rows/s",
}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "build.s": "s",
    "build.py4j_calls": "count",
    "build.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plan.exchanges": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "collect.overhead_s": "s",
    "collect.rows": "count",
    "sources.scan_s": "s",
    "sources.arrow_twin_s": "s",
    "memo.hit_ratio": "ratio",
    "pyworker.rows": "count",
    "pyworker.data_bytes": "bytes",
    "ops.peak_memory_bytes": "bytes",
    "self.build_s": "s",
    "self.job_s": "s",
    "self.stage_s": "s",
    "trace.overhead_s": "s",
    "trace.selftime_residual_s": "s",
}
# per-pass totals; ops.peak_memory_bytes is a per-pass maximum instead
_MAX_PER_PASS = {"ops.peak_memory_bytes"}
# the layer self-times of one execution; they add up to its latency
_SELF_TIMES = ("self.build_s", "collect.overhead_s", "self.job_s", "self.stage_s")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus(cpus: int) -> int:
    """Spark's task slots: half the host's CPUs. The other half runs the
    driver's Python thread, the JVM's JIT and GC threads and the kernel, so
    a pass does not wait on a task thread that lost its CPU to them. On a
    shared 4-core host, three seeds each: onebrc_text's run_s spread by an
    interquartile range of 14% of the median with local[3] and 6% with
    local[2] (20% slower); llm_dedup's by 14% and 2% at the same speed."""
    return max(1, cpus // 2)


def _spawn_worker(cfg: dict, workdir: Path, timeout: float) -> int:
    """Run the Spark side in a session of its own and wait for it; on timeout
    or exit, stop whatever of the session is left and wait until it is gone."""
    cfg_path = workdir / "config.json"
    cfg_path.write_text(json.dumps(cfg))
    tmp = workdir / "tmp"
    local = workdir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    env.update({
        "PYTHONPATH": str(ROOT),
        "SPARK_GRAFT_CPUS": str(spark_cpus(_cpus())),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        # a fixed str hash seed, as Spark gives its Python workers: with a
        # random one per driver process, pass walls varied far more run to run
        "PYTHONHASHSEED": "0",
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # no query here needs protobuf: keep the engine from vendoring it under /tmp
        "ONEBRC_PROTOBUF_SDK_PATH": str(workdir / "no-protobuf"),
        "PYTHONUNBUFFERED": "1",
    })
    with open(workdir / "worker.log", "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", str(cfg_path)],
            cwd=workdir, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            _stop_session(proc)
    return code


def _session_pids(sid: int) -> list[int]:
    """Live processes (zombies excluded) whose session id is `sid`."""
    pids = []
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(stat.parent.name))
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """End every process left in the worker's session (the JVM, and the
    Python worker daemon, which moves to a process group of its own), wait
    until none is left, then reap the worker."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        proc.poll()
        pids = _session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            proc.poll()
            if not _session_pids(proc.pid):
                break
            time.sleep(0.1)
    proc.wait()


def _per_pass(records: list[dict]) -> dict[str, list[float]]:
    """{metric: [value per traced pass]} over the per-execution layer records."""
    passes: dict[str, list[dict]] = {}
    for r in records:
        if r["latency_s"] is not None:
            passes.setdefault(r["label"].rsplit("/", 1)[1], []).append(r)
    out: dict[str, list[float]] = {}
    for recs in passes.values():
        for key in recs[0]:
            if key in PER_LAYER:
                vals = [r[key] for r in recs]
                out.setdefault(key, []).append(max(vals) if key in _MAX_PER_PASS else sum(vals))
    return out


def end_to_end(raw: dict, rows_per_pass: int) -> tuple[dict, dict]:
    lat = [r["latency_s"] for r in raw["records"] if r["latency_s"] is not None]
    run_s = stats.median(raw["pass_walls"])
    tail = stats.tail(lat)
    metrics = {
        "setup_s": raw["setup_s"],
        "run_s": run_s,
        "latency_p50_s": stats.median(lat),
        "rows_per_s": rows_per_pass / run_s,
    }
    if tail is not None:
        metrics["latency_tail_s"] = tail["value"]
    return metrics, {"latency_tail": tail, "passes": len(raw["pass_walls"])}


def per_layer(raw: dict) -> dict:
    metrics = {k: stats.median(v) for k, v in _per_pass(raw["records"]).items()}
    metrics["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    metrics["session.start_s"] = raw["session_start_s"]
    metrics["sources.scan_s"] = raw.get("sources.scan_s", 0.0)
    metrics["sources.arrow_twin_s"] = raw.get("sources.arrow_twin_s", 0.0)
    for key in ("pyworker.rows", "pyworker.data_bytes"):
        metrics[key] = metrics.get(key, 0) + raw.get(f"arrow_twin.{key}", 0)
    calls = raw.get("memo_calls", 0)
    metrics["memo.hit_ratio"] = raw.get("memo_hits", 0) / calls if calls else 0.0
    traced_run_s = stats.median(raw["pass_walls"])
    metrics["trace.overhead_s"] = traced_run_s - stats.median(raw["plain_pass_walls"])
    residual = [
        abs(r["latency_s"] - sum(r[k] for k in _SELF_TIMES))
        for r in raw["records"] if r["latency_s"] is not None
    ]
    metrics["trace.selftime_residual_s"] = max(residual) if residual else 0.0
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.monotonic()
    w = WORKLOADS[args.workload]

    input_dir, manifest = inputs.ensure(STATE / "cache", w.name, w.input_kind, w.size, args.seed)
    t0 = time.perf_counter()
    refs = oracle.cached(input_dir, w.oracle_sql(input_dir))
    oracle_s = time.perf_counter() - t0

    workdir = STATE / "work" / w.name
    workdir.mkdir(parents=True, exist_ok=True)
    out_path = workdir / "result.json"
    out_path.unlink(missing_ok=True)
    trace_path = STATE / "trace" / f"{w.name}-seed{args.seed}.json"
    cfg = {
        "workload": w.name, "input_dir": str(input_dir), "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "refs": refs,
        "out": str(out_path), "trace_out": str(trace_path), "spawn_time": time.time(),
    }
    code = _spawn_worker(cfg, workdir, DEADLINE_S - (time.monotonic() - started))
    if code != 0 or not out_path.exists():
        print(f"worker failed (exit {code}); see {workdir / 'worker.log'}", file=sys.stderr)
        return 1
    raw = json.loads(out_path.read_text())

    rows_per_pass = manifest["files"][w.rows_file]["rows"]
    if args.trace:
        values, units = per_layer(raw), PER_LAYER
        extra = {"spans": str(trace_path.relative_to(ROOT))}
    else:
        values, extra = end_to_end(raw, rows_per_pass)
        units = END_TO_END
    missing = sorted(set(units) - set(values))
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 1
    by_query: dict[str, list[float]] = {}
    for r in raw["records"]:
        if r["latency_s"] is not None:
            by_query.setdefault(r["query"], []).append(r["latency_s"])
    attempted = raw["attempted"]
    failed = len(raw["failures"])
    diagnostics = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "cpus": _cpus(), "spark_cpus": spark_cpus(_cpus()),
        "input": {"content_sha256": manifest["content_sha256"],
                  "files": manifest["files"], "generate_s": manifest["generate_s"]},
        "oracle_s": oracle_s,
        "setup": {k: raw[k] for k in ("session_start_s", "registry_s", "cold_pass_s")},
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "warmup_walls_s": raw["warmup_walls"],
        "pass_walls_s": raw["pass_walls"],
        "per_query_median_s": {q: stats.median(v) for q, v in sorted(by_query.items())},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        "failures": raw["failures"],
        **extra,
    }
    print(json.dumps({"diagnostics": diagnostics}))
    for name, value in values.items():
        if name in units:
            print(f"{name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
