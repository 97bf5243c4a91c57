"""Tracing from outside the engine: spans, py4j call counts, Spark status
store reads and plan walks around one query execution.

Everything here calls public Spark/py4j surfaces of a live session; nothing
is patched inside the engine. Spans are kept in memory by `Tracer` and
written out once, when the run ends.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass
from pathlib import Path

_STAGE_SUMS = {
    "tasks": "numTasks",
    "task_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}
_PYTHON_NODE_MARKERS = ("Python", "Pandas", "InArrow", "UDTF")
_PYTHON_BYTES = ("pythonDataSent", "pythonDataReceived")


@dataclass
class Span:
    """One interval of a query execution. Layers, outermost first: query,
    then build or action, then job, then stage."""

    id: int
    parent: int | None
    layer: str
    name: str
    start: float  # epoch seconds
    end: float


class Tracer:
    """In-memory span store for one benchmark run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, parent: int | None, layer: str, name: str, start: float, end: float) -> int:
        sid = len(self.spans)
        self.spans.append(Span(sid, parent, layer, name, start, end))
        return sid

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


class Py4jCounter:
    """Counts the py4j commands this process sends while `active` is set.

    Wraps the gateway client's `send_command` on the instance: every
    JavaObject/JavaMember call looks the method up on the client, so all
    driver-to-JVM round trips pass through the wrapper."""

    def __init__(self, gateway_client) -> None:
        self._client = gateway_client
        self._send = gateway_client.send_command
        self.active = False
        self.count = 0

        def counting_send(*args, **kwargs):
            if self.active:
                self.count += 1
            return self._send(*args, **kwargs)

        gateway_client.send_command = counting_send

    def close(self) -> None:
        del self._client.send_command


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _epoch_s(option_date) -> float | None:
    return option_date.get().getTime() / 1000.0 if option_date.isDefined() else None


def drain_listener_bus(jsc) -> None:
    """Block until every queued listener event reached the status store."""
    jsc.listenerBus().waitUntilEmpty()


def job_records(sc, group: str) -> list[dict]:
    """The jobs of one job group, each with its stages, read from the status
    store. Call drain_listener_bus first: the store is filled asynchronously.
    Skipped stages carry no times and no metrics and are left out."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        stages = []
        for sid in _seq(job.stageIds()):
            st = store.lastStageAttempt(sid)
            start = _epoch_s(st.submissionTime())
            end = _epoch_s(st.completionTime())
            if start is None or end is None:
                continue
            rec = {"id": sid, "start": start, "end": end}
            rec.update({k: int(getattr(st, m)()) for k, m in _STAGE_SUMS.items()})
            stages.append(rec)
        jobs.append({
            "id": jid,
            "start": _epoch_s(job.submissionTime()),
            "end": _epoch_s(job.completionTime()),
            "stages": stages,
        })
    return jobs


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of the DataFrame's
    QueryExecution, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[phase] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def _metric(node, name: str) -> int:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else 0


def plan_metrics(df) -> dict[str, int]:
    """Walk the executed (final adaptive) plan: shuffle exchanges (reused
    ones excluded), peak operator memory, and rows and bytes through
    Python/Arrow exec nodes. Adaptive query stages are descended through
    `QueryStageExec.plan()`."""
    stack = [df._jdf.queryExecution().executedPlan()]
    exchanges = peak = rows = data_bytes = 0
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        exchanges += cls == "ShuffleExchangeExec"
        peak = max(peak, _metric(node, "peakMemory"))
        if any(marker in cls for marker in _PYTHON_NODE_MARKERS):
            rows += _metric(node, "pythonNumRowsReceived") or _metric(node, "numOutputRows")
            data_bytes += sum(_metric(node, m) for m in _PYTHON_BYTES)
        stack.extend(_seq(node.children()))
    return {"exchanges": exchanges, "peak_memory_bytes": peak, "pyworker_rows": rows,
            "pyworker_bytes": data_bytes}


def _clip(start: float, end: float, lo: float, hi: float) -> tuple[float, float]:
    s, e = max(start, lo), min(end, hi)
    return (s, e) if e > s else (s, s)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def record_execution(tracer: Tracer, name: str, t0: float, t1: float, t2: float,
                     eager_ids: set[int], jobs: list[dict]) -> dict[str, float]:
    """Add the span tree of one execution and return its layer self-times.

    Root [t0, t2] has children build [t0, t1] and action [t1, t2], which tile
    it. Jobs whose id was already submitted when the build returned hang
    under build, the rest under action; stages hang under their job. Every
    child is clipped to its parent, so the tree nests and the four
    self-times (build, action, job, stage) add up to t2 - t0."""
    root = tracer.add(None, "query", name, t0, t2)
    sides = {"build": (t0, t1), "action": (t1, t2)}
    parents = {side: tracer.add(root, side, f"{name}/{side}", lo, hi)
               for side, (lo, hi) in sides.items()}
    job_cover: dict[str, list] = {"build": [], "action": []}
    stage_cover = []
    for job in jobs:
        side = "build" if job["id"] in eager_ids else "action"
        lo, hi = sides[side]
        js, je = _clip(job["start"] or lo, job["end"] or hi, lo, hi)
        jid = tracer.add(parents[side], "job", f"job {job['id']}", js, je)
        job_cover[side].append((js, je))
        for st in job["stages"]:
            ss, se = _clip(st["start"], st["end"], js, je)
            tracer.add(jid, "stage", f"stage {st['id']}", ss, se)
            stage_cover.append((ss, se))
    in_jobs = {side: union_length(cover) for side, cover in job_cover.items()}
    stage = union_length(stage_cover)
    return {
        "build": (t1 - t0) - in_jobs["build"],
        "action": (t2 - t1) - in_jobs["action"],
        "job": in_jobs["build"] + in_jobs["action"] - stage,
        "stage": stage,
    }
