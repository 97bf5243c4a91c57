import os
import time

import pytest

from perfbench import trace


def test_union_length_merges_overlaps():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert trace.union_length([(1.0, 2.0), (0.0, 3.0)]) == 3.0


def test_layer_self_times_add_up_to_the_wall():
    tr = trace.Tracer()
    jobs = [
        {"id": 1, "start": 0.2, "end": 0.4, "stages": [
            {"id": 10, "start": 0.25, "end": 0.35}]},
        # two overlapping action jobs, one stage sticking out of its job
        {"id": 2, "start": 1.1, "end": 1.6, "stages": [
            {"id": 11, "start": 1.1, "end": 1.5}, {"id": 12, "start": 1.2, "end": 1.9}]},
        {"id": 3, "start": 1.4, "end": 1.8, "stages": [
            {"id": 13, "start": 1.45, "end": 1.75}]},
    ]
    selfs = trace.record_execution(tr, "q", 0.0, 1.0, 2.0, {1}, jobs)
    assert sum(selfs.values()) == pytest.approx(2.0)
    assert selfs["build"] == pytest.approx(0.8)
    assert selfs["action"] == pytest.approx(1.0 - 0.7)
    assert selfs["stage"] == pytest.approx(0.1 + 0.65)
    # spans nest: every child lies inside its parent
    by_id = {s.id: s for s in tr.spans}
    for s in tr.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
    assert [s.layer for s in tr.spans].count("stage") == 4


def test_tracer_writes_spans(tmp_path):
    tr = trace.Tracer()
    root = tr.add(None, "query", "q", 0.0, 1.0)
    tr.add(root, "build", "q/build", 0.0, 0.5)
    tr.write(tmp_path / "spans.json")
    assert '"q/build"' in (tmp_path / "spans.json").read_text()


class _FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True):
        self.sent.append(command)
        return "ok"


def test_py4j_counter_counts_only_while_active():
    client = _FakeClient()
    counter = trace.Py4jCounter(client)
    client.send_command("a")
    counter.active = True
    client.send_command("b")
    client.send_command("c", retry=False)
    counter.active = False
    client.send_command("d")
    assert counter.count == 2
    assert client.sent == ["a", "b", "c", "d"]
    counter.close()
    client.send_command("e")
    assert counter.count == 2 and "send_command" not in vars(client)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    # the launch environment perfbench/run.py gives the Spark process
    os.environ["SPARK_LOCAL_DIRS"] = str(work)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["ONEBRC_PROTOBUF_SDK_PATH"] = str(work / "no-protobuf")
    from onebrc_spark.session import get_spark

    s = get_spark("perfbench-tests")
    yield s
    s.stop()


def test_py4j_counter_and_stage_metrics_on_a_tiny_query(spark):
    sc = spark.sparkContext
    counter = trace.Py4jCounter(sc._gateway._gateway_client)
    try:
        counter.active = True
        df = spark.range(0, 1000, numPartitions=3).selectExpr("id % 7 AS k").groupBy("k").count()
        counter.active = False
        assert counter.count > 0
        built = counter.count
        sc.setJobGroup("perfbench-test", "tiny")
        w0 = time.time()
        rows = df.collect()
        w1 = time.time()
        assert counter.count == built  # inactive during the action
    finally:
        counter.close()
    assert sorted(r["count"] for r in rows) == [142] + [143] * 6
    trace.drain_listener_bus(sc._jsc.sc())
    jobs = trace.job_records(sc, "perfbench-test")
    assert jobs, "the action's jobs are in its job group"
    stages = [st for j in jobs for st in j["stages"]]
    assert sum(st["tasks"] for st in stages) >= 3
    assert sum(st["shuffle_write_bytes"] for st in stages) > 0
    assert sum(st["shuffle_read_bytes"] for st in stages) > 0
    for j in jobs:
        assert w0 - 1 <= j["start"] <= j["end"] <= w1 + 1
    plan = trace.plan_metrics(df)
    assert plan["exchanges"] == 1
    assert plan["peak_memory_bytes"] > 0
    cat = trace.catalyst_ms(df)
    assert set(cat) == {"analysis", "optimization", "planning"}
