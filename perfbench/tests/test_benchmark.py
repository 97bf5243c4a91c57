import json
from pathlib import Path

import pytest

from perfbench import inputs, oracle, stats
from perfbench.run import END_TO_END, PER_LAYER, spark_cpus
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tail_has_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 31)]  # 1..30
    t = stats.tail(values)
    assert t == {"value": 20.0, "percentile": 66.67, "samples": 30}
    assert sum(v > t["value"] for v in values) == stats.TAIL_MIN_BEYOND


def test_tail_is_order_free_and_counts_samples():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0]
    t = stats.tail(values)
    assert t == {"value": 1.0, "percentile": 9.09, "samples": 11}


@pytest.mark.parametrize("n", [0, 1, 9, 10])
def test_tail_omitted_when_too_few_samples(n):
    assert stats.tail([1.0] * n) is None


@pytest.mark.parametrize("name", ["run_s", "exec.task_cpu_s", "a", "0x", "rows-per_s.v2"])
def test_valid_names(name):
    assert stats.valid_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65])
def test_invalid_names(name):
    assert not stats.valid_name(name)


def test_every_reported_name_is_valid():
    for name in [*END_TO_END, *PER_LAYER, *WORKLOADS]:
        assert stats.valid_name(name), name


def test_benchmark_json_matches_the_reported_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


@pytest.mark.parametrize("seconds", [1, 20, 60])
def test_timed_phase_is_a_fixed_amount_of_work(seconds):
    for w in WORKLOADS.values():
        passes = w.timed_passes(seconds)
        assert passes == w.timed_passes(seconds) >= 2
        # the tail percentile exists and is at least the median
        t = stats.tail([float(i) for i in range(passes * len(w.queries))])
        assert t is not None and t["percentile"] >= 50.0, w.name


def test_spark_takes_half_the_cpus():
    assert [spark_cpus(n) for n in (1, 2, 4, 8)] == [1, 1, 2, 4]


def test_result_hash_ignores_row_and_column_order():
    a = oracle.result_hash(["k", "v"], [("x", 1.0), ("y", None), ("z", 0.1 + 0.2)])
    b = oracle.result_hash(["v", "k"], [(0.3, "z"), (1, "x"), (None, "y")])
    assert a == b
    assert a[1] == 3
    assert oracle.result_hash(["k", "v"], [("x", 1.5)]) != oracle.result_hash(["k", "v"], [("x", 1.4)])


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = tmp_path / "a.txt"
    b = tmp_path / "b.txt"
    c = tmp_path / "c.txt"
    inputs.write_onebrc_text(a, 5000, seed=7)
    inputs.write_onebrc_text(b, 5000, seed=7)
    inputs.write_onebrc_text(c, 5000, seed=8)
    assert a.read_bytes() == b.read_bytes() != c.read_bytes()
    lines = a.read_text().splitlines()
    assert len(lines) == 5000
    station, temp = lines[0].split(";")
    assert station and -99.9 <= float(temp) <= 99.9 and temp == f"{float(temp):.1f}"


def test_manifest_records_rows_bytes_and_hash(tmp_path):
    d, m = inputs.ensure(tmp_path, "onebrc_text", "onebrc_text", 1000, seed=3)
    f = m["files"]["measurements.txt"]
    assert f["rows"] == 1000 and f["bytes"] == (d / "measurements.txt").stat().st_size
    d2, m2 = inputs.ensure(tmp_path, "onebrc_text", "onebrc_text", 1000, seed=3)
    assert (d2, m2["content_sha256"]) == (d, m["content_sha256"])


def test_generated_tables_have_the_engine_schemas():
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    from onebrc_spark.schemas import TABLES

    tables = inputs.warehouse_tables(0.001, seed=1)
    tables["documents"] = inputs.documents_table(50, seed=1)
    for name, spark_schema in TABLES.items():
        arrow = tables[name].schema
        got = [(f.name, from_arrow_type(f.type).simpleString()) for f in arrow]
        want = [(f.name, f.dataType.simpleString()) for f in spark_schema.fields]
        assert got == want, name
        assert tables[name].num_rows > 0
    assert isinstance(tables["events"].schema.field("ts").type, pa.TimestampType)


def test_documents_seed_is_a_bijection():
    a = inputs.documents_table(200, seed=1).to_pylist()
    b = inputs.documents_table(200, seed=2).to_pylist()
    assert [len(r["text"].split()) for r in a] == [len(r["text"].split()) for r in b]
    dup_a = [i for i, r in enumerate(a) if r["text"].endswith(" dup")]
    dup_b = [i for i, r in enumerate(b) if r["text"].endswith(" dup")]
    assert dup_a == dup_b and dup_a
    assert [r["text"] for r in a] != [r["text"] for r in b]
    ids_a = [r["doc_id"] for r in a]
    assert ids_a == sorted(ids_a) and len(set(ids_a)) == 200
