"""Self-checks of the benchmark: ``python -m pytest perfbench`` from the root
of a checkout. The engine test starts a small local Spark session."""

from __future__ import annotations

import contextlib
import filecmp
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.oracle import (  # noqa: E402
    AutocompleteOracle,
    ServingMirror,
    dedup_mismatches,
    normalize,
    read_log,
    table_mismatches,
)
from perfbench.trace import PER_LAYER, SPAN_SEQUENCES, Tracer, dedup_pairs  # noqa: E402


def _write_inputs(d, seed):
    model = gen.query_model(seed, 500)
    for h in range(3):
        gen.write_lines(str(d / gen.hour_name(h)), model.lines(400))
    docs = gen.doc_model(seed)
    history: list = []
    first, _ = docs.batch(50, history, 0.0)
    second, planted = docs.batch(50, history, 0.2)
    gen.write_docs(str(d / "b0.json"), first)
    gen.write_docs(str(d / "b1.json"), second)
    return planted


def test_generator_is_deterministic(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    planted_a = _write_inputs(a, 7)
    planted_b = _write_inputs(b, 7)
    _write_inputs(c, 8)
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert planted_a == planted_b and len(planted_a) == 10
    assert filecmp.cmpfiles(a, c, names, shallow=False)[1] == names


def test_generator_plants_the_hostile_shapes():
    lines = gen.query_model(3, 2000).lines(20_000)
    queries = [q for q in map(normalize, lines) if q]
    assert any(not line.strip() for line in lines)
    assert any(len(q) > 60 for q in queries)
    assert any(len(line) > 500 for line in lines)
    assert any(any(ord(ch) > 0xFFFF for ch in q) for q in queries)
    assert any(any(0x300 <= ord(ch) <= 0x36F for ch in q) for q in queries)
    hot = sum(q.startswith(gen.HOT_FAMILY) for q in queries) / len(queries)
    assert 0.25 < hot < 0.35


def test_oracle_flags_a_corrupted_serving_row():
    oracle = AutocompleteOracle(k=3)
    oracle.add_lines(["Spark sql", "spark sql", "spark streaming", "  sp ", "\t", "x"])
    mirror = ServingMirror()
    mirror.apply(("set", p, json.dumps(c)) for p, c in oracle.table.items())
    assert table_mismatches(oracle.table, mirror.store)[0] == 0
    assert oracle.table["spark s"] == ["spark sql", "spark streaming"]
    mirror.store["spark s"] = json.dumps(["spark streaming", "spark sql"])
    n_bad, examples = table_mismatches(oracle.table, mirror.store)
    assert n_bad == 1 and examples[0][0] == "spark s"
    mirror.apply([("del", "sp", None)])
    assert table_mismatches(oracle.table, mirror.store)[0] == 2
    assert dedup_mismatches({1, 2, 5}, {1, 2, 3}, {5}) == ({5}, {3})


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_dedup_pairs_come_from_the_plan_metrics():
    """Candidate and verified pairs are the output rows of the engine's own
    prefilter and verify nodes; an accumulator that reappears in a later
    plan (a cached relation) counts once, for the group that first ran it."""
    group = "pb|1|dedup"
    prefilter = {
        "nodeName": "Filter",
        "simpleString": "Filter (isnotnull(est#9) AND (est#9 >= 0.6))",
        "metrics": [{"name": "number of output rows", "accumulatorId": 11}],
        "children": [{
            "nodeName": "HashAggregate",
            "simpleString": "HashAggregate(keys=[batch_id#1L, snap_id#2L], functions=[max(est#8)])",
            "metrics": [{"name": "number of output rows", "accumulatorId": 12}],
        }],
    }
    verify = {
        "nodeName": "BroadcastHashJoin",
        "simpleString": "BroadcastHashJoin [snap_id#2L], [snap_id#5L], Inner, BuildRight, "
                        "(size(array_intersect(sh_batch#3, sh_snap#4), false) >= 0.8)",
        "metrics": [{"name": "number of output rows", "accumulatorId": 13}],
        "children": [{"nodeName": "InMemoryTableScan", "simpleString": "", "children": [prefilter]}],
    }

    def plan(kind, execution, root):
        return {"Event": f"org.apache.spark.sql.execution.ui.{kind}", "executionId": execution,
                "sparkPlanInfo": root}

    def job(execution, job_group):
        return {"Event": "SparkListenerJobStart",
                "Properties": {"spark.sql.execution.id": str(execution), "spark.jobGroup.id": job_group}}

    def task(*updates):
        return {"Event": "SparkListenerTaskEnd", "Task Info": {
            "Accumulables": [{"ID": a, "Update": str(n)} for a, n in updates]}}

    events = [
        plan("SparkListenerSQLExecutionStart", 1, prefilter), job(1, group),
        task((11, 4), (12, 9)), task((11, 3), (12, 5)),
        plan("SparkListenerSQLExecutionStart", 2, verify), job(2, group),
        task((13, 5)),
        plan("SparkListenerSQLAdaptiveExecutionUpdate", 2, verify),
        plan("SparkListenerSQLExecutionStart", 3, verify), job(3, "pb|1|count"),
    ]
    assert dedup_pairs(events)[group] == {"candidates": 7, "verified": 5}
    assert "pb|1|count" not in dedup_pairs(events)


@pytest.fixture(scope="module")
def spark():
    run._environment()
    session = run.start_session(None)
    yield session
    run.stop_session(session)


@pytest.mark.parametrize("traced", [False, True], ids=["untraced", "traced"])
def test_oracle_agrees_with_the_engine(spark, tmp_path, traced):
    """The serving pipeline on a tiny seeded log: the store rebuilt from the
    published ops equals the oracle, hour by hour. Traced, the engine runs
    through the tracer's wrappers and every batch opens the autocomplete
    layer spans in order."""
    from batch_processing_pipeline_spark.streaming.jobs import (
        run_autocomplete_serving_pipeline,
    )
    from perfbench.sinks import Recorder

    logs = tmp_path / "logs"
    logs.mkdir()
    model = gen.query_model(11, 300)
    oracle, mirror, recorder = AutocompleteOracle(k=5), ServingMirror(), Recorder(spark.sparkContext)
    tracer = Tracer(spark)
    for h in range(2):
        path = str(logs / gen.hour_name(h))
        gen.write_lines(path, model.lines(300))
        with tracer.installed() if traced else contextlib.nullcontext():
            if traced:
                tracer.begin()
            q = run_autocomplete_serving_pipeline(
                spark, str(logs), str(tmp_path / "serve"), str(tmp_path / "ckpt"), k=5,
                redis_client_factory=recorder.store_factory(),
                kafka_producer_factory=recorder.producer_factory(),
            )
            q.awaitTermination()
            if traced:
                tracer.end()
        ops, records = recorder.drain()
        assert len(ops) == len(records) > 0
        mirror.apply(ops)
        oracle.add_lines(read_log(path))
        assert table_mismatches(oracle.table, mirror.store) == (0, [])
        if traced:
            names = [s["name"] for s in tracer.spans if s["batch"] == tracer.batch and s["parent"]]
            assert names == SPAN_SEQUENCES[0]
            assert tracer.counts[tracer.batch]["sources.records"] == 300
