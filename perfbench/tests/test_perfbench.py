"""Tests of the benchmark itself: seeded inputs, metric tables, the median,
the event-log parser, and one short traced run from a foreign working
directory with a deliberately broken query.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, inputs, trace  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for r, _, fs in os.walk(d):
        for f in fs:
            with open(os.path.join(r, f), "rb") as fh:
                out[os.path.relpath(os.path.join(r, f), d)] = fh.read()
    return out


@pytest.mark.parametrize("kind", sorted(inputs.MAKERS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind):
    a = _tree_bytes(inputs.cached(kind, 5, str(tmp_path / "a")))
    b = _tree_bytes(inputs.cached(kind, 5, str(tmp_path / "b")))
    c = _tree_bytes(inputs.cached(kind, 6, str(tmp_path / "c")))
    assert a and a == b
    assert a != c


def test_benchmark_json_lists_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])


def test_median():
    assert harness.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    assert harness.median([3.0, 1.0, 2.0]) == 2.0


def test_event_log_parser_attributes_jobs_to_spans(tmp_path):
    d = tmp_path / "eventlog_v2_x"
    d.mkdir()
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "pb:0", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Accumulables": [
            {"Name": "data sent to Python workers", "Update": "70"}]},
         "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [1],
         "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    (d / "events_1_x").write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    jobs = trace.parse_event_log(str(tmp_path))
    spans = [{"id": 0, "start": 0.9, "end": 2.1}, {"id": 1, "start": 2.2, "end": 3.2}]
    c = trace.attribute(spans, jobs)
    assert c[0]["jobs"] == 1 and c[0]["stages"] == 1 and c[0]["tasks"] == 1
    assert c[0]["executor_run_s"] == 0.5 and c[0]["py_bytes"] == 70 and c[0]["shuffle_write_bytes"] == 64
    assert c[1]["jobs"] == 1  # untagged job: attributed by time window
    assert trace.uncovered((0.0, 4.0), [(j["submit"], j["end"]) for j in jobs]) == pytest.approx(2.5)


_RUN_SCRIPT = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, {root!r})
    from perfbench import run, workloads
    from pulsar_replay_spark import registry

    registry.load_all()

    def broken(spark, sf_dir):
        raise RuntimeError("deliberately broken query")

    queries = {{"semantic_decon_served": registry.QUERIES["semantic_decon_served"], "broken": broken}}
    wl = workloads.ContractSweep(3, run.harness.WORK + "/cache", run.harness.WORK + "/runs/test", queries=queries)
    wl.census = lambda spark, tr: {{}}
    wl.iterations = lambda seconds: 1
    result, details = run.run("contract_sweep", 3, 1, True, wl=wl)
    print(json.dumps({{"result": result, "details": details}}, default=float))
""")


def test_traced_run_from_another_cwd_counts_a_broken_query(tmp_path):
    """A Python-UDF query (its worker imports the package) succeeds from a
    foreign cwd with no PYTHONPATH; the broken query is counted as failed
    instead of aborting; the per-layer and end-to-end outputs are complete."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "-c", _RUN_SCRIPT.format(root=ROOT)], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    result, details = out["result"], out["details"]
    assert not result["correct"]
    assert result["failed"] >= 2 and result["attempted"] > result["failed"]
    assert all(e.startswith("broken:") for e in details["errors"])
    assert 0 < details["fail_frac"] < 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == PER_LAYER
    assert {k: v["unit"] for k, v in details["end_to_end"].items()} == END_TO_END
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in m.values())
    assert m["queries_llm.jobs"] > 0 and m["spark.jobs"] > 0 and m["spark.py_bytes"] > 0
    assert details["cpus"] == harness.cpu_count() == details["shuffle_partitions"]
