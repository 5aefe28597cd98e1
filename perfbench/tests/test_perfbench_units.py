"""Self-tests of the benchmark that need no Spark session."""

from __future__ import annotations

import copy
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import compare, gate, layers, spark_rest
from perfbench.run import result_line
from perfbench.workloads import WORKLOADS

ROOT = Path(__file__).resolve().parents[2]
DATA = Path(__file__).resolve().parent / "data"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark():
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def _record(trace: int) -> dict:
    values = {n: 1.0 for n, *_ in layers.END_TO_END + layers.PER_LAYER}
    return {"trace": trace, "gate": {"attempted": 10, "failed": 0},
            "metrics": values, "per_layer": values}


@pytest.mark.parametrize("trace,key", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_match_benchmark_json(trace, key):
    line = result_line(_record(trace))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    listed = {m["name"]: m["unit"] for m in _benchmark()[key]}
    printed = {n: m["unit"] for n, m in line["metrics"].items()}
    assert printed == listed
    assert all(NAME_RE.match(n) for n in printed)


def test_benchmark_json_matches_layer_table():
    bench = _benchmark()
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == layers.END_TO_END
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == layers.PER_LAYER
    prefixes = {p["prefix"] for p in layers.PREDICTIONS}
    for name, *_ in layers.PER_LAYER:
        assert name.split(".")[0] + "." in prefixes, name
    listed = {w["name"] for w in bench["workloads"]}
    assert listed <= set(WORKLOADS)
    for row in layers.PREDICTIONS:
        assert set(row["flat_on"]) <= set(WORKLOADS)


def _docs():
    span = lambda kind, text, off: {  # noqa: E731
        "kind": kind, "text": text,
        "media_ref": "" if kind == "text" else f"media://{off}", "offset": off}
    return {
        "a": [span("image", "", 0), span("text", "<b>x</b>", 1),
              span("text", "<p>y</p>", 2)],
        "b": [span("text", "<i>z</i>", 0)],
    }


def _sanitized(docs):
    out = copy.deepcopy(docs)
    for spans in out.values():
        for s in spans:
            if s["kind"] == "text":
                s["text"] = s["text"].upper()
    return out


def test_gate_passes_clean_output():
    inp = _docs()
    out = _sanitized(inp)
    assert gate.span_invariants(inp, out) == set()
    assert gate.text_mismatches(inp, out, inp, str.upper) == set()


def test_gate_catches_swapped_spans():
    inp = _docs()
    out = _sanitized(inp)
    out["a"][0], out["a"][1] = out["a"][1], out["a"][0]
    assert gate.span_invariants(inp, out) == {"a"}


def test_gate_catches_altered_text():
    inp = _docs()
    out = _sanitized(inp)
    out["b"][0]["text"] = "<I>Z</I> "
    assert gate.span_invariants(inp, out) == set()
    assert gate.text_mismatches(inp, out, inp, str.upper) == {"b"}


def test_gate_catches_missing_doc_and_count():
    inp = _docs()
    out = _sanitized(inp)
    del out["b"]
    out["a"].pop()
    assert gate.span_invariants(inp, out) == {"a", "b"}


def test_dedup_invariants():
    ok = {"n_input": 10, "n_removed": 7, "n_survivors": 3}
    assert gate.dedup_invariants(ok, 10, 5) == []
    assert gate.dedup_invariants({**ok, "n_removed": 6}, 10, 5)
    assert gate.dedup_invariants({**ok, "n_removed": 9, "n_survivors": 1},
                                 10, 5)


def test_rest_parses_recorded_sql_payload():
    with open(DATA / "sql_details.json") as fh:
        executions = json.load(fh)
    py = spark_rest.python_node_totals(executions)
    assert py["nodes"] == 3
    assert py["py_run_s"] == pytest.approx(9.6)
    assert py["py_init_s"] == pytest.approx(14.8)
    assert py["py_start_s"] == pytest.approx(1.5)
    assert py["to_py_mb"] == pytest.approx(117.5 / 1024)
    assert py["from_py_mb"] == pytest.approx(75.3 / 1024)
    assert py["rows"] == 351
    assert py["stages"] == [((124, 0), pytest.approx(9.6))]


def test_rest_parses_recorded_executors_payload():
    with open(DATA / "executors.json") as fh:
        executors = json.load(fh)
    assert spark_rest.jvm_heap_peak_mb(executors) == pytest.approx(
        100590080 / 2**20)


@pytest.mark.parametrize("text,value", [
    ("2,973", 2973), ("45 ms", 0.045), ("3.3 KiB", 3.3 * 1024),
    ("0.0 B", 0), ("1.5 m", 90),
    ("total (min, med, max (stageId: taskId))\n"
     "503.7 MiB (16.2 MiB, 16.2 MiB, 16.2 MiB (stage 135.0: task 9))",
     503.7 * 2**20),
])
def test_rest_metric_values(text, value):
    assert spark_rest.parse_metric_value(text) == pytest.approx(value)


def test_rest_stage_and_task_payloads():
    with open(DATA / "stages.json") as fh:
        stages = json.load(fh)
    with open(DATA / "tasks.json") as fh:
        tasks = json.load(fh)
    st = spark_rest.stage_totals(stages)
    assert st["shuffle_records"] == sum(s["shuffleWriteRecords"] for s in stages)
    assert st["run_s"] == pytest.approx(
        sum(s["executorRunTime"] for s in stages) / 1e3)
    times = sorted(t["taskMetrics"]["executorRunTime"] for t in tasks)
    skew = spark_rest.task_skew(tasks)
    assert skew >= 1.0
    assert skew == pytest.approx(times[-1] / statistics.median(times))


def _rec(seed, content, value):
    return {"workload": "w", "seed": seed, "trace": 0,
            "input": {"content_hash": content},
            "metrics": {"docs_per_s": value, "setup_s": 1.0,
                        "peak_worker_rss_mb": 1.0}}


def test_compare_refuses_differing_inputs():
    a = [_rec(1, "x", 10.0), _rec(2, "y", 11.0)]
    b = [_rec(1, "x", 10.0), _rec(2, "z", 11.0)]
    with pytest.raises(SystemExit, match="fingerprints differ"):
        compare.compare(a, b)
    lines, ok = compare.compare(a, copy.deepcopy(a))
    assert ok and len(lines) == len(layers.END_TO_END)


def test_exits_nonzero_without_the_package(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text(
        (ROOT / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "skew_ckpt",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
