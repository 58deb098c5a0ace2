"""End-to-end runs of the benchmark command (Spark, about a minute)."""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=300)


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _run(tmp_path, "--workload", "catalog_mix", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "not found" in p.stderr


def test_every_catalog_op_gets_an_attributed_job_with_task_time():
    p = _run(ROOT, "--workload", "catalog_mix", "--seed", "7", "--seconds", "1",
             "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, "perfbench", "out", "trace-catalog_mix-seed7.json")) as fh:
        trace = json.load(fh)
    op_spans = {s["id"]: s["name"] for s in trace["spans"] if s["kind"] == "op"}
    parent = {s["id"]: s["parent"] for s in trace["spans"]}

    def op_of(span_id):
        while span_id is not None and span_id not in op_spans:
            span_id = parent[span_id]
        return op_spans.get(span_id)

    task_s = {}
    for job in trace["jobs"]:
        op = op_of(job["span"])
        if op is not None:
            task_s.setdefault(op, []).append(job["task_s"])
    assert set(op_spans.values()) == set(task_s)
    for op, times in task_s.items():
        assert any(t > 0 for t in times), op
    assert result["metrics"]["stream.batches"]["value"] > 0
