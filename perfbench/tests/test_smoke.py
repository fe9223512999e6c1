"""Short end-to-end runs of the benchmark command (the measured input
sizes, the fewest passes), and its refusals.

The two runs start Spark and take a few minutes together."""

import json
import os
import shutil
import subprocess
import sys

import metrics as M
from spans import Tracer
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")
CHECKS = {
    "pages": {"violations_per_keyword", "host_rows_sum", "dynamic_equals_variant",
              "suite_verdicts", "manifest_totals"},
    "ops": {f"oracle.{q}" for q in M.OPS},
}
BENCH = M.load()


def run(args, cwd=ROOT, timeout=900):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=timeout)


def result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_traced_run_reports_every_layer_metric_and_check():
    p = run(["--workload", "all", "--seed", "3", "--seconds", "1", "--trace", "1"])
    assert p.returncode == 0, p.stderr[-4000:]
    res = result(p)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    want = {f"{w}.{m['name']}" for w in WORKLOADS for m in BENCH["per_layer"]}
    assert set(res["metrics"]) == want
    for w in WORKLOADS:
        with open(os.path.join(ROOT, ".perfbench", "runs", f"{w}-seed3-trace1.json")) as f:
            rec = json.load(f)
        assert {c[0] for c in rec["checks"]} == CHECKS[w]
        assert all(c[1] for c in rec["checks"])
        assert rec["passes"]["traced"] >= 1 and rec["passes"]["untraced"] >= 1
        assert rec["notes"]["trace.overhead_s"].startswith("median of ")
    m = res["metrics"]
    assert m["pages.manifest.scan_ratio"]["value"] > 1
    assert m["pages.engine.violation_rows"]["value"] > 0
    assert m["pages.dynamic.python_bytes"]["value"] > 0
    assert m["ops.ops.pagerank_hosts_documents.build_jobs"]["value"] > 1
    assert m["pages.pages.partition_s_p50"]["value"] > 0
    assert 0 <= m["pages.trace.unattributed_share"]["value"] < 0.5


def test_untraced_run_reports_end_to_end_metrics():
    p = run(["--workload", "ops", "--seed", "4", "--seconds", "1", "--trace", "0"])
    assert p.returncode == 0, p.stderr[-4000:]
    res = result(p)
    assert res["correct"]
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert "failed_op_ratio 0.0000" in p.stderr


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__", "*.pyc"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(["--workload", "pages", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_a_mismatched_output_fails_its_check():
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import check_correctness as cc

    wl = WORKLOADS["ops"](None, os.path.join(ROOT, ".perfbench"), 1)
    rows = [(1, "a"), (2, "b")]
    wl.expect = {q: cc.value_hash(["id", "v"], rows) for q in wl.queries}
    wl.out = {q: (["id", "v"], list(rows)) for q in wl.queries}
    assert all(ok for _, ok, _ in wl.check(Tracer()))
    wl.out[wl.queries[0]] = (["id", "v"], [(1, "a"), (2, "c")])
    wl.out[wl.queries[1]] = None  # the operation raised
    assert [ok for _, ok, _ in wl.check(Tracer())] == [False, False]
