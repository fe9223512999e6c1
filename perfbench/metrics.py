"""What BENCHMARK.json cannot hold: the gated queries of the ``ops``
workload, and for every layer metric the end-to-end metric and workload
it should move. Names, units and bounds live in BENCHMARK.json only.

Layer metrics a workload does not exercise read 0 on that workload.
"""

from __future__ import annotations

import json
import os

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")

#: gated queries of the ``ops`` workload: the first spends its time in
#: the driver build (55 eager Spark jobs); the second runs no eager job and
#: splits its time between Column construction and executing interpreted
#: higher-order-function folds
OPS = ("pagerank_hosts_documents", "gopher_quality_documents")

_P = "pages"
_COL = f"columnar_docs_per_s on {_P}"
_DYN = f"dynamic_docs_per_s on {_P}"
_VAR = f"variant_docs_per_s on {_P}"
_SUITE = f"suite_s on {_P}"
_PASS = f"pass_cpu_s on {_P}"
_PART = f"partition_s_p50 and {_PASS}"
_BUILD = "pass_cpu_s on ops (build phase); flat on pages and in ops.exec_s"
_EXEC = "pass_cpu_s on ops (execution phase); flat on pages and in ops.build_s"
_ALL = "pass_cpu_s on every workload"

#: layer metric -> the end-to-end metric (and workload) it should move
MOVES = {
    "compiler.compile_columnar_s": _COL,
    "compiler.compile_dynamic_s": f"{_DYN}; flat on ops",
    "compiler.compile_variant_s": _VAR,
    "compiler.kernel_docs_per_s": f"{_DYN}; flat on ops",
    "columnar.build_s": _COL,
    "columnar.plan_s": _COL,
    "columnar.exec_s": _COL,
    "columnar.exec_cpu_s": _COL,
    "columnar.input_bytes": _COL,
    "dynamic.exec_s": _DYN,
    "dynamic.exec_cpu_s": _DYN,
    "dynamic.python_bytes": _DYN,
    "variant.build_s": _VAR,
    "variant.exec_s": _VAR,
    "engine.violations_write_s": _COL,
    "engine.violation_rows": _COL,
    "engine.bytes_written": _COL,
    "scale.per_host_verdicts_s": _PASS,
    "scale.shuffle_write_bytes": _PASS,
    "suite.run_s": _SUITE,
    "suite.jobs": _SUITE,
    "suite.stages": _SUITE,
    "table_checks.null_rates_s": _SUITE,
    "table_checks.uniqueness_summary_s": _SUITE,
    "table_checks.referential_summary_s": _SUITE,
    "table_checks.chi_square_stat_s": _SUITE,
    "table_checks.shuffle_write_bytes": _SUITE,
    "table_checks.spill_bytes": _SUITE,
    "manifest.partition_jobs": _PART,
    "manifest.scan_ratio": _PART,
    "pages.columnar_docs_per_s": _PASS,
    "pages.dynamic_docs_per_s": _PASS,
    "pages.variant_docs_per_s": _PASS,
    "pages.suite_s": _PASS,
    "pages.partition_s_p50": _PASS,
    "pages.partition_s_tail": _PASS,
    "sources.generate_s": "setup_s on every workload",
    **{f"ops.{q}.{k}": _BUILD for q in OPS for k in ("build_s", "build_jobs")},
    **{f"ops.{q}.{k}": _EXEC for q in OPS
       for k in ("plan_s", "exec_s", "exec_jobs", "shuffle_bytes")},
    "ops.build_s": _BUILD,
    "ops.build_jobs": _BUILD,
    "ops.exec_s": _EXEC,
    "spark.jobs": _ALL,
    "spark.stages": _ALL,
    "spark.tasks": _ALL,
    "spark.failed_tasks": _ALL,
    "spark.task_skew": _ALL,
    "trace.overhead_s": "none (traced minus untraced pass wall time)",
    "trace.unattributed_share": "none (pass time outside layer spans)",
}


def load() -> dict:
    """BENCHMARK.json, plus ``units``: {metric name: unit}."""
    with open(BENCHMARK) as f:
        bench = json.load(f)
    bench["units"] = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    return bench
