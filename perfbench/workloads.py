"""The benchmark's workloads: inputs, one pass, output checks and the
layer metrics each derives from its spans.

A pass is one closed-loop round of operations, each started when the
previous one completes. Every call into a module of the program runs
inside a span named after that module (see spans.py).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import time
import traceback
from collections import Counter

import datagen
import metrics as M
from spans import percentile, tail_percentile

#: input sizes
SIZES = {
    "pages": {"n_rows": 20_000, "n_days": 2, "n_slice": 3_000},
    "ops": {"documents": 500},
}


#: the table_checks functions CheckSuite composes, called directly once
#: per traced run
TABLE_CHECKS = ("null_rates", "uniqueness_summary", "referential_summary", "chi_square_stat")


def multiset_hash(rows) -> str:
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()[:16]


class Workload:
    """One workload. ``run_pass`` opens spans on the tracer it is given;
    ``check`` compares what the pass produced against expectations and
    returns [(check, ok, detail)]."""

    name = ""

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = os.path.join(work_dir, self.name)
        self.seed = seed
        self.size = SIZES[self.name]
        self.failed_ops = 0
        self.attempted_ops = 0
        self.out: dict = {}

    def _attempt(self, fn, *args):
        """Run one operation; a raising operation counts as failed."""
        self.attempted_ops += 1
        try:
            return fn(*args)
        except Exception:
            self.failed_ops += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def generate(self) -> float:
        raise NotImplementedError

    def prepare(self) -> None:
        """Expected outputs; runs once after generation, untimed."""

    def run_pass(self, tr) -> None:
        raise NotImplementedError

    def check(self, tr) -> list:
        raise NotImplementedError

    def probes(self, tr) -> None:
        """Direct layer calls made once per traced run, outside passes."""

    def layer_metrics(self, view) -> dict:
        raise NotImplementedError


# ----------------------------------------------------------------- pages


class Pages(Workload):
    name = "pages"

    def generate(self) -> float:
        t0 = time.perf_counter()
        self.bytes = datagen.pages_tables(
            self.spark, self.dir, self.seed, self.size["n_rows"],
            self.size["n_days"], self.size["n_slice"])
        return time.perf_counter() - t0

    def prepare(self) -> None:
        from schema_fantasy_spark.sources.pages import expected_violation_ids

        n, n_slice = self.size["n_rows"], self.size["n_slice"]
        n_new = n // 20  # snapshot_pair's default
        exp = expected_violation_ids(n)
        self.expect_keywords = {
            "pattern": len(exp["bad_url"]), "minLength": len(exp["empty_text"]),
            "required": len(exp["null_text"]), "maximum": len(exp["future_ts"]),
            "enum": len(exp["bad_lang"]),
        }
        in_slice = lambda ids: sum(1 for i in ids if i < n_slice)  # noqa: E731
        self.expect_json_keywords = {
            "pattern": in_slice(exp["bad_url"]), "minLength": in_slice(exp["empty_text"]),
            "required": in_slice(exp["null_text"]), "enum": in_slice(exp["bad_lang"]),
        }
        self.expect_invalid = sum(self.expect_keywords.values())
        nxt_ids = set(i for i in range(n) if i % 211 != 0) | set(range(n, n + n_new))
        exp_n = expected_violation_ids(n + n_new)
        bad = set().union(*(exp_n[k] for k in
                            ("bad_url", "empty_text", "null_text", "future_ts", "bad_lang")))
        self.expect_suite = {
            "schema": (True, len(bad & nxt_ids) / len(nxt_ids)),
            "null_rate(lang)": (True, len(set(exp_n["null_lang"]) & nxt_ids) / len(nxt_ids)),
            "unique(url)": (False, float(sum(
                1 for i in exp_n["dup_url"] if i in nxt_ids and i - 1 in nxt_ids))),
            "referential(url)": (False, float(n_new)),
            "chi_square_drift(lang)": (False, None),
        }
        # days of the generated range plus the injected future day
        self.expect_days = self.size["n_days"] + (1 if exp["future_ts"] else 0)
        self._reset_manifest()

    def _paths(self, name):
        return os.path.join(self.dir, name)

    def _reset_manifest(self):
        for d in ("manifest", "manifest_violations"):
            shutil.rmtree(self._paths(d), ignore_errors=True)

    # one pass ------------------------------------------------------------

    def run_pass(self, tr) -> None:
        from pyspark.sql import functions as F

        with tr.span("sources.read"):
            read = self.spark.read.parquet
            self.base, self.nxt, self.js = (
                read(self._paths(k)) for k in ("base", "next", "json"))
            self.by_day = self.base.withColumn("day", F.to_date("warc_ts"))
        self.out = {}
        for op in (self._columnar, self._hosts, self._dynamic, self._variant,
                   self._suite, self._manifest):
            self.out[op.__name__] = self._attempt(op, tr)

    def _columnar(self, tr):
        from schema_fantasy_spark.engine import ValidationEngine
        from schema_fantasy_spark.sources.pages import PAGES_SCHEMA

        with tr.span("pages.columnar"):
            with tr.span("compiler.compile_columnar"):
                eng = ValidationEngine(PAGES_SCHEMA)
            with tr.span("columnar.build"):
                self.validated = eng.apply(self.base)
            with tr.span("engine.violations_build"):
                viol = ValidationEngine.violations(self.validated, ["id"])
            with tr.span("columnar.plan"):
                viol._jdf.queryExecution().executedPlan()
            with tr.span("engine.violations_write"):
                viol.write.mode("overwrite").parquet(self._paths("violations"))
        return True

    def _hosts(self, tr):
        from schema_fantasy_spark.scale import per_host_verdicts

        with tr.span("pages.hosts"):
            with tr.span("scale.per_host_verdicts"):
                rows = per_host_verdicts(self.validated).collect()
        return [(r["n_rows"], r["n_invalid"]) for r in rows]

    def _json_mode(self, tr, mode):
        from schema_fantasy_spark.engine import ValidationEngine

        with tr.span(f"pages.{mode}"):
            # the variant mode compiles in its constructor; the dynamic
            # mode compiles inside apply(), so under dynamic.build
            if mode == "variant":
                with tr.span("compiler.compile_variant"):
                    eng = ValidationEngine(datagen.json_pages_schema(), mode=mode)
            else:
                eng = ValidationEngine(datagen.json_pages_schema(), mode=mode)
            with tr.span(f"{mode}.build"):
                v = ValidationEngine.violations(eng.apply(self.js, doc_col="doc"), ["id"])
            with tr.span(f"{mode}.exec"):
                rows = v.select("id", "keyword", "path", "message").collect()
        return [(r["id"], r["keyword"], "/".join(r["path"]), r["message"]) for r in rows]

    def _dynamic(self, tr):
        return self._json_mode(tr, "dynamic")

    def _variant(self, tr):
        return self._json_mode(tr, "variant")

    def _suite(self, tr):
        from schema_fantasy_spark import table_checks as tc
        from schema_fantasy_spark.sources.pages import PAGES_SCHEMA
        from schema_fantasy_spark.suite import CheckSuite

        with tr.span("pages.suite"):
            with tr.span("suite.build"):
                suite = (
                    CheckSuite(schema=PAGES_SCHEMA, id_cols=("id",))
                    .with_max_invalid_rate(0.05)
                    .with_null_rate("lang", 0.05)
                    .with_uniqueness(["url"])
                    .with_referential(self.base.select("url"), "url")
                    .with_categorical_drift(
                        "lang", tc.group_histogram(self.base, "lang"), max_chi_square=50.0)
                )
            with tr.span("suite.run"):
                report = suite.run(self.nxt)
        return {r.check: (r.passed, r.metric) for r in report.results}

    def _manifest(self, tr):
        from schema_fantasy_spark.engine import ValidationEngine
        from schema_fantasy_spark.manifest import ResumableValidationRun
        from schema_fantasy_spark.sources.pages import FUTURE_TS, PAGES_SCHEMA

        with tr.span("pages.manifest"):
            with tr.span("compiler.compile_columnar"):
                eng = ValidationEngine(PAGES_SCHEMA)
            run = ResumableValidationRun(
                eng, self._paths("manifest"), "day",
                violations_dir=self._paths("manifest_violations"), id_cols=("id",))
            with tr.span("manifest.run"):
                # one span per partition, cut at the run's completion hook;
                # the first also holds the partition listing job, and the
                # day of the injected future timestamps gets its own name
                cur = [tr.open("manifest.partition")]

                def on_partition(part):
                    if part == FUTURE_TS[:10]:
                        cur[0].name = "manifest.partition_injected"
                    tr.close(cur[0])
                    cur[0] = tr.open("manifest.partition")

                try:
                    first = run.run(self.by_day, on_partition=on_partition)
                finally:
                    cur[0].name = "manifest.summary"
                    tr.close(cur[0])
            with tr.span("manifest.resume"):
                again = run.run(self.by_day)
        return {"summary": first.summary, "processed": len(first.processed),
                "resumed": len(again.processed), "skipped": len(again.skipped)}

    # checks ----------------------------------------------------------------

    def check(self, tr) -> list:
        o, n = self.out, self.size["n_rows"]
        res = []
        with tr.span("check.columnar"):
            got = None
            if o.get("_columnar"):
                got = {r["keyword"]: r["count"] for r in self.spark.read.parquet(
                    self._paths("violations")).groupBy("keyword").count().collect()}
        res.append(("violations_per_keyword", got == self.expect_keywords,
                    f"{got} vs {self.expect_keywords}"))
        hosts = o.get("_hosts")
        res.append(("host_rows_sum", hosts is not None
                    and sum(h[0] for h in hosts) == n
                    and sum(h[1] for h in hosts) == self.expect_invalid,
                    f"{len(hosts or [])} hosts"))
        dyn, var = o.get("_dynamic"), o.get("_variant")
        dyn_kw = dict(Counter(r[1] for r in dyn)) if dyn is not None else None
        res.append(("dynamic_equals_variant", dyn is not None and var is not None
                    and multiset_hash(dyn) == multiset_hash(var)
                    and dyn_kw == self.expect_json_keywords,
                    f"{dyn_kw} vs {self.expect_json_keywords}"))
        suite = o.get("_suite")
        ok = suite is not None and set(suite) == set(self.expect_suite)
        for k, (passed, metric) in self.expect_suite.items():
            if not ok:
                break
            ok = suite[k][0] == passed and (
                metric is None or math.isclose(suite[k][1], metric, rel_tol=1e-9))
        res.append(("suite_verdicts", ok, f"{suite}"))
        man = o.get("_manifest")
        res.append(("manifest_totals", man is not None
                    and man["summary"]["n_rows"] == n
                    and man["summary"]["n_invalid"] == self.expect_invalid
                    and man["processed"] == self.expect_days
                    and man["resumed"] == 0 and man["skipped"] == self.expect_days,
                    f"{man}"))
        self._reset_manifest()
        return res

    # probes ----------------------------------------------------------------

    def probes(self, tr) -> None:
        import pyarrow.parquet as pq

        from schema_fantasy_spark import table_checks as tc
        from schema_fantasy_spark.compiler.plan import compile_schema

        schema = datagen.json_pages_schema()
        for _ in range(3):
            with tr.span("compiler.compile_dynamic"):
                compiled = compile_schema(schema)
        docs = [json.loads(d) for d in
                pq.read_table(self._paths("json"), columns=["doc"]).column("doc").to_pylist()]
        validate = compiled.validate
        for _ in range(3):
            with tr.span("compiler.kernel"):
                for d in docs:
                    validate(d)
        calls = {
            "null_rates": lambda: tc.null_rates(self.nxt, ["lang", "text"]),
            "uniqueness_summary": lambda: tc.uniqueness_summary(self.nxt, ["url"]),
            "referential_summary": lambda: tc.referential_summary(
                self.nxt, self.base.select("url"), "url", broadcast_parent=True),
            "chi_square_stat": lambda: tc.chi_square_stat(
                tc.group_histogram(self.nxt, "lang"), tc.group_histogram(self.base, "lang")),
        }
        for name, build in calls.items():
            with tr.span(f"table_checks.{name}"):
                build().collect()

    # metrics ---------------------------------------------------------------

    def layer_metrics(self, v) -> dict:
        n, n_slice = self.size["n_rows"], self.size["n_slice"]
        parts = v.untraced_partitions()
        tail = tail_percentile(len(parts))
        m = {
            "compiler.compile_columnar_s": v.traced("compiler.compile_columnar"),
            "compiler.compile_dynamic_s": v.probe("compiler.compile_dynamic"),
            "compiler.compile_variant_s": v.traced("compiler.compile_variant"),
            "compiler.kernel_docs_per_s": n_slice / v.probe("compiler.kernel"),
            "columnar.build_s": v.traced("columnar.build"),
            "columnar.plan_s": v.traced("columnar.plan"),
            "columnar.exec_s": v.traced("engine.violations_write", "run_s"),
            "columnar.exec_cpu_s": v.traced("engine.violations_write", "cpu_s"),
            "columnar.input_bytes": v.traced("engine.violations_write", "scan_bytes"),
            "dynamic.exec_s": v.traced("dynamic.exec"),
            "dynamic.exec_cpu_s": v.traced("dynamic.exec", "cpu_s"),
            "dynamic.python_bytes": v.traced("dynamic.exec", "python_bytes"),
            "variant.build_s": v.traced("variant.build"),
            "variant.exec_s": v.traced("variant.exec"),
            "engine.violations_write_s": v.traced("engine.violations_write"),
            "engine.violation_rows": v.traced("engine.violations_write", "output_records"),
            "engine.bytes_written": v.traced("engine.violations_write", "output_bytes"),
            "scale.per_host_verdicts_s": v.traced("scale.per_host_verdicts"),
            "scale.shuffle_write_bytes": v.traced("scale.per_host_verdicts", "shuffle_write_bytes"),
            "suite.run_s": v.traced("suite.run"),
            "suite.jobs": v.traced("suite.run", "jobs"),
            "suite.stages": v.traced("suite.run", "stages"),
            "table_checks.shuffle_write_bytes": sum(
                v.probe(f"table_checks.{c}", "shuffle_write_bytes") for c in TABLE_CHECKS),
            "table_checks.spill_bytes": sum(
                v.probe(f"table_checks.{c}", "spill_bytes") for c in TABLE_CHECKS),
            "manifest.partition_jobs": v.traced("manifest.run", "jobs") / max(1, self.expect_days),
            "manifest.scan_ratio": v.traced("manifest.run", "scan_bytes") / self.bytes["base"],
            "pages.columnar_docs_per_s": n / v.untraced("pages.columnar"),
            "pages.dynamic_docs_per_s": n_slice / v.untraced("pages.dynamic"),
            "pages.variant_docs_per_s": n_slice / v.untraced("pages.variant"),
            "pages.suite_s": v.untraced("pages.suite"),
            "pages.partition_s_p50": percentile(parts, 50) if parts else 0.0,
            "pages.partition_s_tail": percentile(parts, tail) if parts else 0.0,
        }
        for c in TABLE_CHECKS:
            m[f"table_checks.{c}_s"] = v.probe(f"table_checks.{c}")
        v.note("pages.partition_s_tail", f"p{tail:g} of {len(parts)} partitions")
        v.note("pages.partition_s_p50", f"p50 of {len(parts)} partitions")
        return m


# ------------------------------------------------------------------- ops


class Ops(Workload):
    """Gated queries from ``__spark_entry__.queries()``; each output's
    value hash must equal its DuckDB ``oracle_sql()`` hash."""

    name = "ops"
    queries = M.OPS

    def generate(self) -> float:
        t0 = time.perf_counter()
        self.bytes = datagen.ops_tables(self.dir, self.seed, self.size)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        import check_correctness as cc
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.size:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            self.expect = {}
            for q in self.queries:
                res = con.sql(oracles[q])
                cols = [c.lower() for c in res.columns]
                rows = [tuple(cc._coerce(x) for x in r)
                        for r in res.df().itertuples(index=False)]
                self.expect[q] = cc.value_hash(cols, rows)
        finally:
            con.close()
        self.fns = entry.queries()

    def run_pass(self, tr) -> None:
        self.out = {q: self._attempt(self._query, tr, q) for q in self.queries}

    def _query(self, tr, q):
        with tr.span(f"ops.{q}"):
            with tr.span(f"ops.{q}.build"):
                df = self.fns[q](self.spark, self.dir)
            with tr.span(f"ops.{q}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span(f"ops.{q}.exec"):
                rows = [tuple(r) for r in df.collect()]
        return [c.lower() for c in df.columns], rows

    def check(self, tr) -> list:
        import check_correctness as cc

        res = []
        with tr.span("check.oracle"):
            for q in self.queries:
                got = self.out.get(q)
                h = cc.value_hash(*got) if got is not None else None
                res.append((f"oracle.{q}", h == self.expect[q], f"{h} vs {self.expect[q]}"))
        return res

    def layer_metrics(self, v) -> dict:
        m = {}
        for q in self.queries:
            m[f"ops.{q}.build_s"] = v.traced(f"ops.{q}.build")
            m[f"ops.{q}.build_jobs"] = v.traced(f"ops.{q}.build", "jobs")
            m[f"ops.{q}.plan_s"] = v.traced(f"ops.{q}.plan")
            m[f"ops.{q}.exec_s"] = v.traced(f"ops.{q}.exec")
            m[f"ops.{q}.exec_jobs"] = v.traced(f"ops.{q}.exec", "jobs")
            m[f"ops.{q}.shuffle_bytes"] = v.traced(f"ops.{q}", "shuffle_write_bytes")
        m["ops.build_s"] = sum(m[f"ops.{q}.build_s"] for q in self.queries)
        m["ops.build_jobs"] = sum(m[f"ops.{q}.build_jobs"] for q in self.queries)
        m["ops.exec_s"] = sum(m[f"ops.{q}.exec_s"] for q in self.queries)
        return m


WORKLOADS = {w.name: w for w in (Pages, Ops)}
