"""Run one benchmark workload against the schema_fantasy_spark program.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Run from the repository root. One driver process starts Spark on
``local[N]`` with N = the host's usable cores, generates the seeded inputs,
runs warm-up passes, then runs passes in a closed loop (one client, each
operation starting when the previous one completes). Every pass's outputs
are checked. A run measures a fixed number of passes, ``--seconds``
divided by the workload's nominal pass time (at least three), so that
every run measures the same passes of the JVM's warm-up whatever the
speed of the host.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` interleaves
untraced and traced passes in the order U T T U U T T U ... (traced: a
Spark job group per span, the status tracker and the event log) and
reports the per-layer metrics. ``--workload all`` runs each workload in
a Spark session of its own, one after the other, so that each reports
what it would report alone.
The last line of stdout is the JSON result; everything else goes to
stderr and to ``.perfbench/runs/``. Exit code 1 means an output check
or an operation failed; 2 means the program is not there to run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = ("schema_fantasy_spark/__init__.py", "__spark_entry__.py",
            "tools/check_correctness.py")
#: a run that would pass this many seconds stops after the pass in hand,
#: so that a very slow host cannot push it over its time limit
BUDGET_S = 150.0
#: data set-ups per run; setup_s takes their median
SETUP_REPEATS = 3
#: unmeasured passes before the closed loop (counted in setup_s). The
#: first pass runs on a cold JVM and takes two to three times as long as
#: later ones, and the JVM's compiler threads keep taking up to two of the
#: four cores for the next half minute. ``ops`` generates its inputs in
#: milliseconds, so it can spend on warm-up what ``pages`` spends on
#: generating its inputs
WARMUP_PASSES = {"pages": 1, "ops": 2}
#: passes per run at the least, untraced and traced
MIN_PASSES = {False: 3, True: 4}
#: a pass's wall time on the 4-core host the benchmark was tuned on; a
#: run measures round(--seconds / this) passes. The count is fixed, not
#: the time: a pass keeps getting faster for a minute or more while the
#: JVM compiles its code, so a run that fitted more passes into its
#: seconds on a fast host would report a later, faster stretch of that
#: warm-up than a run on a slow host
NOMINAL_PASS_S = {"pages": 7.0, "ops": 5.5}

import metrics as M  # noqa: E402
from spans import RunView, Tracer, median, parse_event_log, self_times, span_stage_metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCH = M.load()
UNITS = BENCH["units"]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_cpu_s() -> float:
    """User and system CPU seconds of this process and of every process
    below it (the JVM, the Python workers Spark starts), children that
    have already exited and been waited for included."""
    parent, own = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        parent.setdefault(int(fields[1]), []).append(int(pid))
        own[int(pid)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += own.get(pid, 0)
        todo += parent.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


class Session:
    """The Spark session and the JVM process behind it."""

    def __init__(self, work: str, trace: bool):
        from schema_fantasy_spark.session import get_spark

        # peak RSS counts from here: reset this process's high-water mark
        # (a no-op for the first session of a run, which starts small)
        try:
            with open("/proc/self/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass
        tmp = os.path.join(work, "tmp")
        self.event_dir = os.path.join(work, "eventlog")
        shutil.rmtree(self.event_dir, ignore_errors=True)
        for d in (tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # keep every temporary file inside the work directory
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # no JVM of the run, the launcher included, writes performance-data
        # files to the system temporary directory
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        conf = {
            # a fixed-size heap: the JVM's resident size then follows the
            # work, not when the collector chose to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=cores(), extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        from pyspark import SparkContext

        self.proc = SparkContext._gateway.proc

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb() + vm_hwm_mb(self.proc.pid)

    def stop(self) -> list:
        """Stop Spark, wait for the JVM to exit; return event-log lines."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        self.proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        lines = []
        for name in sorted(os.listdir(self.event_dir)):
            with open(os.path.join(self.event_dir, name)) as f:
                lines += f.readlines()
        return lines


def run_workload(name, session, work, args, t_begin) -> dict:
    wl = WORKLOADS[name](session.spark, work, args.seed)
    sc = session.spark.sparkContext
    gens = [wl.generate() for _ in range(SETUP_REPEATS)]
    wl.prepare()
    tr = Tracer(name)
    checks = []
    cpu_s = {}

    def one_pass(pass_id, traced):
        tr.pass_id = pass_id
        tr.spark_context = sc if traced else None
        c0 = tree_cpu_s()
        root = tr.open("pass")
        try:
            wl.run_pass(tr)
        finally:
            tr.close(root)
        cpu_s[pass_id] = tree_cpu_s() - c0
        tr.spark_context = None
        checks.extend(wl.check(tr))
        return root.duration

    warm_s = sum(one_pass(-1, False) for _ in range(WARMUP_PASSES[name]))
    setup_s = session.start_s + median(gens) + warm_s

    trace = bool(args.trace)
    n_passes = max(MIN_PASSES[trace], round(args.seconds / NOMINAL_PASS_S[name]))
    if trace:
        n_passes = 4 * math.ceil(n_passes / 4)
    traced, untraced = [], []
    i = 0
    while True:
        # U T T U: each adjacent pair (2k, 2k+1) holds one pass of each
        # kind, and which runs first alternates, so a drift in speed over
        # the run (JIT warm-up) cancels out of the paired differences
        is_traced = trace and i % 4 in (1, 2)
        last = one_pass(i, is_traced)
        (traced if is_traced else untraced).append(i)
        i += 1
        now = time.perf_counter()
        if i == n_passes:
            break
        if now - t_begin + 1.5 * last > BUDGET_S:
            print(f"perfbench: {name}: time budget reached after {i} passes",
                  file=sys.stderr)
            break
    if trace:
        tr.pass_id = None
        wl.probes(tr)
    attempted = wl.attempted_ops + len(checks)
    failed = wl.failed_ops + sum(1 for c in checks if not c[1])
    return {
        "wl": wl, "tracer": tr, "traced": traced, "untraced": untraced, "cpu_s": cpu_s,
        "gens": gens, "warm_s": warm_s, "setup_s": setup_s, "checks": checks,
        "attempted": attempted, "failed": failed, "session_s": session.start_s,
    }


def end_to_end(r, rss) -> dict:
    passes = [r["cpu_s"][i] for i in r["untraced"]]
    return {
        # CPU time, not wall time: on a shared host the wall time of the
        # same pass swings by half for minutes at a time (CPU stolen by
        # other tenants, slow wake-ups of idle cores) while the CPU time
        # it takes moves far less
        "pass_cpu_s": (median(passes), len(passes)),
        "setup_s": (r["setup_s"], 1),
        "peak_rss_mb": (rss, 1),
    }


def per_layer(r, log) -> dict:
    spans = r["tracer"].spans
    stage_metrics = span_stage_metrics(log, r["tracer"])
    view = RunView(spans, r["traced"], r["untraced"], stage_metrics)
    out = {m["name"]: 0.0 for m in BENCH["per_layer"]}
    out.update(r["wl"].layer_metrics(view))
    out["sources.generate_s"] = median(r["gens"])

    selfs = self_times(spans)
    per = {k: [] for k in ("jobs", "stages", "tasks", "failed_tasks", "task_skew")}
    shares = []
    for root in view.roots(view.traced_passes):
        tree = view.subtree(root)
        ids = {s.span_id for s in tree}
        stages = [stage_metrics[s] for s in ids]
        task_ms = [t for st in stages for t in st["task_ms"]]
        per["jobs"].append(view.value(root, "jobs"))
        per["stages"].append(view.value(root, "stages"))
        per["tasks"].append(sum(st["tasks"] for st in stages))
        per["failed_tasks"].append(sum(st["failed_tasks"] for st in stages))
        per["task_skew"].append(
            max(task_ms) / max(1.0, statistics.median(task_ms)) if task_ms else 0.0)
        shares.append(selfs[root.span_id] / root.duration)
    out.update({f"spark.{k}": median(v) for k, v in per.items()})
    out["trace.unattributed_share"] = median(shares)
    overhead = view.trace_overhead()
    out["trace.overhead_s"] = median(overhead)
    view.note("trace.overhead_s", f"median of {len(overhead)} paired differences")
    unknown = set(out) - set(UNITS)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    r["view"] = view
    return out


def record(path, name, r, metrics, samples, args) -> None:
    wl = r["wl"]
    doc = {
        "workload": name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sizes": wl.size, "input_bytes": wl.bytes,
        "nproc": cores(), "loadavg": loadavg(),
        "setup": {"session_s": r["session_s"], "generate_s": r["gens"], "warmup_s": r["warm_s"]},
        "passes": {"untraced": len(r["untraced"]), "traced": len(r["traced"])},
        "pass_s": {kind: [s.duration for s in r["tracer"].spans
                          if s.name == "pass" and s.pass_id in r[kind]]
                   for kind in ("untraced", "traced")},
        "pass_cpu_s": {kind: [r["cpu_s"][i] for i in r[kind]]
                       for kind in ("untraced", "traced")},
        "checks": [list(c) for c in r["checks"]],
        "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": UNITS[k], "samples": samples.get(k)}
                    for k, v in metrics.items()},
    }
    if "view" in r:
        view = r["view"]
        doc["notes"] = view.notes
        selfs = self_times(r["tracer"].spans)
        doc["self_s"] = {}
        for root in view.roots(view.traced_passes):
            for s in view.subtree(root):
                doc["self_s"][s.name] = doc["self_s"].get(s.name, 0.0) + selfs[s.span_id]
        r["tracer"].dump(path.replace(".json", "-spans.json"))
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    work = os.path.join(ROOT, ".perfbench")
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    print(f"perfbench: nproc={cores()} loadavg={loadavg()} workloads={names} "
          f"seed={args.seed} trace={args.trace}", file=sys.stderr)
    out, attempted, failed = {}, 0, 0
    for idx, name in enumerate(names):
        start = t_begin if idx == 0 else time.perf_counter()
        session = Session(work, bool(args.trace))
        try:
            r = run_workload(name, session, work, args, start)
            rss = session.peak_rss_mb()
        finally:
            log = session.stop()
        attempted += r["attempted"]
        failed += r["failed"]
        if args.trace:
            metrics, samples = per_layer(r, parse_event_log(log)), {}
        else:
            e2e = end_to_end(r, rss)
            metrics = {k: v for k, (v, _) in e2e.items()}
            samples = {k: n for k, (_, n) in e2e.items()}
        record(os.path.join(runs, f"{name}-seed{args.seed}-trace{args.trace}.json"),
               name, r, metrics, samples, args)
        for c in r["checks"]:
            if not c[1]:
                print(f"perfbench: {name}: CHECK FAILED {c[0]}: {c[2]}", file=sys.stderr)
        print(f"perfbench: {name}: failed_op_ratio {r['failed'] / r['attempted']:.4f} "
              f"({r['failed']}/{r['attempted']} operations and checks)", file=sys.stderr)
        walls = [s.duration for s in r["tracer"].spans
                 if s.name == "pass" and s.pass_id in r["untraced"]]
        print(f"perfbench: {name}: untraced pass wall time median {median(walls):.6g} s "
              f"(n={len(walls)})", file=sys.stderr)
        for k, v in metrics.items():
            n = samples.get(k)
            print(f"perfbench: {name}: {k} = {v:.6g} {UNITS[k]}"
                  + (f" (n={n})" if n else ""), file=sys.stderr)
        prefix = f"{name}." if len(names) > 1 else ""
        out.update({prefix + k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()})

    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
