"""Repository benchmark for padawan_spark.

One run = one workload (``perfbench/workloads.py``) in a fresh process on
``local[<cores>]`` with one closed-loop client: generate the pinned input
tables (``perfbench/datagen.py``), start the session and run the
workload's untimed warm-up passes (set-up), then run whole timed passes
until ``--seconds`` have elapsed.  The seed permutes the op order of
every pass.  Each op is timed in three phases from outside
the program:

- build: ``QUERIES[name](spark, data_dir)`` returns;
- plan: ``df._jdf.queryExecution().executedPlan()`` is forced;
- execute: ``df.collect()``.

Every timed result is compared with the op's DuckDB oracle, computed once
per run outside set-up and the timed passes, using the order-insensitive
canonical form of ``tests/oracle_harness.py``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the
separate traced run: it alternates untraced and traced passes (spans,
wrapped ``dataset``/``metadata`` functions, one job group per phase, a
plan audit per op) under a local Spark event log that is on for the
whole process, and reports per-layer metrics plus the overhead of the
wrappers and job groups (``trace.wrapper_overhead``; the event log's own
cost is in both sides of that ratio, so it is not included).  Every run
works in its own directory under ``.perfbench/`` (inputs, ``TMPDIR``,
warehouse, ``SPARK_LOCAL_DIRS``, event log) and deletes it at exit; the
traced run's spans are kept in ``.perfbench/out/``.

Stdout: one JSON record per line (settings, every pass with its per-op
phase times, per-op medians, a summary with units); the last line is the
result ``{"correct", "attempted", "failed", "metrics"}``.

Run from the repository root:
``python3 perfbench/run.py --workload read_scan --seed 1 --seconds 10
--trace 0``
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import pandas as pd  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import SF, WARMUP_PASSES, WORKLOADS  # noqa: E402

OUT_ROOT = ".perfbench"
MB = 1024.0 * 1024.0


def emit(record: dict) -> None:
    print(json.dumps(record, separators=(",", ":"), default=float), flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        for dirpath, _, files in os.walk(p):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host, from /proc/stat: steal is
    time the hypervisor gave this VM's CPUs to others."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def result_digest(canon) -> str:
    return hashlib.sha256(repr(canon).encode()).hexdigest()


class Run:
    """One benchmark process: directories, session, passes, metrics."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.name = args.workload
        self.ops = WORKLOADS[args.workload]
        self.sf = args.sf if args.sf is not None else SF
        self.cores = len(os.sched_getaffinity(0))
        self.rng = random.Random(args.seed)
        d = {k: os.path.join(run_dir, k)
             for k in ("data", "tmp", "warehouse", "local", "eventlog")}
        for p in d.values():
            os.makedirs(p)
        self.dirs = d
        self.spark = None
        self.jvm = None
        self.tracer = None
        self.passes: list[dict] = []
        self.results: list[tuple] = []     # (pass, op, result digest)
        self.errors: list[dict] = []
        self.attempted = 0

    # -- set-up -------------------------------------------------------------

    def settings(self) -> dict:
        conf = {"spark.sql.warehouse.dir": self.dirs["warehouse"]}
        if self.args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.dirs["eventlog"]
            # one plain JSON-lines file the benchmark can read back
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return {
            "master": f"local[{self.cores}]",
            "conf": conf,
            "env": {"TMPDIR": self.dirs["tmp"],
                    "SPARK_LOCAL_DIRS": self.dirs["local"]},
            "log_level": "ERROR",
        }

    def start(self) -> None:
        st = self.settings()
        os.environ.update(st["env"])
        tempfile.tempdir = self.dirs["tmp"]
        t0 = time.perf_counter()
        if self.args.data:
            self.dirs["data"] = self.args.data
        else:
            import datagen
            datagen.generate(self.dirs["data"], self.sf)
        self.datagen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        from tests.oracle_harness import canon_frame
        from padawan_spark import get_spark
        from padawan_spark.queries import ORACLE, QUERIES
        missing = [n for n in self.ops if n not in QUERIES or n not in ORACLE]
        if missing:
            raise SystemExit(f"ops without a query or oracle: {missing}")
        self.queries = QUERIES
        self.canon_frame = canon_frame
        spark = get_spark(app_name=f"perfbench-{self.name}",
                          master=st["master"], extra_conf=st["conf"])
        spark.sparkContext.setLogLevel(st["log_level"])
        self.spark = spark
        from pyspark import SparkContext
        self.jvm = getattr(SparkContext._gateway, "proc", None)
        self.session_start_s = time.perf_counter() - t0
        emit({"record": "settings", "workload": self.name,
              "ops": list(self.ops), "sf": self.sf,
              "data": self.args.data or "generated", "seed": self.args.seed,
              "seconds": self.args.seconds, "trace": self.args.trace,
              "cores": self.cores, **st})

        self.warmup = [self.run_pass("warmup", traced=False)
                       for _ in range(WARMUP_PASSES[self.name])]
        self.setup_s = time.perf_counter() - T_START - self.datagen_s
        self.stored_bytes = dir_bytes(self.dirs["tmp"], self.dirs["warehouse"])
        if self.args.trace:
            from tracing import Tracer
            self.tracer = Tracer(spark)
            self.tracer.install()

    # -- passes -------------------------------------------------------------

    def run_pass(self, pass_no, traced: bool) -> dict:
        order = self.rng.sample(self.ops, len(self.ops))
        rec = {"record": "pass", "pass": pass_no, "traced": traced,
               "order": order, "op_s": {}, "catalyst": {}, "plans": {}}
        tr = self.tracer if traced else None
        if tr is not None:
            tr.pass_no, tr.enabled = pass_no, True
        t_pass = time.perf_counter()
        for name in order:
            self.run_op(name, rec, tr)
        rec["pass_s"] = sum(sum(v) for v in rec["op_s"].values()
                            if v is not None)
        rec["wall_s"] = time.perf_counter() - t_pass
        if tr is not None:
            tr.enabled = False
            tr.clear_group()
        return rec

    def run_op(self, name: str, rec: dict, tr) -> None:
        timed = rec["pass"] != "warmup"
        if timed:
            self.attempted += 1
        fn = self.queries[name]
        try:
            if tr is None:
                t0 = time.perf_counter()
                df = fn(self.spark, self.dirs["data"])
                t1 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
            else:
                tr.op = name
                with tr.span(f"queries.{name}"):
                    tr.phase("build")
                    with tr.span("queries.build"):
                        t0 = time.perf_counter()
                        df = fn(self.spark, self.dirs["data"])
                        t1 = time.perf_counter()
                    tr.phase("plan")
                    with tr.span("catalyst.plan"):
                        df._jdf.queryExecution().executedPlan()
                        t2 = time.perf_counter()
                    tr.phase("execute")
                    with tr.span("exec.collect"):
                        rows = df.collect()
                        t3 = time.perf_counter()
                tr.clear_group()
                rec["catalyst"][name] = catalyst_phases(df)
                rec["plans"][name] = plan_counts(df)
        except Exception as e:  # a failing op is counted, the run goes on
            rec["op_s"][name] = None
            if timed:
                self.errors.append({"op": name, "pass": rec["pass"],
                                    "error": f"{type(e).__name__}: {e}"[:500]})
                traceback.print_exc(file=sys.stderr)
            return
        rec["op_s"][name] = [t1 - t0, t2 - t1, t3 - t2]
        if timed:
            pdf = pd.DataFrame.from_records(rows, columns=df.columns)
            self.results.append(
                (rec["pass"], name, result_digest(self.canon_frame(pdf))))

    def timed_passes(self) -> None:
        """Whole passes until ``--seconds`` have elapsed.  The run-to-run
        spread comes from the machine more than from the passes of one
        run, so a read_scan pass that outlasts ``--seconds`` is measured
        once rather than paying for a second.  The traced run goes in
        untraced/traced/traced/untraced blocks, so a drift over the run
        cancels out of the wrapper overhead."""
        block = (False, True, True, False) if self.args.trace else (False,)
        steal0, total0 = cpu_steal()
        t0 = time.perf_counter()
        i = 0
        while True:
            rec = self.run_pass(i, block[i % len(block)])
            self.passes.append(rec)
            emit(rec)
            i += 1
            if i % len(block):
                continue
            if self.args.passes:
                if i >= self.args.passes * len(block):
                    break
            elif time.perf_counter() - t0 >= self.args.seconds:
                break
        steal1, total1 = cpu_steal()
        self.steal_share = (steal1 - steal0) / max(1, total1 - total0)

    # -- correctness ----------------------------------------------------------

    def check(self) -> int:
        """Oracle every op once; returns the number of failed attempts."""
        import duckdb
        from padawan_spark.queries import ORACLE
        from tests.oracle_harness import TABLES
        t0 = time.perf_counter()
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.dirs["data"], f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        want = {}
        for name in self.ops:
            try:
                want[name] = result_digest(
                    self.canon_frame(con.sql(ORACLE[name]).df()))
            except duckdb.Error as e:
                want[name] = f"oracle error: {e}"
        con.close()
        for pass_no, name, got in self.results:
            if got != want[name]:
                self.errors.append({"op": name, "pass": pass_no,
                                    "error": "result differs from oracle"
                                    if want[name].isalnum() else want[name]})
        self.oracle_s = time.perf_counter() - t0
        return len(self.errors)

    # -- teardown -------------------------------------------------------------

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self.jvm is not None:
            with open(f"/proc/{self.jvm.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its Python workers."""
        if self.spark is None:
            return
        children = _children(self.jvm.pid) if self.jvm is not None else []
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if self.jvm is not None:
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in children:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _children(pid: int) -> list[int]:
    """Descendant pids of ``pid`` (from /proc)."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def catalyst_phases(df) -> dict:
    """Catalyst phase durations (s) from ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def plan_counts(df) -> dict:
    from padawan_spark.plans.audit import audit
    a = audit(df)
    return {"exchanges": a.exchanges, "broadcast_joins": a.broadcast_joins,
            "shuffle_joins": a.shuffle_joins,
            "partial_aggregates": a.partial_aggregates}


# -- metrics ----------------------------------------------------------------

def op_medians(passes: list[dict]) -> dict[str, float]:
    per_op: dict[str, list[float]] = {}
    for rec in passes:
        for name, v in rec["op_s"].items():
            if v is not None:
                per_op.setdefault(name, []).append(sum(v))
    return {n: median(v) for n, v in per_op.items()}


def pass_drift(passes: list[dict]) -> float:
    """Last timed pass / first timed pass."""
    if not passes or not passes[0]["pass_s"]:
        return 0.0
    return passes[-1]["pass_s"] / passes[0]["pass_s"]


def end_to_end(run: Run, passes: list[dict]) -> dict:
    meds = op_medians(passes)
    geo = (math.exp(sum(math.log(v) for v in meds.values()) / len(meds))
           if meds and all(v > 0 for v in meds.values()) else 0.0)
    return {
        "setup_s": (run.setup_s, "s"),
        "pass_s": (median([r["pass_s"] for r in passes]), "s"),
        "op_geomean_s": (geo, "s"),
    }


def phase_totals(run: Run) -> dict:
    """Event-log task totals keyed by (pass, op, phase); each total also
    carries the task durations of its stages under ``"stage_tasks"``."""
    from tracing import parse_group, read_event_log
    groups, stage_tasks = read_event_log(run.dirs["eventlog"])
    out = {}
    for g, tot in groups.items():
        key = parse_group(g)
        if key is not None:
            out[key] = dict(tot, stage_tasks=stage_tasks.get(g, {}))
    return out


def _ssum(rows, k):
    return sum(t.get(k, 0.0) for t in rows)


def per_layer(run: Run, untraced: list[dict], traced: list[dict],
              totals: dict, fail_ratio: float, peak_mb: float) -> dict:
    """Per-layer metrics: medians over the traced passes."""
    from tracing import (DATASET_FUNCTIONS, DATASET_METHODS,
                         METADATA_FUNCTIONS, self_times)
    tr = run.tracer
    selft = self_times(tr.spans)
    children_jobs: dict[int, float] = {}
    for s in tr.spans:
        if s["parent"] is not None:
            children_jobs[s["parent"]] = (children_jobs.get(s["parent"], 0)
                                          + s["jobs"])

    samples: dict[str, list[float]] = {}

    def put(name, value):
        samples.setdefault(name, []).append(float(value))

    fns = ([f"dataset.{f}" for f in DATASET_METHODS + DATASET_FUNCTIONS]
           + [f"metadata.{f}" for f in METADATA_FUNCTIONS])
    for rec in traced:
        p = rec["pass"]
        ok = {n: v for n, v in rec["op_s"].items() if v is not None}
        spans = [s for s in tr.spans if s["pass"] == p]
        build_s = sum(v[0] for v in ok.values())
        exec_s = sum(v[2] for v in ok.values())
        put("queries.build_s", build_s)
        put("queries.build_jobs",
            sum(s["jobs"] for s in spans if s["name"] == "queries.build"))
        put("queries.build_self_s",
            sum(selft[s["id"]] for s in spans if s["name"] == "queries.build"))
        put("catalyst.plan_s", sum(v[1] for v in ok.values()))
        for ph in ("analysis", "optimization", "planning"):
            put(f"catalyst.{ph}_s",
                sum(c[ph] for c in rec["catalyst"].values()))
        put("exec.s", exec_s)
        allg = [t for (tp, _, _), t in totals.items() if tp == str(p)]
        ex_tot = [t for (tp, _, ph), t in totals.items()
                  if tp == str(p) and ph == "execute"]
        for k, v in exec_figures(ex_tot).items():
            put(f"exec.{k}", v)
        put("exec.cpu_util", (_ssum(ex_tot, "cpu_ns") / 1e9
                              / (exec_s * run.cores)) if exec_s else 0.0)
        put("exec.stage_skew", median([stage_skew(t) for t in ex_tot
                                       if t["stage_tasks"]]))
        put("functions.python_s", _ssum(allg, "python_total_ms") / 1e3)
        put("functions.python_boot_s", _ssum(allg, "python_boot_ms") / 1e3)
        put("functions.python_sent_mb", _ssum(allg, "python_sent_bytes") / MB)
        put("functions.python_recv_mb", _ssum(allg, "python_recv_bytes") / MB)
        for f in fns:
            fs = [s for s in spans if s["name"] == f]
            put(f"{f}.calls", len(fs))
            put(f"{f}.self_s", sum(selft[s["id"]] for s in fs))
            if f.startswith("dataset."):
                put(f"{f}.jobs", sum(s["jobs"] - children_jobs.get(s["id"], 0)
                                     for s in fs))
        put("dataset.self_s", sum(selft[s["id"]] for s in spans
                                  if s["name"].startswith("dataset.")))
        put("metadata.self_s", sum(selft[s["id"]] for s in spans
                                   if s["name"].startswith("metadata.")))
        c = tr.counters.get(p, {})
        put("dataset.slice.kept_ratio",
            c["slice_parts_out"] / c["slice_parts_in"]
            if c.get("slice_parts_in") else 0.0)
        put("metadata.manifest_kb", c.get("manifest_bytes", 0.0) / 1024.0)
        for k in ("exchanges", "broadcast_joins", "shuffle_joins",
                  "partial_aggregates"):
            put(f"plans.{k}", sum(v[k] for v in rec["plans"].values()))

    traced_pass = [r["pass_s"] for r in traced]
    out = {n: (median(v), _unit(n)) for n, v in samples.items()}
    out["session.start_s"] = (run.session_start_s, "s")
    out["queries.pass_drift"] = (pass_drift(untraced), "ratio")
    out["queries.fail_ratio"] = (fail_ratio, "ratio")
    out["storage.stored_mb"] = (run.stored_bytes / MB, "MB")
    out["memory.peak_rss_mb"] = (peak_mb, "MB")
    out["trace.wrapper_overhead"] = (
        median(traced_pass) / median([r["pass_s"] for r in untraced])
        if untraced else 0.0, "ratio")
    return out


def exec_figures(tots: list[dict]) -> dict:
    """Summed execution figures of some job groups' event-log totals."""
    return {
        "jobs": _ssum(tots, "jobs"),
        "stages": _ssum(tots, "stages"),
        "tasks": _ssum(tots, "tasks"),
        "executor_run_s": _ssum(tots, "run_ms") / 1e3,
        "executor_cpu_s": _ssum(tots, "cpu_ns") / 1e9,
        "input_rows": _ssum(tots, "input_rows"),
        "shuffle_read_mb": _ssum(tots, "shuffle_read_bytes") / MB,
        "shuffle_write_mb": _ssum(tots, "shuffle_write_bytes") / MB,
        "gc_s": _ssum(tots, "gc_ms") / 1e3,
        "spill_mb": _ssum(tots, "spill_bytes") / MB,
    }


def stage_skew(tot: dict) -> float:
    """Max / median task time in the group's longest stage."""
    longest = max(tot["stage_tasks"].values(), key=sum)
    mid = median(longest)
    return max(longest) / mid if mid > 0 else 1.0


def _unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_kb"):
        return "KB"
    if name.endswith(("_ratio", "cpu_util", "stage_skew")):
        return "ratio"
    return "count"


def op_layers(run: Run, traced: list[dict], totals: dict) -> dict:
    """Per-op record joining plan features and measured cost: phase
    times and build jobs (medians over traced passes), the execute
    phase's event-log figures (summed over traced passes), Catalyst
    phase times and the plan audit of the last traced pass."""
    out = {}
    for name in run.ops:
        recs = [r for r in traced if r["op_s"].get(name) is not None]
        if not recs:
            continue
        passes = {str(r["pass"]) for r in recs}
        build = [t for (p, op, ph), t in totals.items()
                 if op == name and ph == "build" and p in passes]
        ex = [t for (p, op, ph), t in totals.items()
              if op == name and ph == "execute" and p in passes]
        out[name] = {
            "build_s": median([r["op_s"][name][0] for r in recs]),
            "plan_s": median([r["op_s"][name][1] for r in recs]),
            "exec_s": median([r["op_s"][name][2] for r in recs]),
            "build_jobs": _ssum(build, "jobs") / len(recs),
            "exec": exec_figures(ex),
            "catalyst": recs[-1]["catalyst"].get(name),
            "plans": recs[-1]["plans"].get(name),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help=f"scale factor of the inputs (default {SF})")
    ap.add_argument("--data", default=None,
                    help="read the input tables from this directory "
                    "instead of generating them (to compare with "
                    "reference data)")
    ap.add_argument("--passes", type=int, default=0,
                    help="run exactly this many timed passes (self-test)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "padawan_spark")):
        print("perfbench: run from the repository root (no padawan_spark/ "
              "here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out_dir = os.path.join(root, OUT_ROOT, "out")
    os.makedirs(out_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-",
                               dir=os.path.join(root, OUT_ROOT))

    def on_term(signum, frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, on_term)

    run = Run(args, run_dir)
    try:
        run.start()
        run.timed_passes()
        peak_mb = run.peak_rss_mb()
        run.stop()
        failed = run.check()
        attempted = run.attempted
        fail_ratio = failed / attempted if attempted else 1.0
        untraced = [r for r in run.passes if not r["traced"]]
        traced = [r for r in run.passes if r["traced"]]
        e2e = end_to_end(run, untraced)
        emit({"record": "op_median_s", "ops": op_medians(untraced)})
        summary = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        summary["fail_ratio"] = {"value": fail_ratio, "unit": "ratio"}
        summary["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
        summary["stored_mb"] = {"value": run.stored_bytes / MB, "unit": "MB"}
        emit({"record": "summary", "workload": run.name,
              "passes": len(untraced), "datagen_s": run.datagen_s,
              "session_start_s": run.session_start_s,
              "warmup_s": [r["wall_s"] for r in run.warmup],
              "pass_drift": pass_drift(untraced),
              "cpu_steal_share": run.steal_share,
              "oracle_s": run.oracle_s, "errors": run.errors,
              "metrics": summary})
        if args.trace:
            totals = phase_totals(run)
            layers = per_layer(run, untraced, traced, totals, fail_ratio,
                               peak_mb)
            span_path = os.path.join(
                out_dir, f"spans-{run.name}-seed{args.seed}.jsonl")
            run.tracer.write_spans(span_path)
            emit({"record": "op_layers",
                  "ops": op_layers(run, traced, totals)})
            emit({"record": "trace", "spans": os.path.relpath(span_path, root),
                  "traced_passes": len(traced),
                  "wrapper_overhead": layers["trace.wrapper_overhead"][0]})
            metrics = layers
        else:
            metrics = e2e
        emit({"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}})
        return 0
    finally:
        try:
            run.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
