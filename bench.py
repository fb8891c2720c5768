"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract: stdout carries exactly ONE compact JSON line — the
LAST line printed — {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "cpus_requested": ...,
"default_parallelism": ..., "master": ..., "ab_prev_tree": {...}},
kept deliberately short so tail captures never truncate it (r17:
calibration/value_calibrated/queries_calibrated moved to stderr
supplements after the grown line truncated the r13-r15 captures; the
cpus/master/parallelism fields prove local[$SPARK_GRAFT_CPUS] is
honored — VERDICT r16 tasks 2-4).  Supplementary telemetry (per-query deltas
vs the previous round, the layout-normalized pass, input row-group
counts) goes to STDERR as SEPARATE compact JSON lines each tagged
"bench_supplement" — one fact per line, with prev_delta emitted LAST,
because the driver's bounded capture keeps the TAIL of the stream and
a single long supplement line loses its FRONT (r4/r5 both lost the
q1/q3/q5 deltas that way).  Consumers should treat any stderr line
whose "metric" is "bench_supplement" as a partial record and merge
them.  The stdout contract is unchanged since r4; supplement fields
moved OFF stdout in r5 (see round notes).  Spark's console progress
bar is disabled for the session so no control characters interleave
with the metric line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: scan-heavy agg, multi-join, filter-sum, semi-join-having,
# window, range-repartition, and the pipeline extensions (added as their
# suites land).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume",
    "ana_win_topn_per_group",
    "op_repartition_range",
    "dedup_minhash_lsh",
    "text_quality_score",
    "sim_knn_bruteforce",
    "adv_asof_join",
    "scale_bucketed_join",       # write + join: the pre-shuffle investment
    "scale_bucketed_join_read",  # join only: the steady-state zero-exchange
    # iterative path (3-4 chained jobs each: join+agg rounds with
    # per-round localCheckpoint lineage truncation)
    "graph_pagerank_users",
    "sim_kmeans_train",
    # sub-document dedup: explode -> segment-df shuffle -> reassembly
    "dedup_segments",
    # round-4 breadth: one heavy representative per previously-unbenched
    # family, so regressions there are driver-visible
    "text_tfidf",            # text analysis: two-level broadcast-df join
    "dedup_ngram_jaccard",   # df-capped verify self-join
    "ev_downsample_lttb",    # time series: two-level (series, day) window
    "sim_ann_ivfpq",         # composed IVF routing + PQ ADC scoring
    # round-5: steady-state distributed-manifest planning cost over a
    # ~512-file table (the 100 TB entry point; write memoized like
    # scale_bucketed_join so the timing isolates prune+plan+agg)
    "op_pruned_scan_read",
]

# Iterative queries re-dispatch a fixed per-round job overhead; the
# layout-normalized pass (more input splits) RAISES that overhead at
# small SF, so a normalized number above the raw one for these names is
# a layout artifact, not an engine regression (see BENCH notes field).
ITERATIVE = ["graph_pagerank_users", "sim_kmeans_train"]

# Calibration (r9): a FROZEN probe workload timed in the same process
# before and after the sweep gives every round a machine-speed
# reference — value_calibrated = value / spark_probe_best is unit-free
# and contention-invariant, so a +29% raw total with a +29% probe reads
# as the same engine.  Changing the probe workload invalidates
# cross-round comparison; don't.
CALIBRATION_NOTE = (
    "probes run in-process before and after the sweep: spark = "
    "sum over range(5e7) split 32 ways (scheduling+codegen+JVM), "
    "python = 2e6-step integer hash loop (GIL/CPU).  "
    "value_calibrated = value / spark_probe_best; compare "
    "value_calibrated across rounds to factor out machine contention.")


def _spark_probe(spark) -> float:
    """Fixed-cost Spark workload: min of 3 in-process runs."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 1_600_000_000, 1, 32).selectExpr(
            "sum(id * 2654435761 % 1000003) as s").collect()
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    return round(best, 4)


def _python_probe() -> float:
    """Fixed-cost pure-Python loop: min of 3 runs."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        h = 0
        for i in range(2_000_000):
            h = (h * 1315423911 + i) & 0xFFFFFFFFFFFF
        el = time.perf_counter() - t0
        best = el if best is None else min(best, el)
    assert h == 281474976710655 or True
    return round(best, 4)


_CHILD_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
from padawan_spark import get_spark
from padawan_spark.queries import QUERIES
spark = get_spark(app_name="padawan-bench-prev", extra_conf={
    "spark.ui.showConsoleProgress": "false"})
spark.sparkContext.setLogLevel("ERROR")
names = json.loads(sys.argv[1])
sf_dir = sys.argv[2]
for n in names:                       # same warm protocol as the parent
    fn = QUERIES.get(n)
    if fn is not None:
        try:
            fn(spark, "/root/testdata/sf0.001").collect()
        except Exception:
            pass
print("READY", flush=True)
def _reset_bucketed():
    # fresh bucketed WRITE every timed pass (r16, VERDICT r15 task
    # 3): the write is memoized, so a repeat call would time the
    # post-write fast path — min-of-N only means something if every
    # pass pays the same investment
    try:
        import re as _re
        from padawan_spark.queries import scale as _sc
        _sc._BUCKETED_DONE.pop(sf_dir, None)
        suf = _re.sub("[^0-9A-Za-z_]+", "_",
                      sf_dir.rstrip("/").rsplit("/", 1)[-1])
        for t in ("b_lineitem_" + suf, "b_orders_" + suf):
            spark.sql("DROP TABLE IF EXISTS " + t)
    except Exception:
        pass


for line in sys.stdin:
    name = line.strip()
    if not name or name == "EXIT":
        break
    fn = QUERIES.get(name)
    if fn is None:
        print(json.dumps({"name": name, "sec": None}), flush=True)
        continue
    if name == "scale_bucketed_join":
        _reset_bucketed()
    t0 = time.perf_counter()
    try:
        fn(spark, sf_dir).collect()
        sec = round(time.perf_counter() - t0, 3)
    except Exception:
        sec = None
    print(json.dumps({"name": name, "sec": sec}), flush=True)
"""


def _prev_round_commit(repo: str) -> tuple[int, str] | None:
    """(N, commit) of the newest ``round N:`` commit whose
    ``padawan_spark/`` tree differs from HEAD's — not the highest N: a
    commit of the current round titled ``round N:`` carries HEAD's own
    tree, and comparing against it measures HEAD against itself."""
    import re
    import subprocess

    def git(*args):
        return subprocess.run(["git", *args], capture_output=True,
                              text=True, cwd=repo, timeout=60).stdout

    def tree(rev):
        return git("rev-parse", "--verify", "-q",
                   f"{rev}:padawan_spark").strip()

    head = tree("HEAD")
    for line in git("log", "--format=%H %s").splitlines():  # newest first
        h, _, msg = line.partition(" ")
        m = re.match(r"^round (\d+):", msg)
        if m and tree(h) != head:
            return int(m.group(1)), h
    return None


class _PrevTree:
    """The PREVIOUS ROUND's tree in a git worktree, driven over a pipe
    so its passes INTERLEAVE with this tree's in one measurement
    window (r13, VERDICT r12 task 4: the scalar CPU probe twice
    produced a calibrated swing opposite to same-window ground truth
    — the interleaved A/B is the authoritative round-over-round
    comparison, so it now lives in the bench record itself)."""

    def __init__(self, headline, sf_dir):
        import subprocess
        import tempfile
        self.proc = None
        self.round = None
        self.wt = None
        self._here = os.path.dirname(os.path.abspath(__file__))
        try:
            best = _prev_round_commit(self._here)
            if best is None:
                return
            self.round, commit = best
            self.wt = tempfile.mkdtemp(prefix="padawan_prev_tree_")
            os.rmdir(self.wt)
            subprocess.run(
                ["git", "worktree", "add", "--detach", self.wt,
                 commit], cwd=self._here, check=True,
                capture_output=True, timeout=120)
            env = dict(os.environ)
            env.pop("PYSPARK_GATEWAY_PORT", None)
            env.pop("PYSPARK_GATEWAY_SECRET", None)
            self.proc = subprocess.Popen(
                [sys.executable, "-c", _CHILD_RUNNER,
                 json.dumps(headline), sf_dir],
                cwd=self.wt, env=env, text=True,
                stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL)
            import threading
            ready = []

            def _wait_ready():
                for line in self.proc.stdout:
                    if line.strip() == "READY":
                        ready.append(True)
                        return

            th = threading.Thread(target=_wait_ready, daemon=True)
            th.start()
            th.join(timeout=600)
            if not ready:
                self.close()
        except Exception:
            self.close()

    def time_one(self, name: str) -> float | None:
        if self.proc is None:
            return None
        try:
            import threading
            self.proc.stdin.write(name + "\n")
            self.proc.stdin.flush()
            out = []

            def _read():
                out.append(self.proc.stdout.readline())

            th = threading.Thread(target=_read, daemon=True)
            th.start()
            th.join(timeout=600)
            if not out or not out[0]:
                self.close()
                return None
            rec = json.loads(out[0])
            return rec.get("sec")
        except Exception:
            self.close()
            return None

    def close(self):
        import subprocess
        if self.proc is not None:
            try:
                self.proc.stdin.write("EXIT\n")
                self.proc.stdin.flush()
            except Exception:
                pass
            try:
                self.proc.terminate()
            except Exception:
                pass
            self.proc = None
        if self.wt is not None:
            subprocess.run(["git", "worktree", "remove", "--force",
                            self.wt], cwd=self._here,
                           capture_output=True, timeout=60)
            self.wt = None


def _reset_bucketed_head(spark, sf_dir: str) -> None:
    """Drop the memoized bucketed tables so the next
    ``scale_bucketed_join`` pass pays the full write (r16, VERDICT
    r15 task 3 — min-of-N is meaningless when pass 2 times the
    memoized fast path).  The child runner mirrors this for the
    prev tree, keeping the A/B symmetric."""
    import re
    try:
        from padawan_spark.queries import scale as _sc
        _sc._BUCKETED_DONE.pop(sf_dir, None)
        suf = re.sub(r"[^0-9A-Za-z_]+", "_",
                     sf_dir.rstrip("/").rsplit("/", 1)[-1])
        for t in (f"b_lineitem_{suf}", f"b_orders_{suf}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    except Exception:
        pass


def _drain_error(cwd: str, reason: str) -> None:
    """ADVICE r14: a broken drain must be distinguishable from an
    absent script — record the failure reason as a supplement line
    instead of silently dropping the drain_2m_cdf comparison."""
    print(json.dumps({"metric": "bench_supplement",
                      "drain_error": {"cwd": cwd,
                                      "reason": reason[:400]}},
                     separators=(",", ":")), file=sys.stderr,
          flush=True)


def _time_drain(cwd: str) -> float | None:
    """One full drain of the 2M-row CDF backfill stream
    (tests/scale_smoke_batch.py) in a subprocess rooted at ``cwd`` —
    so the HEAD tree and the previous round's worktree can be timed
    INTERLEAVED in the same window (r14, VERDICT r13 task 3: the r13
    drain level was adjudicated by argument; now it's in the A/B
    record)."""
    import subprocess
    script = os.path.join(cwd, "tests", "scale_smoke_batch.py")
    if not os.path.exists(script):
        return None
    try:
        r = subprocess.run([sys.executable, script], cwd=cwd,
                           capture_output=True, text=True,
                           timeout=600)
        rec = json.loads(r.stdout.strip().splitlines()[-1])
        if not rec.get("sum_ok"):
            _drain_error(cwd, f"sum_ok false: {rec}")
            return None
        return rec.get("drain_sec")
    except Exception as e:
        _drain_error(cwd, repr(e))
        return None


def _latest_prev_bench() -> tuple[int | None, dict]:
    """Newest BENCH_r{N}.json in the repo root WITH a usable parse, for
    per-query deltas (a round whose capture was truncated records
    ``"parsed": null`` — skip it and fall back to the round before)."""
    import glob
    import re
    rounds = []
    here = os.path.dirname(os.path.abspath(__file__))
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    for n, p in sorted(rounds, reverse=True):
        try:
            with open(p) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        # driver records wrap the bench line under "parsed"
        parsed = data.get("parsed", data)
        if isinstance(parsed, dict) and parsed.get("queries"):
            return n, parsed
    return None, {}


def main() -> None:
    from padawan_spark import get_spark
    from padawan_spark.queries import QUERIES

    spark = get_spark(app_name="padawan-bench", extra_conf={
        # keep stdout clean for the single metric line: no progress bar
        # control characters, no stage spinners
        "spark.ui.showConsoleProgress": "false",
        # benchmark-session GC cadence (r17, ADVICE r16): the library
        # default is a conservative 5 min; the bench session keeps the
        # r16-validated 1 min so 20+ queries of dead broadcast/RDD state
        # never pile up inside one measurement window (session.py has
        # the full story)
        "spark.cleaner.periodicGC.interval":
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min")})
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM (classloading, codegen, AQE paths, parquet readers) with
    # one pass of the same queries at the smallest SF, so the timed run
    # measures query execution rather than one-time JIT cost.
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is not None:
            try:
                fn(spark, "/root/testdata/sf0.001").collect()
            except Exception:
                pass

    cal = {"spark_before": _spark_probe(spark),
           "python_before": _python_probe()}

    # min-of-3 per query: this box shows 2-3x run-to-run variance from
    # neighbor load (r7's raw total moved +9.5% on entirely untouched
    # code), and the min of three same-process warm passes reports the
    # engine's cost rather than the machine's worst moment.
    # r13 (VERDICT r12 task 4): the PREVIOUS ROUND's tree runs the
    # same queries INTERLEAVED in this window (head pass, prev pass,
    # head pass, ...) through a worktree subprocess — the
    # authoritative round-over-round comparison, recorded on stdout
    # as ab_prev_tree.  SPARK_GRAFT_AB=0 skips it for quick local
    # iteration.
    ab_on = os.environ.get("SPARK_GRAFT_AB", "1") != "0"
    prev_tree = _PrevTree(HEADLINE, SF_DIR) if ab_on else None
    prev_tree_round = prev_tree.round if prev_tree else None
    timings: dict[str, float] = {}
    timings_prev: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        # Sub-second queries extend to min-of-5 (r15, VERDICT r14 task
        # 6: four untouched sub-second queries spiked >8% at min-of-3
        # and needed a focused re-run to adjudicate — the extra two
        # interleaved passes are cheaper than that tax every round).
        # scale_bucketed_join gets min-of-3 too now (r16, VERDICT r15
        # task 3: its single-pass timing produced the only same-window
        # "regression"): the memoized bucketed WRITE is reset before
        # every pass — in BOTH trees, the child runner does the same —
        # so each pass pays the full write+join investment.
        passes = 3
        best = None
        pbest = None
        done = 0
        while done < passes or (done < 5
                                and best is not None and best < 1.0):
            if name == "scale_bucketed_join":
                _reset_bucketed_head(spark, SF_DIR)
            t0 = time.perf_counter()
            rows = fn(spark, SF_DIR).collect()
            el = round(time.perf_counter() - t0, 3)
            best = el if best is None else min(best, el)
            _ = len(rows)
            if prev_tree is not None:
                ps = prev_tree.time_one(name)
                if ps is not None:
                    pbest = ps if pbest is None else min(pbest, ps)
            done += 1
        timings[name] = best
        if pbest is not None:
            timings_prev[name] = pbest
    # 2M-row stream-drain A/B (r14): HEAD and prev-tree drains
    # interleave in this same window, min of THREE each (r16, VERDICT
    # r15 tasks 2/5: a single-pass drain on a 2-3x-variance box
    # produced +16% shipped vs -2% dev-window, and nothing could
    # adjudicate it) — each drain is a fresh subprocess (its own
    # SparkSession), so neither tree's JVM warmth leaks into the
    # other
    drain_head = drain_prev = None
    drain_passes = 3
    if ab_on:
        here = os.path.dirname(os.path.abspath(__file__))
        for _ in range(drain_passes):
            h = _time_drain(here)
            if h is not None:
                drain_head = h if drain_head is None \
                    else min(drain_head, h)
            if prev_tree is not None and prev_tree.wt:
                p = _time_drain(prev_tree.wt)
                if p is not None:
                    drain_prev = p if drain_prev is None \
                        else min(drain_prev, p)
    if prev_tree is not None:
        prev_tree.close()

    cal["spark_after"] = _spark_probe(spark)
    cal["python_after"] = _python_probe()
    cal["spark_probe_best"] = min(cal["spark_before"], cal["spark_after"])
    cal["python_probe_best"] = min(cal["python_before"],
                                   cal["python_after"])

    # scaling-evidence contract (r17, VERDICT r16 task 3): the driver
    # benches at two core counts and flagged `suspect_cpus_ignored`
    # because every ratio was ≈1 — the env var IS honored
    # (session.py builds local[$SPARK_GRAFT_CPUS]) but nothing in the
    # record proved it.  Emit the requested count, the master actually
    # built, and sc.defaultParallelism so the scaling block is
    # mechanically interpretable.
    sc = spark.sparkContext
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    # Layout-normalized pass: driver testdata is regenerated per round and
    # its row-group count has varied (a single-row-group file scans as ONE
    # task in any engine), which makes round-over-round comparison conflate
    # engine changes with data layout.  Rewrite the inputs ONCE to a fixed
    # multi-file layout in a temp dir and time the same queries there, so
    # `queries` tracks the driver's data as-is and `queries_normalized`
    # tracks the engine on a stable layout.
    timings_norm: dict[str, float] = {}
    try:
        import shutil
        import tempfile
        norm_dir = os.path.join(tempfile.gettempdir(),
                                f"padawan_bench_norm_sf{sf}")
        shutil.rmtree(norm_dir, ignore_errors=True)
        os.makedirs(norm_dir, exist_ok=True)
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            src = os.path.join(SF_DIR, f"{t}.parquet")
            if not os.path.exists(src):
                continue
            # raw read (no ts conversion): nanos-as-long columns round-trip
            # as int64 and queries' load() re-derives timestamps either way.
            # Small parquet.block.size → multiple row groups per file, so
            # the normalized pass actually exercises row-group min/max
            # skipping (the driver inputs ship as ONE row group per table,
            # where skipping can never fire).
            (spark.read.parquet(src).repartition(32)
             .write.mode("overwrite")
             .option("parquet.block.size", 1 << 20)
             .parquet(os.path.join(norm_dir, f"{t}.parquet")))
        # queries whose first call pays a memoized one-time write keyed by
        # sf_dir (norm_dir is a NEW sf_dir): run once untimed so the
        # normalized number measures the steady state, same as the raw one
        for name in ("scale_bucketed_join_read", "op_pruned_scan_read"):
            fn = QUERIES.get(name)
            if fn is not None and name in HEADLINE:
                try:
                    fn(spark, norm_dir).collect()
                except Exception:
                    pass
        for name in HEADLINE:
            fn = QUERIES.get(name)
            if fn is None:
                continue
            t0 = time.perf_counter()
            _ = fn(spark, norm_dir).collect()
            timings_norm[name] = round(time.perf_counter() - t0, 3)
    except Exception:
        timings_norm = {}

    # per-query delta vs the newest recorded round (negative = faster now),
    # so round-over-round regressions are answerable mechanically
    prev_round, prev = _latest_prev_bench()
    prev_q = prev.get("queries", {}) if prev.get("sf") == sf_val else {}
    prev_delta = {n: round(t - prev_q[n], 3)
                  for n, t in timings.items() if n in prev_q}

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus_requested": int(cpus_env) if (cpus_env or "").isdigit()
        else cpus_env,
        "default_parallelism": sc.defaultParallelism,
        "master": sc.master,
    }
    # the SAME-WINDOW interleaved A/B vs the previous round's tree
    # (min per query over the interleaved passes) — THE authoritative
    # round-over-round comparison, recorded AHEAD of the calibrated
    # scalars (r14, VERDICT r13 task 7: value_calibrated produced a
    # misleading swing three rounds running; it stays below for
    # continuity only).  drain_2m_cdf is the 2M-row stream drain,
    # min-of-2 per tree, interleaved in the same window (task 3).
    if timings_prev or drain_head is not None:
        ab: dict = {"round": prev_tree_round}
        if timings_prev:
            ab["value"] = round(sum(timings_prev.values()), 3)
            ab["queries"] = timings_prev
        if drain_head is not None:
            ab["drain_2m_cdf"] = {"head_sec": drain_head,
                                  "prev_sec": drain_prev,
                                  "passes": drain_passes}
        out["ab_prev_tree"] = ab
    # machine-speed reference: seconds of a FROZEN probe workload in
    # this same process — SECONDARY to ab_prev_tree (the probe cannot
    # see IO contention); kept for cross-round continuity.  Moved OFF
    # stdout in r17 (VERDICT r16 tasks 2/4): the stdout line grew past
    # the "kept deliberately short" contract and the driver's bounded
    # capture truncated the r13-r15 records, killing PERF's cross-round
    # comparison for four rounds.  value_calibrated and the per-query
    # calibrated timings now ride a stderr supplement line; stdout
    # keeps only the contract fields + ab_prev_tree (the authoritative
    # same-window A/B) + the cpus proof fields.
    value_calibrated = (round(total / cal["spark_probe_best"], 3)
                        if cal["spark_probe_best"] else None)
    queries_calibrated = ({
        n: round(t / cal["spark_probe_best"], 2)
        for n, t in timings.items()}
        if cal["spark_probe_best"] else {})

    # Everything beyond the headline metric goes to STDERR, one fact per
    # compact JSON line.  The driver's capture is a bounded TAIL — it
    # keeps the END of the stream — so the lines are ordered largest
    # first and prev_delta LAST: when truncation happens it eats the big
    # normalized-timings line, never the round-over-round deltas (which
    # is what r4/r5 lost when everything shared one line).
    def _emit(part: dict) -> None:
        line: dict = {"metric": "bench_supplement", "sf": sf_val}
        line.update(part)
        print(json.dumps(line, separators=(",", ":")), file=sys.stderr,
              flush=True)

    if timings_norm:
        _emit({
            "queries_normalized": timings_norm,
            "value_normalized": round(sum(timings_norm.values()), 3),
            "notes": {
                "queries_normalized": (
                    "normalization rewrites inputs to 32 splits per table "
                    "with 1 MiB row groups; iterative queries ("
                    + ", ".join(ITERATIVE) + ") pay a fixed per-round job "
                    "overhead that GROWS with split count at small SF, so "
                    "normalized > raw there is a layout artifact, not an "
                    "engine regression")}})

    # Input-layout telemetry: a single-row-group parquet file cannot be
    # scan-parallelized by ANY engine (the row group is the split unit),
    # so scan-bound timings scale with this number — record it so a
    # uniform round-over-round shift is attributable to data layout.
    try:
        import glob as _glob
        import pyarrow.parquet as pq

        def _row_groups(root: str) -> dict:
            counts = {}
            for t in ("lineitem", "orders", "documents", "embeddings"):
                path = os.path.join(root, f"{t}.parquet")
                if os.path.isdir(path):
                    counts[t] = sum(
                        pq.read_metadata(f).num_row_groups
                        for f in _glob.glob(os.path.join(path, "*.parquet")))
                elif os.path.exists(path):
                    counts[t] = pq.read_metadata(path).num_row_groups
            return counts

        layout: dict = {"input_row_groups": _row_groups(SF_DIR)}
        if timings_norm:
            layout["normalized_row_groups"] = _row_groups(norm_dir)
        _emit(layout)
    except Exception:
        pass

    # calibration record (stderr since r17 — see the stdout-slimming
    # note above; r11 had moved it ONTO stdout after a tail truncation,
    # but the driver's capture bounds the WHOLE stream and the stdout
    # line itself is what must stay short).  Emitted before prev_delta
    # so truncation eats it first.
    if cal["spark_probe_best"]:
        _emit({"calibration": cal,
               "value_calibrated": value_calibrated,
               "queries_calibrated": queries_calibrated,
               "calibration_note": CALIBRATION_NOTE})

    if prev_delta:
        sup = {"prev_round": prev_round, "prev_delta": prev_delta}
        # r10: carry the CALIBRATED round-over-round comparison in the
        # record itself — value_calibrated is machine-speed-free, so
        # prev_calibrated_ratio > 1 is a real regression, not noise.
        # r17: prev records keep it under "parsed" for r16 and earlier;
        # from r17 on it lives in the stderr supplements, so this
        # cross-file ratio naturally ends with the r16 baseline.
        pv = prev.get("value_calibrated")
        if pv and value_calibrated:
            sup["prev_value_calibrated"] = pv
            sup["prev_calibrated_ratio"] = round(
                value_calibrated / pv, 3)
        _emit(sup)
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
