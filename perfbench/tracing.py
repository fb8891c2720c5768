"""Tracing for the benchmark's traced run.

Three sources, all switched on only when ``--trace 1``:

- :class:`Tracer` keeps spans in memory (name, start, end, parent span,
  op, pass, jobs fired) around the benchmark's own calls into each layer
  and around wrapped public functions of ``padawan_spark.dataset`` and
  ``padawan_spark.metadata``; it also sets one Spark job group per
  (pass, op, phase), so every job is attributed to the phase that fired
  it.
- :func:`read_event_log` folds a local Spark event log into per-job-group
  task totals (executor run/CPU/GC time, input, shuffle, spill, the
  Python-worker SQL metrics) and per-stage task times.
- :func:`self_times` turns spans into per-layer self time: a span's
  duration minus the part its child spans cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

#: public functions wrapped in the traced run, by module
DATASET_METHODS = ("slice", "join", "repartition", "collate", "reindex",
                   "write_parquet")
#: (``scan_parquet_pruned``, ``delete_rows``, ``merge_rows`` and
#: ``read_changes`` are left out: no op of any workload reaches them)
DATASET_FUNCTIONS = ("scan_parquet",)
METADATA_FUNCTIONS = ("load_manifest", "write_manifest")

#: Spark SQL metric display names of the Python-worker metrics
#: (``PythonSQLMetrics``); timings are milliseconds, sizes bytes
PYTHON_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}


def group_id(pass_no, op: str, phase: str) -> str:
    return f"perfbench|{pass_no}|{op}|{phase}"


def parse_group(group: str):
    """``(pass, op, phase)`` of a benchmark job group, else None."""
    parts = group.split("|") if group else []
    if len(parts) != 4 or parts[0] != "perfbench":
        return None
    return parts[1], parts[2], parts[3]


class Tracer:
    """In-memory spans and per-phase job groups for one traced process."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._status = self._sc.statusTracker()
        self._stack: list[dict] = []
        self._group: str | None = None
        self.spans: list[dict] = []
        self.pass_no = None
        self.op: str | None = None
        self.enabled = False
        #: per-pass counters measured inside wrappers
        self.counters: dict = defaultdict(lambda: defaultdict(float))

    # -- job groups -------------------------------------------------------

    def phase(self, phase: str) -> None:
        """Start attributing jobs to (current pass, current op, phase)."""
        self._group = group_id(self.pass_no, self.op, phase)
        self._sc.setJobGroup(self._group, self._group)

    def clear_group(self) -> None:
        self._group = None
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def _jobs(self) -> int:
        if self._group is None:
            return 0
        return len(self._status.getJobIdsForGroup(self._group))

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": self.op, "pass": self.pass_no}
        jobs0 = self._jobs()
        rec["start"] = time.perf_counter()
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["jobs"] = self._jobs() - jobs0
            self._stack.pop()

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, separators=(",", ":")) + "\n")

    # -- wrappers around public functions -----------------------------------

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            self._count(name, args, out)
            return out
        return traced

    def _count(self, name: str, args, out) -> None:
        c = self.counters[self.pass_no]
        if name == "dataset.slice":
            c["slice_parts_in"] += len(args[0])
            c["slice_parts_out"] += len(out)
        elif name == "metadata.write_manifest":
            from padawan_spark import metadata
            c["manifest_bytes"] += os.path.getsize(
                metadata.manifest_path(args[0]))

    def install(self) -> None:
        """Wrap the public functions; rebinds every ``padawan_spark``
        module attribute that refers to an original, so callers that
        imported the function by name are traced too."""
        from padawan_spark import dataset, metadata
        targets = ([(dataset.Dataset, f, "dataset") for f in DATASET_METHODS]
                   + [(dataset, f, "dataset") for f in DATASET_FUNCTIONS]
                   + [(metadata, f, "metadata") for f in METADATA_FUNCTIONS])
        for owner, attr, layer in targets:
            orig = getattr(owner, attr)
            wrapped = self._wrap(f"{layer}.{attr}", orig)
            setattr(owner, attr, wrapped)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("padawan_spark")
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, wrapped)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def read_event_log(log_dir: str):
    """Fold the Spark event log under ``log_dir``.

    Returns ``(groups, stages)``: ``groups`` maps job group -> summed task
    metrics plus job/stage/task counts; ``stages`` maps job group ->
    {stage id: [task durations in s]} for the skew figure."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_tasks: dict[str, dict] = defaultdict(lambda: defaultdict(list))
    stage_group: dict[int, str] = {}
    counted_stages: set[tuple[str, int]] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not g:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    _add_task(groups[g], ev)
                    sid = ev["Stage ID"]
                    if (g, sid) not in counted_stages:
                        counted_stages.add((g, sid))
                        groups[g]["stages"] += 1
                    info = ev.get("Task Info") or {}
                    dur = (info.get("Finish Time", 0)
                           - info.get("Launch Time", 0)) / 1e3
                    stage_tasks[g][sid].append(dur)
    return groups, stage_tasks


def _add_task(tot: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    tot["tasks"] += 1
    tot["run_ms"] += m.get("Executor Run Time", 0)
    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
    tot["gc_ms"] += m.get("JVM GC Time", 0)
    tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    # rows, not bytes: "Bytes Read" stays near 0 for local parquet scans
    tot["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    tot["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
    tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key is not None:
            try:
                tot[key] += float(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
