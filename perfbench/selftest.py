"""Self-test of the benchmark.

Runs every workload of ``BENCHMARK.json`` at sf0.001 for one timed pass
(one untraced/traced block with ``--trace 1``) and checks that the last
stdout line is the result object, that it carries every end-to-end
(``--trace 0``) or per-layer (``--trace 1``) metric by name with its
unit and a finite value, that no op failed, and that the summary record
reports ``fail_ratio`` 0.  It also checks that every wrapped function
(each ``*.calls`` metric) is called on at least one workload, so no
per-layer metric reads 0 by construction.  Exits non-zero on any
problem.

Run from the repository root: ``python3 perfbench/selftest.py``
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def check_run(workload: str, trace: int, spec: dict):
    """(problems, metrics) of one self-test run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "0",
           "--trace", str(trace), "--sf", "0.001", "--passes", "1"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}: {proc.stderr[-2000:]}"], {}
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    if set(result) != RESULT_KEYS:
        problems.append(f"{where}: result keys {sorted(result)}")
    if result.get("failed") != 0 or result.get("correct") is not True:
        problems.append(f"{where}: failed={result.get('failed')}")
    if not (isinstance(result.get("attempted"), int)
            and result["attempted"] >= 1):
        problems.append(f"{where}: attempted={result.get('attempted')}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result.get("metrics", {})
    for m in want:
        v = got.get(m["name"])
        if v is None:
            problems.append(f"{where}: metric {m['name']} missing")
        elif v.get("unit") != m["unit"]:
            problems.append(f"{where}: {m['name']} unit {v.get('unit')} "
                            f"!= {m['unit']}")
        elif not (isinstance(v.get("value"), (int, float))
                  and math.isfinite(v["value"])):
            problems.append(f"{where}: {m['name']} value {v.get('value')}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        problems.append(f"{where}: metrics not in BENCHMARK.json: "
                        f"{sorted(extra)}")
    summary = [json.loads(x) for x in lines if '"record":"summary"' in x]
    if not summary or summary[-1]["metrics"]["fail_ratio"]["value"] != 0:
        problems.append(f"{where}: fail_ratio is not 0")
    return problems, got


def main() -> int:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = []
    calls: dict[str, float] = {}
    for w in spec["workloads"]:
        for trace in (0, 1):
            found, got = check_run(w["name"], trace, spec)
            print(f"{w['name']} --trace {trace}: "
                  f"{'ok' if not found else 'FAIL'}", flush=True)
            problems += found
            for name, v in got.items():
                if trace and name.endswith(".calls"):
                    calls[name] = max(calls.get(name, 0), v["value"])
    problems += [f"{name} is 0 on every workload"
                 for name, v in sorted(calls.items()) if not v > 0]
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
