"""Driver-facing query registry.

Importing this package registers every query suite; ``QUERIES`` maps a
name to ``fn(spark, sf_dir) -> DataFrame`` and ``ORACLE`` to the
equivalent DuckDB SQL (absent for non-SQL-expressible ops).
"""

from .registry import ORACLE, QUERIES, load  # noqa: F401

from . import relational  # noqa: E402,F401

import importlib as _importlib
import importlib.util as _ilu

_SUITES = ["operators", "analytics", "dedup", "similarity", "text", "events",
           "streamingq", "multimodal", "advanced", "udfs", "scale",
           "pipeline", "graph"]
for _m in _SUITES:
    if _ilu.find_spec(f"{__name__}.{_m}") is not None:
        _importlib.import_module(f"{__name__}.{_m}")

# ---------------------------------------------------------------------------
# Registry ordering: external correctness harnesses check a prefix of this
# dict (the driver verifies the first 50 entries in insertion order), so the
# head is GENERATED from the recorded CORRECTNESS_r{N}.json results (as the
# round-4 review asked) instead of a hand-maintained list:
#
#   1. RETESTS — queries whose MOST RECENT driver check failed (red rows)
#      go first, so every fix is re-verified next round;
#   2. SENTINELS — queries exercising code that CHANGED this round (listed
#      explicitly below, updated each round);
#   3. EVERYTHING ELSE ascending by the round it was LAST driver-checked
#      (never-checked sorts first as round 0, then r1-era rows, r2-era,
#      ...), registry order within a round — so with the full registry
#      green the 50-row window cycles the oldest-verified queries back
#      through the driver every round instead of re-emitting a static
#      prefix, and every row is re-verified roughly every
#      ceil(len(QUERIES)/window) rounds.
#
# All queries stay registered; this is a stable re-ordering, not a filter.
# ---------------------------------------------------------------------------

# code that changed since the correctness harness last hashed it —
# keep it in the window even though already green.  Deliberately SMALL
# so the rest of the window keeps draining the stalest rows.
# q15_top_supplier + q11_important_stock (the single-task global-max
# Window became a parallel scalar aggregate joined back through a 1-row
# broadcast); sim_ann_ivfpq + sim_pq_adc_topk (the PQ codebook is built
# once); graph_pagerank + graph_pagerank_users (rounds compose into one
# DAG); sim_kmeans_train (one row per vector against a broadcast
# centroid array, distances screened in double and decided in exact
# decimal on near-ties).  Never-checked queries need no sentinel: they
# enter the window as round-0 staleness automatically.
_SENTINELS = ["q15_top_supplier",
              "q11_important_stock",
              "sim_ann_ivfpq",
              "sim_pq_adc_topk",
              "graph_pagerank",
              "graph_pagerank_users",
              "sim_kmeans_train"]

_WINDOW = 50


def _build_head(root: str | None = None) -> list[str]:
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re
    if root is None:
        root = _os.path.dirname(_os.path.dirname(
            _os.path.dirname(_os.path.abspath(__file__))))
    # Per-query verdict comes from the MOST RECENT round that checked it
    # (rounds iterated newest-first; first verdict wins), so a query that
    # regresses after an early green is classified as a retest rather than
    # staying green-by-union forever.  The same pass records WHICH round
    # last checked each query, driving the least-recently-checked rotation.
    rounds = []
    for p in _glob.glob(_os.path.join(root, "CORRECTNESS_r*.json")):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    latest: dict = {}
    checked_round: dict = {}        # query -> newest round containing it
    for _n, p in sorted(rounds, reverse=True):
        try:
            with open(p) as fh:
                d = _json.load(fh)
        except (OSError, ValueError):
            continue
        for k, v in d.items():
            if k not in latest:
                latest[k] = bool(isinstance(v, dict) and v.get("hash_match"))
                checked_round[k] = _n
    retests = [n for n in QUERIES if n in latest and not latest[n]]
    # stale-first rotation: never-checked rows sort as round 0 ahead of
    # r1-era rows, etc.; registry order breaks ties within a round
    by_staleness = sorted(QUERIES, key=lambda n: checked_round.get(n, 0))
    ordered = retests + _SENTINELS + by_staleness
    head: list[str] = []
    for n in ordered:
        if n in QUERIES and n not in head:
            head.append(n)
        if len(head) == _WINDOW:
            break
    return head


def _reorder() -> None:
    head = _build_head()
    missing = [n for n in head if n not in QUERIES]
    assert not missing, f"registry head references unknown queries: {missing}"
    tail = [n for n in QUERIES if n not in set(head)]
    ordered = {n: QUERIES[n] for n in [*head, *tail]}
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder()

__all__ = ["QUERIES", "ORACLE", "load"]
