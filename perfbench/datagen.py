"""Pinned synthetic input tables for the benchmark.

Writes the ten tables the registered queries read (``region`` ...
``embeddings``), one single-row-group snappy parquet file each, with the
schema, row counts, key ranges and value distributions of the project's
reference test data (``TESTDATA.md``): a TPC-H-like star schema sized by
a scale factor, a 30-day ``events`` stream, a ``documents`` corpus of
10-99 word texts over a 30-word vocabulary of which 5% are a copy of
another document plus the word ``dup``, and unit-norm 64-d
``embeddings``.  The benchmark may read nothing outside its own
checkout, so it makes these tables instead of reading the reference
files; ``perfbench/datacheck.py`` compares the two.  The data seed is
fixed: the same ``sf`` always gives the same bytes.

Run: ``python3 perfbench/datagen.py OUT_DIR --sf 0.1``
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
EMBED_DIM = 64
DUP_SHARE = 0.05
DATA_SEED = 42


def _days(lo: str, hi: str, n: int, rng) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(choices: list[str], n: int, rng, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _tables(sf: float, rng) -> dict[str, pa.Table]:
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32 = np.int32
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": _keys(n_cust),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": _pick(SEGMENTS, n_cust, rng)})
    t["supplier"] = pa.table({
        "s_suppkey": _keys(n_supp),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": _keys(n_part),
        "p_name": _pick(names, n_part, rng),
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
        "p_type": _pick(PART_TYPES, n_part, rng),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": _pick(PRIORITIES, n_ord, rng)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
        "l_discount": _money(0.0, 0.1, n_line, rng),
        "l_tax": _money(0.0, 0.08, n_line, rng),
        "l_returnflag": _pick(["A", "N", "R"], n_line, rng),
        "l_linestatus": _pick(["F", "O"], n_line, rng),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)})
    span_us = 30 * 86_400 * 1_000_000
    ts = (np.datetime64("2024-01-01", "us")
          + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": _keys(n_ev),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(EVENT_TYPES, n_ev, rng),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_ev)])})
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS),
                                         rng.integers(10, 100))])
             for _ in range(n_docs)]
    # in place and in turn, so a copy may be of an earlier copy
    dups = rng.choice(n_docs, int(n_docs * DUP_SHARE), replace=False)
    for d in dups:
        src = (d + rng.integers(1, n_docs)) % n_docs
        texts[d] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": _keys(n_docs),
        "text": pa.array(texts),
        "lang": _pick(LANGS, n_docs, rng, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": _keys(n_emb),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32))})
    return t


def generate(out_dir: str, sf: float) -> None:
    """Write every table for ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf, np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy",
                       row_group_size=max(1, table.num_rows))


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    generate(a.out_dir, a.sf)
