"""Compare the benchmark's generated inputs with a reference data set.

For each of two directories of input tables, prints the figures the
workloads' traffic depends on: the row count of every table, the
documents corpus's word 3-shingle document-frequency profile (which
sizes the ``dedup_ngram_jaccard`` self-join), and the DuckDB oracle's
result row count for every op of every workload.  Nothing is written.

Run from the repository root:
``python3 perfbench/datacheck.py REFERENCE_DIR [GENERATED_DIR]``
(without ``GENERATED_DIR``, the tables of ``perfbench/datagen.py`` at
the workloads' scale factor are made in a temporary directory).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

from workloads import SF, WORKLOADS  # noqa: E402


def figures(data_dir: str) -> dict[str, int]:
    from padawan_spark.queries import ORACLE
    from padawan_spark.queries.dedup import _DF_CAP, _DUCK_SHINGLES
    from tests.oracle_harness import TABLES
    con = duckdb.connect()
    out = {}
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out[f"rows.{t}"] = con.sql(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
    con.sql(f"CREATE TABLE sh AS {_DUCK_SHINGLES}")
    con.sql("CREATE TABLE dfs AS SELECT s, COUNT(*) AS df FROM sh GROUP BY s")
    (out["shingles.doc_pairs"], out["shingles.distinct"],
     out["shingles.singletons"], out["shingles.max_df"],
     out["shingles.over_cap"], out["shingles.self_join_rows"]) = con.sql(
        f"""SELECT (SELECT COUNT(*) FROM sh), COUNT(*),
                   COUNT(*) FILTER (WHERE df = 1), MAX(df),
                   COUNT(*) FILTER (WHERE df > {_DF_CAP}),
                   SUM(df * (df - 1) // 2) FILTER (WHERE df <= {_DF_CAP})
            FROM dfs""").fetchone()
    for name in sorted({op for ops in WORKLOADS.values() for op in ops}):
        out[f"oracle_rows.{name}"] = con.sql(
            f"SELECT COUNT(*) FROM ({ORACLE[name]})").fetchone()[0]
    con.close()
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("reference")
    ap.add_argument("generated", nargs="?")
    a = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        gen = a.generated
        if gen is None:
            import datagen
            gen = tmp
            datagen.generate(gen, SF)
        ref, got = figures(a.reference), figures(gen)
    print(f"{'figure':44} {'reference':>12} {'generated':>12} {'gen/ref':>8}")
    for k, v in ref.items():
        g = got[k]
        ratio = f"{g / v:8.3f}" if v else f"{'-':>8}"
        print(f"{k:44} {v:12d} {g:12d} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
