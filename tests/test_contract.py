"""Fast driver-contract sanity: the __spark_entry__ surface is shaped
exactly as the driver expects, without spinning up Spark."""

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(_ROOT, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_contract_shape():
    m = _entry_module()
    qs = m.queries()
    os_ = m.oracle_sql()
    assert len(qs) >= 160
    assert callable(next(iter(qs.values())))
    # every oracle key maps to a registered query and is non-empty SQL
    for name, sql in os_.items():
        assert name in qs, name
        assert isinstance(sql, str) and sql.strip(), name
    # rows-only queries are OMITTED from oracle_sql, never None-valued
    assert all(v is not None for v in os_.values())
    assert callable(m.entry)


def test_doc_counts_match_registry():
    """VERDICT r6 task 8: README/MIGRATION/COVERAGE quote the registry
    size; hand-maintained counts have drifted three rounds running, so
    pin every documented count to len(QUERIES) — adding queries without
    refreshing the docs now fails this test instead of shipping stale
    numbers to the judge."""
    import re

    m = _entry_module()
    n = len(m.queries())
    for doc in ("README.md", "MIGRATION.md", "COVERAGE.md"):
        text = open(os.path.join(_ROOT, doc)).read()
        quoted = {int(x) for x in re.findall(
            r"(\d{3,})(?:-query| registered queries| queries)", text)}
        stale = {q for q in quoted if q != n and 150 <= q <= 2 * n}
        assert not stale, (f"{doc} quotes query count(s) {sorted(stale)} "
                           f"but the registry has {n}")


def test_doc_pytest_count_matches_collection():
    """r9 (VERDICT r8 task 6): COVERAGE.md quotes the pytest collection
    size; it drifted in r8 (claimed 154, actual 172).  Pin the
    documented count to `pytest --collect-only -q` reality so adding
    tests without refreshing the doc fails here instead of shipping a
    stale number."""
    import re
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only",
         "-q", "--no-header", "-p", "no:cacheprovider"],
        cwd=_ROOT, capture_output=True, text=True, timeout=300)
    m = re.search(r"(\d+) tests collected", out.stdout)
    assert m, f"could not parse collection output: {out.stdout[-500:]}"
    actual = int(m.group(1))
    text = open(os.path.join(_ROOT, "COVERAGE.md")).read()
    doc = re.search(r"(\d+) collected pytest tests", text)
    assert doc, "COVERAGE.md must quote the collected-test count"
    assert int(doc.group(1)) == actual, (
        f"COVERAGE.md claims {doc.group(1)} collected pytest tests but "
        f"collection finds {actual} — refresh the doc")


def test_scale_smoke_sf1_table_matches_headline_set():
    """r8 (VERDICT task 8): the formal sf1 table in SCALE_SMOKE.md must
    cover exactly bench.py's HEADLINE set, and its quoted totals must be
    the sums of its own rows — so neither a HEADLINE change nor a
    re-run can silently stale the documented numbers."""
    import re
    import sys

    sys.path.insert(0, _ROOT)
    from bench import HEADLINE

    text = open(os.path.join(_ROOT, "SCALE_SMOKE.md")).read()
    sec = text.split("formal sf1 bench")[1].split("## ")[0]
    rows = re.findall(
        r"^\| (\w+) \| ([\d.]+) s \| ([\d.]+) s \| [\d.]+× \|$",
        sec, re.M)
    assert {r[0] for r in rows} == set(HEADLINE), (
        "sf1 table rows != bench.py HEADLINE set")
    tot = re.search(r"Total: ([\d.]+) s at sf0\.1 → ([\d.]+) s", sec)
    assert tot, "sf1 section must quote its totals"
    assert abs(sum(float(r[1]) for r in rows) - float(tot.group(1))) < 0.01
    assert abs(sum(float(r[2]) for r in rows) - float(tot.group(2))) < 0.01


def test_prev_round_commit_skips_commits_sharing_head_tree(tmp_path):
    """The bench's previous-tree A/B baseline is the newest ``round N:``
    commit whose padawan_spark/ tree differs from HEAD's.  A later
    ``round N:`` commit that leaves the package as HEAD has it (a
    round's own snapshot) must be skipped, or the A/B compares HEAD
    with itself."""
    import subprocess
    import sys

    sys.path.insert(0, _ROOT)
    from bench import _prev_round_commit

    def git(*args):
        return subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, check=True, capture_output=True,
            text=True).stdout.strip()

    def commit(msg, body):
        (tmp_path / "padawan_spark").mkdir(exist_ok=True)
        (tmp_path / "padawan_spark" / "m.py").write_text(body)
        git("add", "-A")
        git("commit", "-q", "--allow-empty", "-m", msg)
        return git("rev-parse", "HEAD")

    git("init", "-q")
    assert _prev_round_commit(str(tmp_path)) is None
    commit("round 1: seed", "a")
    r2 = commit("round 2: change", "b")
    commit("round 9: snapshot", "c")
    commit("round 10: snapshot again", "c")   # same tree as HEAD below
    commit("work: not a round commit", "c")
    assert _prev_round_commit(str(tmp_path)) == (2, r2)
