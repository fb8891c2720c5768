"""r16: the argmin/argmax windows rewritten as min/max(struct(...))
aggregates (PQ code selection, LPA rounds, dedup_latest_version, LTTB
bucket argmax) must pick EXACTLY the row the rank-1 window picked,
including under ties on the cost column.  This pins the equivalence on
tie-heavy fixtures, both directions.  sim_kmeans_train's double-screened
per-row argmin is pinned the same way against the all-exact
min(struct(...)) aggregate it replaced."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _rows():
    # per key: duplicate minimal costs (tie -> id break), a negative,
    # zeros (the -0.0/0.0 hazard class for the negated-descending form)
    costs = [3.0, 1.0, 1.0, 2.0, 1.0, 0.0, 0.0, 5.5]
    return [(k, c, i) for k in range(7) for i, c in enumerate(costs)]


@pytest.mark.slow
def test_struct_argmin_matches_window_asc(spark):
    df = spark.createDataFrame(_rows(), "k int, cost double, id int")
    w = Window.partitionBy("k").orderBy("cost", "id")
    via_window = (df.withColumn("rn", F.row_number().over(w))
                  .where("rn = 1").select("k", "id"))
    via_agg = (df.groupBy("k")
               .agg(F.min(F.struct("cost", "id")).alias("m"))
               .select("k", F.col("m.id").alias("id")))
    assert sorted(map(tuple, via_window.collect())) \
        == sorted(map(tuple, via_agg.collect()))


def test_struct_argmax_neg_matches_window_desc(spark):
    # the LTTB / LPA form: DESC cost, ASC id == min(struct(-cost, id))
    df = spark.createDataFrame(_rows(), "k int, cost double, id int")
    w = Window.partitionBy("k").orderBy(F.desc("cost"), "id")
    via_window = (df.withColumn("rn", F.row_number().over(w))
                  .where("rn = 1").select("k", "id"))
    via_agg = (df.groupBy("k")
               .agg(F.min(F.struct((-F.col("cost")).alias("nc"),
                                   F.col("id"))).alias("m"))
               .select("k", F.col("m.id").alias("id")))
    assert sorted(map(tuple, via_window.collect())) \
        == sorted(map(tuple, via_agg.collect()))


def test_struct_max_payload_matches_window(spark):
    # the keep-latest form: unique (ts, id) prefix carries a payload
    # field that must never decide the comparison
    rows = [(k, t, i, f"v{k}-{t}-{i}") for k in range(5)
            for t in (10, 20, 20, 5) for i in (1, 2)]
    df = spark.createDataFrame(rows, "k int, ts long, id int, val string")
    w = Window.partitionBy("k").orderBy(F.desc("ts"), F.desc("id"))
    via_window = (df.withColumn("rn", F.row_number().over(w))
                  .where("rn = 1").select("k", "id", "ts", "val"))
    via_agg = (df.groupBy("k")
               .agg(F.max(F.struct("ts", "id", "val")).alias("m"))
               .select("k", F.col("m.id").alias("id"),
                       F.col("m.ts").alias("ts"),
                       F.col("m.val").alias("val")))
    assert sorted(map(tuple, via_window.collect())) \
        == sorted(map(tuple, via_agg.collect()))


def _kmeans_fixtures():
    """(id, kind, x, cs) rows for the k-means assignment kernel: per row a
    64-dim vector and its own centroid table, built so that the double
    screen meets every case — clear winners, exact ties the cluster id
    must break, double-vs-decimal near-ties on both sides of the
    screening bound at magnitudes 1 to 1e6, zeros, negatives, and null
    elements in the vector or in one centroid."""
    import random
    rnd = random.Random(17)
    vec = lambda lo, hi: [rnd.uniform(lo, hi) for _ in range(64)]  # noqa: E731
    rows = []

    def add(kind, x, cents):
        rows.append((len(rows), kind, x, cents))

    for _ in range(12):
        add("clear", vec(-3, 3), [(j, vec(-3, 3)) for j in range(8)])
    x = vec(-3, 3)
    add("clear", x, [(j, vec(-3, 3)) for j in range(6)] + [(6, x)])  # 0
    twin = vec(-3, 3)                       # exact tie: j breaks it
    add("tie", vec(-0.01, 0.01), [(3, twin), (5, vec(-3, 3)), (1, twin)])
    add("tie", [0.0] * 64,
        [(2, [0.0] * 64), (0, [0.0] * 64), (4, vec(-1, 1))])
    # exact decimal ties where the double fold is not tied: t rounds to
    # the same scale-9 value, so the double argmin (j=1) is the wrong
    # answer and only the exact fold, tie-broken to j=0, is right
    add("tie", [0.0] * 64,
        [(0, [1.0 + 1e-10] + [1.0] * 63), (1, [1.0] * 64)])
    # near-ties around the bound: one centroid is the other with one
    # coordinate moved away by eps, at distances ~1 to ~1e6
    for scale in (0.125, 1.0, 30.0, 125.0):
        for eps in (1e-12, 1e-10, 1e-9, 3e-9, 1e-8, 1e-7, 1e-6, 1e-4):
            base = [scale * rnd.choice((-1.0, 1.0)) for _ in range(64)]
            moved = list(base)
            k = rnd.randrange(64)
            moved[k] += eps if base[k] > 0 else -eps
            add("near", [0.0] * 64,
                [(rnd.choice((0, 1)), moved), (7, base)]
                if rnd.random() < 0.5 else [(7, moved), (0, base)])
    nx = vec(-3, 3)
    nx[5] = None                            # null in the vector
    add("null", nx, [(j, vec(-3, 3)) for j in range(4)])
    nc = vec(-3, 3)
    nc[9] = None                            # null in one centroid
    add("null", vec(-3, 3), [(0, vec(-3, 3)), (2, nc), (3, vec(-3, 3))])
    return rows


def test_screened_kmeans_argmin_matches_exact_fold(spark):
    # sim_kmeans_train decides its argmin from a double fold and runs
    # the exact decimal fold only within a proven bound of a tie; the
    # answer must be exactly the argmin the all-exact (vector, centroid)
    # relation gives — min(struct(exact dist, j)), the query's previous
    # plan.  Spark is the reference, not DuckDB: the engines round
    # half-way decimal casts differently.
    from padawan_spark.queries.similarity import _KM_DFOLD, _km_assign
    df = spark.createDataFrame(
        _kmeans_fixtures(),
        "id int, kind string, x array<double>, cs array<struct<j: bigint, "
        "c: array<double>>>")
    got = _km_assign(df).select("id", "kind", "j", "exact").collect()
    sq = lambda a, b: ((a - b) * (a - b)).cast(_KM_DFOLD)  # noqa: E731
    dist = F.aggregate(F.zip_with("x", "c", sq), F.lit(0).cast(_KM_DFOLD),
                       lambda acc, v: (acc + v).cast(_KM_DFOLD))
    want = {r.id: r.j for r in
            df.select("id", "x", F.inline("cs"))
            .groupBy("id").agg(F.min(F.struct(dist.alias("d"), "j"))
                               .alias("m"))
            .select("id", "m.j").collect()}
    assert {r.id: r.j for r in got} == want
    # the exact fold runs on every tie and null row, on no clear
    # winner, and the near-ties fall on both sides of the bound
    branch = {}
    for r in got:
        branch.setdefault(r.kind, set()).add(r.exact)
    assert branch == {"clear": {False}, "tie": {True}, "null": {True},
                      "near": {False, True}}, branch
