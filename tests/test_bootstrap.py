"""Poisson-bootstrap properties beyond the hash-graded parity row:
interval ordering/coverage, width vs alpha and vs n, determinism, and
the weight ladder's distribution."""

from __future__ import annotations

from synthea2omop_etl_spark.operators.bootstrap import (
    _POIS1_CDF,
    bootstrap_mean_ci,
)


def _one(df, **kw):
    rows = bootstrap_mean_ci(df, "x", "id", ["g"], **kw).collect()
    assert len(rows) == 1
    return rows[0]


def _mkdf(spark, n, spread=1.0, group="g"):
    # Deterministic synthetic sample with values id-derived (no RNG).
    return spark.createDataFrame(
        [(i, group, 100.0 + spread * ((i * 7919) % 101 - 50)) for i in range(n)],
        ["id", "g", "x"],
    )


def test_interval_brackets_mean(spark):
    r = _one(_mkdf(spark, 200), replicates=50)
    assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]
    assert r["n_rows"] == 200


def test_narrower_alpha_nests(spark):
    df = _mkdf(spark, 200)
    wide = _one(df, replicates=50, alpha=0.05)
    tight = _one(df, replicates=50, alpha=0.5)
    assert wide["ci_lo"] <= tight["ci_lo"] <= tight["ci_hi"] <= wide["ci_hi"]


def test_width_shrinks_with_n(spark):
    small = _one(_mkdf(spark, 40), replicates=50)
    big = _one(_mkdf(spark, 640), replicates=50)
    assert (big["ci_hi"] - big["ci_lo"]) < (small["ci_hi"] - small["ci_lo"])


def test_deterministic(spark):
    df = _mkdf(spark, 100)
    assert _one(df, replicates=30) == _one(df, replicates=30)
    # A different salt resamples differently (same point estimate).
    other = _one(df, replicates=30, salt="boot2")
    assert other["mean_value"] == _one(df, replicates=30)["mean_value"]
    assert (other["ci_lo"], other["ci_hi"]) != (
        _one(df, replicates=30)["ci_lo"],
        _one(df, replicates=30)["ci_hi"],
    )


def test_poisson_ladder_is_a_cdf():
    import math

    assert all(b > a for a, b in zip(_POIS1_CDF, _POIS1_CDF[1:]))
    assert abs(_POIS1_CDF[0] - math.exp(-1)) < 1e-15
    assert _POIS1_CDF[-1] > 0.99998  # truncation bias ~1e-5


# ---------------------------------------------------------------------------
# frequent pairs (operators/itemsets.frequent_pairs)
# ---------------------------------------------------------------------------

def test_frequent_pairs_semantics(spark):
    from synthea2omop_etl_spark.operators.itemsets import frequent_pairs

    rows = [
        (1, "milk"), (1, "bread"), (1, "milk"),   # in-basket dup collapses
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "eggs"),
        (4, "beer"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = {
        (r["item_a"], r["item_b"]): (r["n_baskets"], r["lift"])
        for r in frequent_pairs(df, "basket", "item", min_support=2).collect()
    }
    # Only (bread, milk) reaches support 2. N=4 baskets, n_milk=3,
    # n_bread=2 -> lift = 2*4/(3*2) = 1.3333.
    assert got == {("bread", "milk"): (2, 1.3333)}


def test_frequent_pairs_basket_fence(spark):
    from synthea2omop_etl_spark.operators.itemsets import frequent_pairs

    rows = [(1, f"i{k}") for k in range(12)]           # oversized basket
    rows += [(2, "a"), (2, "b"), (3, "a"), (3, "b")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = frequent_pairs(
        df, "basket", "item", min_support=2, max_basket_size=10
    ).collect()
    # Basket 1 is dropped whole; lift denominators exclude it too:
    # N=2, n_a=n_b=2 -> lift = 2*2/(2*2) = 1.0.
    assert [(r["item_a"], r["item_b"], r["n_baskets"], r["lift"]) for r in got] == [
        ("a", "b", 2, 1.0)
    ]


# ---------------------------------------------------------------------------
# Kaplan-Meier (operators/survival.km_survival)
# ---------------------------------------------------------------------------

def test_km_textbook_example(spark):
    # Classic small KM: durations 1,2+,3,4+,5 (+ = censored).
    # t=1: n=5 d=1 -> S=0.8 ; t=3: n=3 d=1 -> S=0.8*(2/3)=0.5333 ;
    # t=5: n=1 d=1 -> S=0.
    from synthea2omop_etl_spark.operators.survival import km_survival

    df = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (4, 0), (5, 1)], ["dur", "ev"]
    )
    rows = {r["t"]: r for r in km_survival(df, "dur", "ev").collect()}
    assert rows[1]["n_risk"] == 5 and rows[1]["survival"] == 0.8
    assert rows[2]["survival"] == 0.8          # censoring leaves S flat
    assert rows[3]["n_risk"] == 3 and rows[3]["survival"] == 0.5333
    assert rows[5]["n_risk"] == 1 and rows[5]["survival"] == 0.0
    assert rows[2]["n_censored"] == 1 and rows[2]["n_events"] == 0


def test_km_grouped_and_monotone(spark):
    from synthea2omop_etl_spark.operators.survival import km_survival

    rows = [(g, d, d % 2) for g in ("a", "b") for d in range(1, 30)]
    df = spark.createDataFrame(rows, ["g", "dur", "ev"])
    out = km_survival(df, "dur", "ev", ["g"]).orderBy("g", "t").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r["survival"])
    for curve in by_g.values():
        assert all(b <= a for a, b in zip(curve, curve[1:]))  # non-increasing
        assert curve[0] <= 1.0 and curve[-1] >= 0.0
    # groups are independent: identical inputs -> identical curves
    assert by_g["a"] == by_g["b"]


# ---------------------------------------------------------------------------
# greedy coverage selection (llm_ops/selection.greedy_coverage_select)
# ---------------------------------------------------------------------------

def test_coverage_select_greedy_semantics(spark):
    from synthea2omop_etl_spark.llm_ops.selection import (
        greedy_coverage_select,
    )

    docs = [
        (1, "a b c d"),        # 4 tokens
        (2, "a b c d e f"),    # 6 tokens -> picked first
        (3, "x y"),            # disjoint 2 -> picked second
        (4, "e f x"),          # fully covered after 2,3 -> never picked
        (5, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [tuple(r) for r in greedy_coverage_select(df, "text", "doc_id", k=5).collect()]
    assert got == [(1, 2, 6), (2, 3, 2)]  # stops early: nothing novel left


def test_coverage_select_tie_breaks_on_id(spark):
    from synthea2omop_etl_spark.llm_ops.selection import (
        greedy_coverage_select,
    )

    df = spark.createDataFrame(
        [(7, "p q r"), (3, "u v w"), (9, "p q r")], ["doc_id", "text"]
    )
    got = [tuple(r) for r in greedy_coverage_select(df, "text", "doc_id", k=2).collect()]
    assert got == [(1, 3, 3), (2, 7, 3)]


# ---------------------------------------------------------------------------
# A/B diff-in-means (operators/bootstrap.bootstrap_diff_ci)
# ---------------------------------------------------------------------------

def test_ab_detects_a_real_lift(spark):
    from synthea2omop_etl_spark.operators.bootstrap import bootstrap_diff_ci

    rows = [(i, "a", 120.0 + (i * 13) % 7) for i in range(200)]
    rows += [(1000 + i, "b", 100.0 + (i * 13) % 7) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "arm", "x"])
    r = bootstrap_diff_ci(df, "x", "id", "arm", "a", "b").collect()[0]
    assert r["n_a"] == 200 and r["n_b"] == 200
    assert abs(r["diff"] - 20.0) < 1.0
    assert r["ci_lo"] <= r["diff"] <= r["ci_hi"]
    assert r["significant"] is True and r["ci_lo"] > 0


def test_ab_null_effect_not_significant(spark):
    from synthea2omop_etl_spark.operators.bootstrap import bootstrap_diff_ci

    # Identical distributions, arm assigned by parity -> no real effect.
    rows = [(i, "a" if i % 2 else "b", 50.0 + (i * 17) % 11) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "arm", "x"])
    r = bootstrap_diff_ci(df, "x", "id", "arm", "a", "b").collect()[0]
    assert r["significant"] is False
    assert r["ci_lo"] < 0 < r["ci_hi"]
    # Other arms are ignored entirely.
    df2 = df.unionByName(
        spark.createDataFrame([(9999, "c", 1e9)], ["id", "arm", "x"])
    )
    r2 = bootstrap_diff_ci(df2, "x", "id", "arm", "a", "b").collect()[0]
    assert r2 == r


# ---------------------------------------------------------------------------
# Mann-Whitney rank-sum (operators/ranktest.rank_sum_test)
# ---------------------------------------------------------------------------

def test_rank_sum_matches_scipy_formula(spark):
    from synthea2omop_etl_spark.operators.ranktest import rank_sum_test

    # Textbook no-tie case, verified against the closed-form by hand:
    # A = {1,2,3}, B = {4,5,6}: U_A = 0, mean = 4.5,
    # var = 3*3*7/12 = 5.25 -> z = -4.5/sqrt(5.25) = -1.9640
    rows = [(v, "a") for v in (1.0, 2.0, 3.0)] + [
        (v, "b") for v in (4.0, 5.0, 6.0)
    ]
    df = spark.createDataFrame(rows, ["x", "arm"])
    r = rank_sum_test(df, "x", "arm", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["u_stat"]) == (3, 3, 0.0)
    assert abs(r["z"] + 1.9640) < 1e-4
    assert r["significant"] is True


def test_rank_sum_ties_and_symmetry(spark):
    from synthea2omop_etl_spark.operators.ranktest import rank_sum_test

    rows = [(1.0, "a"), (2.0, "a"), (2.0, "b"), (3.0, "b")]
    df = spark.createDataFrame(rows, ["x", "arm"])
    r_ab = rank_sum_test(df, "x", "arm", "a", "b").collect()[0]
    r_ba = rank_sum_test(df, "x", "arm", "b", "a").collect()[0]
    # Tied pair shares mid-rank 2.5: U_a = (1 + 2.5) - 3 = 0.5, U_b = 3.5
    assert r_ab["u_stat"] == 0.5 and r_ba["u_stat"] == 3.5
    # Antisymmetric z; tiny n -> nowhere near significance
    assert abs(r_ab["z"] + r_ba["z"]) < 1e-9
    assert r_ab["significant"] is False


def test_rank_sum_robust_to_outlier_where_mean_is_not(spark):
    from synthea2omop_etl_spark.operators.bootstrap import bootstrap_diff_ci
    from synthea2omop_etl_spark.operators.ranktest import rank_sum_test

    # b dominates a rank-wise; a has one absurd outlier that flips the
    # MEAN comparison but must not flip the rank test.
    rows = [(i, float(i), "a") for i in range(1, 40)]
    rows += [(100 + i, float(i) + 25.0, "b") for i in range(1, 40)]
    rows += [(999, 1e9, "a")]
    df = spark.createDataFrame(rows, ["id", "x", "arm"])
    rs = rank_sum_test(df, "x", "arm", "a", "b").collect()[0]
    assert rs["z"] < 0 and rs["significant"] is True  # b still wins ranks
    ab = bootstrap_diff_ci(df, "x", "id", "arm", "a", "b").collect()[0]
    assert ab["diff"] > 0  # the mean, by contrast, is captured by the outlier


def test_frequent_pairs_strategies_identical(spark):
    """The map-side combinations explode of frequent_pairs and the
    within-basket self-join of its DuckDB twin (duck_frequent_pairs)
    produce the same pair/lift table over the same rows."""
    from synthea2omop_etl_spark.operators.itemsets import (
        duck_frequent_pairs,
        frequent_pairs,
    )
    from synthea2omop_etl_spark.sources.testdata import load_table
    from tests.oracle_utils import compare_results, duckdb_connection

    sf = "/root/testdata/sf0.001"
    got = frequent_pairs(
        load_table(spark, sf, "lineitem"), "l_orderkey", "l_partkey", 2
    )
    cur = duckdb_connection(sf).execute(
        duck_frequent_pairs("lineitem", "l_orderkey", "l_partkey", 2)
    )
    want = cur.fetchall()
    assert want
    assert compare_results(got, want, [d[0] for d in cur.description]) == []


def test_frequent_pairs_strategies_identical_with_nulls(spark):
    """r13 (ADVICE r12): NULL basket keys / items are excluded up front —
    a groupBy keeps a NULL-basket group that the DuckDB twin's self-join
    drops, and collect_set drops NULL items its distinct layer counts,
    so without the pre-filter the two disagree on NULL-bearing data."""
    import duckdb

    from synthea2omop_etl_spark.operators.itemsets import (
        duck_frequent_pairs,
        frequent_pairs,
    )

    rows = [
        (1, "a"), (1, "b"), (1, None),          # NULL item inside a basket
        (2, "a"), (2, "b"),
        (None, "a"), (None, "b"), (None, "c"),  # NULL basket key
        (3, None),                              # basket with only NULLs
    ]
    df = spark.createDataFrame(rows, "basket int, item string")
    combo = sorted(
        tuple(r) for r in frequent_pairs(df, "basket", "item", 2).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE baskets (basket INTEGER, item VARCHAR)")
    con.executemany("INSERT INTO baskets VALUES (?, ?)", rows)
    duck = sorted(
        con.execute(duck_frequent_pairs("baskets", "basket", "item", 2))
        .fetchall()
    )
    assert combo == duck
    # NULL rows contribute nothing: N=2 baskets (1, 2 — basket 3 holds
    # only a NULL item and vanishes), pair (a, b) support 2, lift
    # 2*2/(2*2) = 1.0.
    assert combo == [("a", "b", 2, 1.0)]
