"""PageRank properties the hash-graded registry row can't express:
closed-form values on known graphs, weight sensitivity, dangling-mass
behavior, and convergence direction."""

from __future__ import annotations

import math

import pytest

from synthea2omop_etl_spark.operators.graph import pagerank


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_two_node_cycle_is_uniform(spark):
    # a<->b is symmetric: rank stays at the uniform 1/2 every iteration.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], ["src", "dst"]
    )
    r = _ranks(pagerank(edges, iters=4))
    assert r["a"] == pytest.approx(0.5, abs=1e-12)
    assert r["b"] == pytest.approx(0.5, abs=1e-12)


def test_star_sink_closed_form(spark):
    # a,b,c all point at hub d; nobody leaves d (dangling). After one
    # round from uniform 1/4: hub = 0.15/4 + 0.85*(3/4), spokes = 0.15/4.
    edges = spark.createDataFrame(
        [("a", "d"), ("b", "d"), ("c", "d")], ["src", "dst"]
    )
    r = _ranks(pagerank(edges, iters=1))
    spoke = 0.15 / 4
    assert r["a"] == pytest.approx(spoke, abs=1e-12)
    assert r["d"] == pytest.approx(spoke + 0.85 * 0.75, abs=1e-12)
    # Dangling hub leaks its mass (documented): total < 1 after round 2.
    r2 = _ranks(pagerank(edges, iters=2))
    assert sum(r2.values()) < 1.0
    # Ordering is stable regardless: hub stays on top.
    assert r2["d"] > r2["a"]


def test_weights_shift_mass(spark):
    # a splits 9:1 between b and c — b must end up above c.
    edges = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        ["src", "dst", "w"],
    )
    r = _ranks(pagerank(edges, weight="w", iters=6))
    assert r["b"] > r["c"]
    # Unweighted, the same topology ties b and c exactly.
    ru = _ranks(pagerank(edges.drop("w"), iters=6))
    assert ru["b"] == pytest.approx(ru["c"], abs=1e-12)


def test_redistribute_conserves_mass_with_dangling(spark):
    # Hub d is dangling. With redistribute=True the dangling mass is
    # split uniformly each round, so total mass is exactly 1 at every
    # iteration count — reference-grade PageRank.
    edges = spark.createDataFrame(
        [("a", "d"), ("b", "d"), ("c", "d")], ["src", "dst"]
    )
    for k in (1, 2, 4):
        r = _ranks(pagerank(edges, iters=k, redistribute=True))
        assert math.isclose(sum(r.values()), 1.0, abs_tol=1e-9)
        # the hub still dominates
        assert r["d"] > r["a"]
    # Closed form after one round from uniform 1/4: dangling mass D=1/4,
    # spokes get 0.15/4 + 0.85*(D/4); hub gets that plus 0.85*(3/4).
    r1 = _ranks(pagerank(edges, iters=1, redistribute=True))
    spoke = 0.15 / 4 + 0.85 * (0.25 / 4)
    assert r1["a"] == pytest.approx(spoke, abs=1e-12)
    assert r1["d"] == pytest.approx(spoke + 0.85 * 0.75, abs=1e-12)


def test_redistribute_noop_without_dangling(spark):
    # No dangling nodes -> redistribute must not change any rank.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")], ["src", "dst"]
    )
    base = _ranks(pagerank(edges, iters=3))
    redist = _ranks(pagerank(edges, iters=3, redistribute=True))
    for node, rank in base.items():
        assert redist[node] == pytest.approx(rank, abs=1e-12)


def test_conserves_mass_without_dangling(spark):
    # Every node has an out-edge -> total mass stays exactly 1 per round.
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")], ["src", "dst"]
    )
    for k in (1, 3, 5):
        total = sum(_ranks(pagerank(edges, iters=k)).values())
        assert math.isclose(total, 1.0, abs_tol=1e-9)


# ---------------------------------------------------------------------------
# prefix-filtered set-similarity join (llm_ops/dedup.set_similarity_pairs)
# ---------------------------------------------------------------------------

def test_prefix_join_matches_brute_force(spark):
    from itertools import combinations

    from synthea2omop_etl_spark.llm_ops.dedup import set_similarity_pairs

    docs = [
        (1, "a b c d e"),
        (2, "a b c d e f"),   # J(1,2)=5/6
        (3, "a b c d x"),     # J(1,3)=4/6
        (4, "z y x w v u t"),
        (5, "z y x w v u"),   # J(4,5)=6/7
        (6, ""),              # excluded (empty token set)
        (7, "a b c d e"),     # identical to 1 -> J=1.0
    ]
    t = 0.8
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in set_similarity_pairs(df, "text", "doc_id", t).collect()
    }
    sets = {i: set(s.split()) for i, s in docs if s}
    want = {}
    for i, j in combinations(sorted(sets), 2):
        jac = round(
            len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 4
        )
        if jac >= t:
            want[(i, j)] = jac
    assert got == want
    assert (1, 7) in got and got[(1, 7)] == 1.0


# ---------------------------------------------------------------------------
# deterministic weighted sampling (llm_ops/curation.weighted_sample)
# ---------------------------------------------------------------------------

def test_weighted_sample_contracts(spark):
    import pytest as _pytest

    from synthea2omop_etl_spark.llm_ops.curation import weighted_sample

    rows = [(i, "g", float(i % 3 + 1)) for i in range(1, 21)]
    rows += [(100 + i, "h", 1.0) for i in range(5)]
    rows += [(200, "h", 0.0), (201, "h", -2.0)]  # zero/negative weight
    df = spark.createDataFrame(rows, ["id", "grp", "w"])

    # k >= group size returns the whole (positive-weight) group, ranked.
    full = weighted_sample(df, "id", "w", k=100, group_cols=["grp"])
    got = full.groupBy("grp").count().collect()
    assert {r["grp"]: r["count"] for r in got} == {"g": 20, "h": 5}
    ranks = [r["sample_rank"] for r in full.where("grp = 'g'").collect()]
    assert sorted(ranks) == list(range(1, 21))

    # Deterministic: two runs produce identical samples.
    k5a = {tuple(r) for r in weighted_sample(df, "id", "w", 5, ["grp"]).collect()}
    k5b = {tuple(r) for r in weighted_sample(df, "id", "w", 5, ["grp"]).collect()}
    assert k5a == k5b and len(k5a) == 10

    # Zero/negative weights can never be sampled.
    ids = {r["id"] for r in full.collect()}
    assert 200 not in ids and 201 not in ids

    with _pytest.raises(ValueError):
        weighted_sample(df, "id", "w", 5, [])


def test_weighted_sample_bias(spark):
    # One overwhelming weight should dominate rank 1 across many salts:
    # u^(1/w) -> 1 as w grows, so the heavy row wins unless its u is
    # astronomically small. Check a large majority across 20 salts.
    from synthea2omop_etl_spark.llm_ops.curation import weighted_sample

    rows = [(1, "g", 1e9)] + [(i, "g", 1.0) for i in range(2, 12)]
    df = spark.createDataFrame(rows, ["id", "grp", "w"])
    wins = 0
    for s in range(20):
        top = weighted_sample(df, "id", "w", 1, ["grp"], salt=f"s{s}").collect()
        wins += top[0]["id"] == 1
    assert wins >= 18


def test_cut_lineage_reliable_checkpoint_knob(spark, tmp_path, monkeypatch):
    """r13 (VERDICT r12 item 10): SPARK_GRAFT_CHECKPOINT_DIR flips every
    cut_lineage call from executor-local localCheckpoint to a RELIABLE
    checkpoint into the given directory — same results, recomputable
    after executor loss. Default (env unset) stays localCheckpoint.
    Changing the directory mid-session moves the next cut to the new
    directory. Whatever checkpoint directory the session had at start is
    restored, so the test holds in any run order."""
    import os

    from synthea2omop_etl_spark.llm_ops.cluster import connected_components
    from synthea2omop_etl_spark.operators.lineage import cut_lineage

    sc = spark.sparkContext
    found = sc.getCheckpointDir()
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    base = sorted(
        tuple(r) for r in connected_components(edges).collect()
    )
    try:
        # the second directory is a change mid-session: the context's
        # directory is then stale and must be re-set
        for name in ("reliable_ckpt", "moved_ckpt"):
            ckdir = str(tmp_path / name)
            monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
            reliable = sorted(
                tuple(r) for r in connected_components(edges).collect()
            )
            assert reliable == base and base
            # the knob actually engaged: the checkpoint dir was claimed
            # under ckdir and the reliable checkpoint wrote RDD state there
            assert os.path.dirname(sc.getCheckpointDir()).endswith(ckdir)
            assert any(os.scandir(ckdir)), "reliable checkpoint wrote nothing"
        # direct-call shape: a plain frame survives the cut identically
        df = spark.range(5)
        assert sorted(r.id for r in cut_lineage(df, eager=True).collect()) == \
            list(range(5))
    finally:
        # restore the exact directory found (None included);
        # setCheckpointDir would append a fresh random subdirectory
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(found)
        )
