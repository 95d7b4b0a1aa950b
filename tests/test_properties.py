"""Property-based tests (hypothesis) for the core operator semantics —
beyond the reference's test strategy (SURVEY.md §5 gap)."""

from __future__ import annotations

import pytest

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.idmap import assign_dense_ids
from synthea2omop_etl_spark.operators.split import route_numeric
from synthea2omop_etl_spark.operators.typing import cast_or_null

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

value_strings = st.one_of(
    st.text(max_size=12),
    st.from_regex(r"-?[0-9]{1,6}(\.[0-9]{1,4})?([eE][-+]?[0-9])?", fullmatch=True),
    st.just(""),
)


@given(vals=st.lists(value_strings, min_size=1, max_size=30))
@SLOW
def test_cast_or_null_matches_duckdb_try_cast(spark, vals):
    """Engine numeric typing == DuckDB TRY_CAST, restricted to the declared
    numeric regex (both engines NULL elsewhere by construction)."""
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [
        r.d for r in df.select(cast_or_null("v", "double").alias("d")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            """
            SELECT CASE WHEN regexp_matches(?,
              '^[-]?[0-9]+([.][0-9]+)?([eE][-+]?[0-9]+)?$')
            THEN TRY_CAST(? AS DOUBLE) END
            """,
            [v, v],
        ).fetchone()[0]
        for v in vals
    ]
    assert got == want


@given(
    keys=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@SLOW
def test_dense_ids_are_rank_in_sorted_order(spark, keys):
    """Dense ids == a bare ``Window.orderBy`` row_number of the key,
    independent of input order/partitioning: at default settings (a
    parquet-fed frame this small is numbered in one sorted partition) and
    with coalescing off (the partition-offset kernel)."""
    import tempfile

    from pyspark.sql import Window

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame([(k,) for k in keys], "k string").repartition(
            5
        ).write.mode("overwrite").parquet(tmp + "/k")
        df = spark.read.parquet(tmp + "/k")
        want = {
            r.k: r.id
            for r in df.select(
                "k", F.row_number().over(Window.orderBy("k")).alias("id")
            ).collect()
        }
        got = []
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        for coalesce in ("true", "false"):
            spark.conf.set(key, coalesce)
            try:
                got.append(
                    {r.k: r.id for r in assign_dense_ids(df, "k", "id").collect()}
                )
            finally:
                spark.conf.unset(key)
    assert got == [want, want]


@given(vals=st.lists(st.one_of(value_strings, st.none()), min_size=1, max_size=30))
@SLOW
def test_route_numeric_partitions_input(spark, vals):
    """meas ∪ obs == input, disjoint — no row lost or duplicated."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i int, v string")
    meas, obs = route_numeric(df, "v")
    m = {r.i for r in meas.collect()}
    o = {r.i for r in obs.collect()}
    assert m | o == set(range(len(vals)))
    assert not (m & o)


@given(
    rows=st.lists(
        st.tuples(
            st.text(alphabet="ab", max_size=3),
            st.text(alphabet="bc", max_size=3),
        ),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
@SLOW
def test_row_ids_stable_across_repartitioning(spark, rows):
    """with_row_ids must assign the same id to the same natural key no
    matter how the input is partitioned — including adjacent-field
    ambiguity cases like ("ab","c") vs ("a","bc"), which the unit-separator
    join keeps distinct."""
    from synthea2omop_etl_spark.domains._common import with_row_ids

    df = spark.createDataFrame(rows, "a string, b string")
    a = {
        (r.a, r.b): r.rid
        for r in with_row_ids(df.repartition(1), "rid", ["a", "b"]).collect()
    }
    b = {
        (r.a, r.b): r.rid
        for r in with_row_ids(df.repartition(7), "rid", ["a", "b"]).collect()
    }
    assert a == b
    assert sorted(a.values()) == list(range(1, len(rows) + 1))


def _py_minhash_reference(text: str, n: int = 3, num_hashes: int = 16):
    """Pure-Python reimplementation of tokens→hash→shingle→signature,
    straight from the definitions in hashing.py — an implementation
    independent of every Spark expression under test."""
    import hashlib
    import re

    from synthea2omop_etl_spark.llm_ops.hashing import B, P, minhash_params

    toks = re.split(r"\s+", text.strip()) if text.strip() else []
    th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % P for t in toks]
    if len(th) < n:
        return [], None
    sh = []
    for i in range(len(th) - n + 1):
        h = th[i]
        for j in range(1, n):
            h = (h * B + th[i + j]) % P
        sh.append(h)
    sig = [
        min((a * s + b) % P for s in sh) for a, b in minhash_params(num_hashes)
    ]
    return sh, sig


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x2FF
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=0,
        max_size=12,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_shingle_signature_matches_python_reference(spark, words):
    """The let-bound Spark expression chain (token md5 → rolling shingle →
    fused single-pass MinHash signature) must agree exactly with an
    independent pure-Python computation on arbitrary text."""
    from synthea2omop_etl_spark.llm_ops.dedup import (
        bind_once,
        minhash_signature,
        shingle_hashes_from,
        token_hashes,
    )

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        bind_once(
            token_hashes(F.col("text")),
            lambda th: shingle_hashes_from(th, 3),
        ).alias("sh")
    ).collect()[0]
    exp_sh, exp_sig = _py_minhash_reference(text)
    assert list(row.sh) == exp_sh
    if exp_sig is not None:
        sig_row = df.select(
            bind_once(
                bind_once(
                    token_hashes(F.col("text")),
                    lambda th: shingle_hashes_from(th, 3),
                ),
                lambda sh: minhash_signature(sh, 16),
            ).alias("sig")
        ).collect()[0]
        assert list(sig_row.sig) == exp_sig


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.one_of(
                st.integers(min_value=-1000, max_value=1000).map(float),
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=40,
    ),
    qs=st.lists(
        st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
@SLOW
@pytest.mark.slow
def test_rank_percentiles_equal_builtin(spark, rows, qs):
    """percentile_exact_by_rank must be byte-identical to the builtin
    sort-based percentile aggregate for arbitrary groups/values/quantiles
    (same IEEE-double interpolation arithmetic)."""
    from synthea2omop_etl_spark.operators.percentiles import (
        percentile_exact_by_rank,
    )

    df = spark.createDataFrame(rows, ["g", "v"]).repartition(5)
    names = [f"q{i}" for i in range(len(qs))]
    got = {
        r["g"]: [r[n] for n in names]
        for r in percentile_exact_by_rank(df, "g", "v", qs, names).collect()
    }
    arr = "array(" + ",".join(repr(q) for q in qs) + ")"
    want = {
        r["g"]: list(r["pct"])
        for r in df.groupBy("g")
        .agg(F.expr(f"percentile(v, {arr})").alias("pct"))
        .collect()
    }
    assert got == want


@given(
    subjects=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1)),
        min_size=1,
        max_size=25,
    )
)
@SLOW
def test_km_matches_python_reference(spark, subjects):
    from synthea2omop_etl_spark.operators.survival import km_survival

    df = spark.createDataFrame(subjects, ["dur", "ev"])
    got = {
        r["t"]: (r["n_risk"], r["n_events"], r["survival"])
        for r in km_survival(df, "dur", "ev").collect()
    }
    # pure-Python KM. Rounding must mirror the engine/oracle contract:
    # km_survival pins HALF_UP (operators/survival.py), which DuckDB
    # matches; Python's builtin round() is banker's rounding and diverges
    # at exact .xxxx5 ties (e.g. 0.65625 -> 0.6562 vs 0.6563).
    from decimal import ROUND_HALF_UP, Decimal

    def _r4(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        )

    want = {}
    s = 1.0
    alive = len(subjects)
    for t in sorted({d for d, _ in subjects}):
        d = sum(1 for dd, ee in subjects if dd == t and ee == 1)
        n_at = sum(1 for dd, _ in subjects if dd == t)
        s *= 1.0 - d / alive
        want[t] = (alive, d, _r4(s))
        alive -= n_at
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("abcdefg"), min_size=0, max_size=6
        ).map(lambda xs: " ".join(xs)),
        min_size=2,
        max_size=12,
    ),
    threshold=st.sampled_from([0.5, 0.75, 1.0]),
)
@SLOW
@pytest.mark.slow
def test_prefix_join_complete_vs_brute_force(spark, docs, threshold):
    # The prefix filter must be LOSSLESS for any input and threshold —
    # the completeness lemma the operator's scale story rests on.
    from itertools import combinations

    from synthea2omop_etl_spark.llm_ops.dedup import set_similarity_pairs

    rows = list(enumerate(docs))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in set_similarity_pairs(df, "text", "doc_id", threshold).collect()
    }
    sets = {i: set(t.split()) for i, t in rows if t.strip()}
    want = set()
    for i, j in combinations(sorted(sets), 2):
        jac = round(len(sets[i] & sets[j]) / len(sets[i] | sets[j]), 4)
        if jac >= threshold:
            want.add((i, j))
    assert got == want


@given(
    vals=st.lists(
        st.one_of(
            # generic doubles
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            # forced .xxxx5 boundary values — the tie class where Spark
            # F.round (shortest-decimal HALF_UP) and DuckDB ROUND (exact
            # binary) disagree by the last digit
            st.integers(min_value=-10**9, max_value=10**9).map(
                lambda n: (n * 10 + 5) / 1e5
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_floor_round_cross_engine_parity(spark, vals):
    """The repo's derived-float convention: _floor_round in Spark and
    FLOOR(x*1e4+0.5)/1e4 in DuckDB produce IDENTICAL doubles for any
    input, INCLUDING .xxxx5 ties — both engines run the same IEEE
    multiply/floor/divide. (Plain F.round vs ROUND fails this exact
    property; that divergence cost r07 its one red CORRECTNESS row.)"""
    from synthea2omop_etl_spark.operators.timeseries import _floor_round

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               ["i", "v"])
    got = {
        r["i"]: r["r"]
        for r in df.select("i", _floor_round(F.col("v"), 4).alias("r"))
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, v) for i, v in enumerate(vals)])
    want = dict(con.execute(
        "SELECT i, FLOOR(v * 1e4 + 0.5) / 1e4 FROM t"
    ).fetchall())
    assert got == want


@given(
    words=st.dictionaries(
        st.text(alphabet="abcde", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=8,
    ),
    num_merges=st.integers(min_value=1, max_value=6),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_learn_matches_python_reference(spark, words, num_merges):
    """The distributed BPE trainer must reproduce the textbook greedy
    (count pairs → merge argmax with (lhs, rhs)-asc ties → leftmost
    non-overlapping application) on arbitrary small corpora — including
    the overlap-run cases (repeated single letters) the run-detection
    window algebra exists for."""
    from tests.test_llm_ops import _py_bpe
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe

    text = " ".join(" ".join([w] * n) for w, n in words.items())
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges, segments = learn_bpe(docs, "text", num_merges)
    got = sorted(tuple(r) for r in merges.collect())
    assert got == sorted(_py_bpe(words, num_merges))
    # every learned segmentation concatenates back to its word
    for r in segments.collect():
        assert r["seg"].replace(" ", "") == r["word"]
