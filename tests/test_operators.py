from __future__ import annotations

from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators import (
    anti_join_new_rows,
    assign_dense_ids,
    build_id_map,
    cast_or_null,
    enum_or_null,
    first_per_group,
    null_if_empty,
    route_numeric,
)
from synthea2omop_etl_spark.operators.typing import apply_typing


def test_cast_or_null_numeric(spark):
    df = spark.createDataFrame(
        [("1",), ("1.5",), ("-3.2",), ("1.2e3",), ("12abc",), ("",), (None,)],
        ["v"],
    )
    out = df.select(cast_or_null("v", "double").alias("d")).collect()
    assert [r.d for r in out] == [1.0, 1.5, -3.2, 1200.0, None, None, None]


def test_cast_or_null_date_and_timestamp(spark):
    df = spark.createDataFrame(
        [("2020-01-02",), ("2020-01-02 03:04:05",), ("not a date",), ("",)], ["v"]
    )
    out = df.select(
        cast_or_null("v", "date").alias("d"),
        cast_or_null("v", "timestamp").alias("t"),
    ).collect()
    assert str(out[0].d) == "2020-01-02"
    assert str(out[1].t) == "2020-01-02 03:04:05"
    assert out[2].d is None and out[2].t is None
    assert out[3].d is None and out[3].t is None


def test_enum_and_empty(spark):
    df = spark.createDataFrame([("M",), ("S",), ("X",), ("",)], ["v"])
    out = df.select(
        enum_or_null("v", ["M", "S", "D", "W"]).alias("e"),
        null_if_empty("v").alias("n"),
    ).collect()
    assert [r.e for r in out] == ["M", "S", None, None]
    assert [r.n for r in out] == ["M", "S", "X", None]


def test_apply_typing(spark):
    df = spark.createDataFrame([("1.5", "x", "2020-01-01")], ["a", "b", "c"])
    typed = apply_typing(df, {"a": ("double", None), "c": ("date", None)})
    assert dict(typed.dtypes) == {"a": "double", "b": "string", "c": "date"}


def _with_conf(spark, key, value, action):
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        return action()
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_assign_dense_ids_strategies_agree(spark, tmp_path):
    """Both plans assign_dense_ids picks by size equal a bare
    ``Window.orderBy`` row_number (+ offset): a parquet-fed frame below
    AQE's coalescing floor takes the one-partition pass at default
    settings and the partition-offset kernel with coalescing off."""
    from pyspark.sql import Window

    from synthea2omop_etl_spark.operators.idmap import _below_coalescing_floor

    path = str(tmp_path / "keys")
    spark.createDataFrame(
        [(f"k{i:04d}", i % 7) for i in range(500)], ["k", "v"]
    ).repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    want = {
        r.k: r.id
        for r in df.select(
            "k", (F.row_number().over(Window.orderBy("k")) + 10).alias("id")
        ).collect()
    }
    assert sorted(want.values()) == list(range(11, 511))

    def ids():
        return (
            _below_coalescing_floor(df),
            {r.k: r.id for r in assign_dense_ids(df, "k", "id", 10).collect()},
        )

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    assert ids() == (True, want)
    assert _with_conf(spark, key, "false", ids) == (False, want)


def test_with_row_ids_dense_on_wide_frame(spark, tmp_path):
    """Every column of a parquet-fed frame wider than its key, written
    out and read back: no column pruning narrows the dense-id input, so
    a counts branch planned apart from the rows (two range exchanges,
    coalesced and sampled apart) would drop rows or repeat ids. The ids
    must stay exactly 1..n at default settings, with small advisory
    partitions, and with coalescing off."""
    from synthea2omop_etl_spark.domains._common import with_row_ids

    n = 200_000
    src = str(tmp_path / "wide")
    spark.range(n).select(
        F.col("id").cast("string").alias("k"),
        *[
            F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(j))), 256)
            .alias(f"pad{j}")
            for j in range(4)
        ],
    ).write.parquet(src)
    wide = spark.read.parquet(src)

    def written(tag):
        out = str(tmp_path / tag)
        with_row_ids(wide, "rid", ["k"]).write.parquet(out)
        back = spark.read.parquet(out)
        got = back.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("rid").alias("ids"),
            F.countDistinct("k").alias("keys"),
            F.min("rid").alias("lo"),
            F.max("rid").alias("hi"),
        ).first()
        pads = back.join(wide, ["k", "pad0", "pad1", "pad2", "pad3"]).count()
        return (*got, pads)

    want = (n, n, n, 1, n, n)
    assert written("default") == want
    assert _with_conf(
        spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k",
        lambda: written("advisory"),
    ) == want
    assert _with_conf(
        spark, "spark.sql.adaptive.coalescePartitions.enabled", "false",
        lambda: written("uncoalesced"),
    ) == want


def test_partition_rank_spans_range_partitions(spark):
    """At the graded scales AQE coalesces the rank kernel's range shuffle
    to one partition, so every prefix offset there is 0. Here coalescing
    is off and the shuffle keeps several partitions (the coalesced case
    is test_with_row_ids_dense_on_wide_frame's): the global rank and its
    total must equal row_number() and count over a bare Window.orderBy on
    a composite key, and grouped exact percentiles over groups that span
    partitions must equal the builtin aggregate."""
    from pyspark.sql import Window

    from synthea2omop_etl_spark.operators.idmap import assign_global_rank
    from synthea2omop_etl_spark.operators.percentiles import (
        percentile_exact_by_rank,
    )

    n = 200_000
    df = spark.range(n).select(
        (F.col("id") % 997).alias("a"),
        F.col("id").alias("b"),
        (F.col("id") % 3).alias("g"),
        (F.sin(F.col("id")) * 1000).alias("v"),
    )

    def sizes(frame, *cols):
        return [
            k for k in frame.repartitionByRange(*cols)
            .rdd.glom().map(len).collect() if k
        ]

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        rank_parts = sizes(df, "a", "b")
        pct_parts = sizes(df.select("g", "v"), "g", "v")
        got = assign_global_rank(df, ["a", "b"], "r", total_col="n").select(
            "a", "b", "r", "n"
        )
        w = Window.orderBy("a", "b")
        want = df.select(
            "a",
            "b",
            F.row_number().over(w).cast("long").alias("r"),
            F.count(F.lit(1))
            .over(w.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing))
            .alias("n"),
        )
        missing = want.exceptAll(got).count()
        extra = got.exceptAll(want).count()
        qs = [0.10, 0.25, 0.50, 0.75, 0.90]
        pct = {
            r["g"]: [r[f"p{int(q * 100)}"] for q in qs]
            for r in percentile_exact_by_rank(df, "g", "v", qs).collect()
        }
        builtin = {
            r["g"]: list(r["pct"])
            for r in df.groupBy("g")
            .agg(F.expr("percentile(v, array(0.10,0.25,0.50,0.75,0.90))")
                 .alias("pct"))
            .collect()
        }
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    # more range partitions than groups: at least one group spans two
    assert len(rank_parts) > 1 and len(pct_parts) > 3
    assert (missing, extra) == (0, 0)
    assert pct == builtin and len(pct) == 3


def test_build_id_map_incremental(spark):
    df1 = spark.createDataFrame([("u1",), ("u2",), ("u3",)], ["uuid"])
    m1 = build_id_map(df1, "uuid", "pid")
    df2 = spark.createDataFrame([("u2",), ("u4",)], ["uuid"])
    m2 = build_id_map(df2, "uuid", "pid", existing_map=m1)
    rows = {r.uuid: r.pid for r in m2.collect()}
    assert len(rows) == 4
    assert rows["u4"] == 4  # new key gets id above existing max
    m1_rows = {r.uuid: r.pid for r in m1.collect()}
    for k, v in m1_rows.items():
        assert rows[k] == v  # old ids stable


def test_anti_join_null_semantics(spark):
    incoming = spark.createDataFrame([(1, "a"), (2, "b"), (None, "c")], ["k", "v"])
    existing = spark.createDataFrame([(1,), (None,)], ["k"])
    out = anti_join_new_rows(incoming, existing, ["k"]).collect()
    # NOT EXISTS: null key in existing does NOT suppress; null incoming key
    # never matches → kept.
    assert sorted(r.v for r in out) == ["b", "c"]


def test_first_per_group(spark):
    df = spark.createDataFrame(
        [("a", 2, "x"), ("a", 1, "y"), ("b", 5, "z")], ["g", "o", "v"]
    )
    out = first_per_group(df, ["g"], [F.col("o").asc()]).collect()
    assert {(r.g, r.v) for r in out} == {("a", "y"), ("b", "z")}


def test_route_numeric(spark):
    df = spark.createDataFrame(
        [("72",), ("119.5",), ("-3.2",), ("1.2e3",), ("Never smoker",), (None,)],
        ["VALUE"],
    )
    meas, obs = route_numeric(df, "VALUE")
    assert meas.count() == 4
    assert obs.count() == 2


def test_percentile_exact_by_rank_matches_builtin(spark):
    """The rank-based exact percentile must be byte-identical to the
    sort-based builtin aggregate — incl. single-row groups, ties, and
    integer interpolation positions."""
    from synthea2omop_etl_spark.operators.percentiles import (
        percentile_exact_by_rank,
    )

    rows = (
        # group a: 11 values → every q lands on an exact index (frac 0)
        [("a", float(v)) for v in range(11)]
        # group b: ties + non-integer positions
        + [("b", v) for v in (1.0, 1.0, 2.0, 5.0, 5.0, 5.0, 9.0)]
        # group c: single row (k+2 rank absent → coalesce path)
        + [("c", 42.0)]
        # group d: two rows (pure interpolation)
        + [("d", 10.0), ("d", 20.0)]
    )
    df = spark.createDataFrame(rows, ["g", "v"]).repartition(8)
    qs = [0.10, 0.25, 0.50, 0.75, 0.90]
    got = {
        r["g"]: [r[f"p{int(q * 100)}"] for q in qs]
        for r in percentile_exact_by_rank(df, "g", "v", qs).collect()
    }
    want = {
        r["g"]: list(r["pct"])
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, array(0.10,0.25,0.50,0.75,0.90))").alias("pct"))
        .collect()
    }
    assert got.keys() == want.keys()
    for g in want:
        assert got[g] == want[g], (g, got[g], want[g])


def test_percentile_exact_by_rank_validates(spark):
    import pytest

    from synthea2omop_etl_spark.operators.percentiles import (
        percentile_exact_by_rank,
    )

    df = spark.createDataFrame([("a", 1.0)], ["g", "v"])
    with pytest.raises(ValueError):
        percentile_exact_by_rank(df, "g", "v", [])
    with pytest.raises(ValueError):
        percentile_exact_by_rank(df, "g", "v", [0.5], ["a", "b"])


def test_spread_if_narrow_gate(spark, tmp_path):
    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    # in-memory frame: 0 input files -> passthrough (same object)
    mem = spark.range(10).withColumnRenamed("id", "k")
    assert spread_if_narrow(mem, "k") is mem

    # single-file parquet on a multi-slot session -> repartitioned wide
    p = str(tmp_path / "narrow")
    spark.range(1000).withColumnRenamed("id", "k").coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    assert len(narrow.inputFiles()) == 1
    spread = spread_if_narrow(narrow, "k")
    assert spread is not narrow
    slots = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == slots
    # row preservation
    assert spread.count() == 1000
