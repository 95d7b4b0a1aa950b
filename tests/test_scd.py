"""SCD2 semantics: version creation/closing, no-op replays, null-safe
change detection, point-in-time slices."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from synthea2omop_etl_spark.operators.scd import (
    scd2_apply,
    scd2_as_of,
    scd2_current,
    scd2_init,
)

T0, T1, T2 = "2024-01-01", "2024-02-01", "2024-03-01"


def _dim(spark):
    snap = spark.createDataFrame(
        [(1, "BUILDING", 10.0), (2, "MACHINERY", 20.0), (3, None, 30.0)],
        ["k", "seg", "bal"],
    )
    return scd2_init(snap, T0, "k", ["seg", "bal"])


def test_change_closes_and_versions(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame(
        [(1, "AUTOMOBILE", 10.0),  # seg changed
         (2, "MACHINERY", 20.0),  # unchanged -> no-op
         (4, "HOUSEHOLD", 40.0)],  # new key
        ["k", "seg", "bal"],
    )
    out = scd2_apply(dim, upd, T1, "k", ["seg", "bal"])
    rows = {(r["k"], r["seg"], str(r["valid_from"])[:10],
             None if r["valid_to"] is None else str(r["valid_to"])[:10])
            for r in out.collect()}
    assert (1, "BUILDING", T0, T1) in rows       # closed old version
    assert (1, "AUTOMOBILE", T1, None) in rows   # new current
    assert (2, "MACHINERY", T0, None) in rows    # untouched
    assert (4, "HOUSEHOLD", T1, None) in rows    # inserted
    assert len(rows) == 5  # 3 original + 1 closed-replacement + 1 new


def test_replay_is_idempotent(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame([(1, "AUTOMOBILE", 10.0)], ["k", "seg", "bal"])
    once = scd2_apply(dim, upd, T1, "k", ["seg", "bal"])
    twice = scd2_apply(once, upd, T2, "k", ["seg", "bal"])
    # the second application changes nothing: values already current
    a = sorted(map(tuple, once.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b


def test_null_safe_change_detection(spark):
    dim = _dim(spark)
    # NULL -> value is a change; value -> NULL is a change; NULL -> NULL isn't
    upd = spark.createDataFrame([(3, "FURNITURE", 30.0)], ["k", "seg", "bal"])
    out = scd2_apply(dim, upd, T1, "k", ["seg", "bal"])
    cur3 = [r for r in scd2_current(out).collect() if r["k"] == 3]
    assert len(cur3) == 1 and cur3[0]["seg"] == "FURNITURE"
    back = scd2_apply(
        out,
        spark.createDataFrame(
            [(3, None, 30.0)], "k: bigint, seg: string, bal: double"
        ),
        T2, "k", ["seg", "bal"],
    )
    assert [r["seg"] for r in scd2_current(back).collect() if r["k"] == 3] == [None]
    # 3 versions of key 3 exist now
    assert back.where(F.col("k") == 3).count() == 3


def test_as_of_slices(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame([(1, "AUTOMOBILE", 10.0)], ["k", "seg", "bal"])
    out = scd2_apply(dim, upd, T1, "k", ["seg", "bal"])
    jan = {r["k"]: r["seg"] for r in scd2_as_of(out, "2024-01-15").collect()}
    feb = {r["k"]: r["seg"] for r in scd2_as_of(out, "2024-02-15").collect()}
    assert jan[1] == "BUILDING" and feb[1] == "AUTOMOBILE"
    assert jan[2] == feb[2] == "MACHINERY"


def test_intra_batch_duplicates_collapse(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame(
        [(1, "AUTOMOBILE", 10.0), (1, "ZZZ", 10.0)], ["k", "seg", "bal"]
    )
    out = scd2_apply(dim, upd, T1, "k", ["seg", "bal"])
    cur = [r["seg"] for r in scd2_current(out).collect() if r["k"] == 1]
    assert cur == ["AUTOMOBILE"]  # deterministic pick (tracked-col order)


@pytest.mark.slow
def test_streaming_scd2_waves_and_replay(spark, tmp_path):
    """Two landed waves version the dimension; replaying the stream from a
    fresh checkpoint with identical data creates no spurious versions."""
    import pyspark.sql.types as T

    from synthea2omop_etl_spark.streaming.scd import stream_scd2

    land = tmp_path / "land"
    land.mkdir()
    dim_path = str(tmp_path / "dim")
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("seg", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])

    def wave(name, rows):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        import shutil, glob, os
        src = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(src, land / f"{name}.parquet")

    import datetime as dt
    t1 = dt.datetime(2024, 1, 1)
    t2 = dt.datetime(2024, 2, 1)
    wave("w1", [(1, "A", t1), (2, "B", t1)])

    def run(ckpt):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(str(land))
        q = stream_scd2(stream, dim_path, str(tmp_path / ckpt), "k", ["seg"])
        q.awaitTermination(120)

    run("ck1")
    assert spark.read.parquet(dim_path).count() == 2

    wave("w2", [(1, "A2", t2), (2, "B", t2), (3, "C", t2)])
    run("ck1")
    before = sorted(
        tuple(r) for r in spark.read.parquet(dim_path).collect()
    )
    assert len(before) == 4  # closed A + current A2 + current B + current C
    rows = {(k, seg, vt is None) for k, seg, vf, vt in before}
    assert (1, "A", False) in rows and (1, "A2", True) in rows
    assert (2, "B", True) in rows and (3, "C", True) in rows

    # replay everything from a fresh checkpoint: value-based change
    # detection makes it a no-op beyond what already exists
    run("ck_fresh")
    after = sorted(
        tuple(r) for r in spark.read.parquet(dim_path).collect()
    )
    assert after == before


def test_streaming_scd2_unreadable_dim_fails_batch(spark, tmp_path):
    """A dimension layer that exists but cannot be read fails the
    micro-batch and stays as it is: re-bootstrapping from the one batch
    would let write_then_swap replace the whole history."""
    import datetime as dt
    import glob
    import shutil

    import pyspark.sql.types as T
    from pyspark.errors import StreamingQueryException

    from synthea2omop_etl_spark.streaming.scd import stream_scd2

    land = tmp_path / "land"
    land.mkdir()
    dim_path = tmp_path / "dim"
    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("seg", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])

    def wave(name, rows):
        stage = str(tmp_path / "stage" / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(f"{stage}/part-*.parquet")
        shutil.copy(part, land / f"{name}.parquet")

    def run():
        stream = spark.readStream.schema(schema).parquet(str(land))
        return stream_scd2(
            stream, str(dim_path), str(tmp_path / "ck"), "k", ["seg"]
        )

    wave("w1", [(1, "A", dt.datetime(2024, 1, 1))])
    run().awaitTermination(120)
    for part in dim_path.glob("part-*"):
        part.write_bytes(b"not a parquet file")
    files = {
        p: p.read_bytes() for p in dim_path.rglob("*") if p.is_file()
    }
    wave("w2", [(1, "A2", dt.datetime(2024, 2, 1))])
    q = run()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert files and {
        p: p.read_bytes() for p in dim_path.rglob("*") if p.is_file()
    } == files
