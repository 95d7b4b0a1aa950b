"""Streaming incremental frequent pairs: equals the batch pair counts
over the union of all micro-batches (including baskets that span
batches), and replays are exact no-ops."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.itemsets import frequent_pairs
from synthea2omop_etl_spark.sources import versioned as V
from synthea2omop_etl_spark.streaming.itemsets import (
    incremental_frequent_pairs,
)


def _feed(spark, d, name, rows):
    # File-source streams read FLAT files: stage via a temp parquet dir
    # and move the single part file in as <name>.parquet.
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="pairs_feed_")
    try:
        spark.createDataFrame(rows, ["basket", "item"]).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(d, f"{name}.parquet"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _counts(spark, out):
    return {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in V.read_version(
            spark, os.path.join(out, "pair_counts")
        ).collect()
    }


def _batch_truth(spark, all_rows):
    df = spark.createDataFrame(all_rows, ["basket", "item"])
    return {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in frequent_pairs(
            df, "basket", "item", min_support=1, max_basket_size=10**6
        ).collect()
    }


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")


def _run(spark, src, out, ckpt):
    stream = (
        spark.readStream.schema("basket BIGINT, item STRING")
        .parquet(src)
    )
    q = incremental_frequent_pairs(
        stream, out, ckpt, "basket", "item", n_buckets=8
    )
    q.awaitTermination(120)


def test_incremental_pairs_match_batch_across_batches(spark, dirs):
    src, out, ckpt = dirs
    wave1 = [(1, "milk"), (1, "bread"), (2, "milk"), (3, "beer")]
    _feed(spark, src, "w1", wave1)
    _run(spark, src, out, ckpt)
    assert _counts(spark, out) == _batch_truth(spark, wave1)

    # Wave 2: basket 1 GROWS (cross-batch pairs), basket 2 repeats an
    # item (no-op), basket 4 is new with two items (in-batch pair).
    wave2 = [(1, "eggs"), (2, "milk"), (4, "tea"), (4, "jam")]
    _feed(spark, src, "w2", wave2)
    _run(spark, src, out, ckpt)
    assert _counts(spark, out) == _batch_truth(spark, wave1 + wave2)
    # basket 1 now has 3 items -> 3 pairs, eggs paired with BOTH priors
    got = _counts(spark, out)
    assert got[("bread", "eggs")] == 1 and got[("eggs", "milk")] == 1


def test_incremental_pairs_first_batch_all_null(spark, dirs):
    """A first micro-batch with no non-NULL (basket, item) row writes no
    basket layer; the batch is a no-op, not a failed query."""
    src, out, ckpt = dirs
    _feed(spark, src, "w0", [(1, None), (None, "milk")])
    _run(spark, src, out, ckpt)
    assert not os.path.exists(os.path.join(out, "basket_items"))
    wave1 = [(1, "milk"), (1, "bread")]
    _feed(spark, src, "w1", wave1)
    _run(spark, src, out, ckpt)
    assert _counts(spark, out) == _batch_truth(spark, wave1)


def test_incremental_pairs_replay_is_noop(spark, dirs):
    src, out, ckpt = dirs
    wave1 = [(1, "a"), (1, "b"), (2, "a")]
    _feed(spark, src, "w1", wave1)
    _run(spark, src, out, ckpt)
    v1 = V.list_versions(os.path.join(out, "pair_counts"))[-1]
    before = _counts(spark, out)

    # Fresh checkpoint over the SAME source replays batch 0 with the same
    # id; the txn guard must skip the merge (no new version, same counts).
    import shutil

    shutil.rmtree(ckpt)
    _run(spark, src, out, ckpt)
    assert _counts(spark, out) == before
    assert V.list_versions(os.path.join(out, "pair_counts"))[-1] == v1


def test_incremental_pairs_counts_are_time_travelable(spark, dirs):
    src, out, ckpt = dirs
    _feed(spark, src, "w1", [(1, "x"), (1, "y")])
    _run(spark, src, out, ckpt)
    _feed(spark, src, "w2", [(2, "x"), (2, "y")])
    _run(spark, src, out, ckpt)
    path = os.path.join(out, "pair_counts")
    versions = V.list_versions(path)
    assert len(versions) == 2
    first = {
        (r["item_a"], r["item_b"]): r["n_baskets"]
        for r in V.read_version(spark, path, versions[0]).collect()
    }
    assert first == {("x", "y"): 1}
    assert _counts(spark, out) == {("x", "y"): 2}
