"""Streaming incremental near-dup admission (streaming/dedup.py): the
admitted corpus is near-dup-free, rejected docs match an admitted one,
exact dups across batches are dropped, and replays are exact no-ops."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest

from synthea2omop_etl_spark.llm_ops.dedup import minhash_lsh_candidates
from synthea2omop_etl_spark.streaming.dedup import incremental_near_dup_filter

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one token differs → very high jaccard
DISTINCT = (
    "completely different subject matter entirely about spark catalyst "
    "optimizer rules and whole stage code generation for columnar scans"
)
DISTINCT2 = (
    "a third unrelated passage describing parquet footer statistics and "
    "bucket pruned incremental reads over hash partitioned layers"
)


def _feed(spark, d, name, rows):
    tmp = tempfile.mkdtemp(prefix="dedup_feed_")
    try:
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(d, f"{name}.parquet"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return str(src), str(tmp_path / "out"), str(tmp_path / "ckpt")


def _run(spark, src, out, ckpt):
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    q = incremental_near_dup_filter(stream, out, ckpt, n_buckets=8)
    q.awaitTermination(180)
    assert q.exception() is None


def _admitted(spark, out):
    return {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(out, "corpus"))
        .withColumnRenamed("doc", "doc_id")
        .collect()
    }


def test_within_batch_and_cross_batch_admission(spark, dirs):
    src, out, ckpt = dirs
    # batch 1: BASE, its near-dup (one token), and a distinct doc
    _feed(spark, src, "w1", [(1, BASE), (2, NEAR), (3, DISTINCT)])
    _run(spark, src, out, ckpt)
    adm = _admitted(spark, out)
    # smaller id wins within the batch; the distinct doc survives
    assert set(adm) == {1, 3}
    # batch 2: exact dup of BASE under a new id, a near-dup of BASE,
    # and a genuinely new doc
    _feed(spark, src, "w2", [(10, BASE), (11, NEAR), (12, DISTINCT2)])
    _run(spark, src, out, ckpt)
    adm = _admitted(spark, out)
    assert set(adm) == {1, 3, 12}
    # final corpus is near-dup-free at the operator's own threshold
    corpus = spark.read.parquet(os.path.join(out, "corpus")).select(
        "doc", "text"
    )
    pairs = minhash_lsh_candidates(
        corpus, "text", "doc", jaccard_threshold=0.7
    )
    assert pairs.count() == 0


@pytest.mark.slow
def test_chain_true_greedy_admission(spark, dirs, tmp_path):
    """A~B, B~C, A!~C (Jaccards 0.77 / 0.77 / 0.59 at threshold 0.7):
    TRUE greedy in id order admits A, rejects B (matches admitted A),
    admits C (its only match, B, was never admitted) — and the one-batch
    result equals the batch-per-doc result, so admission does not depend
    on where batch boundaries fall."""
    chain_c = NEAR.replace("sing", "hum")
    # all three in ONE batch
    src, out, ckpt = dirs
    _feed(spark, src, "w1", [(1, BASE), (2, NEAR), (3, chain_c)])
    _run(spark, src, out, ckpt)
    assert set(_admitted(spark, out)) == {1, 3}
    # same docs, one batch EACH → identical admission
    src2 = tmp_path / "src2"
    src2.mkdir()
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    for name, row in (("b1", (1, BASE)), ("b2", (2, NEAR)),
                      ("b3", (3, chain_c))):
        _feed(spark, str(src2), name, [row])
        _run(spark, str(src2), out2, ckpt2)
    assert set(_admitted(spark, out2)) == {1, 3}


@pytest.mark.slow
def test_store_rejection_precedes_in_batch_greedy(spark, dirs, tmp_path):
    """Store holds A; one batch then carries B (~A, ~B~C) and C (!~A).
    The store pass rejects B FIRST, so B never blocks C in the in-batch
    greedy: C is admitted — identical to processing one doc per batch.
    (Before round 9 the in-batch greedy ran first: B admitted in-batch
    rejecting C, then the store pass dropped B → nothing admitted.)"""
    chain_c = NEAR.replace("sing", "hum")  # C ~ B but C !~ A
    src, out, ckpt = dirs
    _feed(spark, src, "w1", [(1, BASE)])
    _run(spark, src, out, ckpt)
    assert set(_admitted(spark, out)) == {1}
    _feed(spark, src, "w2", [(2, NEAR), (3, chain_c)])
    _run(spark, src, out, ckpt)
    assert set(_admitted(spark, out)) == {1, 3}


@pytest.mark.slow
def test_store_rejected_chain_readmission_bounded(spark, dirs, tmp_path):
    """r10 (VERDICT r09 item 7): the 4-link chain A(store) ~ B ~ C ~ D.
    Store rejection removes B, which RE-ADMITS its in-batch neighbor C —
    and the greedy must then still reject C's own neighbor D, exactly
    one-doc-per-batch semantics: B rejected (store), C admitted (its
    only match B was never admitted), D rejected (matches ADMITTED C).
    Verified both as one batch and as one-doc-per-batch."""
    chain_c = NEAR.replace("sing", "hum")  # C ~ B, C !~ A
    chain_d = chain_c.replace("garden", "meadow")  # D ~ C, D !~ B, D !~ A
    src, out, ckpt = dirs
    _feed(spark, src, "w1", [(1, BASE)])
    _run(spark, src, out, ckpt)
    _feed(spark, src, "w2", [(2, NEAR), (3, chain_c), (4, chain_d)])
    _run(spark, src, out, ckpt)
    assert set(_admitted(spark, out)) == {1, 3}
    # one doc per batch → identical admission set
    src2 = tmp_path / "src2"
    src2.mkdir()
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    for name, row in (("b1", (1, BASE)), ("b2", (2, NEAR)),
                      ("b3", (3, chain_c)), ("b4", (4, chain_d))):
        _feed(spark, str(src2), name, [row])
        _run(spark, str(src2), out2, ckpt2)
    assert set(_admitted(spark, out2)) == {1, 3}


def test_replay_is_noop(spark, dirs):
    src, out, ckpt = dirs
    _feed(spark, src, "w1", [(1, BASE), (3, DISTINCT)])
    _run(spark, src, out, ckpt)
    before = _admitted(spark, out)
    n_index = spark.read.parquet(os.path.join(out, "band_index")).count()
    # fresh checkpoint → the same files replay from scratch
    _run(spark, src, out, str(os.path.join(out, "ckpt2")))
    assert _admitted(spark, out) == before
    assert (
        spark.read.parquet(os.path.join(out, "band_index")).count()
        == n_index
    )


def test_exact_dup_same_batch_keeps_min_id(spark, dirs):
    src, out, ckpt = dirs
    _feed(spark, src, "w1", [(7, BASE), (2, BASE), (9, DISTINCT)])
    _run(spark, src, out, ckpt)
    assert set(_admitted(spark, out)) == {2, 9}


def test_rejects_bands_divisibility(spark, dirs):
    src, out, ckpt = dirs
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    with pytest.raises(ValueError):
        incremental_near_dup_filter(
            stream, out, ckpt, num_hashes=10, bands=4
        )


def test_stream_matches_batch_twin(spark, dirs):
    """The stream admits exactly what its batch twin
    (minhash_greedy_admission) admits: docs shorter than shingle_n
    tokens are admitted (no postings, no pairs), a blank doc is outside
    the domain, and the verify compares the Jaccard rounded to 4 places
    — 2/3 rounds to 0.6667, which clears 0.66667, so the longer doc of
    the pair is rejected."""
    from synthea2omop_etl_spark.streaming.dedup import (
        minhash_greedy_admission,
    )

    rows = [
        (1, "hello world"),
        (2, "just two"),
        (3, "one two three four five six seven eight nine ten eleven "
            "twelve"),
        (4, "x"),
        (5, "   "),
        (6, "alpha beta gamma delta"),
        (7, "alpha beta gamma delta epsilon"),
    ]
    src, out, ckpt = dirs
    _feed(spark, src, "w1", rows)
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(src)
    q = incremental_near_dup_filter(
        stream, out, ckpt, jaccard_threshold=0.66667, n_buckets=8
    )
    q.awaitTermination(180)
    assert q.exception() is None
    twin = minhash_greedy_admission(
        spark.createDataFrame(rows, "doc_id long, text string"),
        jaccard_threshold=0.66667,
    )
    expected = {r.doc_id for r in twin.collect() if r.admitted == 1}
    assert expected == {1, 2, 3, 4, 6}
    assert set(_admitted(spark, out)) == expected
