"""Quality tests for the approximate llm_ops: planted near-duplicates must
be found by MinHash-LSH, SRP-ANN must overlap the exact baseline, SimHash
must agree on identical docs."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from synthea2omop_etl_spark.llm_ops.dedup import (
    minhash_lsh_candidates,
    simhash_signatures,
)
from synthea2omop_etl_spark.llm_ops.similarity import (
    brute_force_topk,
    srp_bucketed_topk,
)
from synthea2omop_etl_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_planted(spark):
    docs = load_table(spark, SF, "documents").limit(200)
    # Plant near-duplicates: copy of doc_id with one appended token.
    dups = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    return docs.unionByName(dups)


def test_minhash_finds_planted_dups(spark, docs_with_planted):
    pairs = minhash_lsh_candidates(
        docs_with_planted, "text", "doc_id", jaccard_threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    planted = {(i, i + 100000) for i in range(20)}
    hits = planted & found
    # LSH is probabilistic in candidate generation but near-identical docs
    # collide in essentially every band: expect ≥ 90% recall on plants.
    assert len(hits) >= 18, f"only {len(hits)}/20 planted pairs found"
    # every emitted pair is exactly verified
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_simhash_identical_docs_same_signature(spark, docs_with_planted):
    sig = simhash_signatures(docs_with_planted, "text", "doc_id")
    exact_copy = {r.doc: r.simhash for r in sig.collect()}
    # near-identical docs: signatures differ in at most a few bits
    diffs = []
    for i in range(20):
        a, b = exact_copy[i], exact_copy[i + 100000]
        diffs.append(bin(a ^ b).count("1"))
    assert sum(diffs) / len(diffs) <= 4


def test_srp_recall_vs_exact(spark):
    emb = load_table(spark, SF, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(queries_df, emb, "embedding", "vec_id", k=5)
    approx = srp_bucketed_topk(
        queries_df, emb, "embedding", "vec_id", dim=64, k=5, bits=4
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 4-bit SRP + 1-bit multiprobe on *random* 64-dim data (the hardest
    # case for LSH — no cluster structure): recall ~0.5 while scoring
    # ~30% of the corpus. Clustered real embeddings fare far better.
    assert recall >= 0.3, f"recall {recall}"


def test_ann_recall_eval_harness(spark):
    """r11 recall@k harness (PQ added r12): per-(method, query)
    hits/recall agree with a direct set-intersection recomputation from
    the underlying operators; the FULL method × query grid is emitted;
    recall is bounded and an exhaustive-probe IVF (n_probe == n_lists ==
    corpus-covering) reproduces the exact truth at recall 1.0."""
    from synthea2omop_etl_spark.llm_ops.similarity import (
        ann_recall_eval,
        brute_force_topk,
        ivf_topk,
        pq_topk,
        srp_bucketed_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    nq = queries_df.count()
    out = ann_recall_eval(
        queries_df, emb, "embedding", "vec_id",
        k=5, dim=64, bits=4, n_lists=16, n_probe=4, m=4, ksub=8,
    ).collect()
    assert {r.method for r in out} == {"ivf", "ivfpq", "pq", "srp"}
    # the grid guarantee (r11 ADVICE): every (method, query) scored
    assert len(out) == 4 * nq
    assert all(0 <= r.hits <= 5 and 0.0 <= r.recall <= 1.0 for r in out)
    # cross-check methods against direct recomputations
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(
            queries_df, emb, "embedding", "vec_id", k=5
        ).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            queries_df, emb, "embedding", "vec_id",
            k=5, n_lists=16, n_probe=4,
        ).collect()
    }
    direct = {r.query_id: 0 for r in out if r.method == "ivf"}
    for q, n in ivf:
        direct[q] = direct.get(q, 0) + ((q, n) in truth)
    got = {r.query_id: r.hits for r in out if r.method == "ivf"}
    assert got == direct
    pq = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(
            queries_df, emb, "embedding", "vec_id", dim=64, k=5,
            m=4, ksub=8,
        ).collect()
    }
    direct_pq = {r.query_id: 0 for r in out if r.method == "pq"}
    for q, n in pq:
        direct_pq[q] = direct_pq.get(q, 0) + ((q, n) in truth)
    got_pq = {r.query_id: r.hits for r in out if r.method == "pq"}
    assert got_pq == direct_pq
    # exhaustive probing (n_probe == n_lists) makes IVF scan every list:
    # its top-k IS the exact truth, so the harness must report recall 1.0
    full = ann_recall_eval(
        queries_df, emb, "embedding", "vec_id",
        k=5, dim=64, bits=4, n_lists=8, n_probe=8,
    ).collect()
    assert all(
        r.recall == 1.0 for r in full if r.method == "ivf"
    ), [r for r in full if r.method == "ivf"]
    # srp at bits=4 on random data stays imperfect — the harness
    # distinguishes methods rather than rubber-stamping
    assert any(r.recall < 1.0 for r in out if r.method == "srp")


def test_pq_exhaustive_codebook_is_exact_l2(spark):
    """r12 PQ analogue of the exhaustive-probe IVF check: with ksub ==
    corpus size the sampled codebook holds every corpus vector, each
    subvector assigns to (a copy of) itself at distance 0, and ADC
    reconstructs EXACT squared-L2 — so pq_topk must equal a numpy
    brute-force L2 ranking, pair for pair and distance for distance.
    (Recall vs the harness's cosine truth stays < 1 by metric mismatch;
    exactness is only claimable in PQ's own metric.)"""
    import numpy as np

    from synthea2omop_etl_spark.llm_ops.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 24)
    n = emb.count()
    out = pq_topk(
        emb.where(F.col("vec_id") < 6), emb, "embedding", "vec_id",
        dim=64, k=5, m=4, ksub=n,
    ).collect()
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    for qid in range(6):
        d = sorted(
            (round(float(((vecs[qid] - v) ** 2).sum()), 4), nid)
            for nid, v in vecs.items()
            if nid != qid
        )[:5]
        got = sorted(
            (r.adist, r.neighbor_id) for r in out if r.query_id == qid
        )
        assert got == d, (qid, got, d)


def test_pq_ivfpq_short_codebook_small_corpus(spark):
    """r13 (ADVICE r12 medium): a corpus with FEWER than ksub vectors
    yields a codebook of size·m entries with block width < ksub; the
    constant-ksub slice misaligned every subspace past the first —
    pq_topk on a 3-vector corpus crashed with INVALID_INDEX_OF_ZERO
    (code -1 → element_at(row, 0)) and near-miss sizes returned wrong
    codes silently. The size-derived block slice must make both PQ
    variants run AND be exact-L2 here (codebook == whole corpus, so each
    subvector assigns to itself at distance 0 — ADC reconstructs exact
    squared L2)."""
    import numpy as np

    from synthea2omop_etl_spark.llm_ops.similarity import ivfpq_topk, pq_topk

    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 3)
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }

    def exact(qid):
        return sorted(
            (round(float(((vecs[qid] - v) ** 2).sum()), 4), nid)
            for nid, v in vecs.items()
            if nid != qid
        )

    for out in (
        pq_topk(emb, emb, "embedding", "vec_id", dim=64, k=5, m=4,
                ksub=8).collect(),
        ivfpq_topk(emb, emb, "embedding", "vec_id", dim=64, k=5,
                   n_lists=2, n_probe=2, m=4, ksub=8).collect(),
    ):
        assert out, "small corpus must produce rows, not crash"
        for qid in vecs:
            got = sorted(
                (r.adist, r.neighbor_id) for r in out if r.query_id == qid
            )
            assert got == exact(qid), (qid, got, exact(qid))


def test_ivfpq_exhaustive_is_exact_l2_and_probes_bound_scan(spark):
    """r12 IVF-PQ: with ksub == corpus (every residual subvector is its
    own codeword) AND n_probe == n_lists (every list scanned), ADC
    computes ||(q-c) - (v-c)||² = exact ||q-v||² — the centroid cancels
    — so the ranking must equal a numpy brute-force L2, pair for pair.
    At n_probe < n_lists every returned neighbor must come from a
    probed list (the scan bound that makes IVF-PQ the scale path)."""
    import numpy as np
    import pytest

    from synthea2omop_etl_spark.llm_ops.similarity import ivfpq_topk

    emb = load_table(spark, SF, "embeddings").where(F.col("vec_id") < 24)
    n = emb.count()
    out = ivfpq_topk(
        emb.where(F.col("vec_id") < 6), emb, "embedding", "vec_id",
        dim=64, k=5, n_lists=4, n_probe=4, m=4, ksub=n,
    ).collect()
    vecs = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in emb.collect()
    }
    for qid in range(6):
        d = sorted(
            (round(float(((vecs[qid] - v) ** 2).sum()), 4), nid)
            for nid, v in vecs.items()
            if nid != qid
        )[:5]
        got = sorted(
            (r.adist, r.neighbor_id) for r in out if r.query_id == qid
        )
        assert got == d, (qid, got, d)
    # bounded-probe run returns plausible distances and never self
    part = ivfpq_topk(
        emb.where(F.col("vec_id") < 6), emb, "embedding", "vec_id",
        dim=64, k=5, n_lists=8, n_probe=2, m=4, ksub=8,
    ).collect()
    assert all(r.query_id != r.neighbor_id and r.adist >= 0 for r in part)
    assert {r.query_id for r in part} <= set(range(6))
    with pytest.raises(ValueError, match="divide"):
        ivfpq_topk(emb, emb, "embedding", "vec_id", dim=64, m=5)


def test_ann_recall_zero_candidate_queries_score_zero(spark):
    """r12 (r11 ADVICE): a (method, query) with ZERO candidates must
    appear as an explicit recall-0.0 row, not be silently absent. A
    single-vector corpus forces it for every method — self is always
    excluded, so all three top-k frames are empty, and the harness must
    still emit the full 3-row grid."""
    from synthea2omop_etl_spark.llm_ops.similarity import ann_recall_eval

    emb = load_table(spark, SF, "embeddings")
    solo = emb.where(F.col("vec_id") == 3)
    out = ann_recall_eval(
        solo, solo, "embedding", "vec_id",
        k=5, dim=64, bits=4, n_lists=16, n_probe=4, m=4, ksub=8,
    ).collect()
    assert sorted((r.method, r.query_id) for r in out) == [
        ("ivf", 3), ("ivfpq", 3), ("pq", 3), ("srp", 3)
    ]
    assert all(r.hits == 0 and r.recall == 0.0 for r in out)


def test_srp_never_fabricates(spark):
    emb = load_table(spark, SF, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    approx = srp_bucketed_topk(
        queries_df, emb, "embedding", "vec_id", dim=64, k=5, bits=4
    ).collect()
    assert all(r.query_id != r.neighbor_id for r in approx)
    assert all(-1.0 <= r.cosine <= 1.0 for r in approx)


def test_all_pairs_footgun_fenced(spark):
    """The unblocked cartesian paths must be explicit opt-ins: a missing
    blocking key is the one mistake that silently kills a 100 TB run."""
    import pytest

    from synthea2omop_etl_spark.llm_ops.dedup import (
        embedding_near_duplicates,
        ngram_jaccard_pairs,
    )

    emb = load_table(spark, SF, "embeddings").limit(10)
    with pytest.raises(ValueError, match="all-pairs"):
        embedding_near_duplicates(emb, "embedding", "vec_id")
    docs = load_table(spark, SF, "documents").limit(10)
    with pytest.raises(ValueError, match="blocking"):
        ngram_jaccard_pairs(docs, "text", "doc_id", blocking_cols=[])
    # the explicit opt-in still works
    assert (
        embedding_near_duplicates(
            emb, "embedding", "vec_id", threshold=0.99, allow_full_pairs=True
        ).count()
        >= 0
    )


def test_ivf_recall_vs_exact(spark):
    from synthea2omop_etl_spark.llm_ops.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    exact = brute_force_topk(queries_df, emb, "embedding", "vec_id", k=5)
    ivf = ivf_topk(
        queries_df, emb, "embedding", "vec_id", k=5, n_lists=8, n_probe=4
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    recall = len(e & a) / len(e)
    # probing half the lists on random data: expect strong recall
    assert recall >= 0.5, f"recall {recall}"
    # every query yields exactly k ranked rows
    import collections

    per_q = collections.Counter(r[0] for r in a)
    assert all(v == 5 for v in per_q.values())


def test_multimodal_frame_sample(spark):
    from synthea2omop_etl_spark.llm_ops.multimodal import attach_payload, frame_sample

    docs = load_table(spark, SF, "documents").limit(20)
    mm = attach_payload(docs, "text", "doc_id")
    chunks = frame_sample(mm, chunk_size=64, every_k=4).collect()
    assert chunks
    # only every 4th chunk index is kept; chunks are ≤ 64 bytes
    assert all(r.chunk_idx % 4 == 0 for r in chunks)
    assert all(1 <= r.n_bytes <= 64 for r in chunks)
    # reconstruction check for one doc: sampled chunks match source bytes
    text = {r.doc_id: r.text for r in docs.collect()}
    first = [r for r in chunks if r.doc_id == chunks[0].doc_id]
    for r in first:
        src = text[r.doc_id].encode()[r.chunk_idx * 64 : r.chunk_idx * 64 + 64]
        assert bytes(r.chunk) == src


def test_split_assign_is_stable_and_partitions(spark):
    from synthea2omop_etl_spark.llm_ops.curation import split_assign

    df = spark.range(0, 2000).select(F.col("id").cast("string").alias("k"))
    out = df.select("k", split_assign(F.col("k")).alias("s"))
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # roughly 80/10/10 (hash-uniform over 2000 keys)
    assert 0.7 < counts["train"] / 2000 < 0.9
    # stable: recomputing yields identical assignment
    again = {r.k: r.s for r in df.select("k", split_assign(F.col("k")).alias("s")).collect()}
    first = {r.k: r.s for r in out.collect()}
    assert first == again


def test_chunk_tokens_reconstructs_and_overlaps(spark):
    from synthea2omop_etl_spark.llm_ops.curation import chunk_tokens

    text = " ".join(f"t{i}" for i in range(20))
    df = spark.createDataFrame([(1, text), (2, "short doc"), (3, "  ")],
                               "doc_id long, text string")
    rows = chunk_tokens(df, "text", "doc_id", window=16, stride=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc, []).append(r)
    assert 3 not in by_doc  # empty doc → no chunks
    d1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert len(d1) == 2  # ceil((20-16)/8)+1
    assert d1[0].chunk_text.split() == [f"t{i}" for i in range(16)]
    assert d1[1].chunk_text.split() == [f"t{i}" for i in range(8, 20)]
    assert (d1[0].n_tokens, d1[1].n_tokens) == (16, 12)
    d2 = by_doc[2]
    assert len(d2) == 1 and d2[0].n_tokens == 2  # short doc → one truncated chunk


def test_pii_scrub_redacts(spark):
    from synthea2omop_etl_spark.llm_ops.curation import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail me at a.b+c@example.org or x@y.io, card 1234567890"),
         (2, "clean text 123")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert rows[1].n_emails == 2 and rows[1].n_longnums == 1
    assert rows[2].n_emails == 0 and rows[2].n_longnums == 0
    import hashlib
    want = hashlib.md5(
        b"mail me at <EMAIL> or <EMAIL>, card <NUM>"
    ).hexdigest()
    assert rows[1].scrubbed_md5 == want


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc that IS a benchmark doc (plus a token) must flag as
    contaminated; an unrelated doc must not."""
    from synthea2omop_etl_spark.llm_ops.decontam import decontaminate_flags

    docs = load_table(spark, SF, "documents")
    bench = docs.where(F.col("doc_id") < 10)
    # corpus: clean tail docs + planted copies of two benchmark docs
    planted = bench.where(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = (
        docs.where(F.col("doc_id").between(100, 150))
        .select("doc_id", "text")
        .unionByName(planted)
    )
    out = {r.doc_id: r for r in decontaminate_flags(
        corpus, bench, "text", "doc_id", shingle_n=3, min_shared=2
    ).collect()}
    assert len(out) == corpus.count()  # one row per corpus doc
    assert out[500000].contaminated and out[500001].contaminated
    assert out[500000].n_shared > 10  # near-total shingle overlap


def test_repetition_signals_values(spark):
    from synthea2omop_etl_spark.llm_ops.text import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam. spam spam. spam spam. end"),  # 2 dup sentences
            (2, "a clean normal sentence. another one here."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in df.select(
        "doc_id", *repetition_signals(F.col("text"))
    ).collect()}
    assert rows[1].dup_sentence_frac > 0.4      # 'spam spam' repeats
    assert rows[2].dup_sentence_frac == 0.0
    assert rows[3].mean_word_len == 0.0          # empty-text guard
    assert 0.0 <= rows[2].symbol_word_ratio <= 1.0
    # 'sentence.' and 'one' include the punctuation token check
    assert rows[2].mean_word_len > 3.0


def test_repetition_signals_frame_equals_column_form(spark):
    """r13: the shared-tokenization frame form must be row-identical to
    the column-level form (one split + one combined fold per row instead
    of two splits + two array passes) — on crafted edge cases AND the
    documents fixture."""
    from synthea2omop_etl_spark.llm_ops.text import (
        repetition_signals,
        repetition_signals_frame,
    )

    crafted = spark.createDataFrame(
        [
            (1, "spam spam. spam spam. spam spam. end"),
            (2, "a clean normal sentence. another one here."),
            (3, ""),
            (4, "   "),
            (5, "sym&bols ever%ywhere 100% ok"),
        ],
        "doc_id long, text string",
    )
    docs = load_table(spark, SF, "documents")
    for df in (crafted, docs):
        col_form = sorted(
            tuple(r)
            for r in df.select(
                "doc_id", *repetition_signals(F.col("text"))
            ).collect()
        )
        frame_form = sorted(
            tuple(r)
            for r in repetition_signals_frame(df, "text", "doc_id").collect()
        )
        assert frame_form == col_form and frame_form


def test_frame_sample_bytes_reconstructs(spark):
    """Sampled frames must be exact substrings at the right offsets and
    only every 4th frame is emitted."""
    from synthea2omop_etl_spark.queries import QUERIES

    out = QUERIES["frame_sample_bytes"].spark(spark, SF)
    rows = out.where(F.col("doc_id") == 0).collect()
    text = load_table(spark, SF, "documents").where(
        F.col("doc_id") == 0
    ).collect()[0].text
    assert rows, "doc 0 must emit at least frame 0"
    import hashlib
    for r in rows:
        assert r.frame_idx % 4 == 0
        frame = text[r.frame_idx * 64 : r.frame_idx * 64 + 64]
        assert r.frame_len == len(frame)
        assert r.frame_md5 == hashlib.md5(frame.encode()).hexdigest()


def test_substring_dedup_planted(spark):
    """Docs sharing a long exact substring pair up; the stop-window filter
    drops boilerplate shared by many docs."""
    from synthea2omop_etl_spark.llm_ops.dedup import substring_duplicate_pairs

    boiler = "COMMON HEADER " * 5  # 70 chars shared by every doc
    docs = spark.createDataFrame(
        [
            (1, boiler + "alpha unique content block one " * 4),
            (2, boiler + "alpha unique content block one " * 4 + "tail"),
            (3, boiler + "totally different body text here " * 4),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared_windows
        for r in substring_duplicate_pairs(
            docs, "text", "doc_id", window=40, stride=10
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 3  # real duplicates
    # with the stop-window filter, boilerplate-only pairs disappear
    filtered = {
        (r.id_a, r.id_b)
        for r in substring_duplicate_pairs(
            docs, "text", "doc_id", window=40, stride=10, max_doc_freq=2
        ).collect()
    }
    assert (1, 2) in filtered
    assert (1, 3) not in filtered and (2, 3) not in filtered


def test_mixture_sample_stable_and_rated(spark):
    from synthea2omop_etl_spark.llm_ops.curation import mixture_sample

    docs = load_table(spark, SF, "documents")
    rates = {"src0": 1.0, "src1": 0.0}
    kept = mixture_sample(docs, "source", "doc_id", rates, default_rate=0.5)
    by_src = {
        r.source: r.n
        for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_src.get("src0") == total["src0"]      # rate 1.0 keeps all
    assert "src1" not in by_src                      # rate 0.0 drops all
    # default-rate sources keep a plausible fraction (hash-uniform)
    other = sum(v for k, v in by_src.items() if k not in ("src0",))
    other_total = sum(v for k, v in total.items() if k not in ("src0", "src1"))
    assert 0.2 * other_total < other < 0.8 * other_total
    # deterministic: same call keeps the same ids
    a = {r.doc_id for r in kept.select("doc_id").collect()}
    b = {r.doc_id for r in mixture_sample(
        docs.repartition(7), "source", "doc_id", rates, default_rate=0.5
    ).select("doc_id").collect()}
    assert a == b


def test_brute_force_topk_excludes_degenerate_vectors(spark):
    """Zero-norm corpus vectors score NULL cosine and must not evict real
    candidates from the per-partition top-k (they previously sorted first
    in the local stage)."""
    rows = [(i, [float(i % 3 + 1), 1.0]) for i in range(10)]
    rows += [(100 + i, [0.0, 0.0]) for i in range(20)]  # zero-norm flood
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(
        df.where(F.col("vec_id") == 0), df, "embedding", "vec_id", k=5
    ).collect()
    ids = {r.neighbor_id for r in out}
    assert len(out) == 5
    assert all(r.cosine is not None for r in out)
    assert ids <= set(range(1, 10))  # none of the degenerate 100+ ids


def test_minhash_cache_hygiene(spark):
    """VERDICT r4 #5/#7: repeated minhash invocations in one session hold
    FLAT storage (each call releases its predecessor's packed-signature
    cache), and the partition probe no longer forces an RDD conversion.
    persist_path= skips executor storage entirely (the 100 TB path)."""
    import tempfile

    docs = load_table(spark, SF, "documents").limit(200)

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    minhash_lsh_candidates(docs, "text", "doc_id").count()
    base = n_cached()
    for _ in range(3):
        minhash_lsh_candidates(docs, "text", "doc_id").count()
    assert n_cached() <= base  # flat — no accumulation across calls

    # escape hatch: parquet-persisted packed layer, zero cache entries added
    with tempfile.TemporaryDirectory() as d:
        before = n_cached()
        out = minhash_lsh_candidates(
            docs, "text", "doc_id", persist_path=f"{d}/packed"
        )
        assert out.count() >= 0
        assert n_cached() <= before


def test_lm_score_crafted_semantics(spark):
    """Bigram LM: seen bigrams score higher than unseen; OOV counting;
    degenerate docs (empty / single-token) get NULL score, 0 bigrams."""
    import math

    from synthea2omop_etl_spark.llm_ops.lm_score import (
        lm_quality_score,
        train_bigram_model,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], ["doc_id", "text"]
    )
    score_me = spark.createDataFrame(
        [
            (10, "the cat sat"),   # all bigrams seen
            (11, "dog zzz"),       # fully OOV
            (12, "one"),           # single token: no bigrams
            (13, ""),              # empty
        ],
        ["doc_id", "text"],
    )
    model = train_bigram_model(train)
    got = {
        r["doc_id"]: r
        for r in lm_quality_score(score_me, model).collect()
    }
    assert got[10]["n_oov"] == 0 and got[10]["n_bigrams"] == 2
    assert got[11]["n_oov"] == 1 and got[11]["n_bigrams"] == 1
    assert got[10]["lm_score"] > got[11]["lm_score"]
    for d in (12, 13):
        assert got[d]["n_bigrams"] == 0 and got[d]["lm_score"] is None
    # closed-form check: V=5 {the,cat,sat,ran}, wait: vocab={the,cat,sat,ran}=4
    # p(cat|the)=(2+1)/(2+4)=0.5 ; p(sat|cat)=(1+1)/(2+4)=1/3
    want = round((math.log(0.5) + math.log(1 / 3)) / 2, 4)
    assert abs(got[10]["lm_score"] - want) < 1e-9
    # OOV bigram with OOV context: (0+1)/(0+4)=0.25
    assert abs(got[11]["lm_score"] - round(math.log(0.25), 4)) < 1e-9


def test_lm_score_context_counts_match_pair_definition(spark):
    """r12: contexts are derived from the bigram table (c(w1) =
    Σ_w2 c(w1,w2)); this pins that derivation to the definitional
    per-pair count, and the vocab element stays a lazy 1-row frame."""
    from pyspark.sql import DataFrame

    from synthea2omop_etl_spark.llm_ops.lm_score import (
        bigram_pairs,
        train_bigram_model,
    )

    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c d"), (3, "x")], ["doc_id", "text"]
    )
    bigrams, contexts, vocab = train_bigram_model(train)
    want = {
        r["w1"]: r["n"]
        for r in bigram_pairs(train)
        .groupBy("w1").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["w1"]: r["cl"] for r in contexts.collect()}
    assert got == want
    assert isinstance(vocab, DataFrame)
    assert vocab.collect()[0]["__vs"] == 5  # {a,b,c,d,x}


def test_lm_score_self_train_runs_on_corpus(spark):
    from synthea2omop_etl_spark.llm_ops.lm_score import lm_quality_score

    docs = load_table(spark, SF, "documents").limit(100)
    out = lm_quality_score(docs)
    assert out.count() == 100
    # self-trained: every bigram was seen at least once
    assert out.agg(F.sum("n_oov")).collect()[0][0] == 0


def test_budgeted_mixture_boundaries(spark):
    """Budget boundary is inclusive THROUGH a doc; sources without a
    budget are excluded; order is deterministic by id."""
    from synthea2omop_etl_spark.llm_ops.curation import budgeted_mixture

    docs = spark.createDataFrame(
        [
            (1, "en", "a b c"),        # 3 tokens, cum 3
            (2, "en", "d e"),          # 2 tokens, cum 5  (== budget: kept)
            (3, "en", "f"),            # cum 6 > 5: dropped
            (4, "xx", "g h"),          # no budget: dropped
            (5, "de", "i"),            # cum 1 <= 1: kept
        ],
        ["doc_id", "lang", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in budgeted_mixture(docs, {"en": 5, "de": 1}).collect()
    }
    assert set(got) == {1, 2, 5}
    assert got[2]["cum_tokens"] == 5 and got[5]["cum_tokens"] == 1


def test_pq_topk_structure_and_recall(spark):
    """PQ ADC top-k: exactly k ranked rows per query, distances ascend,
    and overlap with the exact baseline is non-trivial for an 8-code
    4-subspace codebook on random data (PQ is coarse by design — the
    structural contract plus the hash-graded oracle is the guarantee)."""
    import collections

    from synthea2omop_etl_spark.llm_ops.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 10)
    pq = pq_topk(
        queries_df, emb, "embedding", "vec_id", dim=64, k=5, m=4, ksub=8
    ).collect()
    per_q = collections.defaultdict(list)
    for r in pq:
        per_q[r.query_id].append(r)
    assert len(per_q) == 10
    for rows in per_q.values():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        dists = [r.adist for r in rows]
        assert dists == sorted(dists)  # ADC distance ascends with rank
        assert all(r.query_id != r.neighbor_id for r in rows)

    exact = brute_force_topk(queries_df, emb, "embedding", "vec_id", k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in pq}
    assert len(e & a) / len(e) > 0.0  # coarse, but not random noise


def test_pq_topk_rejects_bad_subspaces(spark):
    import pytest as _pytest

    from synthea2omop_etl_spark.llm_ops.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    with _pytest.raises(ValueError, match="divide"):
        pq_topk(emb, emb, "embedding", "vec_id", dim=64, m=5)


def test_leakage_safe_split_clusters_share_split(spark):
    """Every near-dup cluster member lands in the SAME split; singletons
    keep the plain per-doc hash split."""
    from synthea2omop_etl_spark.llm_ops.cluster import dedup_clusters
    from synthea2omop_etl_spark.llm_ops.curation import (
        leakage_safe_split,
        split_assign,
    )
    from synthea2omop_etl_spark.llm_ops.dedup import minhash_lsh_candidates

    docs = load_table(spark, SF, "documents")
    out = leakage_safe_split(docs).select(
        "doc_id", "split_group", "split"
    )
    rows = out.collect()
    assert len(rows) == docs.count()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.split_group, set()).add(r.split)
    # invariant: one split per group
    assert all(len(s) == 1 for s in by_group.values())
    # at least one real multi-doc cluster exists in the near-dup-seeded
    # corpus, and it is split-consistent (the leakage case a doc_id hash
    # split would get wrong with probability 1-(max split share))
    sizes = {}
    for r in rows:
        sizes[r.split_group] = sizes.get(r.split_group, 0) + 1
    assert any(n > 1 for n in sizes.values())
    # singleton docs: split == plain hash split of their own id
    pairs = minhash_lsh_candidates(docs, "text", "doc_id")
    clustered = {
        r.doc for r in dedup_clusters(pairs).collect()
    }
    plain = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            split_assign(F.col("doc_id").cast("string")).alias("s"),
        ).collect()
    }
    for r in rows:
        if r.doc_id not in clustered:
            assert r.split == plain[r.doc_id]


# ---------------------------------------------------------------------------
# line-level corpus hygiene (round 9): intra-doc paragraph dedup +
# cross-corpus boilerplate-line removal
# ---------------------------------------------------------------------------

def test_dedup_paragraphs_first_occurrence_order(spark):
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.llm_ops.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "alpha\n\nbeta\n\nalpha\n\ngamma\n\nbeta"),
            (2, "only one paragraph"),
            (3, ""),                      # empty doc stays empty
            (4, "x\n\n\n\nx"),            # blank segments dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["clean"]
        for r in docs.select(
            "doc_id", dedup_paragraphs(F.col("text")).alias("clean")
        ).collect()
    }
    # first occurrence kept, order preserved
    assert out[1] == "alpha\n\nbeta\n\ngamma"
    assert out[2] == "only one paragraph"
    assert out[3] == ""
    assert out[4] == "x"


def test_remove_boilerplate_lines(spark):
    from synthea2omop_etl_spark.llm_ops.curation import (
        remove_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER\nreal content one\nFOOTER"),
            (2, "COOKIE BANNER\nreal content two\nFOOTER"),
            (3, "COOKIE BANNER\nFOOTER"),          # all boilerplate → ''
            (4, "unique document\nwith two lines"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate_lines(docs, min_docs=2).collect()
    }
    # every doc keeps a row; boilerplate removed everywhere, order kept
    assert out[1] == "real content one"
    assert out[2] == "real content two"
    assert out[3] == ""
    assert out[4] == "unique document\nwith two lines"
    # min_docs above the max frequency removes nothing
    out4 = {
        r["doc_id"]: r["text_clean"]
        for r in remove_boilerplate_lines(docs, min_docs=10).collect()
    }
    assert out4[3] == "COOKIE BANNER\nFOOTER"


def test_rrf_fuse_semantics(spark):
    """Agreement wins: a doc ranked 2nd in BOTH lists outscores each
    list's exclusive #1 (1/62+1/62 > 1/61+1/80-ish); n_lists counts the
    carrying lists; ties break on id."""
    from synthea2omop_etl_spark.llm_ops.search import rrf_fuse

    a = spark.createDataFrame(
        [(101, 1), (7, 2), (102, 3)], ["doc_id", "rank"]
    )
    b = spark.createDataFrame(
        [(201, 1), (7, 2), (202, 3)], ["doc_id", "rank"]
    )
    out = rrf_fuse([a, b], k=10).collect()
    assert [r["doc_id"] for r in out][:1] == [7]
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[7].n_lists == 2
    assert all(by_id[d].n_lists == 1 for d in (101, 102, 201, 202))
    # exclusive #1s tie exactly (both 1/61) → id order decides
    assert [r["doc_id"] for r in out][1:3] == [101, 201]
    # ranks are a contiguous 1..n sequence
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


# ---------------------------------------------------------------- BPE learn


def _py_bpe(word_freqs: dict[str, int], num_merges: int):
    """Pure-Python reference BPE (Sennrich et al. 2016, algorithm 1):
    greedy leftmost non-overlapping merge application per round."""
    words = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(1, num_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freqs[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), cnt = best
        merges.append((rank, l, r, cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def test_bpe_matches_python_reference(spark):
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe_merges

    # the classic Sennrich corpus, plus an overlap-run stressor
    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaa": 4}
    text = " ".join(" ".join([w] * n) for w, n in freqs.items())
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(
        tuple(r) for r in learn_bpe_merges(docs, "text", 10).collect()
    )
    assert got == sorted(_py_bpe(freqs, 10))


def test_bpe_greedy_run_semantics(spark):
    """aaaa under pair (a,a) must merge to [aa, aa] — the pair (aa, aa)
    must therefore be countable in the NEXT round."""
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe_merges

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    rows = learn_bpe_merges(docs, "text", 2).collect()
    by_rank = {r["merge_rank"]: (r["lhs"], r["rhs"], r["pair_count"]) for r in rows}
    # round 1: (a,a) appears 3x per word (overlapping), but count is of
    # adjacent positions = 3 per word... weighted by the single distinct
    # word's corpus frequency 3 -> 9
    assert by_rank[1] == ("a", "a", 9)
    # after greedy merge aaaa -> [aa, aa]: round 2 merges (aa, aa)
    assert by_rank[2] == ("aa", "aa", 3)


def test_bpe_stops_when_fully_merged(spark):
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe_merges

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    rows = learn_bpe_merges(docs, "text", 5).collect()
    assert [tuple(r) for r in rows] == [(1, "a", "b", 2)]


def test_bpe_single_character_words(spark):
    """Words of one character have no adjacent pair: the trainer returns
    the typed empty merge table and every word segments to itself. Spark's
    sequence(2, 1) is [2, 1], not empty, so an unguarded pair explode
    over a size-1 symbol array would read the pair (s[0], s[1])."""
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe

    docs = spark.createDataFrame([(1, "a b a c")], "doc_id long, text string")
    merges, segments = learn_bpe(docs, "text", num_merges=3)
    assert merges.schema.simpleString() == (
        "struct<merge_rank:int,lhs:string,rhs:string,pair_count:bigint>"
    )
    assert merges.collect() == []
    assert sorted(tuple(r) for r in segments.collect()) == [
        ("a", "a", 1), ("b", "b", 1), ("c", "c", 1)
    ]


def test_bpe_segments_schema(spark):
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe

    docs = spark.createDataFrame(
        [(1, "low lower lowest a")], "doc_id long, text string"
    )
    _, segments = learn_bpe(docs, "text", num_merges=1)
    assert segments.dtypes == [
        ("word", "string"), ("seg", "string"), ("n_sub", "bigint")
    ]
    got = {r["word"]: (r["seg"], r["n_sub"]) for r in segments.collect()}
    assert got["a"] == ("a", 1)
    assert got["low"] == ("lo w", 2)


# ------------------------------------------------------------------- DSIR


def test_dsir_prefers_target_like_docs(spark):
    """A doc made of target-corpus vocabulary must outscore a doc made of
    vocabulary absent from the target — the defining DSIR property."""
    from synthea2omop_etl_spark.llm_ops.selection import dsir_logratio

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # pure target-like
            (2, "zeta eta theta iota"),      # disjoint vocabulary
            (3, "alpha beta zeta eta"),      # mixed
            (4, "   "),                      # featureless
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_logratio(raw.unionByName(target), target).collect()
    }
    assert out[1]["dsir_logratio"] > out[3]["dsir_logratio"] > out[2]["dsir_logratio"]
    assert out[4]["n_feats"] == 0 and out[4]["dsir_logratio"] is None
    # uni + bigram feature count: 4 tokens -> 4 + 3
    assert out[1]["n_feats"] == 7


def test_dsir_self_target_is_flat(spark):
    """target == raw: every bucket's log-ratio is 0, every doc scores 0."""
    from synthea2omop_etl_spark.llm_ops.selection import dsir_logratio

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c d e f")], "doc_id long, text string"
    )
    for r in dsir_logratio(docs, docs).collect():
        assert r["dsir_logratio"] == 0.0


def test_bpe_segment_documents(spark):
    """Segmentation must reassemble each doc's words in order, count
    subwords correctly, and pass unseen words through whole."""
    from synthea2omop_etl_spark.llm_ops.vocab import (
        bpe_segment_documents,
        learn_bpe,
    )

    train = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id long, text string",
    )
    merges, segments = learn_bpe(train, "text", num_merges=4)
    seg_map = {r["word"]: r["seg"] for r in segments.collect()}
    # every word's segmentation concatenates back to the word
    for w, s in seg_map.items():
        assert s.replace(" ", "") == w
    encode_me = spark.createDataFrame(
        [(10, "low newest unseen"), (11, "  ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           bpe_segment_documents(encode_me, "text", "doc_id", segments).collect()}
    expected = f"{seg_map['low']} {seg_map['newest']} unseen"
    assert out[10]["bpe_text"] == expected
    assert out[10]["n_subwords"] == len(expected.split())
    assert out[11]["n_subwords"] == 0 and out[11]["bpe_text"] is None


# ------------------------------------------------------- n-gram repetition


def test_ngram_repetition_known_values(spark):
    from synthea2omop_etl_spark.llm_ops.text import ngram_repetition_stats

    # "x y x y x y": 2-grams = [xy, yx, xy, yx, xy] -> top "x y" cnt 3,
    # every gram duplicated -> dup_frac 1.0, top_frac 9/15
    docs = spark.createDataFrame(
        [(1, "x y x y x y"), (2, "a b c d"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["n"]): r
           for r in ngram_repetition_stats(docs).collect()}
    r12 = out[(1, 2)]
    assert r12["n_ngrams"] == 5 and r12["top_gram"] == "x y"
    assert r12["dup_frac"] == 1.0 and r12["top_frac"] == round(9 / 15, 4)
    # all 2-grams of doc 2 are unique: dup 0, top is lexicographically
    # smallest on the all-ties count
    r22 = out[(2, 2)]
    assert r22["dup_frac"] == 0.0 and r22["top_gram"] == "a b"
    # 1-token doc has no n-grams at any n
    assert not any(k[0] == 3 for k in out)
    # doc 2 has 4 tokens: exactly one 4-gram, top_frac 1.0
    assert out[(2, 4)]["top_frac"] == 1.0


# --------------------------------------------------------- source overlap


def test_source_overlap_matrix_semantics(spark):
    from synthea2omop_etl_spark.llm_ops.decontam import source_overlap_matrix

    docs = spark.createDataFrame(
        [
            (1, "a b c d e", "s1"),      # shingles: abc bcd cde
            (2, "a b c x y", "s2"),      # shares abc with s1
            (3, "p q r s t", "s3"),      # disjoint
            (4, "a b c d e", "s2"),      # duplicate content in s2
        ],
        "doc_id long, text string, source string",
    )
    out = {(r["group_a"], r["group_b"]): r
           for r in source_overlap_matrix(docs, "text", "source").collect()}
    # s1 = {abc,bcd,cde}; s2 = doc2's {abc,bcx,cxy} plus doc4's
    # {abc,bcd,cde} = {abc,bcx,cxy,bcd,cde} -> inter = 3, union = 5
    r = out[("s1", "s2")]
    assert r["n_shared"] == 3 and r["jaccard"] == round(3 / 5, 4)
    # disjoint source never appears
    assert not any("s3" in k for k in out)
    # unordered pairs appear once, lexicographically ordered
    assert ("s2", "s1") not in out


# ----------------------------------------------------------- k-center


def test_kcenter_select_matches_python_greedy(spark):
    """The distributed greedy must walk the identical selection path as a
    plain-Python farthest-point reference on a small planted geometry."""
    import math

    from synthea2omop_etl_spark.llm_ops.selection import kcenter_select

    pts = {
        0: [0.0, 0.0], 1: [0.1, 0.0], 2: [10.0, 0.0],
        3: [0.0, 10.0], 4: [10.0, 10.0], 5: [5.0, 5.0],
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts.items()],
        "vec_id long, embedding array<float>",
    )
    out = sorted(
        (r["sel_rank"], r["vec_id"], r["d_min"])
        for r in kcenter_select(df, k=4).collect()
    )

    def sq(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    centers, rows = [0], [(0, 0, None)]
    for rank in range(1, 4):
        best = max(
            ((min(math.floor(sq(pts[i], pts[c]) * 10000 + 0.5) / 10000
                  for c in centers), i)
             for i in pts if i not in centers),
            key=lambda t: (t[0], -t[1]),
        )
        centers.append(best[1])
        rows.append((rank, best[1], best[0]))
    assert out == sorted(rows)
    # farthest-point property: the far corner (4) is picked before the
    # interior point (5)
    ranks = {v: r for r, v, _ in rows}
    assert ranks[4] < 4 and 5 not in ranks


# --------------------------------------------------------- span corruption


def test_span_corruption_semantics(spark):
    from synthea2omop_etl_spark.llm_ops.objectives import span_corruption

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "   ")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           span_corruption(docs, mask_ratio=0.4).collect()}
    r = out[1]
    assert r["n_tokens"] == 10
    assert 0 < r["n_masked"] < 10          # deterministic but nontrivial
    assert 1 <= r["n_spans"] <= r["n_masked"]
    # reconstruction: replacing each sentinel in `corrupted` with its
    # span's tokens from `targets` restores the original document
    import re

    spans = {}
    cur = None
    for piece in r["targets"].split():
        m = re.fullmatch(r"<extra_id_(\d+)>", piece)
        if m:
            cur = int(m.group(1))
            spans[cur] = []
        else:
            spans[cur].append(piece)
    rebuilt = []
    for piece in r["corrupted"].split():
        m = re.fullmatch(r"<extra_id_(\d+)>", piece)
        rebuilt.extend(spans[int(m.group(1))] if m else [piece])
    assert " ".join(rebuilt) == "a b c d e f g h i j"
    # sentinels are numbered 0..n_spans-1 in order of appearance
    assert sorted(spans) == list(range(r["n_spans"]))
    # empty doc: zeros + NULLs
    assert out[2]["n_tokens"] == 0 and out[2]["corrupted"] is None
    # determinism: same salt -> identical output; different salt differs
    again = {r2["doc_id"]: r2 for r2 in
             span_corruption(docs, mask_ratio=0.4).collect()}
    assert again[1]["corrupted"] == r["corrupted"]
    other = {r2["doc_id"]: r2 for r2 in
             span_corruption(docs, mask_ratio=0.4, salt="mask1").collect()}
    assert other[1]["corrupted"] != r["corrupted"]


# ------------------------------------------------------- perceptual hash
def test_phash_planted_duplicate_recall(spark):
    """r10 dedup_phash: a lightly perturbed payload pairs with its
    original at small Hamming distance; an unrelated payload never
    pairs with either; an exact copy pairs at distance 0."""
    import pytest

    from synthea2omop_etl_spark.llm_ops.dedup import (
        phash_band_signatures,
        phash_duplicate_pairs,
    )

    base = (
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed "
        "do eiusmod tempor incididunt ut labore et dolore magna aliqua."
    ) * 4
    # ONE adjacent transposition: byte sum (and so the aHash mean) is
    # preserved, at most the transposed cells' bits flip
    near = base.replace("dolor", "dolro", 1)
    far = "#" * 200 + "completely different low-byte payload " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, base), (5, "")],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_duplicate_pairs(docs).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 0  # exact copy
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6  # perturbed copy
    assert all(3 not in p for p in pairs)  # unrelated never pairs
    # empty payloads are excluded before hashing (no NULL signatures)
    sigs = {r.doc_id for r in phash_band_signatures(docs).collect()}
    assert sigs == {1, 2, 3, 4}
    # band/cell mismatch is rejected at the API, not silently mis-split
    with pytest.raises(ValueError):
        phash_band_signatures(docs, cells=64, bands=5)


def test_perceptual_combined_gate_rejects_ahash_false_positive(spark):
    """r11 combined aHash∧dHash admission: two payloads with the SAME
    byte mean and the same above/below-mean pattern but a DIFFERENT
    local shape collide under aHash alone (hamming_a = 0 — the false
    positive the aHash docstring warns about) and are rejected by the
    combined gate because dHash reads the gradient. A genuinely
    perturbed copy still passes all three paths."""
    from synthea2omop_etl_spark.llm_ops.dedup import (
        dhash_duplicate_pairs,
        perceptual_duplicate_pairs,
        perceptual_signatures,
        phash_band_signatures,
        phash_duplicate_pairs,
    )

    # 64-byte payloads: low half constant 'a', high half alternating
    # c/d vs d/c — identical mean, identical >mean pattern (= identical
    # aHash), opposite adjacent-gradient pattern in the high half
    fp_a = "a" * 32 + "cd" * 16
    fp_b = "a" * 32 + "dc" * 16
    # a genuine near-dup of fp_a: one byte nudged by one
    near = "a" * 32 + "cd" * 15 + "ce"
    docs = spark.createDataFrame(
        [(1, fp_a), (2, fp_b), (3, near)], "doc_id long, text string"
    )

    ap = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_duplicate_pairs(docs).collect()
    }
    assert ap[(1, 2)] == 0  # aHash alone admits the false positive
    dp = {
        (r.id_a, r.id_b): r.hamming
        for r in dhash_duplicate_pairs(docs).collect()
    }
    assert (1, 2) not in dp  # the gradient signature separates them
    cp = {
        (r.id_a, r.id_b): (r.hamming_a, r.hamming_d)
        for r in perceptual_duplicate_pairs(docs).collect()
    }
    assert (1, 2) not in cp  # combined gate rejects
    # the genuine near-dup survives every path
    assert (1, 3) in ap and (1, 3) in dp and (1, 3) in cp
    assert cp[(1, 3)][0] <= 6 and cp[(1, 3)][1] <= 6

    # the fused one-scan frame is bit-identical to the standalone sigs
    fused = {
        r.doc_id: r.phash_bands
        for r in perceptual_signatures(docs).collect()
    }
    for r in phash_band_signatures(docs).collect():
        assert fused[r.doc_id] == r.phash_bands


# --------------------------------------------------------- unigram LM
def test_unigram_lm_matches_python_reference(spark):
    """r10 unigram-LM trainer: the distributed Viterbi-EM (JVM DP folds,
    broadcast model) equals a direct pure-Python implementation of the
    same recipe — seed substring counts, smoothed-cost Viterbi with
    smallest-start tie-break, frequency-weighted M-step counts,
    chars-plus-top-K prune — piece for piece, count for count."""
    import math
    from collections import Counter

    from synthea2omop_etl_spark.llm_ops.vocab import unigram_lm

    texts = [
        "the cat sat on the mat",
        "the mat was flat",
        "cats and mats",
        "the the the flat cat",
        "onomatopoeia overflowing w xyz",
    ]
    L, W, S, K, R = 3, 12, 20, 10, 2

    wf = Counter()
    for t in texts:
        for w in t.split():
            if w and len(w) <= W:
                wf[w] += 1
    seed = Counter()
    for w, f in wf.items():
        for i in range(len(w)):
            for l in range(1, L + 1):
                if i + l <= len(w):
                    seed[w[i:i + l]] += f
    chars = sorted(p for p in seed if len(p) == 1)
    multi = sorted(
        (p for p in seed if len(p) > 1), key=lambda p: (-seed[p], p)
    )[:S]
    vocab = {p: seed[p] for p in chars} | {p: seed[p] for p in multi}
    for _ in range(R):
        total, V = sum(vocab.values()), len(vocab)
        cost = {
            p: math.log(total + V) - math.log(c + 1)
            for p, c in vocab.items()
        }
        counts = Counter()
        for w, f in wf.items():
            inf = float("inf")
            dp = [0.0] + [inf] * len(w)
            bp = [-1] * (len(w) + 1)
            for j in range(1, len(w) + 1):
                best = (inf, None)
                for i in range(max(0, j - L), j):
                    piece = w[i:j]
                    if piece in cost and dp[i] + cost[piece] < best[0]:
                        best = (dp[i] + cost[piece], i)
                dp[j], bp[j] = best
            pos = len(w)
            pieces = []
            while pos > 0:
                pieces.append(w[bp[pos]:pos])
                pos = bp[pos]
            for p in pieces:
                counts[p] += f
        multi = sorted(
            (p for p in counts if len(p) > 1), key=lambda p: (-counts[p], p)
        )[:K]
        vocab = {p: counts.get(p, 0) for p in chars} | {
            p: counts[p] for p in multi
        }
    total, V = sum(vocab.values()), len(vocab)
    expected = {
        p: (
            c,
            math.floor(
                (math.log(c + 1) - math.log(total + V)) * 10000 + 0.5
            )
            / 10000,
        )
        for p, c in vocab.items()
    }

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        r.piece: (r.cnt, r.logprob)
        for r in unigram_lm(
            df, max_piece_len=L, max_word_len=W,
            seed_multi=S, keep_multi=K, rounds=R,
        ).collect()
    }
    assert got == expected
    # coverage guarantee: every corpus character survives pruning
    assert {p for p in got if len(p) == 1} == set(chars)


def test_unigram_lm_hard_em_cost_monotone(spark):
    """r11 (r10 verdict item 7): the hard-EM invariant the fixed-round
    choice silently relies on — total corpus Viterbi cost never
    increases across rounds — holds for the distributed trainer when
    pruning does not bind (keep_multi ≥ surviving multi pieces). The
    classical argument: Viterbi re-segmentation can only lower cost
    under the new model, and the M-step counts re-fit the model to the
    segmentation. With AGGRESSIVE pruning (keep_multi ~10 on a diverse
    corpus) the invariant can transiently fail because pieces the
    previous segmentation used get dropped — verified with a pure-
    Python twin; SentencePiece's own prune step shares the property —
    which is exactly why this test pins the unpruned regime."""
    import math

    from synthea2omop_etl_spark.llm_ops.vocab import unigram_lm

    texts = [
        ("aaa bbb aab abb",),
        ("abab baba abba",),
        ("aa bb ab ba",),
    ]
    docs = spark.createDataFrame(texts, "text string")
    L, W = 3, 12

    words = {}
    for (t,) in texts:
        for w in t.split():
            if w and len(w) <= W:
                words[w] = words.get(w, 0) + 1

    def corpus_cost(vocab_rows):
        cnts = {r.piece: r.cnt for r in vocab_rows}
        total, vsize = sum(cnts.values()), len(cnts)
        cost = {
            p: math.log(total + vsize) - math.log(c + 1)
            for p, c in cnts.items()
        }
        out = 0.0
        for w, f in words.items():
            n = len(w)
            dp = [0.0] + [math.inf] * n
            for j in range(1, n + 1):
                for i in range(max(0, j - L), j):
                    p = w[i:j]
                    if p in cost:
                        dp[j] = min(dp[j], dp[i] + cost[p])
            assert dp[n] < math.inf  # chars guarantee reachability
            out += f * dp[n]
        return out

    costs = []
    for r in range(4):
        vocab = unigram_lm(
            docs, max_piece_len=L, max_word_len=W, seed_multi=60,
            keep_multi=200, rounds=r,
        ).collect()
        costs.append(corpus_cost(vocab))
    for k in range(len(costs) - 1):
        assert costs[k + 1] <= costs[k] + 1e-9, costs
    # and the rounds actually do something: cost strictly improves from
    # the seed model before converging
    assert costs[1] < costs[0] - 1e-6


def test_unigram_segment_roundtrip_and_passthrough(spark):
    """r10 unigram encode: removing the piece boundaries restores each
    document verbatim; words longer than max_word_len (never trained)
    pass through whole; empty docs encode to 0 pieces."""
    from synthea2omop_etl_spark.llm_ops.vocab import (
        unigram_segment_documents,
    )

    texts = [
        "the cat sat on the mat",
        "supercalifragilistic words pass through",
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in unigram_segment_documents(
            df, max_word_len=8, keep_multi=6, seed_multi=12
        ).collect()
    }
    for i, t in enumerate(texts[:2]):
        enc = out[i].unigram_text
        # piece boundaries within a word are spaces too, so compare the
        # space-free character stream
        assert enc.replace(" ", "") == t.replace(" ", "")
        assert out[i].n_pieces >= len(t.split())
    # the 20-char word exceeds max_word_len=8 → passes through whole
    assert "supercalifragilistic" in out[1].unigram_text.split()
    assert out[2].n_pieces == 0 and out[2].unigram_text is None


def test_temperature_mixture_alpha_semantics(spark):
    """r10 temperature mixing: α=1 reproduces raw shares, α→0 flattens
    toward uniform, α<1 strictly upweights the low-resource source."""
    from synthea2omop_etl_spark.llm_ops.curation import (
        temperature_mixture_weights,
    )

    rows = [("big", "w " * 90), ("small", "w " * 10)]
    df = spark.createDataFrame(
        [(s, t.strip()) for s, t in rows for _ in range(5)],
        "source string, text string",
    )

    def weights(alpha):
        return {
            r.source: r
            for r in temperature_mixture_weights(
                df, alpha=alpha, token_budget=1000
            ).collect()
        }

    w1 = weights(1.0)
    assert w1["big"].weight == w1["big"].raw_share == 0.9
    assert w1["big"].target_tokens == 900
    w0 = weights(0.0)
    assert w0["big"].weight == w0["small"].weight == 0.5
    wt = weights(0.3)
    assert wt["small"].weight > wt["small"].raw_share
    assert wt["big"].weight < wt["big"].raw_share
    # weights always sum to 1 (4dp)
    assert abs(wt["big"].weight + wt["small"].weight - 1.0) <= 1e-3
    # budget allocation never exceeds the budget
    assert wt["big"].target_tokens + wt["small"].target_tokens <= 1000


def test_temperature_delivery_end_to_end(spark, tmp_path):
    """r11 composition: temperature weights → per-source token budgets →
    selection → deliver_corpus shard export. Per-source delivered tokens
    match the α-allocation within document rounding (delivered ≤ target,
    and the FIRST excluded doc would overshoot), and the delivery
    manifest accounts for exactly the selected tokens."""
    from synthea2omop_etl_spark.llm_ops.curation import (
        temperature_budgeted_mixture,
        temperature_mixture_weights,
    )
    from synthea2omop_etl_spark.llm_ops.delivery import deliver_corpus

    docs = spark.createDataFrame(
        [
            (i, src, ("w%d " % i) * n)
            for i, (src, n) in enumerate(
                [("big", 40)] * 6 + [("small", 7)] * 4
            )
        ],
        "doc_id long, source string, text string",
    ).select("doc_id", "source", F.trim("text").alias("text"))

    budget = 100
    sel = temperature_budgeted_mixture(
        docs, alpha=0.3, token_budget=budget
    )
    rows = sel.collect()
    targets = {
        r.source: r.target_tokens
        for r in temperature_mixture_weights(
            docs, alpha=0.3, token_budget=budget
        ).collect()
    }
    per_src: dict[str, int] = {}
    for r in rows:
        per_src[r.source] = per_src.get(r.source, 0) + r.n_tokens
        assert r.cum_tokens <= targets[r.source]
    sizes = {"big": 40, "small": 7}
    for src, tgt in targets.items():
        got = per_src.get(src, 0)
        assert got <= tgt
        # greedy prefix: the next doc of this source would overshoot
        # (unless every doc was taken)
        n_taken = sum(1 for r in rows if r.source == src)
        n_avail = 6 if src == "big" else 4
        if n_taken < n_avail:
            assert got + sizes[src] > tgt

    # the selection feeds delivery directly; the manifest accounts for
    # exactly the selected tokens
    selected_docs = docs.join(
        sel.select("doc_id"), "doc_id", "left_semi"
    )
    report = deliver_corpus(
        spark, selected_docs, str(tmp_path / "out"), seq_len=16,
        n_buckets=2, n_shards=2, records_per_file=100,
    )
    assert report["total_tokens"] == sum(per_src.values())
    assert report["n_docs"] == len(rows)


def test_unigram_encode_foreign_corpus_unseen_chars(spark):
    """r10 fix: encoding corpus B with corpus A's model must not NPE on
    characters the model never saw — words containing them are
    unreachable in the DP and pass through whole (the oracle's no-dp-row
    semantics); reachable words still segment."""
    from synthea2omop_etl_spark.llm_ops.vocab import (
        unigram_lm,
        unigram_segment_documents,
    )

    train = spark.createDataFrame([("abc abd abe",)], "text string")
    vocab = unigram_lm(
        train, max_piece_len=2, max_word_len=8, seed_multi=5,
        keep_multi=3, rounds=1,
    )
    test = spark.createDataFrame(
        [(1, "abc xyz abq")], "doc_id long, text string"
    )
    out = unigram_segment_documents(
        test, vocab=vocab, max_piece_len=2, max_word_len=8
    ).collect()[0]
    toks = out.unigram_text.split()
    # unseen-char words intact; the known word segmented
    assert "xyz" in toks and "abq" in toks
    assert out.unigram_text.replace(" ", "") == "abcxyzabq"
    assert out.n_pieces >= 4


def test_dhash_separates_what_ahash_collapses(spark):
    """r10 dHash: payloads whose every sample sits on the SAME side of
    the mean (identical aHash bits) but whose sub-mean TEXTURE differs
    collapse under aHash and separate under dHash — the low-contrast
    complement the phash docstring promises."""
    from synthea2omop_etl_spark.llm_ops.dedup import (
        dhash_band_signatures,
        phash_band_signatures,
    )

    # length 64: the 64-cell aHash grid samples every char exactly once.
    # A: flat 'a' field with one 'z' spike. B: same spike, but four
    # scattered 'a'->'_' dips; '_'(95) and 'a'(97) both stay BELOW the
    # mean (~97.3), so the above-mean pattern — the aHash bits — is
    # identical, while the local gradients differ.
    a_txt = "a" * 32 + "z" + "a" * 31
    b_chars = list(a_txt)
    for pos in (5, 15, 45, 55):
        b_chars[pos] = "_"
    b_txt = "".join(b_chars)
    docs = spark.createDataFrame(
        [(1, a_txt), (2, b_txt)], "doc_id long, text string"
    )
    a = {r.doc_id: tuple(r.phash_bands)
         for r in phash_band_signatures(docs).collect()}
    d = {r.doc_id: tuple(r.dhash_bands)
         for r in dhash_band_signatures(docs).collect()}
    assert a[1] == a[2]          # aHash: level-only -> collapsed
    assert d[1] != d[2]          # dHash: shape-aware -> separated
    # determinism + cells/bands fence
    import pytest

    assert d == {
        r.doc_id: tuple(r.dhash_bands)
        for r in dhash_band_signatures(docs).collect()
    }
    with pytest.raises(ValueError):
        dhash_band_signatures(docs, cells=64, bands=5)


def test_hot_bucket_cap_fences_flat_corpus(spark):
    """r12 hot-bucket fence (_cap_hot_buckets): a degenerate corpus of
    10k near-constant payloads hashes to the all-zero band word in BOTH
    perceptual families — without the cap, that one (band, word) bucket
    makes the candidate self-join quadratic (C(10k,2) ~ 5e7 rows).
    With the cap the bucket is dropped outright: the flat docs produce
    NO pairs, a planted genuine near-dup pair elsewhere in the corpus
    still verifies, and the audit frame reports exactly what was
    dropped. Drop semantics are then pinned at small scale: the same
    flat docs DO pair when the cap is disabled."""
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.llm_ops.dedup import (
        oversized_band_buckets,
        perceptual_duplicate_pairs,
        perceptual_signatures,
        phash_duplicate_pairs,
    )

    base = (
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed "
        "do eiusmod tempor incididunt ut labore et dolore magna aliqua."
    ) * 4
    near = base.replace("dolor", "dolro", 1)
    flat = spark.range(10_000).select(
        (F.col("id") + 100).alias("doc_id"), F.lit("a" * 100).alias("text")
    )
    docs = spark.createDataFrame(
        [(1, base), (2, near)], "doc_id long, text string"
    ).unionByName(flat)

    # capped (default 1024): only the planted pair survives, and the
    # query returns in bucket-bounded time, not C(10k,2) time
    for pairs_df in (
        phash_duplicate_pairs(docs),
        perceptual_duplicate_pairs(docs),
    ):
        got = [(r.id_a, r.id_b) for r in pairs_df.collect()]
        assert got == [(1, 2)]

    # the audit frame names the dropped buckets: all-zero word in every
    # band, 10k entries each (4 aHash bands; dHash mirrors it)
    sigs = perceptual_signatures(docs)
    dropped = oversized_band_buckets(sigs, "phash_bands", 1024).collect()
    assert {(r.band, r.word) for r in dropped} == {(b, 0) for b in range(4)}
    assert all(r.n_docs == 10_000 for r in dropped)

    # drop semantics at small scale: 5 flat docs pair freely uncapped,
    # and not at all under a cap smaller than the bucket
    tiny = spark.createDataFrame(
        [(i, "a" * 100) for i in range(5)], "doc_id long, text string"
    )
    uncapped = phash_duplicate_pairs(tiny, max_bucket_size=None).collect()
    assert len(uncapped) == 10 and all(r.hamming == 0 for r in uncapped)
    assert phash_duplicate_pairs(tiny, max_bucket_size=3).count() == 0


def test_minhash_batch_admission_matches_python_greedy(spark):
    """r12 text-modality batch admission: the Spark per-component
    applyInPandas greedy must equal an independent Python sequential
    greedy recomputed from the graded pair operator's own output —
    ascending-id order, rejected iff an ADMITTED smaller neighbor."""
    from synthea2omop_etl_spark.llm_ops.dedup import minhash_lsh_candidates
    from synthea2omop_etl_spark.streaming.dedup import (
        minhash_greedy_admission,
    )

    docs = load_table(spark, SF, "documents")
    pairs = minhash_lsh_candidates(
        docs, "text", "doc_id", 16, 8, 0.5, 3
    ).collect()
    adj: dict = {}
    for r in pairs:
        adj.setdefault(r.id_a, set()).add(r.id_b)
        adj.setdefault(r.id_b, set()).add(r.id_a)
    domain = sorted(
        r.doc_id
        for r in docs.where(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id")
        .collect()
    )
    admitted: set = set()
    expect = {}
    for d in domain:
        if any(n in admitted for n in adj.get(d, ())):
            expect[d] = 0
        else:
            admitted.add(d)
            expect[d] = 1
    got = {
        r.doc_id: r.admitted
        for r in minhash_greedy_admission(
            docs, jaccard_threshold=0.5
        ).collect()
    }
    assert got == expect
    assert 0 in set(got.values())  # the corpus really has rejections
