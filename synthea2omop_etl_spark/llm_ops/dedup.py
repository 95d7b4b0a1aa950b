"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (the 100 TB story):

- **exact**: hash-groupBy on md5(text) — one shuffle on a 32-byte key, fully
  parallel, AQE handles skew from giant duplicate clusters.
- **minhash_lsh**: signatures are computed per-row with array lambda
  expressions (no shuffle, no Python); candidate generation shuffles on
  (band_id, band_hash) — the classic band-bucket join — so cost scales with
  the number of colliding docs, never n².
- **simhash**: per-row signature; near-dup = equal signature buckets (or
  small Hamming distance via rotations).
- **ngram_jaccard**: exact verification, bucketed by a blocking key to bound
  the pair count; used standalone on small buckets or as the verify stage
  after LSH.
- **embedding cosine**: blocked pairwise; the ANN module (similarity.py) is
  the scale path.

Banded LSH is one set of stages, composed by the batch operators here and
by the streaming admission filters (streaming/dedup.py):

- signatures: ``_minhash_pack`` (hash→shingle→MinHash in one let-bound
  expression) and ``perceptual_signatures`` (the one aHash/dHash
  projection);
- band entries: ``_minhash_band_entries`` (r-row polynomial band digests);
- candidates: ``_band_candidates`` (the (band_idx, key) self-join, or the
  probe against an admitted store);
- verify: ``_pair_payloads`` plus ``_jaccard`` (rounded to 4 places, as
  every oracle compares it) or ``_hamming``;
- the perceptual pair stage ``_hamming_pairs`` (hot-bucket cap, (slot,
  word) self-join, every Hamming check before the pair dedup).

The greedy admission over a verified pair graph lives with its callers in
streaming/dedup.py (``_greedy_rejects``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.llm_ops.hashing import (
    P,
    h64,
    hmod,
    minhash_params,
    poly2,
)
from synthea2omop_etl_spark.llm_ops.text import tokens


def exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Cluster by md5(text): (text_hash, n_docs, canonical_id=min id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: per permutation i, min over mod-P shingle hashes
    of ``(a_i * s + b_i) mod P`` (universal hashing, hashing.py).

    Pure expression tree — evaluated row-local; integer multiply-add per
    element, zero shuffle. Reproducible in DuckDB (the oracle embeds the
    same (a_i, b_i) constants).

    Fused single-pass form: ONE ``aggregate`` over the shingle array whose
    accumulator is the running vector of k mins (``zip_with`` + ``least``
    against the k permutations of each element), instead of k separate
    ``array_min(transform(...))`` traversals — k× fewer interpreted-HOF
    passes over the (typically long) shingle array for the same values:
    min is computed per permutation independently, so pass order is
    irrelevant. Empty input yields the P-sentinel vector; callers filter
    empty shingle sets before signing (every mod-P hash is < P).
    """
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in minhash_params(num_hashes)
        ]
    )
    init = F.array_repeat(F.lit(P).cast("long"), num_hashes)
    return F.aggregate(
        shingles,
        init,
        lambda acc, s: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * s + p["b"]) % P)
        ),
    )


def bind_once(bound: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``bound`` ONCE per row and
    let ``body`` reference it many times.

    ``element_at(transform(array(bound), x -> body(x)), 1)`` — the lambda
    variable is a materialized runtime value, so multiple references in
    ``body`` read it instead of re-evaluating ``bound``. This matters
    because Catalyst's CollapseProject INLINES aliased expressions into
    every reference site when merging projections: the "compute md5 hashes
    in one select, combine them in the next" shape measured here re-ran the
    per-token md5 transform 8× per row once collapsed (verified by counting
    md5 occurrences in the executed plan). A lambda binding survives every
    optimizer rewrite, unlike projection boundaries.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def _hashed_shingles(col: Column) -> Column:
    """Shingle strings → mod-P int64 hashes, computed once.

    All downstream MinHash permutations and the Jaccard verify then operate
    on longs — integer arithmetic and equality are far cheaper than repeated
    string hashing/comparison, and collisions (~2⁻³¹ per pair) are
    negligible for set-overlap estimation at realistic shingle-set sizes.
    """
    return F.transform(col, lambda s: hmod(s))


def token_hashes(col: Column | str) -> Column:
    """Tokens → mod-P int64 hashes (one md5 per token)."""
    return F.transform(tokens(col), lambda t: hmod(t))


def shingle_hashes_from(toks_h: Column, n: int = 3) -> Column:
    """Combine n consecutive token hashes into shingle hashes with a
    polynomial rolling hash mod P.

    CAUTION (measured 8× md5 re-evaluation at sf0.1): this references
    ``toks_h`` ~n+2 times (slices + sizes). Pass a let-bound lambda
    variable (bind_once) or a cached/materialized column — never the raw
    md5-transform expression, and do NOT rely on a separate select()
    boundary: CollapseProject merges projections and inlines the alias
    into every reference site. Also: an element_at(toks_h, i) formulation
    is O(len²) per row — slice+zip_with keeps it linear.
    """
    k = F.size(toks_h) - F.lit(n - 1)
    out = F.slice(toks_h, 1, k)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks_h, j + 1, k), poly2)
    return F.when(k <= 0, F.array().cast("array<long>")).otherwise(out)


def word_shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """n-gram shingles directly as mod-P int64 hashes (array<long>).

    The token-hash array is let-bound (bind_once), so the per-token md5
    transform evaluates once per row no matter how many slices reference
    it — safe to use in a single projection.
    """
    return bind_once(token_hashes(col), lambda th: shingle_hashes_from(th, n))


def _minhash_pack(txt: Column, num_hashes: int, shingle_n: int) -> Column:
    """struct(sh, sig): hash→shingle→signature as ONE expression with
    nested let-bindings (bind_once). The per-token md5 transform and the
    shingle combine each appear exactly once in the tree, so no optimizer
    rewrite can re-inline them (the collapsed two-projection form re-ran
    md5 8× per row)."""
    return bind_once(
        token_hashes(txt),
        lambda th: bind_once(
            shingle_hashes_from(th, shingle_n),
            lambda sh: F.struct(
                sh.alias("sh"),
                minhash_signature(sh, num_hashes).alias("sig"),
            ),
        ),
    )


def _minhash_band_entries(
    packed: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc, band_idx, band_hash) LSH postings from a (doc, sh, sig)
    frame: band b folds signature rows b*r .. b*r+r-1 (r =
    num_hashes/bands) into one polynomial digest. A doc with an empty
    shingle set (fewer than shingle_n tokens) gets no postings — its
    all-sentinel signature would put every such doc in one bucket — so
    it pairs with nothing."""
    r = num_hashes // bands

    def band_digest(b: int) -> Column:
        out = F.col("sig")[b * r]
        for j in range(1, r):
            out = poly2(out, F.col("sig")[b * r + j])
        return out

    return packed.where(F.size("sh") > 0).select(
        "doc",
        F.posexplode(
            F.array(*[band_digest(b) for b in range(bands)])
        ).alias("band_idx", "band_hash"),
    )


def _band_candidates(
    entries: DataFrame,
    key: str = "band_hash",
    store: DataFrame | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b) doc pairs sharing a (band_idx, ``key``)
    bucket. Without ``store`` this is the candidate self-join, id_a <
    id_b. With ``store`` (the postings of already admitted docs) it is
    the probe: every (entry doc, stored doc) pair of DIFFERENT docs, so
    a replayed doc never pairs with its own earlier admission."""
    a = entries.alias("a")
    b = (entries if store is None else store).alias("b")
    other = (
        F.col("a.doc") < F.col("b.doc")
        if store is None
        else F.col("a.doc") != F.col("b.doc")
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & other,
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def _pair_payloads(
    cands: DataFrame, a_side: DataFrame, b_side: DataFrame, col: str
) -> DataFrame:
    """(id_a, id_b) candidates with the exact-verify payload ``col`` of
    each side attached as ``pa`` (from ``a_side``) and ``pb``."""
    return cands.join(
        a_side.select(F.col("doc").alias("id_a"), F.col(col).alias("pa")),
        "id_a",
    ).join(
        b_side.select(F.col("doc").alias("id_b"), F.col(col).alias("pb")),
        "id_b",
    )


def _jaccard(a: Column | str, b: Column | str) -> Column:
    """Set Jaccard rounded to 4 places — the value every Jaccard
    operator and its DuckDB oracle compare (``ROUND(jac, 4) >= t``)."""
    return F.round(
        F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)), 4
    )


#: most-recent cached packed-signature layer (bounded at ONE entry): each
#: minhash_lsh_candidates call releases its predecessor's cache, so repeated
#: invocations in a long-lived session hold flat storage instead of
#: accumulating one pinned layer per call.
_PACKED_CACHE: list[DataFrame] = []


def _swap_packed_cache(packed: DataFrame) -> DataFrame:
    while _PACKED_CACHE:
        try:
            _PACKED_CACHE.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _PACKED_CACHE.append(packed)
    return packed.cache()


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
    persist_path: str | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, verified by exact shingle Jaccard.

    signature → split into ``bands`` bands of r=num_hashes/bands rows →
    bucket-join on (band_idx, poly-digest(band)) → distinct candidate pairs →
    exact Jaccard verify ≥ threshold.

    Output: (id_a, id_b, jaccard) with id_a < id_b. LSH affects recall only;
    every emitted pair is exactly verified. Defaults r=2, b=8: candidate
    probability 1-(1-j²)⁸ ≈ 0.90 at j=0.5, ≈ 1.0 at j≥0.7 — and half the
    hashing cost of the classic 32-hash setup.

    The signature/shingle stage is cached: it feeds both sides of the
    band self-join and the verify stage (4 consumers; recomputing the
    shingling dominates otherwise). Each call releases the previous
    call's cache (bounded at one layer per session); pass
    ``persist_path`` to write the layer to parquet instead — the 100 TB
    path, no executor storage held at all.
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")

    # The hashing map-work is CPU-bound: if the source arrived in fewer
    # partitions than cores (one big parquet file locally; a handful of
    # giant files at scale), spread it before hashing — the text shuffle is
    # tiny next to the per-token md5 work it parallelizes. File count is a
    # plan-safe proxy for scan parallelism (no RDD conversion of the plan,
    # which would force a full analysis pass); non-file sources (0 files)
    # already carry their creation parallelism.
    narrow = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__text"))
    par = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < max(2, par // 2):
        narrow = narrow.repartition(par, "doc")
    # ONE projection computes hash→shingle→signature (_minhash_pack).
    # The packed struct is cached BEFORE field extraction: one fill
    # evaluates everything once, and all four consumers (band a/b sides +
    # the Jaccard verify) read struct fields from the cache. At 100 TB
    # persist this layer to parquet instead — same DAG shape.
    packed = narrow.select(
        "doc",
        _minhash_pack(F.col("__text"), num_hashes, shingle_n).alias("pack"),
    )
    if persist_path:
        packed.write.mode("overwrite").parquet(persist_path)
        packed = df.sparkSession.read.parquet(persist_path)
    else:
        packed = _swap_packed_cache(packed)
    base = packed.select(
        "doc",
        F.col("pack.sh").alias("sh"),
        F.col("pack.sig").alias("sig"),
    )
    cands = _band_candidates(_minhash_band_entries(base, num_hashes, bands))
    sh = base.select("doc", F.array_distinct("sh").alias("sh"))
    return (
        _pair_payloads(cands, sh, sh, "sh")
        .withColumn("jaccard", _jaccard("pa", "pb"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def substring_duplicate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 40,
    stride: int = 10,
    min_shared: int = 1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact-substring near-duplicate pairs: docs sharing ≥ ``min_shared``
    identical ``window``-char substrings (sampled every ``stride`` chars).

    The character-level complement to token-shingle MinHash — the
    "exact substring deduplication" family (suffix-array dedup's
    bucket-join approximation): window hashes are md5 over raw character
    windows, so a match IS a shared exact substring (collisions ~2⁻⁶⁴).

    Scale shape: window hashing is map-side fan-out (~len/stride rows per
    doc); candidate generation is an equi-join on the window hash — cost
    proportional to colliding windows, never n². ``max_doc_freq`` drops
    windows appearing in more than that many docs (boilerplate headers —
    the classic stop-window filter) before the self-join, bounding bucket
    skew at corpus scale.

    Output: (id_a, id_b, n_shared_windows) with id_a < id_b.
    """
    win = (
        df.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("__text")
        )
        .where(F.length("__text") >= window)
        .select(
            "doc",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor(
                            (F.length("__text") - window) / stride
                        ).cast("int"),
                    ),
                    lambda i: F.md5(
                        F.col("__text").substr(i * stride + 1, F.lit(window))
                    ),
                )
            ).alias("h"),
        )
        .distinct()
    )
    if max_doc_freq is not None:
        keep = (
            win.groupBy("h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("h")
        )
        win = win.join(keep, "h")
    a = win.alias("a")
    b = win.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b")
        )
        .agg(F.countDistinct("a.h").alias("n_shared_windows"))
        .where(F.col("n_shared_windows") >= min_shared)
    )


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """SimHash over word tokens: sign of per-bit vote sums of h64(token)
    (md5-derived, hashing.py — bit-for-bit reproducible in DuckDB).

    Implemented as an exploded token→bit-vote aggregation (shuffles once on
    the doc id — at 100 TB this is a map-side-combinable sum, cheap).
    Output: (id, simhash) where equal simhash ⇒ near-duplicate bucket.
    """
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", h64("t"))
    votes = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    sig = votes.select(
        "doc",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(bits)
            ],
            start=F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return sig


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocking_cols: list[str],
    threshold: float = 0.9,
    n: int = 1,
) -> DataFrame:
    """Exact token/shingle-set Jaccard over pairs within blocking buckets.

    Pair count is bounded by the largest bucket squared — callers pick
    blocking keys (language, source, length band, or an LSH band) so buckets
    stay small at scale. An empty ``blocking_cols`` would degenerate to the
    all-pairs cartesian, so it is rejected.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    if not blocking_cols:
        raise ValueError(
            "ngram_jaccard_pairs requires at least one blocking column — an "
            "empty list would be an all-pairs cartesian self-join; use "
            "minhash_lsh_duplicates for unblocked corpus-wide dedup"
        )
    # Hashed shingle sets: intersect/union over int64 is ~3× cheaper than
    # over strings in interpreted HOF/array expressions; Jaccard over hashed
    # sets equals Jaccard over the sets themselves (collisions ~2⁻³¹ pair).
    if n == 1:
        base = df.select(
            F.col(id_col).alias("doc"),
            *blocking_cols,
            F.array_distinct(_hashed_shingles(tokens(F.col(text_col)))).alias(
                "toks"
            ),
        )
    else:
        # let-bound hash array — see bind_once (projection boundaries do
        # NOT protect against CollapseProject re-inlining)
        base = df.select(
            F.col(id_col).alias("doc"),
            *blocking_cols,
            F.array_distinct(word_shingle_hashes(F.col(text_col), n)).alias(
                "toks"
            ),
        )
    base = base.where(F.size("toks") > 0)
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.doc") < F.col("b.doc")
    for c in blocking_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            _jaccard("a.toks", "b.toks").alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    blocking_col: str | None = None,
    threshold: float = 0.95,
    allow_full_pairs: bool = False,
) -> DataFrame:
    """Pairs with cosine(vec_a, vec_b) ≥ threshold, blocked by
    ``blocking_col``.

    Math in double (cast up from float) for cross-engine reproducibility.
    Exact pairwise within blocks; use similarity.srp_bucketed_topk as the
    approximate scale path.

    ``blocking_col`` is effectively required: without it the self-join is
    an all-pairs cartesian — O(n²) rows, a non-starter beyond ~10⁵ docs.
    Callers that genuinely want the exhaustive small-corpus comparison must
    opt in with ``allow_full_pairs=True``.
    """
    if blocking_col is None and not allow_full_pairs:
        raise ValueError(
            "embedding_near_duplicates without blocking_col is an all-pairs "
            "cartesian self-join; pass a blocking column (label, language, "
            "length band, LSH bucket) or opt in with allow_full_pairs=True "
            "for small corpora, or use similarity.srp_bucketed_topk"
        )
    from synthea2omop_etl_spark.llm_ops.similarity import _dot, _norm

    base = df.select(
        F.col(id_col).alias("doc"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        *( [F.col(blocking_col).alias("blk")] if blocking_col else [] ),
    )
    # Norms precomputed per SIDE of the self-join (projections cannot
    # collapse across a Join) — per-pair work is the dot product only.
    base = base.select("*", _norm(F.col("v")).alias("n"))
    a = base.alias("a")
    b = base.alias("b")
    cond = F.col("a.doc") < F.col("b.doc")
    if blocking_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    dot = _dot(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.round(dot / (F.col("a.n") * F.col("b.n")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def set_similarity_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
) -> DataFrame:
    """ALL-pairs exact token-set Jaccard >= threshold, UNBLOCKED, via
    prefix filtering (the PPJoin/SSJoin family, cf. Xiao et al., WWW'08).

    The missing middle of the dedup family: ``ngram_jaccard_pairs`` is
    exact but needs a user-supplied blocking key; ``minhash_lsh`` is
    unblocked but probabilistic (LSH can miss true pairs). This operator
    is exact AND unblocked: tokens are globally ordered rarest-first
    (ascending document frequency, token string as tie-break), each doc
    keeps only its first ``|toks| - ceil(t*|toks|) + 1`` tokens as its
    prefix, and only docs sharing a PREFIX token become candidates — the
    standard completeness guarantee (a pair with Jaccard >= t must share
    a prefix token under any consistent total order), verified here by a
    brute-force equivalence test.

    Scale story at 100 TB: candidate fan-out is driven by RARE tokens
    (frequent tokens sort last and fall outside long docs' prefixes), so
    bucket sizes are bounded by rare-token document frequencies — the
    opposite of the Zipf hot-key blowup a naive token-bucket join hits.
    Shuffles: one groupBy(token) for frequencies, one token join + one
    groupBy(doc) to re-sort arrays, the prefix equi-join, and the verify
    joins — all keyed, AQE-planned; nothing is quadratic in the corpus.
    Candidate sets differ per engine when frequency ties break differently,
    but the OUTPUT does not: completeness makes the result exactly the
    Jaccard >= t pair set either way.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
    ).where(F.size("toks") > 0)
    tok_rows = toks.select("doc", F.explode("toks").alias("tok"))
    dfreq = tok_rows.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    ordered = (
        tok_rows.join(dfreq, "tok")
        .groupBy("doc")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dfreq", "tok"))),
                lambda s: s["tok"],
            ).alias("stoks")
        )
    )
    sz = F.size("stoks")
    pre = ordered.select(
        "doc",
        "stoks",
        sz.alias("sz"),
        F.slice(
            "stoks", 1, (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int")
        ).alias("prefix"),
    )
    side = pre.select("doc", "sz", F.explode("prefix").alias("tok"))
    a, b = side.alias("a"), side.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: J >= t forces t*|a| <= |b| and t*|b| <= |a|
            & (F.col("b.sz") >= F.ceil(F.lit(threshold) * F.col("a.sz")))
            & (F.col("a.sz") >= F.ceil(F.lit(threshold) * F.col("b.sz"))),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    ta = pre.select(F.col("doc").alias("id_a"), F.col("stoks").alias("ta"))
    tb = pre.select(F.col("doc").alias("id_b"), F.col("stoks").alias("tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", _jaccard("ta", "tb").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _byte_grid(txt: Column, n_samples: int) -> Column:
    """``n_samples`` nearest-neighbor byte samples of a payload string:
    sample k = byte at ``(k*n) div n_samples`` — the 1-D gather shared
    with multimodal.resize_nearest. Long cast before the multiply: the
    IntegerType product wraps silently past 2^31 (payloads > ~34M
    chars) under non-ANSI Spark while the DuckDB oracle computes the
    same index in BIGINT."""
    n = F.length(txt)
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_samples - 1)),
        lambda k: F.ascii(
            txt.substr(
                (
                    F.floor(k.cast("long") * n / F.lit(n_samples)) + 1
                ).cast("int"),
                F.lit(1),
            )
        ),
    )


def _ahash_words(g: Column, cells: int, bands: int) -> Column:
    """aHash band words from a bound ``cells``-sample grid: bit =
    sample*cells > grid total (integer-exact mean threshold), packed
    big-endian into ``bands`` words. The grid total is bind_once-bound
    so the threshold compare reads a value, not a re-inlined fold."""
    per = cells // bands

    def _with_tot(t):
        def band_word(b):
            return F.aggregate(
                F.slice(g, b * F.lit(per) + 1, per),
                F.lit(0),
                lambda acc, v: acc * 2
                + F.when(v * F.lit(cells) > t, 1).otherwise(0),
            )

        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)), band_word
        )

    return bind_once(
        F.aggregate(g, F.lit(0).cast("long"), lambda acc, v: acc + v),
        _with_tot,
    )


def _dhash_words(g: Column, cells: int, bands: int) -> Column:
    """dHash band words from a bound ``cells+1``-sample grid: bit k =
    grid[k] < grid[k+1] (strict — ties at 0), packed big-endian."""
    per = cells // bands

    def band_word(b):
        return F.aggregate(
            F.sequence(b * F.lit(per) + 1, b * F.lit(per) + F.lit(per)),
            F.lit(0),
            lambda acc, k: acc * 2
            + F.when(
                F.element_at(g, k) < F.element_at(g, k + 1), 1
            ).otherwise(0),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_word)


def perceptual_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cells: int = 64,
    bands: int = 4,
) -> DataFrame:
    """ONE-scan (id, phash_bands, dhash_bands) frame — the only
    perceptual signature projection. The single-family signatures and
    every perceptual pair stage select from it; Catalyst prunes the
    family a caller does not read, so a single-family caller pays one
    fold, and the combined gate pays one corpus pass instead of two
    scans + an id join.

    Everything is JVM-side Column algebra (transform/aggregate/slice
    over a bounded ``cells``-element array — whole-stage codegen, no
    Python), and the band words ARE the LSH keys. A real image
    deployment feeds the DECODED pixel grid through the same column
    algebra; here the payload bytes stand in for pixels (ASCII text, so
    ``ascii(substr)`` IS the byte value, same as multimodal_resize).
    One row per non-empty payload; bits are big-endian within a band
    (first sample = highest bit), bands ordered low grid positions
    first.
    """
    if cells % bands:
        raise ValueError("cells must be divisible by bands")
    txt = F.col(text_col)

    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    # bind_once let-bindings are LOAD-BEARING here: CollapseProject would
    # otherwise inline the grid into the total and the total into every
    # threshold-bit lambda step — the interpreted HOF then re-evaluates a
    # 64-cell substr/ascii fold PER BIT (64×), measured ~2.6 ms/doc vs
    # microseconds bound (the ngram_repetition lesson, r10).
    # round-robin spread: the per-row hash fold inherits the scan's task
    # count, and a single-row-group parquet file decodes in ONE task
    return (
        spread_if_narrow(df)
        .where(F.length(txt) > 0)
        .select(
            F.col(id_col).alias(id_col),
            bind_once(
                _byte_grid(txt, cells),
                lambda g: _ahash_words(g, cells, bands),
            ).alias("phash_bands"),
            bind_once(
                _byte_grid(txt, cells + 1),
                lambda g: _dhash_words(g, cells, bands),
            ).alias("dhash_bands"),
        )
    )


def phash_band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cells: int = 64,
    bands: int = 4,
) -> DataFrame:
    """Perceptual-hash (aHash-family) signature over the payload BYTE
    GRID, banded for LSH — the image-by-content dedup modality (r10;
    the one the embedding path doesn't cover). Downsample the payload to
    ``cells`` samples (the same nearest-neighbor gather as
    multimodal.resize_nearest: sample k = byte at ``k*n div cells``),
    threshold each sample against the grid mean (bit = sample*cells >
    sum — integer-exact, no float mean), and pack the bits into
    ``bands`` band words of ``cells/bands`` bits each.

    Output: (id_col, phash_bands array<int>), the aHash column of
    :func:`perceptual_signatures`.

    Caveat (inherent to the aHash family, not this implementation):
    payloads with a FLAT byte profile (constant bytes, or shorter than
    the mean can discriminate) all hash to the all-zero signature and
    land in one bucket — the image analogue is aHash collapsing flat/
    solid images. Pre-filter them (octet_length / entropy gate) or pair
    this with dHash bits, exactly as production perceptual pipelines
    do. The recall cost is theirs alone; the JOIN cost is not — that
    attractor bucket would make the candidate self-join quadratic,
    which is why the pair stage drops buckets beyond
    ``max_bucket_size`` (:func:`_cap_hot_buckets`, r12).
    """
    return perceptual_signatures(
        df, text_col, id_col, cells, bands
    ).select(id_col, "phash_bands")


def dhash_band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cells: int = 64,
    bands: int = 4,
) -> DataFrame:
    """dHash (difference-hash) banded signature — the gradient twin of
    :func:`phash_band_signatures`, closing its flat-profile caveat: bit
    k compares ADJACENT samples (grid[k] < grid[k+1], a ``cells+1``-
    sample gather), so the signature encodes the byte-profile SHAPE
    rather than its level. A constant payload hashes to all-zero under
    BOTH, but payloads aHash collapses (same mean, different shape)
    separate here. Strict ``<`` keeps ties at 0 — integer-exact,
    identical in DuckDB (``ord(substr) < ord(substr)``).

    Output: (id_col, dhash_bands array<int>), the dHash column of
    :func:`perceptual_signatures`.
    """
    return perceptual_signatures(
        df, text_col, id_col, cells, bands
    ).select(id_col, "dhash_bands")


def _hamming(xa, xb) -> Column:
    """Exact Hamming distance between two equal-length band-word arrays
    (zip_with + bit_count — JVM-side)."""
    return F.aggregate(
        F.zip_with(xa, xb, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("long")


def _cap_hot_buckets(
    entries: DataFrame, keys: list[str], max_bucket_size: int | None
) -> DataFrame:
    """DROP band buckets holding more than ``max_bucket_size`` entries
    before the candidate self-join — the ``max_basket_size`` fence from
    operators/itemsets.py applied to LSH buckets. A perceptual band
    word has a natural attractor at 0 (every flat/near-constant payload
    hashes there in BOTH the aHash and dHash families — the collapse
    the signature docstrings document), so a 100 TB corpus with
    millions of boilerplate-ish payloads would otherwise make that ONE
    bucket contribute C(m,2) candidates. A dropped bucket contributes
    no pairs (its members can still pair through their other, sparser
    bands); use :func:`oversized_band_buckets` to audit what a given
    corpus loses. ``None`` disables the fence."""
    if max_bucket_size is None:
        return entries
    under = (
        entries.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .where(F.col("__bn") <= max_bucket_size)
        .select(*keys)
    )
    # shuffles on the same (slot, word) key the candidate join uses;
    # the bucket-count frame is tiny (distinct band words), so AQE
    # broadcasts it into the semi join at runtime
    return entries.join(under, keys, "left_semi")


def oversized_band_buckets(
    sigs: DataFrame,
    sig_col: str,
    max_bucket_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Audit frame for the :func:`_cap_hot_buckets` fence: one row per
    (band, word) bucket the cap would drop, with its entry count — the
    'log what was dropped' half of the fence, expressed as a queryable
    frame (driver-side logging from a lazy plan is not a thing; a
    pipeline unions/persists this next to its pair output)."""
    return (
        sigs.select(F.posexplode(sig_col).alias("band", "word"))
        .groupBy("band", "word")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def _hamming_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    cells: int,
    bands: int,
    checks: list[tuple[str, str, int]],
    max_bucket_size: int | None,
) -> DataFrame:
    """The perceptual pair stage: banded candidates + exact Hamming
    verify over :func:`perceptual_signatures`. ``checks`` lists
    ``(sig_col, out_col, hamming_max)``; a pair survives only if every
    check's distance is within its bound.

    Candidates are BUCKETED: one posexplode over the concatenated band
    words of every checked signature (slot = position in the
    concatenation, so the candidates are the UNION of the bandings),
    buckets beyond ``max_bucket_size`` entries dropped
    (:func:`_cap_hot_buckets` — the flat-payload attractor would
    otherwise go quadratic), then an equi-join on (slot, word) with
    id_a < id_b. Fan-out is bounded by band collisions, never
    all-pairs.

    Output: (id_a, id_b, *out_cols), one row per verified pair."""
    cols = [c for c, _, _ in checks]
    # the signature frame feeds BOTH self-join sides — left lazy, each
    # side re-runs the per-doc hash fold over the corpus (and the
    # dropDuplicates a third time); a lazy localCheckpoint computes it
    # once (the funnel-stage idiom)
    sigs = (
        perceptual_signatures(df, text_col, id_col, cells, bands)
        .select(F.col(id_col).alias("doc"), *cols)
        .localCheckpoint(eager=False)
    )
    entries = sigs.select(
        "doc", *cols, F.posexplode(F.concat(*cols)).alias("slot", "word")
    )
    entries = _cap_hot_buckets(entries, ["slot", "word"], max_bucket_size)
    a, b = entries.alias("a"), entries.alias("b")
    within = reduce(Column.__and__, [F.col(o) <= h for _, o, h in checks])
    # Hamming verify BEFORE the pair dedup (r12, guide §2.3 — shuffle
    # keys, not payloads): the old shape dropDuplicate'd the raw
    # candidates first, so the dedup Exchange carried every candidate
    # occurrence WITH the signature arrays (event-logged 166 MB shuffle
    # at sf1 for a 5 MB corpus — ~1M candidate rows × ~150 B). The
    # verify is a small zip_with fold — re-running it per duplicate
    # occurrence costs microseconds, after which the dedup Exchange
    # carries only the VERIFIED pairs (narrow columns, ~1% of the
    # rows). Distances are deterministic per (id_a, id_b), so dedup
    # after verify keeps the identical pair set and values.
    return (
        a.join(
            b,
            (F.col("a.slot") == F.col("b.slot"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            *[
                _hamming(F.col(f"a.{c}"), F.col(f"b.{c}")).alias(out)
                for c, out, _ in checks
            ],
        )
        .where(within)
        .dropDuplicates(["id_a", "id_b"])
    )


def phash_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cells: int = 64,
    bands: int = 4,
    hamming_max: int = 6,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Perceptual near-duplicate pairs: banded aHash candidates,
    Hamming-verified — MinHash-LSH's structure with aHash bits, through
    the shared :func:`_hamming_pairs` stage (the same 100 TB fence as
    ``minhash_lsh_candidates``: bucketed candidates, never all-pairs).

    Output: (id_a, id_b, hamming) with id_a < id_b, one row per
    verified pair.
    """
    return _hamming_pairs(
        df, text_col, id_col, cells, bands,
        [("phash_bands", "hamming", hamming_max)], max_bucket_size,
    )


def dhash_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cells: int = 64,
    bands: int = 4,
    hamming_max: int = 6,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """dHash near-duplicate pairs: banded gradient-signature candidates,
    Hamming-verified — the pair-level twin of
    :func:`phash_duplicate_pairs` through the same :func:`_hamming_pairs`
    stage; output (id_a, id_b, hamming) with id_a < id_b."""
    return _hamming_pairs(
        df, text_col, id_col, cells, bands,
        [("dhash_bands", "hamming", hamming_max)], max_bucket_size,
    )


def perceptual_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cells: int = 64,
    bands: int = 4,
    hamming_max_a: int = 6,
    hamming_max_d: int = 6,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Combined aHash∧dHash near-duplicate admission — the production
    recipe the single-family docstrings cite: a pair is a duplicate only
    if BOTH the level signature (aHash) and the gradient signature
    (dHash) agree, which kills aHash's same-mean/different-shape false
    positives and dHash's different-level/same-shape ones.

    :func:`_hamming_pairs` with both checks: candidates are the UNION of
    both bandings (phash words in slots 0..bands-1, dhash words in slots
    bands..2*bands-1), so recall is at least each single-family
    banding's; both exact Hamming distances are verified.

    Output: (id_a, id_b, hamming_a, hamming_d) with id_a < id_b, pairs
    passing BOTH thresholds.
    """
    return _hamming_pairs(
        df, text_col, id_col, cells, bands,
        [
            ("phash_bands", "hamming_a", hamming_max_a),
            ("dhash_bands", "hamming_d", hamming_max_d),
        ],
        max_bucket_size,
    )


def semantic_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_clusters: int = 16,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    2303.09540): cluster the embeddings with a coarse quantizer, then
    prune cosine-near pairs ONLY within each cluster — the published
    recipe for embedding-level corpus dedup at scale, because the
    all-pairs comparison is fenced to cluster-local by construction
    (there is no unclustered path: n_clusters < 2 is rejected).

    Quantizer: the deterministic "sampled" coarse quantizer and the
    assignment fold of similarity.ivf_topk — centroids are the
    n_clusters lowest-id vectors, assignment by cosine (round-6, ties to
    the lower cluster id), fully SQL-expressible so the composition
    hash-grades.

    Scale: centroids broadcast (model-sized); assignment is a per-row
    fold over them, with no exchange keyed on the corpus id; the pair
    join is an equi-join on cluster id,
    so pair cost is Σ C(|cluster|,2), never C(n,2) corpus-wide.
    ``n_clusters`` must SCALE WITH THE CORPUS to keep clusters bounded
    (SemDeDup uses k in the tens of thousands at web scale — target a
    constant expected cluster size, e.g. k ≈ n/1000); a fixed small k
    on a growing corpus degrades toward all-pairs per cluster, and the
    cluster-id join key also caps pair-join parallelism at k.

    Output: (cluster, id_a, id_b, cosine) with id_a < id_b and rounded
    cosine ≥ threshold — SemDeDup drops the higher id of each pair.
    """
    if n_clusters < 2:
        raise ValueError(
            "semantic_duplicates requires clustering (n_clusters >= 2): "
            "an unclustered run is the all-pairs cartesian SemDeDup "
            "exists to avoid; for tiny corpora use "
            "embedding_near_duplicates(allow_full_pairs=True)"
        )
    from synthea2omop_etl_spark.llm_ops.similarity import (
        _ann_corpus,
        _assign_lists,
        _dot,
        _lowest_id_rows,
    )

    base = _ann_corpus(df, vec_col, id_col)
    assigned = (
        _assign_lists(base, _lowest_id_rows(base, n_clusters, "list_id"))
        .drop("cent")
        # feeds BOTH self-join sides: without truncating lineage, the
        # assignment fold re-executes per side
        .localCheckpoint(eager=False)
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    cos = F.round(
        _dot(F.col("a.cv"), F.col("b.cv")) / (F.col("a.cn") * F.col("b.cn")),
        4,
    )
    return (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.neighbor_id") < F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.list_id").alias("cluster"),
            F.col("a.neighbor_id").alias("id_a"),
            F.col("b.neighbor_id").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
