"""Frequency-ranked vocabulary build + token-id encoding.

The tokenization step of a pretraining pipeline, distributed:

- ``build_vocab``: token → id by (frequency desc, token asc). The ranking
  window runs over the VOCABULARY (distinct tokens), not the corpus — a
  natural-language vocabulary is 10⁴-10⁶ rows regardless of corpus size,
  so the single-partition window is over data that fits trivially in one
  task; the corpus-sized work (the frequency count) is an ordinary
  map-side-combinable aggregate. Ids start at 1; 0 is reserved for OOV.

- ``encode_documents``: text → space-joined id sequence. posexplode keeps
  token order through the shuffle-free explode; the vocab joins in via
  broadcast (it is small by construction); order is restored per document
  by sorting (pos, id) structs inside the aggregation buffer — each
  document's buffer holds only its own tokens, so state is bounded by
  document length, not corpus size.

Real subword tokenizers (BPE/WordPiece) differ in how the vocab is
LEARNED (iterative merges), not in how it is applied — application is
exactly this broadcast-join shape, which is the part that must scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from synthea2omop_etl_spark.llm_ops.text import tokens
from synthea2omop_etl_spark.operators.lineage import cut_lineage


def build_vocab(
    df: DataFrame, text_col: str, max_size: int | None = None
) -> DataFrame:
    """(token, n_uses, token_id) ranked by (frequency desc, token asc)."""
    freq = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_uses"))
    )
    # vocabulary-sized window: single partition over distinct tokens only
    w = Window.orderBy(F.col("n_uses").desc(), F.col("token").asc())
    vocab = freq.withColumn(
        "token_id", F.row_number().over(w).cast("long")
    )
    if max_size is not None:
        vocab = vocab.where(F.col("token_id") <= max_size)
    return vocab


def encode_documents(
    df: DataFrame, text_col: str, id_col: str, vocab: DataFrame
) -> DataFrame:
    """(id_col, n_tokens, ids) — ids is the space-joined token-id
    sequence in document order; OOV tokens encode as 0."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    ).where(F.col("token") != "")
    joined = toks.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        id_col,
        "pos",
        F.coalesce(F.col("token_id"), F.lit(0)).alias("tid"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tid"))),
        lambda s: s["tid"].cast("string"),
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.array_join(ordered, " ").alias("ids"),
    )


def learn_bpe_merges(
    df: DataFrame, text_col: str, num_merges: int = 8
) -> DataFrame:
    """Merge-rule table only — see :func:`learn_bpe` (the segment map is
    lazy, so building both costs nothing when only one is consumed)."""
    return learn_bpe(df, text_col, num_merges)[0]


def learn_bpe(
    df: DataFrame, text_col: str, num_merges: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Learn BPE merge rules — the iterative half of subword tokenization.

    Classic byte-pair encoding (Sennrich et al. 2016): start from the
    per-character symbol sequence of every distinct word, and repeatedly
    (a) count adjacent symbol pairs weighted by word frequency, (b) merge
    the most frequent pair corpus-wide (ties break on (lhs, rhs) asc so
    the learned tokenizer is deterministic). The merge table
    ``(merge_rank, lhs, rhs, pair_count)`` — rank-ordered rules — IS
    the artifact a trained BPE tokenizer ships.

    Scale story (the reason real BPE trainers — SentencePiece, HF
    tokenizers — are feasible at all): only the initial word-frequency
    count touches the corpus (ONE map-side-combinable aggregate over the
    exploded tokens). Every merge round then operates on the *vocabulary*
    — one ``(word, freq, s array<string>)`` symbol-state row per distinct
    word, 10⁴-10⁶ rows regardless of corpus size — so per-round cost is
    independent of the 100 TB input.

    A round is one pair-count aggregate and one row-local fold. The
    count explodes the ``(s[i-1], s[i])`` structs of every word with
    ``size(s) > 1`` (the guard matters: Spark's ``sequence(2, 1)`` is
    ``[2, 1]``, not empty), sums ``freq`` per pair and keeps the top row.
    The merge is an ``aggregate`` fold over ``s`` with accumulator
    ``(o, open)``: if ``open`` and ``x = rhs``, the last element of ``o``
    becomes ``lhs || rhs`` and ``open`` closes; otherwise ``x`` is
    appended and ``open = (x = lhs)``. That is greedy left-to-right
    non-overlapping application (``aaaa`` under pair (a,a) → [aa, aa],
    ``aaa`` → [aa, a]) with no window and no shuffle keyed by word. The
    DuckDB oracle (llm_ops/oracles.py bpe_merges_oracle) keeps the
    row-per-symbol window formulation as an independent twin, and the
    output is pure integer/string — no float can diverge between engines.

    Per round the winner and the symbol state are lineage-cut (both
    vocabulary-sized), else round N's lazy plan re-executes rounds
    1..N-1 (the operators/graph.py pagerank pattern). The cuts are lazy:
    under AQE a cut runs its upstream shuffle and broadcast stages when
    it is called and leaves only its final stage to the first action.
    The one driver-paced probe per round is the winner's ``take(1)``
    early stop. The winning pair enters the fold as a broadcast 1-row
    frame — never a driver-side constant — so every emitted value is
    engine-computed.

    Returns ``(merges, segments)``: the merge table plus the word →
    (space-joined subwords, n_sub) segmentation map — the final symbol
    state, which is exactly how the learned tokenizer is APPLIED (see
    :func:`bpe_segment_documents`). Both are lazy views over the
    checkpointed loop state.
    """
    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    # no spread keys → round-robin: keying on text would re-collide
    # duplicate documents onto the same partitions (ADVICE r09)
    words = (
        spread_if_narrow(df)
        .select(F.explode(tokens(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = words.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("s"),
    ).transform(cut_lineage)
    pairs = F.transform(
        F.sequence(F.lit(2), F.size("s")),
        lambda i: F.struct(
            F.element_at("s", i - 1).alias("lhs"),
            F.element_at("s", i).alias("rhs"),
        ),
    )

    def _fold(acc, x):
        # open implies o is non-empty, so the slice length is >= 0
        merge = acc["open"] & (x == F.col("rhs"))
        o = acc["o"]
        return F.when(
            merge,
            F.struct(
                F.concat(
                    F.slice(o, 1, F.size(o) - 1),
                    F.array(F.concat("lhs", "rhs")),
                ).alias("o"),
                F.lit(False).alias("open"),
            ),
        ).otherwise(
            F.struct(
                F.concat(o, F.array(x)).alias("o"),
                (x == F.col("lhs")).alias("open"),
            )
        )

    merged = F.aggregate(
        "s",
        F.struct(
            F.expr("CAST(array() AS ARRAY<STRING>)").alias("o"),
            F.lit(False).alias("open"),
        ),
        _fold,
        lambda acc: acc["o"],
    )
    winners: list[DataFrame] = []
    for rank in range(1, num_merges + 1):
        winner = (
            state.where(F.size("s") > 1)  # sequence(2, 1) is [2, 1]
            .select("freq", F.inline(pairs))
            .groupBy("lhs", "rhs")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .select(
                F.lit(rank).alias("merge_rank"),
                "lhs",
                "rhs",
                "pair_count",
            )
            .transform(cut_lineage)
        )
        # r13 MEASURED DEAD END (kept out, recorded so it isn't retried):
        # deleting this probe — empty-safe merge via a left join on TRUE
        # against the ≤1-row winner, whole learn as one lazy plan — cut
        # jobs 44→36/run but benched NEUTRAL at sf1 and slightly WORSE at
        # sf0.1 (3 alternating pairs, median-of-5): the probe jobs it
        # removes are the same stage materializations the one final
        # action then pays serially. Output was row-identical.
        if not winner.take(1):  # no pairs left: every word fully merged
            break
        winners.append(winner)
        state = (
            state.crossJoin(F.broadcast(winner.select("lhs", "rhs")))
            .select("word", "freq", merged.alias("s"))
            .transform(cut_lineage)
        )
    segments = state.select(
        "word",
        F.array_join("s", " ").alias("seg"),
        F.size("s").cast("bigint").alias("n_sub"),
    )
    if not winners:  # empty corpus or num_merges == 0
        merges = df.sparkSession.createDataFrame(
            [], "merge_rank int, lhs string, rhs string, pair_count bigint"
        )
        return merges, segments
    merges = winners[0]
    for more in winners[1:]:
        merges = merges.unionByName(more)
    return merges, segments


def bpe_segment_documents(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    segments: DataFrame,
) -> DataFrame:
    """Apply a learned BPE segmentation to every document.

    ``segments`` is the word → (seg, n_sub) map from :func:`learn_bpe`.
    Output: ``(id_col, n_subwords, bpe_text)`` — the subword count and
    the space-joined subword sequence in document order. Words absent
    from the map pass through unsegmented (n_sub 1), so a tokenizer
    trained on one corpus can encode another.

    This is the scale-critical half: position-preserving explode, ONE
    broadcast equi-join (the segmentation map is vocabulary-sized by
    construction), and a per-document ordered reassembly whose buffer is
    bounded by document length — the encode_documents shape, applied to
    subwords.
    """
    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    toks = spread_if_narrow(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("i", "word"),
    ).where(F.col("word") != "")
    joined = toks.join(F.broadcast(segments), "word", "left").select(
        "id",
        "i",
        F.coalesce("seg", F.col("word")).alias("seg"),
        F.coalesce("n_sub", F.lit(1)).alias("n_sub"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "seg"))),
        lambda s: s["seg"],
    )
    per_doc = joined.groupBy("id").agg(
        F.sum("n_sub").alias("n_subwords"),
        F.array_join(ordered, " ").alias("bpe_text"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_subwords", F.lit(0)).alias("n_subwords"),
            "bpe_text",
        )
    )


# --------------------------------------------------------------- unigram LM
def _viterbi_segment(
    words: DataFrame,
    vocab: DataFrame,
    max_piece_len: int,
    max_word_len: int,
) -> DataFrame:
    """Best (lowest-cost) segmentation of each word under the current
    piece model — the E-step of unigram-LM training, entirely JVM-side.

    Cost of a piece with count c out of (total, vsize) is the smoothed
    negative log-prob ``ln(total + vsize) - ln(c + 1)``; the DP minimizes
    the segmentation cost, ties break toward the smaller start index
    (= the longer final piece), matching the DuckDB oracle's
    ``ORDER BY cost, i LIMIT 1``. All arithmetic is exact-int counts →
    ``ln`` → double sums in identical association on both engines, so
    comparisons never see engine-rounded values.

    Shape: candidate edges (word substrings ≤ max_piece_len) join the
    model via BROADCAST (the vocab is model-sized by construction — the
    whole point of a tokenizer), then per word ONE array fold runs the
    Viterbi DP and ONE fold backtracks — no Python, no per-position
    shuffle, word length bounded by ``max_word_len``.

    Output: (word, freq, pieces array<string>).
    """
    L, W = max_piece_len, max_word_len
    n = F.length("word")
    totals = vocab.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__vsize")
    )
    scored_vocab = vocab.crossJoin(F.broadcast(totals)).select(
        "piece",
        (
            F.log(F.col("__total") + F.col("__vsize"))
            - F.log(F.col("cnt") + F.lit(1))
        ).alias("__cost"),
    )
    subs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.transform(
                    F.sequence(F.lit(1), F.lit(L)),
                    lambda l: F.struct(
                        i.cast("int").alias("i"),
                        (i + l).cast("int").alias("j"),
                        F.col("word").substr(i + 1, l).alias("piece"),
                    ),
                ),
            )
        ),
        lambda s: s["j"] <= n,
    )
    cand = (
        words.select("word", "freq", F.explode(subs).alias("s"))
        .select(
            "word", "freq", F.col("s.i").alias("i"),
            F.col("s.j").alias("j"), F.col("s.piece").alias("piece"),
        )
        .join(F.broadcast(scored_vocab), "piece")
    )
    edges = cand.groupBy("word", "freq").agg(
        F.array_sort(
            F.collect_list(F.struct("j", "i", F.col("__cost").alias("c")))
        ).alias("edges")
    )

    def _best(acc, j):
        cands = F.filter(F.col("edges"), lambda e: e["j"] == j)
        scored = F.transform(
            cands,
            lambda e: F.struct(
                (
                    F.element_at(acc, e["i"] + 1)["cost"] + e["c"]
                ).alias("cost"),
                e["i"].alias("bp"),
            ),
        )
        # a position with NO in-vocab edge (a character the model never
        # saw — possible only when encoding corpus B with corpus A's
        # model) is UNREACHABLE: sentinel (+inf, -2) instead of the NULL
        # struct array_min yields on empty input (a NULL here NPE'd in
        # codegen downstream). +inf propagates through the sums and
        # loses every min against a finite path, so reachable words are
        # untouched; fully unreachable words are dropped below — exactly
        # the oracle's behavior (no dp row at j = len(word) → the word
        # falls out of the segment map and passes through whole).
        return F.coalesce(
            F.array_min(scored),
            F.struct(
                F.lit(float("inf")).alias("cost"),
                F.lit(-2).cast("int").alias("bp"),
            ),
        )

    dp_expr = F.aggregate(
        F.sequence(F.lit(1), F.lit(W)),
        F.array(
            F.struct(
                F.lit(0.0).alias("cost"), F.lit(-1).cast("int").alias("bp")
            )
        ),
        lambda acc, j: F.when(j > F.length("word"), acc).otherwise(
            F.concat(acc, F.array(_best(acc, j)))
        ),
    )
    bt_expr = F.aggregate(
        F.sequence(F.lit(1), F.lit(W)),
        F.struct(
            F.length("word").cast("int").alias("pos"),
            F.expr("CAST(array() AS ARRAY<STRING>)").alias("ps"),
        ),
        lambda acc, _: F.when(acc["pos"] <= 0, acc).otherwise(
            F.struct(
                F.element_at(F.col("__dp"), acc["pos"] + 1)["bp"].alias(
                    "pos"
                ),
                F.concat(
                    acc["ps"],
                    F.array(
                        F.col("word").substr(
                            F.element_at(F.col("__dp"), acc["pos"] + 1)[
                                "bp"
                            ]
                            + 1,
                            acc["pos"]
                            - F.element_at(F.col("__dp"), acc["pos"] + 1)[
                                "bp"
                            ],
                        )
                    ),
                ).alias("ps"),
            )
        ),
    )
    return (
        edges.withColumn("__dp", dp_expr)
        .withColumn("__bt", bt_expr)
        .select(
            "word",
            "freq",
            F.when(
                F.element_at(
                    F.col("__dp"), F.length("word").cast("int") + 1
                )["cost"]
                < F.lit(float("inf")),
                F.reverse(F.col("__bt")["ps"]),
            ).alias("pieces"),
        )
        .where(F.col("pieces").isNotNull())
    )


def unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 3,
    max_word_len: int = 12,
    seed_multi: int = 60,
    keep_multi: int = 40,
    rounds: int = 2,
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer trainer (Kudo 2018), the
    hard-EM (Viterbi-EM) variant with a fixed round count — the other
    production subword family alongside :func:`learn_bpe` (VERDICT r09
    item 3).

    Recipe:
    1. SEED — count every substring of length ≤ ``max_piece_len`` of
       every distinct word (weighted by word frequency, overlapping
       occurrences counted positionally). The model starts as ALL single
       characters plus the top ``seed_multi`` multi-char pieces
       (count desc, piece asc — deterministic).
    2. EM rounds — E-step: Viterbi-segment every word under the current
       smoothed piece model (:func:`_viterbi_segment`); M-step: piece
       counts = frequency-weighted piece occurrences in the best
       segmentations. PRUNE: keep all single characters (coverage
       guarantee, exactly SentencePiece's rule) + the top ``keep_multi``
       multi-char pieces.
    3. Output the final model: ``(piece, cnt, logprob)`` with logprob the
       4dp floor-half-up smoothed log-probability.

    Scale story (same as learn_bpe): the corpus is touched ONCE for the
    word-frequency count; every EM round runs over the VOCABULARY
    (distinct words ≤ ``max_word_len`` chars — the natural-language
    vocabulary is 10⁴-10⁶ rows at any corpus size) with the model joined
    in broadcast. Rounds are driver-paced with localCheckpoint'ed state
    (the pagerank/BPE iterative pattern); words longer than
    ``max_word_len`` are excluded from TRAINING (the heavy tail — stock
    SentencePiece equally caps trainable sentence pieces).

    The DuckDB oracle (llm_ops/oracles.py duck_unigram_lm) unrolls the
    identical computation — seed CTEs, per-position DP CTEs, backtrack
    CTEs, count/prune CTEs per round — the bpe_merges discipline.
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .where(
            (F.col("word") != "") & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(cut_lineage)
    )
    n = F.length("word")
    subs = F.filter(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.transform(
                    F.sequence(F.lit(1), F.lit(max_piece_len)),
                    lambda l: F.struct(
                        (i + l).cast("int").alias("j"),
                        F.col("word").substr(i + 1, l).alias("piece"),
                    ),
                ),
            )
        ),
        lambda s: s["j"] <= n,
    )
    seed = (
        words.select("freq", F.explode(subs).alias("s"))
        .select("freq", F.col("s.piece").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    chars = seed.where(F.length("piece") == 1).select("piece")
    chars = chars.transform(cut_lineage)
    vocab = (
        seed.where(F.length("piece") == 1)
        .unionByName(
            seed.where(F.length("piece") > 1)
            .orderBy(F.col("cnt").desc(), F.col("piece").asc())
            .limit(seed_multi)
        )
        # LAZY (r12, guide §1/§2.4): each round's vocab is materialized by
        # the round's own broadcast build (totals/scored model), so the EM
        # loop pays no separate eager-materialize job per round.
        .transform(cut_lineage)
    )
    for _ in range(rounds):
        segs = _viterbi_segment(words, vocab, max_piece_len, max_word_len)
        counts = (
            segs.select("freq", F.explode("pieces").alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
        vocab = (
            chars.join(counts, "piece", "left")
            .select("piece", F.coalesce("cnt", F.lit(0)).alias("cnt"))
            .unionByName(
                counts.where(F.length("piece") > 1)
                .orderBy(F.col("cnt").desc(), F.col("piece").asc())
                .limit(keep_multi)
            )
            .transform(cut_lineage)
        )
    totals = vocab.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__vsize")
    )
    logp = F.floor(
        (
            F.log(F.col("cnt") + F.lit(1))
            - F.log(F.col("__total") + F.col("__vsize"))
        )
        * 10000
        + F.lit(0.5)
    ) / 10000
    return vocab.crossJoin(F.broadcast(totals)).select(
        "piece", "cnt", logp.alias("logprob")
    )


def unigram_segment_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
    max_piece_len: int = 3,
    max_word_len: int = 12,
    seed_multi: int = 60,
    keep_multi: int = 40,
    rounds: int = 2,
) -> DataFrame:
    """Apply a trained unigram-LM model to every document — the
    SentencePiece ENCODE step (the train half is :func:`unigram_lm`;
    together the unigram family now trains AND applies distributed,
    mirroring learn_bpe / bpe_segment_documents).

    ``vocab`` is a ``(piece, cnt)`` model frame (e.g. ``unigram_lm``
    output); when None the model is trained on ``docs`` with the given
    hyperparameters (self-encode). Every distinct trainable word is
    Viterbi-segmented ONCE under the final model (the same smoothed-cost
    DP as training — one JVM fold per word, model joined broadcast);
    the word → pieces map is vocabulary-sized by construction and joins
    back into the corpus broadcast, with per-doc order restored by
    (pos, seg) struct sort — the bpe_segment_documents shape exactly.
    Words longer than ``max_word_len`` (excluded from training) pass
    through whole, so a model trained on corpus A encodes corpus B.

    Output: ``(id_col, n_pieces, unigram_text)``.
    """
    if vocab is None:
        vocab = unigram_lm(
            docs, text_col, max_piece_len, max_word_len,
            seed_multi, keep_multi, rounds,
        )
    words = (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .where(
            (F.col("word") != "") & (F.length("word") <= max_word_len)
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    segs = _viterbi_segment(
        words, vocab.select("piece", "cnt"), max_piece_len, max_word_len
    ).select(
        "word",
        F.array_join("pieces", " ").alias("seg"),
        F.size("pieces").alias("n_sub"),
    )
    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    toks = spread_if_narrow(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("i", "word"),
    ).where(F.col("word") != "")
    joined = toks.join(F.broadcast(segs), "word", "left").select(
        "id",
        "i",
        F.coalesce("seg", F.col("word")).alias("seg"),
        F.coalesce("n_sub", F.lit(1)).alias("n_sub"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("i", "seg"))),
        lambda s: s["seg"],
    )
    per_doc = joined.groupBy("id").agg(
        F.sum("n_sub").alias("n_pieces"),
        F.array_join(ordered, " ").alias("unigram_text"),
    )
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
            "unigram_text",
        )
    )
