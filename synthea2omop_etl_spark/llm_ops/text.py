"""Text analysis operators: tokenization, quality scoring, language ID,
document fingerprinting.

Every function returns a Column built from JVM-side expressions
(split/filter/transform/aggregate) so the whole pipeline stays inside
whole-stage codegen — at 100 TB these run at scan speed with zero Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-language marker words for the n-gram/stopword language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "y", "es", "una"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; '' → empty array (not ['''])."""
    t = F.trim(_c(col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def _bind_once(bound: Column, body) -> Column:
    """Let-binding for expression trees (the llm_ops/dedup.py:93 idiom):
    evaluate ``bound`` ONCE per row, let ``body`` reference it freely.
    Catalyst's CollapseProject inlines aliases into every reference site;
    a lambda binding survives every optimizer rewrite."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] document-quality heuristic.

    0.4 * min(tokens/50, 1)            length credit
    + 0.3 * (1 - nonalpha_ratio)       clean-character credit
    + 0.3 * min(stopword_ratio*5, 1)   natural-language credit

    The token array is let-bound so the document tokenizes ONCE per row
    (the naive tree re-split the text for the count AND the stopword
    filter — measured as the dominant cost of the corpus-curation gate
    at sf1). Scores are bit-identical to the unbound form.
    """
    c = _c(col)
    n_chars = F.length(c).cast("double")
    nonalpha = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", "")).cast("double")
    nonalpha_ratio = F.when(n_chars > 0, nonalpha / n_chars).otherwise(F.lit(0.0))

    def body(toks: Column) -> Column:
        n_tok = F.size(toks).cast("double")
        hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
        stop_ratio = F.when(n_tok > 0, hits / n_tok).otherwise(F.lit(0.0))
        return (
            F.lit(0.4) * F.least(n_tok / F.lit(50.0), F.lit(1.0))
            + F.lit(0.3) * (F.lit(1.0) - nonalpha_ratio)
            + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
        )

    score = _bind_once(tokens(c), body)
    # floor-based half-up rounding: identical IEEE ops in Spark and any
    # oracle engine, immune to round()-implementation differences on
    # values that land exactly on a .00005 boundary.
    return F.floor(score * 10000 + F.lit(0.5)) / 10000


def lang_id_guess(col: Column | str) -> Column:
    """Marker-word language heuristic with a CJK character fast path.

    Deterministic argmax over marker-hit counts; ties and zero hits →
    'unknown'. (A real system would use fastText; the heuristic is the
    engine-native, codegen-able variant.)

    Two let-bindings keep the work linear in the document: the text
    tokenizes+lowercases ONCE, and the four per-language marker counts
    compute ONCE into an array the argmax when-chain then indexes (the
    naive tree re-ran each filter for every reference — 8+ tokenizations
    per row). Results are bit-identical to the unbound form.
    """
    c = _c(col)
    langs = list(LANG_MARKERS)

    def pick(counts: Column) -> Column:
        by_lang = {
            lang: F.element_at(counts, i + 1) for i, lang in enumerate(langs)
        }
        best = F.greatest(*by_lang.values())
        out = F.when(c.rlike(r"[一-鿿]"), F.lit("zh"))
        for lang in langs:  # insertion order breaks ties deterministically
            out = out.when((by_lang[lang] == best) & (best > 0), F.lit(lang))
        return out.otherwise(F.lit("unknown"))

    def score_all(lowered: Column) -> Column:
        return _bind_once(
            F.array(
                *[
                    F.size(F.filter(lowered, lambda t: t.isin(*m)))
                    for m in LANG_MARKERS.values()
                ]
            ),
            pick,
        )

    return _bind_once(
        F.transform(tokens(c), lambda t: F.lower(t)), score_all
    )


def _round4(x: Column) -> Column:
    """floor-based half-up 4dp rounding — identical IEEE ops in Spark and
    DuckDB, immune to round()-implementation differences on .00005
    boundaries (same convention as quality_score)."""
    return F.floor(x * 10000 + F.lit(0.5)) / 10000


def repetition_signals(col: Column | str) -> list[Column]:
    """Gopher-style repetition/shape quality signals as named columns:

    - ``mean_word_len``   — mean token length (degenerate text skews low/high)
    - ``symbol_word_ratio`` — fraction of tokens containing non-alphanumerics
    - ``dup_sentence_frac`` — 1 - distinct/total over '.'-split sentences
      (the intra-document repetition signal; boilerplate and generated spam
      score high)

    All pure column expressions over one tokenization + one sentence split
    — scan-speed at 100 TB, and exactly reproducible in DuckDB.
    """
    c = _c(col)

    # Each output column let-binds its array ONCE (tokens / sentences):
    # the unbound trees re-tokenized per reference — the same CollapseProject
    # inlining quality_score/lang_id_guess guard against. Three output
    # columns → two tokenizations + one sentence split per row, total.
    def mean_len(ts: Column) -> Column:
        n = F.size(ts).cast("double")
        total = F.aggregate(
            ts, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ).cast("double")
        return F.when(n > 0, _round4(total / n)).otherwise(F.lit(0.0))

    def symbol_ratio(ts: Column) -> Column:
        n = F.size(ts).cast("double")
        n_symbol = F.size(
            F.filter(ts, lambda t: t.rlike("[^A-Za-z0-9]"))
        ).cast("double")
        return F.when(n > 0, _round4(n_symbol / n)).otherwise(F.lit(0.0))

    def dup_frac(sents: Column) -> Column:
        n_sent = F.size(sents).cast("double")
        n_dupes = n_sent - F.size(F.array_distinct(sents)).cast("double")
        return F.when(n_sent > 0, _round4(n_dupes / n_sent)).otherwise(
            F.lit(0.0)
        )

    sentences = F.filter(
        F.transform(F.split(c, r"\.\s+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    return [
        _bind_once(tokens(c), mean_len).alias("mean_word_len"),
        _bind_once(tokens(c), symbol_ratio).alias("symbol_word_ratio"),
        _bind_once(sentences, dup_frac).alias("dup_sentence_frac"),
    ]


def repetition_signals_frame(df, text_col: str = "text",
                             id_col: str = "doc_id"):
    """DataFrame-level twin of :func:`repetition_signals` that shares ONE
    tokenization across the token-derived signals (r13, VERDICT r12 item
    4). The column-level form binds ``tokens(text)`` once PER OUTPUT
    COLUMN — two whitespace-regex splits per row. Here the token array is
    projected once and the consumer projection references it twice, so
    CollapseProject declines to inline it (a non-cheap producer referenced
    more than once is kept in its own projection) and the split runs once
    per row; likewise the combined (Σ token length, Σ has-symbol) fold —
    ONE pass over the array instead of a length fold plus a filter scan —
    is projected once and its two ratio consumers read fields. Values are
    bit-identical to the column-level form: same integer sums and counts,
    same floor-half-up 4dp arithmetic (the oracle pins this).

    Output: (id_col, mean_word_len, symbol_word_ratio, dup_sentence_frac).
    """
    c = _c(text_col)
    sentences = F.filter(
        F.transform(F.split(c, r"\.\s+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    t1 = df.select(id_col, tokens(c).alias("__t"), sentences.alias("__s"))

    fold = F.aggregate(
        F.col("__t"),
        F.struct(
            F.lit(0).cast("long").alias("len"),
            F.lit(0).cast("long").alias("sym"),
        ),
        lambda a, t: F.struct(
            (a["len"] + F.length(t)).alias("len"),
            (
                a["sym"]
                + F.when(t.rlike("[^A-Za-z0-9]"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("sym"),
        ),
    )
    t2 = t1.select(
        id_col,
        F.size("__t").alias("__n"),
        fold.alias("__agg"),
        F.col("__s"),
    )

    n = F.col("__n").cast("double")
    n_sent = F.size("__s").cast("double")
    n_dupes = n_sent - F.size(F.array_distinct("__s")).cast("double")
    return t2.select(
        id_col,
        F.when(n > 0, _round4(F.col("__agg")["len"].cast("double") / n))
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.when(n > 0, _round4(F.col("__agg")["sym"].cast("double") / n))
        .otherwise(F.lit(0.0))
        .alias("symbol_word_ratio"),
        F.when(n_sent > 0, _round4(n_dupes / n_sent))
        .otherwise(F.lit(0.0))
        .alias("dup_sentence_frac"),
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set. Robust to word reordering (the classic bag-of-words
    fingerprint); pairs with exact_duplicates for near-dup clustering."""
    return F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(col))), " ")
    )


def normalize_text(col: Column | str) -> Column:
    """Canonical text normalization, entirely JVM-side: casefold,
    strip C0/C1 control characters, collapse whitespace runs to single
    spaces, trim. The standard pre-dedup canonicalization pass (exact-dup
    rates are meaningless on un-normalized text); runs inside whole-stage
    codegen, so at 100 TB it is a free rider on whatever scan feeds it.

    Unicode NFC composition is intentionally NOT part of this path —
    Spark SQL has no built-in normalizer, so NFC lives on the slow path
    (``nfc_normalize_pandas``) and is applied only when the corpus is known
    to mix composed/decomposed forms.
    """
    c = _c(col)
    stripped = F.regexp_replace(
        F.lower(c), "[\\x00-\\x1f\\x7f\\u0080-\\u009f]", " "
    )
    return F.trim(F.regexp_replace(stripped, "\\s+", " "))


def nfc_normalize_pandas(df, text_col: str, out_col: str = "text_nfc"):
    """Unicode NFC composition via an Arrow-batched Pandas UDF — the slow
    path, deliberately separate from ``normalize_text``. Vectorized over
    Arrow batches (pandas .str-level loop, no per-row Python call
    overhead); still ~10× the cost of the JVM path, so apply it once at
    ingest and materialize, never inside an analytic query."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x)
            if x is not None
            else None
        )

    return df.withColumn(out_col, _nfc(F.col(text_col)))


def dedup_paragraphs(
    col: Column | str,
    sep_regex: str = r"\n{2,}",
    joiner: str = "\n\n",
) -> Column:
    """Intra-document repetition removal (the Gopher/RefinedWeb
    duplicate-paragraph filter): split on ``sep_regex``, drop empty
    segments and repeated paragraphs keeping the FIRST occurrence, rejoin
    with ``joiner``. ``array_distinct`` preserves first-occurrence order,
    so the output is the document minus its later repeats — a pure column
    expression (one split, no shuffle), scan-speed at 100 TB like the
    rest of the signal family. The inter-document twin is the dedup
    family (llm_ops/dedup.py); this one fires on generated spam and
    template boilerplate INSIDE a single document, which no cross-doc
    dedup can see."""
    c = _c(col)
    paras = F.filter(F.split(c, sep_regex), lambda p: p != "")
    return F.array_join(F.array_distinct(paras), joiner)


def ngram_repetition_stats(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
):
    """Gopher word-n-gram repetition rules (Rae et al. 2021 §A1.1): per
    document and n, the fraction of n-gram characters inside the single
    most frequent n-gram (``top_frac``) and inside all n-grams occurring
    more than once (``dup_frac``). High values flag boilerplate, spam and
    generated loops that sentence-level dedup (repetition_signals) misses.

    Output: ``(id_col, n, n_ngrams, top_gram, top_frac, dup_frac)`` —
    one row per (doc, n) with ≥1 n-gram; fractions are over total n-gram
    characters (grams joined with single spaces) and floor-half-up 4dp
    rounded. The top gram ties break lexicographically smallest, so the
    result is deterministic and the DuckDB twin reproduces it bit-exact.

    Spark-first shape: ONE scan builds every n's gram array from one
    bind_once'd tokenization (slice+zip — order by construction, no
    posexplode/sort), one explode, ONE (doc, n, gram) count aggregate
    (map-side combinable), a (doc, n)-partitioned rank window over the
    already-reduced count table, and a final (doc, n) rollup. At 100 TB
    the only corpus-sized shuffle is the gram count; everything after is
    per-document-bounded.
    """
    from pyspark.sql import Window

    def tag_gram(n: int):
        # NOT a default-arg capture: a 2-param lambda would make
        # F.transform bind the second param to the element INDEX column.
        return lambda g: F.struct(
            F.lit(n).alias("n"),
            F.concat_ws(" ", *[g[f"w{i}"] for i in range(n)]).alias(
                "gram"
            ),
        )

    def gram_structs(arr: Column) -> Column:
        per_n = []
        for n in ns:
            n1 = F.greatest(F.size(arr) - (n - 1), F.lit(0))
            zipped = F.arrays_zip(
                *[
                    F.slice(arr, i + 1, n1).alias(f"w{i}")
                    for i in range(n)
                ]
            )
            per_n.append(F.transform(zipped, tag_gram(n)))
        return F.concat(*per_n)

    from synthea2omop_etl_spark.operators.skew import spread_if_narrow

    grams = spread_if_narrow(docs, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(_bind_once(tokens(text_col), gram_structs)).alias("g"),
    ).select("id", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    counts = grams.groupBy("id", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    chars = F.length("gram") * F.col("cnt")
    # r13: the (doc, n) rollup and the top-gram rank previously consumed
    # `counts` as TWO branches (groupBy+window+join-back), so Catalyst
    # re-derived the corpus-scale tokenize→explode→count subtree per
    # branch and paid a join to reunite them. One window pass over ONE
    # (id, n) exchange computes the partition sums (unbounded frame,
    # same partitioning as the rank → no extra shuffle) and keeps the
    # rank-1 row — identical integer sums, identical deterministic
    # tie-break, one scan of the count table (guide §2.4).
    w = Window.partitionBy("id", "n").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    w_all = Window.partitionBy("id", "n")
    return (
        counts.select(
            "id",
            "n",
            "gram",
            chars.alias("top_chars"),
            F.row_number().over(w).alias("rn"),
            F.sum("cnt").over(w_all).alias("n_ngrams"),
            F.sum(chars).over(w_all).alias("total_chars"),
            F.sum(
                F.when(F.col("cnt") > 1, chars).otherwise(F.lit(0))
            ).over(w_all).alias("dup_chars"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col("id").alias(id_col),
            "n",
            "n_ngrams",
            F.col("gram").alias("top_gram"),
            _round4(F.col("top_chars") / F.col("total_chars")).alias(
                "top_frac"
            ),
            _round4(F.col("dup_chars") / F.col("total_chars")).alias(
                "dup_frac"
            ),
        )
    )
