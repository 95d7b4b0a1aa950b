"""DuckDB oracle SQL generators for the hash-based LLM-data operators.

Every hash that reaches these operators' output is md5-derived with mod-P
integer mixing (hashing.py), so the full pipelines — MinHash signatures,
LSH band buckets, SimHash bit votes, SRP projections, IVF list assignment,
connected components — are exactly reproducible in DuckDB SQL. The
generators below embed the SAME constants (minhash permutation params, SRP
sign vectors) the Spark plan builders use, so agreement is by construction.

The SQL is generated, not hand-written: 16 permutation expressions and
64-element sign literals would be unmaintainable inline.
"""

from __future__ import annotations

from synthea2omop_etl_spark.llm_ops.hashing import B, P, minhash_params

#: token hash mod P, as DuckDB SQL over a token expression
_TOK = f"(CAST('0x' || substring(md5({{t}}), 1, 15) AS BIGINT) % {P})"


def _minhash_ctes(
    num_hashes: int, bands: int, shingle_n: int, threshold: float,
    source: str = "documents",
) -> str:
    """Shared CTE chain: source docs → shingles → signatures → band buckets →
    verified pairs. Mirrors dedup.minhash_lsh_candidates exactly.
    ``source``: any relation/CTE exposing (doc_id, text) — lets composed
    pipelines (llm_ops.corpus) run the chain over a filtered corpus."""
    r = num_hashes // bands
    tok = _TOK.format(t="t")
    # Horner polynomial over n consecutive token hashes (1-based list index).
    poly = "th[i]"
    for j in range(1, shingle_n):
        poly = f"(({poly} * {B} + th[i+{j}]) % {P})"
    sig_entries = ",\n      ".join(
        f"list_min(list_transform(sh, s -> ({a} * s + {b}) % {P}))"
        for a, b in minhash_params(num_hashes)
    )
    # Per-band digest: Horner over the r signature slots of the band.
    band_rows = []
    for bi in range(bands):
        digest = f"sig[{bi * r + 1}]"
        for j in range(1, r):
            digest = f"(({digest} * {B} + sig[{bi * r + j + 1}]) % {P})"
        band_rows.append(f"SELECT doc, {bi} AS band_idx, {digest} AS band_hash FROM sig")
    bands_sql = "\n      UNION ALL\n      ".join(band_rows)
    jac = (
        "len(list_intersect(x.shd, y.shd))::DOUBLE"
        " / len(list_distinct(list_concat(x.shd, y.shd)))"
    )
    return f"""
    base AS (
      SELECT doc_id AS doc,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            t -> {tok}) AS th
      FROM {source} WHERE len(trim(text)) > 0
    ),
    sh AS (
      SELECT doc,
             list_transform(range(1, len(th) - {shingle_n - 2}),
                            i -> {poly}) AS sh
      FROM base WHERE len(th) >= {shingle_n}
    ),
    sig AS (
      SELECT doc, sh,
             [{sig_entries}] AS sig
      FROM sh
    ),
    band_entries AS (
      {bands_sql}
    ),
    cands AS (
      SELECT a.doc AS id_a, b.doc AS id_b
      FROM band_entries a JOIN band_entries b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
           AND a.doc < b.doc
      GROUP BY 1, 2
    ),
    shd AS (SELECT doc, list_distinct(sh) AS shd FROM sh),
    verified AS (
      SELECT c.id_a, c.id_b, ROUND({jac}, 4) AS jaccard
      FROM cands c
      JOIN shd x ON c.id_a = x.doc
      JOIN shd y ON c.id_b = y.doc
      WHERE ROUND({jac}, 4) >= {threshold}
    )"""


def shingle_cte(
    source_filter: str, shingle_n: int = 3, alias: str = "sh"
) -> str:
    """CTE fragment computing DISTINCT word-n-gram shingle hashes per doc:
    (doc, {alias}) — mirrors dedup.word_shingle_hashes exactly."""
    tok = _TOK.format(t="t")
    poly = "th[i]"
    for j in range(1, shingle_n):
        poly = f"(({poly} * {B} + th[i+{j}]) % {P})"
    return f"""
    {alias}_base AS (
      SELECT doc_id AS doc,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            t -> {tok}) AS th
      FROM documents WHERE len(trim(text)) > 0 AND ({source_filter})
    ),
    {alias} AS (
      SELECT doc,
             list_distinct(
               list_transform(range(1, len(th) - {shingle_n - 2}),
                              i -> {poly})) AS shd
      FROM {alias}_base WHERE len(th) >= {shingle_n}
    )"""


def decontam_oracle(
    bench_filter: str, corpus_filter: str, shingle_n: int = 3,
    min_shared: int = 2,
) -> str:
    """DuckDB SQL mirroring decontam.decontaminate_flags: corpus docs
    flagged by distinct-shingle overlap with the benchmark set."""
    return f"""
    WITH {shingle_cte(corpus_filter, shingle_n, "c_sh")},
    {shingle_cte(bench_filter, shingle_n, "b_sh")},
    bench_set AS (
      SELECT DISTINCT h FROM b_sh, UNNEST(shd) AS u(h)
    ),
    shared AS (
      SELECT c.doc, COUNT(DISTINCT h) AS n_shared
      FROM c_sh c, UNNEST(c.shd) AS u(h)
      WHERE h IN (SELECT h FROM bench_set)
      GROUP BY c.doc
    )
    SELECT d.doc_id,
           COALESCE(s.n_shared, 0) AS n_shared,
           COALESCE(s.n_shared, 0) >= {min_shared} AS contaminated
    FROM (SELECT doc_id FROM documents WHERE {corpus_filter}) d
    LEFT JOIN shared s ON s.doc = d.doc_id
    """


def dedup_minhash_oracle(
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    ctes = _minhash_ctes(num_hashes, bands, shingle_n, threshold)
    return f"""
    WITH {ctes}
    SELECT id_a, id_b, jaccard FROM verified
    """


def dedup_clusters_oracle(
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """MinHash pairs → connected components via recursive reachability:
    component id = min node id reachable (matches cluster.dedup_clusters)."""
    ctes = _minhash_ctes(num_hashes, bands, shingle_n, threshold)
    return f"""
    WITH RECURSIVE {ctes},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM verified
      UNION
      SELECT id_b AS u, id_a AS v FROM verified
    ),
    reach(node, x) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT reach.node, e.v FROM reach JOIN edges e ON e.u = reach.x
    )
    SELECT node AS doc, MIN(x) AS canonical_id FROM reach GROUP BY node
    """


def dedup_simhash_oracle(bits: int = 32) -> str:
    h = "CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)"
    votes = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    compose = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id AS doc,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE trim(text) <> ''
    ),
    h AS (SELECT doc, {h} AS h FROM tok),
    votes AS (
      SELECT doc,
             {votes}
      FROM h GROUP BY doc
    )
    SELECT doc, CAST({compose} AS BIGINT) AS simhash FROM votes
    """


def _srp_signs(dim: int, bits: int) -> list[list[float]]:
    """The SAME ±1 projection components similarity.srp_signature derives."""

    def component_sign(b: int, j: int) -> int:
        x = (b * 2654435761 + j * 40503) & 0xFFFFFFFF
        x ^= x >> 16
        x = (x * 2246822519) & 0xFFFFFFFF
        x ^= x >> 13
        return 1 if x & 1 else -1

    return [
        [float(component_sign(b, j)) for j in range(dim)] for b in range(bits)
    ]


_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _srp_bucket(vec_expr: str, dim: int, bits: int) -> str:
    terms = []
    for b, signs in enumerate(_srp_signs(dim, bits)):
        lit = "[" + ", ".join(str(s) for s in signs) + "]"
        proj = (
            f"list_sum(list_transform(list_zip({vec_expr}, {lit}),"
            " x -> x[1] * x[2]))"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << b} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def ann_srp_oracle(dim: int = 64, bits: int = 4, k: int = 5) -> str:
    bucket = _srp_bucket("v", dim, bits)
    probes = ", ".join(
        ["qbucket"] + [f"xor(qbucket, {1 << b})" for b in range(bits)]
    )
    cos = _COS.format(a="qv", b="cv")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, {bucket} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, {bucket} AS qbucket
          FROM e WHERE vec_id < 10),
    probed AS (
      SELECT query_id, qv, unnest([{probes}]) AS probe FROM q
    ),
    scored AS (
      SELECT DISTINCT query_id, neighbor_id,
             ROUND({cos}, 4) AS cosine
      FROM c JOIN probed
        ON probe = bucket AND query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT
      ) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def ann_ivf_oracle(n_lists: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """IVF with the deterministic 'sampled' coarse quantizer (centroids =
    the n_lists lowest-id corpus vectors), mirroring ivf_topk."""
    cent_cos = _COS.format(a="c.v", b="centroid")
    q_cos = _COS.format(a="q.v", b="centroid")
    score_cos = _COS.format(a="qv", b="cv")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS list_id,
             v AS centroid
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {n_lists})
    ),
    assign AS (
      SELECT neighbor_id, cv, list_id FROM (
        SELECT c.vec_id AS neighbor_id, c.v AS cv, cent.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY ROUND({cent_cos}, 6) DESC, cent.list_id ASC
               ) AS rn
        FROM e c CROSS JOIN cent
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, list_id AS probe FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, cent.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND({q_cos}, 6) DESC, cent.list_id ASC
               ) AS rn
        FROM (SELECT vec_id, v FROM e WHERE vec_id < 10) q CROSS JOIN cent
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT query_id, neighbor_id, ROUND({score_cos}, 4) AS cosine
      FROM assign JOIN probes
        ON assign.list_id = probes.probe AND query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT
      ) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


_SQDIST = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " x -> (x[1] - x[2]) * (x[1] - x[2])))"
)


def ann_pq_oracle(dim: int = 64, m: int = 4, ksub: int = 8, k: int = 5) -> str:
    """Product-quantization ADC top-k with the deterministic 'sampled'
    codebook (per subspace: the ksub lowest-id corpus vectors'
    subvectors), mirroring similarity.pq_topk. Queries = vec_id < 10."""
    sub_d = dim // m
    c_sub = f"list_slice(c.v, cb.sub_m * {sub_d} + 1, (cb.sub_m + 1) * {sub_d})"
    q_sub = f"list_slice(q.v, cb.sub_m * {sub_d} + 1, (cb.sub_m + 1) * {sub_d})"
    assign_d = _SQDIST.format(a=c_sub, b="cb.subvec")
    q_partial = _SQDIST.format(a=q_sub, b="cb.subvec")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {ksub})
    ),
    subs AS (SELECT UNNEST(range({m})) AS sub_m),
    cb AS (
      SELECT seeds.code, subs.sub_m,
             list_slice(seeds.v, subs.sub_m * {sub_d} + 1,
                        (subs.sub_m + 1) * {sub_d}) AS subvec
      FROM seeds CROSS JOIN subs
    ),
    assign AS (
      SELECT neighbor_id, sub_m, code FROM (
        SELECT c.vec_id AS neighbor_id, cb.sub_m, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id, cb.sub_m
                 ORDER BY ROUND({assign_d}, 6) ASC, cb.code ASC
               ) AS rn
        FROM e c CROSS JOIN cb
      ) WHERE rn = 1
    ),
    qtab AS (
      SELECT q.vec_id AS query_id, cb.sub_m, cb.code,
             {q_partial} AS partial
      FROM (SELECT vec_id, v FROM e WHERE vec_id < 10) q CROSS JOIN cb
    ),
    scored AS (
      SELECT query_id, neighbor_id, ROUND(SUM(partial), 4) AS adist
      FROM assign JOIN qtab USING (sub_m, code)
      WHERE query_id <> neighbor_id
      GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
      ) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def _bpe_round_ctes(num_merges: int) -> tuple[list[str], list[str], str]:
    """Shared CTE builder for the BPE oracles: each merge round is
    window algebra over one row per symbol (lead-pairing, argmax winner,
    run detection via pos − running-candidate-count, odd-rank greedy
    picks, renumber) chained over the documents table. llm_ops/vocab.py
    learn_bpe folds per-word symbol arrays instead; the oracle keeps the
    window formulation as an independent twin, so parity checks the fold
    against a different derivation of the same greedy rule. Returns
    (cte_parts, per-round winner selects, final syms CTE name). The candidate join is LEFT JOIN ON TRUE, not CROSS JOIN: when
    a round has no pairs left its winner CTE is empty, and the symbol
    state must pass through unchanged — exactly the Spark loop's early
    break, which keeps the last state."""
    parts = [
        """
  toks AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents WHERE len(trim(text)) > 0
  ),
  words AS MATERIALIZED (
    SELECT word, COUNT(*) AS freq FROM toks WHERE word <> ''
    GROUP BY word
  ),
  syms0 AS MATERIALIZED (
    SELECT word, freq, i AS pos, substr(word, CAST(i AS INT), 1) AS sym
    FROM words,
         LATERAL (SELECT unnest(generate_series(1, len(word))) AS i)
  )"""
    ]
    selects = []
    prev = "syms0"
    for r in range(1, num_merges + 1):
        parts.append(
            f"""
  p{r} AS MATERIALIZED (
    SELECT word, freq, pos, sym,
           lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
    FROM {prev}
  ),
  w{r} AS MATERIALIZED (
    SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM p{r} WHERE nxt IS NOT NULL
    GROUP BY sym, nxt ORDER BY pair_count DESC, lhs, rhs LIMIT 1
  ),
  c{r} AS (
    SELECT p.word, p.freq, p.pos, p.sym, p.nxt,
           COALESCE(p.sym = w.lhs AND p.nxt = w.rhs, FALSE) AS is_cand
    FROM p{r} p LEFT JOIN w{r} w ON TRUE
  ),
  r{r} AS (
    SELECT *, pos - SUM(CASE WHEN is_cand THEN 1 ELSE 0 END)
                    OVER (PARTITION BY word ORDER BY pos) AS run
    FROM c{r}
  ),
  h{r} AS (
    SELECT *, is_cand AND
           (SUM(CASE WHEN is_cand THEN 1 ELSE 0 END)
              OVER (PARTITION BY word, run ORDER BY pos)) % 2 = 1 AS head
    FROM r{r}
  ),
  g{r} AS (
    SELECT *, lag(head) OVER (PARTITION BY word ORDER BY pos) AS prev_head
    FROM h{r}
  ),
  syms{r} AS MATERIALIZED (
    SELECT word, freq,
           ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
           CASE WHEN head THEN sym || nxt ELSE sym END AS sym
    FROM g{r} WHERE NOT COALESCE(prev_head, FALSE)
  )"""
        )
        selects.append(
            f"SELECT {r} AS merge_rank, lhs, rhs, pair_count FROM w{r}"
        )
        prev = f"syms{r}"
    return parts, selects, prev


def bpe_merges_oracle(num_merges: int = 8) -> str:
    """Unrolled-CTE twin of llm_ops/vocab.py learn_bpe_merges — the
    rank-ordered merge-rule table."""
    parts, selects, _ = _bpe_round_ctes(num_merges)
    return (
        "WITH" + ",".join(parts) + "\n  "
        + "\n  UNION ALL ".join(selects)
    )


def bpe_segment_oracle(num_merges: int = 8) -> str:
    """Twin of llm_ops/vocab.py bpe_segment_documents: the learned final
    symbol state becomes a word → space-joined-subwords map, applied to
    every document by position-preserving explode + join + ordered
    reassembly."""
    parts, _, last = _bpe_round_ctes(num_merges)
    parts.append(
        f"""
  segs AS (
    SELECT word, string_agg(sym, ' ' ORDER BY pos) AS seg,
           COUNT(*) AS n_sub
    FROM {last} GROUP BY word
  ),
  dtoks AS (
    SELECT doc_id, i, arr[CAST(i AS INT)] AS word
    FROM (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents WHERE len(trim(text)) > 0
    ), LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)
    WHERE arr[CAST(i AS INT)] <> ''
  ),
  enc AS (
    SELECT d.doc_id, d.i, COALESCE(s.seg, d.word) AS seg,
           COALESCE(s.n_sub, 1) AS n_sub
    FROM dtoks d LEFT JOIN segs s USING (word)
  ),
  per AS (
    SELECT doc_id, CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           string_agg(seg, ' ' ORDER BY i) AS bpe_text
    FROM enc GROUP BY doc_id
  )"""
    )
    return (
        "WITH" + ",".join(parts) + """
  SELECT d.doc_id, CAST(COALESCE(p.n_subwords, 0) AS BIGINT) AS n_subwords,
         p.bpe_text
  FROM documents d LEFT JOIN per p USING (doc_id)
    """
    )


def dsir_oracle(buckets: int = 1024, alpha: float = 1.0) -> str:
    """Twin of llm_ops/selection.py dsir_logratio over the documents
    table with target = the lang='en' slice: hashed uni+bigram buckets
    (same md5/poly2 family), add-alpha per-bucket feature LMs, mean
    feature log-ratio per document. Divisions are forced ::DOUBLE so the
    arithmetic is the same IEEE sequence Spark runs (a bare DECIMAL
    quotient would be exact and drift past the 4dp rounding)."""
    from synthea2omop_etl_spark.llm_ops.hashing import (
        duck_hmod,
        duck_poly2,
    )

    h1 = duck_hmod("arr[i]")
    h2 = duck_hmod("arr[i+1]")
    ab = f"{alpha} * {buckets}"
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents WHERE len(trim(text)) > 0
    ),
    uni AS (
      SELECT doc_id, lang, ({duck_hmod("t")}) % {buckets} AS bucket
      FROM (SELECT doc_id, lang, unnest(arr) AS t FROM toks)
    ),
    bi AS (
      SELECT doc_id, lang, {duck_poly2(h1, h2)} % {buckets} AS bucket
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, len(arr) - 1)) AS i)
      WHERE len(arr) >= 2
    ),
    feats AS (
      SELECT doc_id, lang, bucket FROM uni
      UNION ALL SELECT doc_id, lang, bucket FROM bi
    ),
    ct AS (
      SELECT bucket, COUNT(*) AS ct FROM feats WHERE lang = 'en'
      GROUP BY bucket
    ),
    cr AS (SELECT bucket, COUNT(*) AS cr FROM feats GROUP BY bucket),
    nt AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt FROM ct),
    nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr FROM cr),
    ratios AS (
      SELECT bucket,
             ln(((COALESCE(ct.ct, 0) + {alpha})::DOUBLE)
                / ((nt.nt + {ab})::DOUBLE))
             - ln(((COALESCE(cr.cr, 0) + {alpha})::DOUBLE)
                  / ((nr.nr + {ab})::DOUBLE)) AS lr
      FROM cr FULL OUTER JOIN ct USING (bucket)
      CROSS JOIN nt CROSS JOIN nr
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_feats,
             FLOOR(AVG(lr) * 10000 + 0.5) / 10000 AS dsir_logratio
      FROM feats JOIN ratios USING (bucket)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
           p.dsir_logratio
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def ngram_repetition_oracle(ns: tuple[int, ...] = (2, 3, 4)) -> str:
    """Twin of llm_ops/text.py ngram_repetition_stats over the documents
    table: per (doc, n) the top-/duplicate-n-gram character fractions,
    floor-half-up 4dp, top ties broken lexicographically smallest."""
    gram_ctes = ",\n".join(
        f"""
    g{n} AS (
      SELECT doc_id, {n} AS n,
             array_to_string(
               list_slice(arr, CAST(i AS INT), CAST(i + {n - 1} AS INT)),
               ' ') AS gram
      FROM toks,
           LATERAL (SELECT unnest(generate_series(1, len(arr) - {n - 1})) AS i)
    )"""
        for n in ns
    )
    gram_union = "\n      UNION ALL ".join(
        f"SELECT * FROM g{n}" for n in ns
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents WHERE len(trim(text)) > 0
    ),
    {gram_ctes},
    grams AS (
      {gram_union}
    ),
    counts AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, n, gram
    ),
    stats AS (
      SELECT doc_id, n,
             CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
             CAST(SUM(len(gram) * cnt) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN cnt > 1 THEN len(gram) * cnt ELSE 0 END)
                  AS BIGINT) AS dup_chars
      FROM counts GROUP BY doc_id, n
    ),
    top AS (
      SELECT doc_id, n, gram AS top_gram,
             CAST(len(gram) * cnt AS BIGINT) AS top_chars
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC
        ) AS rn FROM counts
      ) WHERE rn = 1
    )
    SELECT s.doc_id, s.n, s.n_ngrams, t.top_gram,
           FLOOR(t.top_chars / s.total_chars * 10000 + 0.5) / 10000
             AS top_frac,
           FLOOR(s.dup_chars / s.total_chars * 10000 + 0.5) / 10000
             AS dup_frac
    FROM stats s JOIN top t USING (doc_id, n)
    """


def source_overlap_oracle(shingle_n: int = 3) -> str:
    """Twin of llm_ops/decontam.py source_overlap_matrix: distinct
    (source, shingle) reduction, unordered-pair intersection counts,
    Jaccard over the per-source set sizes, floor-half-up 4dp."""
    tok = _TOK.format(t="t")
    poly = "th[i]"
    for j in range(1, shingle_n):
        poly = f"(({poly} * {B} + th[i+{j}]) % {P})"
    return f"""
    WITH base AS (
      SELECT source,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            t -> {tok}) AS th
      FROM documents WHERE len(trim(text)) > 0
    ),
    sh AS (
      SELECT source, unnest(list_transform(
               range(1, len(th) - {shingle_n - 2}), i -> {poly})) AS h
      FROM base WHERE len(th) >= {shingle_n}
    ),
    ss AS (SELECT DISTINCT source, h FROM sh),
    sizes AS (SELECT source, COUNT(*) AS n FROM ss GROUP BY source),
    inter AS (
      SELECT a.source AS group_a, b.source AS group_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.group_a, i.group_b, i.n_shared,
           FLOOR(i.n_shared / (sa.n + sb.n - i.n_shared) * 10000 + 0.5)
             / 10000 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.group_a
    JOIN sizes sb ON sb.source = i.group_b
    """


def kcenter_oracle(k: int = 8) -> str:
    """Unrolled-round twin of llm_ops/selection.py kcenter_select over the
    embeddings table: seed = lowest vec_id; per round the relational
    MIN-over-centers squared-L2 (floor-half-up 4dp) feeds an argmax with
    lowest-id tie-break; centers accumulate as chained CTEs."""
    d = _SQDIST.format(a="e.v", b="cc.v")
    parts = [
        """
  e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
  c0 AS MATERIALIZED (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1)"""
    ]
    selects = [
        "SELECT 0 AS sel_rank, vec_id, CAST(NULL AS DOUBLE) AS d_min FROM c0"
    ]
    for r in range(1, k):
        parts.append(
            f"""
  s{r} AS MATERIALIZED (
    SELECT e.vec_id,
           FLOOR(MIN({d}) * 10000 + 0.5) / 10000 AS dm
    FROM e CROSS JOIN c{r - 1} cc
    GROUP BY e.vec_id
  ),
  w{r} AS MATERIALIZED (
    SELECT vec_id, dm FROM s{r}
    WHERE vec_id NOT IN (SELECT vec_id FROM c{r - 1})
    ORDER BY dm DESC, vec_id ASC LIMIT 1
  ),
  c{r} AS MATERIALIZED (
    SELECT vec_id, v FROM c{r - 1}
    UNION ALL
    SELECT w.vec_id, e.v FROM w{r} w JOIN e USING (vec_id)
  )"""
        )
        selects.append(
            f"SELECT {r} AS sel_rank, vec_id, dm AS d_min FROM w{r}"
        )
    return (
        "WITH" + ",".join(parts) + "\n  "
        + "\n  UNION ALL ".join(selects)
    )


def span_corruption_oracle(
    mask_ratio: float = 0.15, salt: str = "mask0"
) -> str:
    """Twin of llm_ops/objectives.py span_corruption over the documents
    table: the identical integer mask decision (h64 mod GRAIN vs
    round(ratio*GRAIN)), run detection, sentinel numbering, and
    sentinel-delimited reassembly."""
    threshold = round(mask_ratio * 1_000_000)
    h = "CAST('0x' || substring(md5(id::VARCHAR || '|" + salt + "|' || pos::VARCHAR), 1, 15) AS BIGINT)"
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id AS id, i - 1 AS pos, arr[CAST(i AS INT)] AS tok
      FROM (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
        FROM documents WHERE len(trim(text)) > 0
      ), LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)
    ),
    t1 AS MATERIALIZED (
      SELECT id, pos, tok, m,
             m AND NOT COALESCE(
               lag(m) OVER (PARTITION BY id ORDER BY pos), FALSE) AS head
      FROM (SELECT *, ({h}) % 1000000 < {threshold} AS m FROM toks)
    ),
    t2 AS MATERIALIZED (
      SELECT *, SUM(CASE WHEN head THEN 1 ELSE 0 END)
                  OVER (PARTITION BY id ORDER BY pos) - 1 AS k
      FROM t1
    ),
    corrupted AS (
      SELECT id, string_agg(piece, ' ' ORDER BY pos) AS corrupted
      FROM (
        SELECT id, pos, tok AS piece FROM t2 WHERE NOT m
        UNION ALL
        SELECT id, pos, '<extra_id_' || k || '>' FROM t2 WHERE head
      ) GROUP BY id
    ),
    targets AS (
      SELECT id, string_agg(piece, ' ' ORDER BY pos, flag) AS targets
      FROM (
        SELECT id, pos, 0 AS flag, '<extra_id_' || k || '>' AS piece
        FROM t2 WHERE head
        UNION ALL
        SELECT id, pos, 1, tok FROM t2 WHERE m
      ) GROUP BY id
    ),
    stats AS (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             CAST(SUM(CASE WHEN head THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
      FROM t2 GROUP BY id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.n_masked, 0) AS BIGINT) AS n_masked,
           CAST(COALESCE(s.n_spans, 0) AS BIGINT) AS n_spans,
           c.corrupted, tg.targets
    FROM documents d
    LEFT JOIN stats s ON s.id = d.doc_id
    LEFT JOIN corrupted c ON c.id = d.doc_id
    LEFT JOIN targets tg ON tg.id = d.doc_id
    """


def _unigram_parts(
    L: int, W: int, seed_multi: int, keep_multi: int, rounds: int,
    final_estep: bool,
) -> tuple[list[str], str]:
    """Shared CTE builder for the unigram-LM oracles: seed substring
    counts, per EM round cost/edge CTEs, per-position Viterbi DP CTEs
    (ROW_NUMBER over (cost, i) = the Spark fold's array_min struct
    ordering), backtrack CTEs, weighted counts, chars+top-K prune.
    ``final_estep`` appends one more segmentation pass under the FINAL
    vocab (the ENCODE step) whose backtrack CTEs carry per-word piece
    positions. Returns (parts, name-of-final-vocab-or-btprefix)."""
    parts = [f"""
  toks AS (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
    FROM documents WHERE len(trim(text)) > 0
  ),
  words AS MATERIALIZED (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM toks
    WHERE word <> '' AND len(word) <= {W}
    GROUP BY word
  ),
  sub AS MATERIALIZED (
    SELECT w.word, w.freq, gi.i, gi.i + gl.l AS j,
           substr(w.word, CAST(gi.i + 1 AS INT), CAST(gl.l AS INT))
             AS piece
    FROM words w
    CROSS JOIN generate_series(0, {W - 1}) gi(i)
    CROSS JOIN generate_series(1, {L}) gl(l)
    WHERE gi.i + gl.l <= len(w.word)
  ),
  seed AS MATERIALIZED (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM sub GROUP BY piece
  ),
  chars AS MATERIALIZED (SELECT piece FROM seed WHERE len(piece) = 1),
  vocab0 AS MATERIALIZED (
    SELECT piece, cnt FROM seed WHERE len(piece) = 1
    UNION ALL
    SELECT piece, cnt FROM (
      SELECT piece, cnt FROM seed WHERE len(piece) > 1
      ORDER BY cnt DESC, piece LIMIT {seed_multi}) q
  )"""]
    prev = "vocab0"
    last_rounds = rounds + (1 if final_estep else 0)
    for r in range(1, last_rounds + 1):
        parts.append(f"""
  tot{r} AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS vsize FROM {prev}
  ),
  cost{r} AS MATERIALIZED (
    SELECT v.piece, ln(t.total + t.vsize) - ln(v.cnt + 1) AS c
    FROM {prev} v CROSS JOIN tot{r} t
  ),
  edge{r} AS MATERIALIZED (
    SELECT s.word, s.i, s.j, k.c
    FROM sub s JOIN cost{r} k ON k.piece = s.piece
  ),
  dp{r}_0 AS (
    SELECT word, 0 AS j, CAST(0.0 AS DOUBLE) AS cost, -1 AS bp
    FROM words
  )""")
        for j in range(1, W + 1):
            prevs = " UNION ALL ".join(
                f"SELECT word, j, cost, bp FROM dp{r}_{i}"
                for i in range(max(0, j - L), j)
            )
            parts.append(f"""
  dp{r}_{j} AS MATERIALIZED (
    SELECT word, {j} AS j, cost, bp FROM (
      SELECT e.word, d.cost + e.c AS cost, e.i AS bp,
             ROW_NUMBER() OVER (PARTITION BY e.word
                                ORDER BY d.cost + e.c, e.i) AS rn
      FROM edge{r} e
      JOIN ({prevs}) d ON d.word = e.word AND d.j = e.i
      WHERE e.j = {j}
    ) q WHERE rn = 1
  )""")
        dpall = " UNION ALL ".join(
            f"SELECT * FROM dp{r}_{j}" for j in range(0, W + 1)
        )
        parts.append(f"""
  dpall{r} AS MATERIALIZED ({dpall}),
  bt{r}_1 AS MATERIALIZED (
    SELECT d.word, d.j AS pos, d.bp
    FROM dpall{r} d JOIN words w ON w.word = d.word AND d.j = len(w.word)
  )""")
        for t in range(2, W + 1):
            parts.append(f"""
  bt{r}_{t} AS MATERIALIZED (
    SELECT b.word, b.bp AS pos, d.bp
    FROM bt{r}_{t - 1} b JOIN dpall{r} d
      ON d.word = b.word AND d.j = b.bp
    WHERE b.bp > 0
  )""")
        segsel = " UNION ALL ".join(
            f"SELECT word, bp, substr(word, CAST(bp + 1 AS INT), "
            f"CAST(pos - bp AS INT)) AS piece FROM bt{r}_{t} WHERE pos > 0"
            for t in range(1, W + 1)
        )
        parts.append(f"""
  segp{r} AS MATERIALIZED ({segsel})""")
        if r > rounds:
            return parts, f"segp{r}"
        parts.append(f"""
  counts{r} AS MATERIALIZED (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
    FROM segp{r} sp JOIN words w USING (word)
    GROUP BY piece
  ),
  vocab{r} AS MATERIALIZED (
    SELECT c.piece, CAST(COALESCE(k.cnt, 0) AS BIGINT) AS cnt
    FROM chars c LEFT JOIN counts{r} k USING (piece)
    UNION ALL
    SELECT piece, cnt FROM (
      SELECT piece, cnt FROM counts{r} WHERE len(piece) > 1
      ORDER BY cnt DESC, piece LIMIT {keep_multi}) q
  )""")
        prev = f"vocab{r}"
    return parts, prev


def unigram_lm_oracle(
    max_piece_len: int = 3,
    max_word_len: int = 10,
    seed_multi: int = 50,
    keep_multi: int = 30,
    rounds: int = 2,
) -> str:
    """Unrolled-CTE twin of llm_ops/vocab.py unigram_lm (the bpe_merges
    discipline). All counts are exact integers; the only doubles are
    ln() of integers summed in identical association, so the DP
    comparisons see bit-identical values in both engines (the
    dsir_oracle precedent)."""
    parts, prev = _unigram_parts(
        max_piece_len, max_word_len, seed_multi, keep_multi, rounds,
        final_estep=False,
    )
    return f"""WITH{",".join(parts)},
  totf AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS vsize FROM {prev}
  )
  SELECT v.piece, v.cnt,
         FLOOR((ln(v.cnt + 1) - ln(t.total + t.vsize)) * 10000 + 0.5)
           / 10000 AS logprob
  FROM {prev} v CROSS JOIN totf t
"""


def unigram_segment_oracle(
    max_piece_len: int = 3,
    max_word_len: int = 10,
    seed_multi: int = 50,
    keep_multi: int = 30,
    rounds: int = 2,
) -> str:
    """Twin of llm_ops/vocab.py unigram_segment_documents (self-encode):
    the train CTEs plus ONE more Viterbi pass under the final vocab,
    word pieces reassembled left-to-right (ORDER BY bp), documents
    re-encoded by positional explode + join + ordered reassembly — the
    bpe_segment_oracle shape."""
    parts, segp = _unigram_parts(
        max_piece_len, max_word_len, seed_multi, keep_multi, rounds,
        final_estep=True,
    )
    parts.append(f"""
  wordseg AS MATERIALIZED (
    SELECT word, string_agg(piece, ' ' ORDER BY bp) AS seg,
           CAST(COUNT(*) AS BIGINT) AS n_sub
    FROM {segp} GROUP BY word
  ),
  dtoks AS (
    SELECT doc_id, i, arr[CAST(i AS INT)] AS word
    FROM (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
      FROM documents WHERE len(trim(text)) > 0
    ), LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)
    WHERE arr[CAST(i AS INT)] <> ''
  ),
  enc AS (
    SELECT d.doc_id, d.i, COALESCE(s.seg, d.word) AS seg,
           COALESCE(s.n_sub, 1) AS n_sub
    FROM dtoks d LEFT JOIN wordseg s USING (word)
  ),
  per AS (
    SELECT doc_id, CAST(SUM(n_sub) AS BIGINT) AS n_pieces,
           string_agg(seg, ' ' ORDER BY i) AS unigram_text
    FROM enc GROUP BY doc_id
  )"""
    )
    return (
        "WITH" + ",".join(parts) + """
  SELECT d.doc_id, CAST(COALESCE(p.n_pieces, 0) AS BIGINT) AS n_pieces,
         p.unigram_text
  FROM documents d LEFT JOIN per p USING (doc_id)
    """
    )


def ann_recall_oracle(
    k: int = 5,
    dim: int = 64,
    bits: int = 4,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ksub: int = 8,
) -> str:
    """Twin of similarity.ann_recall_eval: the exact brute-force truth
    and all three approximate methods' oracles (IVF, PQ — r12, SRP)
    composed as scoped-WITH subqueries (DuckDB allows a WITH inside a
    parenthesized subquery), joined per (method, query) for hit counts
    over the FULL method × query grid — a (method, query) with zero
    candidates scores 0, mirroring the engine (r11 ADVICE)."""
    cos = _COS.format(a="q.v", b="c.v")
    bf = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({cos}, 4) AS cosine
      FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """
    return f"""
    SELECT g.method, g.query_id,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           FLOOR(COALESCE(h.hits, 0) / {k}.0 * 10000 + 0.5) / 10000
             AS recall
    FROM (
      SELECT method, query_id
      FROM (SELECT UNNEST(['ivf', 'ivfpq', 'pq', 'srp']) AS method)
      CROSS JOIN (SELECT DISTINCT vec_id AS query_id FROM embeddings
                  WHERE vec_id < 10)
    ) g
    LEFT JOIN (
      SELECT m.method, m.query_id,
             CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM (
        SELECT 'ivf' AS method, query_id, neighbor_id
        FROM ({ann_ivf_oracle(n_lists, n_probe, k)})
        UNION ALL
        SELECT 'ivfpq' AS method, query_id, neighbor_id
        FROM ({ann_ivfpq_oracle(dim, n_lists, n_probe, m, ksub, k)})
        UNION ALL
        SELECT 'pq' AS method, query_id, neighbor_id
        FROM ({ann_pq_oracle(dim, m, ksub, k)})
        UNION ALL
        SELECT 'srp' AS method, query_id, neighbor_id
        FROM ({ann_srp_oracle(dim, bits, k)})
      ) m
      LEFT JOIN ({bf}) t
        ON t.query_id = m.query_id AND t.neighbor_id = m.neighbor_id
      GROUP BY m.method, m.query_id
    ) h ON h.method = g.method AND h.query_id = g.query_id
    """


# --------------------------------------------------- perceptual admission

# far above every real doc_id at every scale INCLUDING the .scale/sf10
# replicated dirs (replica offsets are doc_id + k*10M, k < 100 — max
# ~990M), so planted ids never collide with corpus ids
PHASH_PLANT_OFFSETS = (2_000_000_000, 4_000_000_000)
_SWAP1 = (
    "substr(text, 1, 9) || substr(text, 11, 1) || substr(text, 10, 1)"
    " || substr(text, 12)"
)
_SWAP2 = (
    "substr(t2, 1, 19) || substr(t2, 21, 1) || substr(t2, 20, 1)"
    " || substr(t2, 22)"
)


def phash_planted_corpus_sql() -> str:
    """(doc_id, text) corpus = documents plus DERIVED aHash near-dup
    plants (testdata is read-only, so planting happens in-query, the
    same rows in both engines): for each doc_id < 10 with len >= 22,
    a sum-preserving adjacent transposition at chars 10/11 (grid mean
    unchanged, at most the 1-2 cells sampling those bytes flip — often
    hamming 0 on long docs since only 64 of n bytes are sampled: a
    perceptual match on NON-identical text, the modality's point) and a
    second transposition of the copy at 20/21 (a triangle per planted
    doc, so the greedy admission query has real rejections to grade).
    Twin of queries._planted_phash_corpus."""
    return f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {PHASH_PLANT_OFFSETS[0]}, {_SWAP1}
      FROM documents WHERE doc_id < 10 AND len(text) >= 22
      UNION ALL
      SELECT doc_id + {PHASH_PLANT_OFFSETS[1]},
             {_SWAP2}
      FROM (SELECT doc_id, {_SWAP1} AS t2
            FROM documents WHERE doc_id < 10 AND len(text) >= 22)
    """


def _phash_pair_ctes(corpus_sql: str, cap: int) -> str:
    """CTE chain 'raw … ham' computing capped banded aHash pairs over an
    arbitrary (doc_id, text) corpus select — the shared body behind the
    dedup_phash and perceptual_batch_admission oracles (mirrors
    llm_ops/dedup.py phash_duplicate_pairs: 64-cell grid, mean-threshold
    bits, 4x16-bit bands, >cap hot buckets dropped, exact Hamming)."""
    return f"""raw AS ({corpus_sql}),
    d AS (
      SELECT doc_id, text, len(text) AS n FROM raw WHERE len(text) > 0
    ),
    cells AS (
      SELECT doc_id, i,
             ord(substr(text, CAST((i * n) // 64 AS INT) + 1, 1)) AS v
      FROM d CROSS JOIN generate_series(0, 63) AS g(i)
    ),
    tot AS (SELECT doc_id, SUM(v) AS total FROM cells GROUP BY doc_id),
    bits AS (
      SELECT c.doc_id, CAST(c.i // 16 AS INT) AS band, c.i % 16 AS pos,
             CASE WHEN c.v * 64 > t.total THEN 1 ELSE 0 END AS bit
      FROM cells c JOIN tot t USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, band,
             CAST(SUM(bit * (1 << CAST(15 - pos AS INT))) AS BIGINT)
               AS word
      FROM bits GROUP BY doc_id, band
    ),
    bsz AS (
      SELECT band, word FROM bands GROUP BY band, word
      HAVING COUNT(*) <= {cap}
    ),
    kept AS (SELECT b.* FROM bands b JOIN bsz USING (band, word)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM kept a JOIN kept b
        ON a.band = b.band AND a.word = b.word AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT p.id_a, p.id_b,
             CAST(SUM(bit_count(xor(xa.word, xb.word))) AS BIGINT)
               AS hamming
      FROM pairs p
      JOIN bands xa ON xa.doc_id = p.id_a
      JOIN bands xb ON xb.doc_id = p.id_b AND xb.band = xa.band
      GROUP BY p.id_a, p.id_b
    )"""


def phash_pairs_oracle(
    hamming_max: int = 6,
    cap: int = 1024,
    corpus_sql: str | None = None,
) -> str:
    """Full aHash near-dup pair query over an arbitrary corpus select."""
    corpus = corpus_sql or "SELECT doc_id, text FROM documents"
    return f"""
    WITH {_phash_pair_ctes(corpus, cap)}
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= {hamming_max}
    """


def _greedy_admission_sql(
    prefix_ctes: str, docs_select: str, edges_select: str, rounds: int
) -> str:
    """Ascending-id sequential greedy over a verified pair graph, as an
    UNROLLED fixpoint (the bpe/unigram oracle idiom — SQL has no
    sequential loop). Pairs always satisfy id_a < id_b, so id_a is the
    'smaller neighbor' side. Round k: r_k = docs with an admitted
    smaller neighbor (final — rejection never reverses); a_k = docs ALL
    of whose smaller neighbors are rejected (vacuously true for docs
    with none). Each round finalizes every doc whose smaller neighbors
    are all decided, so ``rounds`` >= the longest smaller-id chain in
    the pair DAG decides everything; an under-provisioned unroll leaves
    docs undecided and fails the grade loudly rather than silently
    agreeing. Every round CTE is MATERIALIZED: DuckDB inlines plain
    CTEs at each reference, and a{k} references a{k-1} multiply —
    unrolled, that expansion is EXPONENTIAL in rounds (measured:
    file-handle blowup at 16 rounds). Same fix as the BPE round CTEs.
    Shared by the perceptual and MinHash admission oracles."""
    parts = [
        prefix_ctes,
        f"ids AS MATERIALIZED ({docs_select})",
        f"e AS MATERIALIZED ({edges_select})",
        """a0 AS MATERIALIZED (
      SELECT doc_id FROM ids
      WHERE doc_id NOT IN (SELECT id_b FROM e)
    )""",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"""r{k} AS MATERIALIZED (
      SELECT DISTINCT e.id_b AS doc_id
      FROM e JOIN a{k - 1} p ON e.id_a = p.doc_id
    )"""
        )
        parts.append(
            f"""a{k} AS MATERIALIZED (
      SELECT doc_id FROM a{k - 1}
      UNION
      SELECT dd.doc_id FROM ids dd
      WHERE NOT EXISTS (
        SELECT 1 FROM e
        WHERE e.id_b = dd.doc_id
          AND e.id_a NOT IN (SELECT doc_id FROM r{k})
      )
    )"""
        )
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT dd.doc_id,
           CAST(CASE WHEN dd.doc_id IN (SELECT doc_id FROM a{rounds})
                THEN 1 ELSE 0 END AS INT) AS admitted
    FROM ids dd
    """


def perceptual_admission_oracle(
    hamming_max: int = 6,
    cap: int = 1024,
    corpus_sql: str | None = None,
    rounds: int = 16,
) -> str:
    """Twin of streaming/dedup.py perceptual_greedy_admission: the
    shared unrolled-fixpoint greedy (see :func:`_greedy_admission_sql`)
    over the capped banded aHash pair graph."""
    corpus = corpus_sql or "SELECT doc_id, text FROM documents"
    return _greedy_admission_sql(
        _phash_pair_ctes(corpus, cap),
        "SELECT doc_id FROM d",
        f"SELECT id_a, id_b FROM ham WHERE hamming <= {hamming_max}",
        rounds,
    )


def minhash_admission_oracle(
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    rounds: int = 16,
) -> str:
    """Twin of streaming/dedup.py minhash_greedy_admission: the shared
    unrolled-fixpoint greedy over the MinHash+LSH verified pair graph
    (_minhash_ctes — the exact chain dedup_minhash grades). Docs with
    fewer than ``shingle_n`` tokens have no signature, appear in no
    pair, and are admitted vacuously; the doc domain is every doc with
    non-blank text, matching the Spark side."""
    return _greedy_admission_sql(
        _minhash_ctes(num_hashes, bands, shingle_n, threshold),
        "SELECT doc_id FROM documents WHERE len(trim(text)) > 0",
        "SELECT id_a, id_b FROM verified",
        rounds,
    )


def ann_ivfpq_oracle(
    dim: int = 64,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 4,
    ksub: int = 8,
    k: int = 5,
) -> str:
    """IVF-PQ ADC top-k with the deterministic 'sampled' coarse
    quantizer and residual codebook, mirroring similarity.ivfpq_topk:
    assignment by 6-dp-rounded cosine (ties -> lower list), codebook =
    the ksub lowest-id vectors' RESIDUAL subvectors, encoding argmin on
    the 6-dp-rounded subdistance (ties -> lower code), ADC summed per
    (query, neighbor) inside the n_probe probed lists. Queries =
    vec_id < 10."""
    sub_d = dim // m
    cent_cos = _COS.format(a="c.v", b="centroid")
    q_cos = _COS.format(a="q.v", b="centroid")
    r_slice = (
        f"list_slice(r.rv, cb.sub_m * {sub_d} + 1, (cb.sub_m + 1) * {sub_d})"
    )
    q_slice = (
        f"list_slice(p.qrv, cb.sub_m * {sub_d} + 1, (cb.sub_m + 1) * {sub_d})"
    )
    assign_d = _SQDIST.format(a=r_slice, b="cb.subvec")
    q_partial = _SQDIST.format(a=q_slice, b="cb.subvec")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS list_id,
             v AS centroid
      FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {n_lists})
    ),
    res AS MATERIALIZED (
      SELECT neighbor_id, list_id,
             list_transform(list_zip(cv, centroid), x -> x[1] - x[2])
               AS rv
      FROM (
        SELECT c.vec_id AS neighbor_id, c.v AS cv, cent.list_id,
               cent.centroid,
               ROW_NUMBER() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY ROUND({cent_cos}, 6) DESC, cent.list_id ASC
               ) AS rn
        FROM e c CROSS JOIN cent
      ) WHERE rn = 1
    ),
    seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY neighbor_id) - 1 AS code, rv
      FROM (SELECT neighbor_id, rv FROM res ORDER BY neighbor_id
            LIMIT {ksub})
    ),
    subs AS (SELECT UNNEST(range({m})) AS sub_m),
    cb AS MATERIALIZED (
      SELECT seeds.code, subs.sub_m,
             list_slice(seeds.rv, subs.sub_m * {sub_d} + 1,
                        (subs.sub_m + 1) * {sub_d}) AS subvec
      FROM seeds CROSS JOIN subs
    ),
    codes AS MATERIALIZED (
      SELECT neighbor_id, list_id, sub_m, code FROM (
        SELECT r.neighbor_id, r.list_id, cb.sub_m, cb.code,
               ROW_NUMBER() OVER (
                 PARTITION BY r.neighbor_id, cb.sub_m
                 ORDER BY ROUND({assign_d}, 6) ASC, cb.code ASC
               ) AS rn
        FROM res r CROSS JOIN cb
      ) WHERE rn = 1
    ),
    probes AS MATERIALIZED (
      SELECT query_id, probe_list,
             list_transform(list_zip(qv, centroid), x -> x[1] - x[2])
               AS qrv
      FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, cent.list_id AS
               probe_list, cent.centroid,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND({q_cos}, 6) DESC, cent.list_id ASC
               ) AS rn
        FROM (SELECT vec_id, v FROM e WHERE vec_id < 10) q
        CROSS JOIN cent
      ) WHERE rn <= {n_probe}
    ),
    qtab AS MATERIALIZED (
      SELECT p.query_id, p.probe_list, cb.sub_m, cb.code,
             {q_partial} AS partial
      FROM probes p CROSS JOIN cb
    ),
    scored AS (
      SELECT query_id, neighbor_id, ROUND(SUM(partial), 4) AS adist
      FROM codes JOIN qtab
        ON codes.list_id = qtab.probe_list
       AND codes.sub_m = qtab.sub_m AND codes.code = qtab.code
      WHERE query_id <> neighbor_id
      GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
      ) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def phash_bucket_audit_oracle(threshold: int = 4) -> str:
    """Twin of dedup.oversized_band_buckets over the aHash banding:
    (band, word, n_docs) for every bucket above ``threshold`` entries —
    the graded surface of the hot-bucket fence's audit half. The graded
    threshold (4) is far below the production cap (1024) so the query
    returns real rows at bench scales; the production cap itself drops
    nothing on this corpus (max observed bucket: 11 at sf0.001, 117 at
    sf0.1)."""
    return f"""
    WITH {_phash_pair_ctes("SELECT doc_id, text FROM documents", 10**9)}
    SELECT CAST(band AS INT) AS band, CAST(word AS INT) AS word,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM bands GROUP BY band, word HAVING COUNT(*) > {threshold}
    """
