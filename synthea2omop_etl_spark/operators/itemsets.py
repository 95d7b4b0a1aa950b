"""Frequent pair mining (market-basket co-occurrence with lift) — the
A-Priori 2-itemset step, distributed.

Which items appear together more often than chance? The building block
of basket analysis, drug co-prescription surfacing (OMOP: concepts
sharing a visit), and document co-citation. This is the pairwise step of
A-Priori: candidate pairs are the 2-combinations of each basket's items,
so the cost is Σ C(k_b, 2) over baskets — driven by BASKET size, never by
the corpus size.

Scale design:
- Each basket is collected to one sorted array of distinct items (one
  keyed shuffle); its pairs explode map-side from that array, with no
  self-join.
- The quadratic term is fenced: baskets larger than ``max_basket_size``
  are DROPPED (and counted against no pair), the standard practical
  guard — a single 10⁶-item basket would otherwise contribute 5·10¹¹
  pairs. Fenced loudly in the signature, not hidden.
- Lift denominators (per-item basket counts, total baskets) are 1-row /
  small aggregates broadcast into the final projection; support
  filtering happens BEFORE the lift join, so the join input is already
  thresholded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int = 1000,
    persist_path: str | None = None,
) -> DataFrame:
    """(item_a, item_b, n_baskets, lift), item_a < item_b, support >=
    ``min_support``; lift = P(ab) / (P(a)·P(b)) over baskets that
    survived the size fence, rounded 4dp. Baskets with more than
    ``max_basket_size`` distinct items are excluded entirely.

    The deduped+fenced basket layer feeds several consumers (pair
    generation, item counts, basket total); without materialization
    Catalyst re-derives it per branch — measured 10 source scans for the
    r10 plan. It is therefore cached (executor memory) or, when
    ``persist_path`` is given, written to parquet and re-read — the
    100 TB contract, same as the curation layers (executor-memory cache
    refills under pressure at scale; a parquet layer fills once and
    scans columnar).

    NULL basket keys / items are excluded up front (r13, ADVICE r12):
    the groupBy below would keep a NULL-basket group that the
    self-join of :func:`duck_frequent_pairs` drops, and ``collect_set``
    drops NULL items its distinct (bk, it) layer counts — so the
    explicit pre-filter (mirrored in the DuckDB twin) makes the two
    byte-identical on any input. A NULL key can't name a basket and a
    NULL item can't form a pair, so this is the only semantics both
    engines can agree on."""
    df = df.where(
        F.col(basket_col).isNotNull() & F.col(item_col).isNotNull()
    )
    # ONE corpus-sized shuffle builds the deduped + fenced basket layer
    # directly (r12, guide §2.4): groupBy(bk) with collect_set dedups in
    # the aggregation buffer, array_sort restores the deterministic
    # order, and the size fence is a filter on the collected array —
    # where the r10 shape paid FOUR corpus-scale exchanges ((bk,it)
    # distinct, the fence groupBy(bk), the fence join-back, and the
    # collect_list groupBy(bk)), this pays one. n_total / item_counts /
    # the pair explode all read the basket layer (3 consumers → cached,
    # or parquet via persist_path — the 100 TB contract), which is also
    # smaller than the (bk, it) layer it replaces (one row per basket).
    # Semantics identical: collect_set == distinct items; fence on
    # DISTINCT item count; dropped baskets excluded from every
    # denominator.
    baskets = (
        df.groupBy(F.col(basket_col).alias("bk"))
        .agg(F.array_sort(F.collect_set(item_col)).alias("its"))
        .where(F.size("its") <= max_basket_size)
    )
    if persist_path:
        baskets.write.mode("overwrite").parquet(persist_path)
        baskets = baskets.sparkSession.read.parquet(persist_path)
    else:
        baskets = baskets.cache()
    n_total = baskets.agg(F.count(F.lit(1)).alias("__n_baskets"))
    item_counts = (
        baskets.select(F.explode("its").alias("it"))
        .groupBy("it")
        .agg(F.count(F.lit(1)).alias("__n_item"))
    )
    # Map-side pair generation (r10, VERDICT item 5): the C(k,2)
    # combinations explode MAP-SIDE from the per-basket array (index
    # lambda + dynamic slice) straight into the pair partial
    # aggregate — no self-join. The per-row array is bounded by the
    # max_basket_size fence (C(1000,2) structs ≈ 8 MB worst case).
    combos = F.flatten(
        F.transform(
            F.col("its"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("its"), i + 2,
                    F.greatest(F.size("its") - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.item_a").alias("item_a"),
            F.col("p.item_b").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .where(F.col("n_baskets") >= min_support)
    )
    na = item_counts.select(
        F.col("it").alias("item_a"), F.col("__n_item").alias("__na")
    )
    nb = item_counts.select(
        F.col("it").alias("item_b"), F.col("__n_item").alias("__nb")
    )
    return (
        pairs.join(F.broadcast(na), "item_a")
        .join(F.broadcast(nb), "item_b")
        .crossJoin(F.broadcast(n_total))
        .select(
            "item_a",
            "item_b",
            "n_baskets",
            F.round(
                (F.col("n_baskets") * F.col("__n_baskets"))
                / (F.col("__na") * F.col("__nb")),
                4,
            ).alias("lift"),
        )
    )


def duck_frequent_pairs(
    table: str,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_size: int = 1000,
) -> str:
    """DuckDB twin of :func:`frequent_pairs`."""
    return f"""
    WITH b0 AS (
      SELECT DISTINCT {basket_col} AS bk, {item_col} AS it FROM {table}
      WHERE {basket_col} IS NOT NULL AND {item_col} IS NOT NULL
    ), keep AS (
      SELECT bk FROM b0 GROUP BY bk HAVING COUNT(*) <= {max_basket_size}
    ), b AS (
      SELECT b0.bk, b0.it FROM b0 JOIN keep USING (bk)
    ), tot AS (
      SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS n_total FROM b
    ), ic AS (
      SELECT it, CAST(COUNT(*) AS BIGINT) AS n_item FROM b GROUP BY it
    ), pairs AS (
      SELECT a.it AS item_a, c.it AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_baskets
      FROM b a JOIN b c ON a.bk = c.bk AND a.it < c.it
      GROUP BY a.it, c.it
      HAVING COUNT(*) >= {min_support}
    )
    SELECT item_a, item_b, n_baskets,
           ROUND((n_baskets * tot.n_total)::DOUBLE
                 / (na.n_item * nb.n_item), 4) AS lift
    FROM pairs
    CROSS JOIN tot
    JOIN ic na ON na.it = pairs.item_a
    JOIN ic nb ON nb.it = pairs.item_b
    """
