"""Streaming incremental frequent-pair maintenance — basket analytics
over an unbounded order feed.

The batch operator (operators/itemsets.frequent_pairs) rescans every
basket; on a stream of (basket, item) arrivals the co-occurrence counts
are maintainable INCREMENTALLY: a new item in a basket creates exactly
the pairs (new × items already in that basket) plus (new × new) within
the batch — baskets that span micro-batches are handled by probing the
accumulated per-basket item state, bucket-pruned to just the baskets the
batch touches.

Exactly-once across the TWO state layers (per-basket items + pair
counts) without cross-layer transactions:

- the items layer tags every row with the batch id that FIRST added it
  (``insert_if_absent`` — first writer wins, replays change nothing);
- the batch's pair DELTA is derived from that post-insert state alone:
  prior = rows tagged with an earlier batch, fresh = rows tagged with
  THIS batch. A replay of batch N reads the identical state split and
  reproduces the identical delta — the delta is a pure function of the
  layer, not of arrival timing;
- the counts merge commits to a VERSIONED table guarded by the
  (txn_app_id, batch_id) mark (streaming/sink.py pattern): a replayed
  batch whose delta already merged is skipped at the manifest, so the
  delta is applied exactly once no matter where a crash landed.

Scale story: the per-batch work is (batch items) × (touched baskets'
state) — bucket pruning keeps the probe at touched-bucket size; the
counts merge is a keyed full-outer of delta (small) against the counts
layer. Counts commits are full-layer versions here (simple, time-
travelable); at 100 TB the same delta merges into a bucketed layer via
dynamic partition overwrite — the delta math is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from synthea2omop_etl_spark.sources import versioned as V
from synthea2omop_etl_spark.sources.writers import (
    insert_if_absent,
    read_bucket_pruned,
)
from synthea2omop_etl_spark.streaming.sink import _txn_state


def _pair_delta(fresh: DataFrame, prior: DataFrame) -> DataFrame:
    """Pair-count increments from fresh (bk, it) rows given the baskets'
    prior items: fresh×prior cross-batch pairs + fresh×fresh in-batch
    pairs, canonically ordered (item_a < item_b)."""
    a, p = fresh.alias("a"), prior.alias("p")
    cross = a.join(
        p,
        (F.col("a.bk") == F.col("p.bk")) & (F.col("a.it") != F.col("p.it")),
    ).select(
        F.least("a.it", "p.it").alias("item_a"),
        F.greatest("a.it", "p.it").alias("item_b"),
    )
    b = fresh.alias("b")
    within = a.join(
        b,
        (F.col("a.bk") == F.col("b.bk")) & (F.col("a.it") < F.col("b.it")),
    ).select(
        F.col("a.it").alias("item_a"), F.col("b.it").alias("item_b")
    )
    return (
        cross.unionByName(within)
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )


def incremental_frequent_pairs(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    basket_col: str,
    item_col: str,
    n_buckets: int = 32,
    available_now: bool = True,
    txn_app_id: str = "pairs",
) -> StreamingQuery:
    """Maintain (item_a, item_b, n_baskets) over a (basket, item) stream.

    State under ``output_dir``: ``basket_items/`` (bucketed by basket,
    rows tagged with the adding batch id) and ``pair_counts/`` (a
    versioned table — time-travelable, replay-guarded). Read the counts
    with ``sources.versioned.read_version``.
    """
    items_path = os.path.join(output_dir, "basket_items")
    counts_path = os.path.join(output_dir, "pair_counts")

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        rows = (
            batch.select(
                F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
            )
            .where(F.col("bk").isNotNull() & F.col("it").isNotNull())
            .distinct()
            .withColumn("__added_batch", F.lit(batch_id))
        )
        # First-writer-wins tag: rows already present keep their original
        # batch id, so the state split below is replay-stable.
        insert_if_absent(
            spark, rows, items_path, ["bk", "it"],
            bucket_key="bk", n_buckets=n_buckets,
        )
        state = read_bucket_pruned(
            spark, items_path, "bk", rows.select("bk").distinct(), n_buckets
        )
        if state is None:
            return  # no non-NULL (basket, item) row has landed yet
        state = state.join(rows.select("bk").distinct(), "bk", "left_semi")
        fresh = state.where(F.col("__added_batch") == batch_id).select(
            "bk", "it"
        )
        prior = state.where(F.col("__added_batch") < batch_id).select(
            "bk", "it"
        )
        hwm, txns = _txn_state(V, counts_path, txn_app_id)
        if hwm is not None and batch_id <= hwm:
            return  # delta already merged; items layer was idempotent
        delta = _pair_delta(fresh, prior)
        if delta.isEmpty():
            return
        # Probe for "no versions committed yet" EXPLICITLY: a blanket
        # except here once treated any transient read failure as "first
        # commit" and overwrote the accumulated counts with one batch's
        # delta. Real read errors must propagate and fail the batch.
        if V.list_versions(counts_path):
            existing = V.read_version(spark, counts_path)
        else:
            existing = None
        if existing is not None:
            merged = (
                existing.withColumnsRenamed({"n_baskets": "__old"})
                .join(
                    delta.withColumnsRenamed({"n_baskets": "__add"}),
                    ["item_a", "item_b"],
                    "full_outer",
                )
                .select(
                    "item_a",
                    "item_b",
                    (
                        F.coalesce("__old", F.lit(0))
                        + F.coalesce("__add", F.lit(0))
                    ).alias("n_baskets"),
                )
            )
        else:
            merged = delta
        txns[txn_app_id] = batch_id
        V.commit_version(
            merged, counts_path, mode="overwrite",
            extra={"batch_id": batch_id, "txn_app_id": txn_app_id,
                   "txns": txns},
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
