"""Streaming SCD Type-2: fold dimension-update micro-batches into a
versioned parquet dimension.

Completes the streaming story alongside the incremental fact ETL
(streaming/etl.py): facts append through insert-if-absent, dimensions
*version* through scd2_apply. foreachBatch + write_then_swap gives the
same exactly-once contract as the fact path: the checkpoint dedupes
re-delivered files, and a high-water-mark guard on effective time makes
replays (checkpoint loss, redelivery) exact no-ops — an old batch can
never regress the dimension by re-closing a newer version. Batch
effective timestamps must strictly increase (the watermark contract).

Batch effective time comes from a timestamp column in the data (max per
micro-batch), NOT wall clock — replays see the same instant, and
out-of-order file arrival within a batch collapses deterministically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from synthea2omop_etl_spark.operators.scd import scd2_apply, scd2_init
from synthea2omop_etl_spark.sources.writers import (
    _read_layer_or_none,
    write_then_swap,
)


def stream_scd2(
    updates: DataFrame,
    dim_path: str,
    checkpoint: str,
    key: str,
    tracked: list[str],
    ts_col: str = "ts",
) -> StreamingQuery:
    """Maintain an SCD2 dimension at ``dim_path`` from an update stream.

    ``updates`` needs (key, *tracked, ts_col). Each micro-batch applies
    at the batch's max ``ts_col``; an empty batch is skipped.
    """

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        slim = batch.select(key, *tracked)
        # absent → bootstrap; unreadable → fail the batch (bootstrapping
        # from one batch would let write_then_swap drop the history)
        dim = _read_layer_or_none(spark, dim_path)
        # ONE scalar aggregate per micro-batch: the batch's effective time
        # and (when the dimension exists) its high-water-mark come back in
        # a single 1×2 row via a cross join of two single-row aggregates —
        # one job, not two.
        scalars = batch.agg(F.max(ts_col).alias("batch_ts"))
        if dim is not None:
            scalars = scalars.crossJoin(
                dim.agg(F.max("valid_from").alias("hwm"))
            )
        row = scalars.collect()[0]
        batch_ts = row["batch_ts"]
        if batch_ts is None:
            return  # empty micro-batch
        if dim is None:
            from synthea2omop_etl_spark.operators.dedupe import (
                first_per_group,
            )

            boot = first_per_group(
                slim, [key], [F.col(c).asc_nulls_first() for c in tracked]
            )
            new_dim = scd2_init(boot, batch_ts, key, tracked)
        else:
            # High-water-mark guard: an SCD2 table must only move forward
            # in effective time. A batch at or before the newest version's
            # valid_from is a replay (checkpoint loss, file redelivery) —
            # applying old values onto newer state would *regress* the
            # dimension (close the new version, resurrect the old one), so
            # it is skipped, making full-history replays exact no-ops.
            # Contract: batch effective timestamps strictly increase.
            if row["hwm"] is not None and batch_ts <= row["hwm"]:
                return
            new_dim = scd2_apply(dim, slim, batch_ts, key, tracked)
        write_then_swap(new_dim, dim_path)

    os.makedirs(os.path.dirname(checkpoint) or ".", exist_ok=True)
    return (
        updates.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
