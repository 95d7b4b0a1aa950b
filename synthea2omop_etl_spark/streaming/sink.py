"""Streaming sinks: exactly-once upsert into a parquet table.

The reference's loaders are batch INSERT .. WHERE NOT EXISTS
(etl_pipeline/etl_patients.py:202-209 shape); this is the streaming twin:
``foreachBatch`` + the batch insert-if-absent operator, which makes the
sink idempotent under micro-batch REPLAY — the standard Structured
Streaming exactly-once recipe (checkpointed source offsets + idempotent
sink). A re-delivered micro-batch finds its keys already present and
writes nothing.

At scale the anti-join probe side is the (bounded) new-keys batch and the
existing table is pruned by partition/bucket on the key — the same
NOT-EXISTS shape the batch operator already plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from synthea2omop_etl_spark.sources.writers import insert_if_absent


def stream_upsert(
    stream: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Write a stream into a parquet table, inserting only rows whose key
    is not already present (exactly-once under replay).

    Returns the started query; callers await ``.awaitTermination()``.
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        insert_if_absent(batch.sparkSession, batch, target_path, key_cols)

    writer = stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _txn_state(V, table_path: str, txn_app_id: str) -> tuple[int | None, dict]:
    """(this app's high-water batch_id or None, the txns map to carry
    forward). Delta's txnAppId/txnVersion replay guard: a batch is a
    replay ONLY when the SAME logical stream already committed a batch_id
    at or past it — batch ids restart at 0 with a fresh checkpoint, so
    comparing raw ids across identities would drop unseen data.

    Per-app marks live in a ``txns`` {app_id: batch_id} map each sink
    commit CARRIES FORWARD, so an interleaved commit by another stream
    (or a batch writer) cannot shadow this app's mark the way a
    newest-manifest-only probe did. Manifests written by non-sink code
    don't carry the map, so the probe scans back past them to the newest
    manifest that has one (bounded by the vacuum retention window; a
    replay of history older than retention is not distinguishable and
    recommits — document retention accordingly)."""
    for v in reversed(V.list_versions(table_path)):
        m = V.read_manifest(table_path, v)
        txns = m.get("txns")
        if txns is None and m.get("txn_app_id") is not None:
            # pre-map manifests recorded a single (txn_app_id, batch_id)
            txns = {m["txn_app_id"]: m.get("batch_id")}
        if txns is not None:
            return txns.get(txn_app_id), dict(txns)
    return None, {}


def stream_versioned_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    txn_app_id: str = "default",
) -> StreamingQuery:
    """Commit each micro-batch as a new version of a versioned table
    (sources/versioned.py) — a streaming sink with TIME TRAVEL: every
    trigger's output is a readable snapshot, a bad batch is one
    metadata-only ``rollback`` away, and downstream consumers pin a
    version instead of racing the stream.

    Exactly-once: Structured Streaming replays a failed micro-batch with
    the SAME batch_id. Each sink commit records a per-app ``txns``
    {app_id: batch_id} map carried forward from the previous one; batch
    ids are monotonic per checkpoint, so "this app's recorded mark >=
    batch_id" means the batch already committed — skip it. The probe
    normally reads ONE manifest (the newest sink commit keeps the full
    map) and scans back only past interleaved non-sink commits. Empty
    batches are skipped to keep history meaningful.

    ``txn_app_id`` is the stream's LOGICAL identity (Delta's txnAppId).
    Keep it stable across checkpoint rebuilds of the same stream over the
    same source — replays stay no-ops. Give a NEW id when re-pointing a
    fresh checkpoint at a source that has since grown, otherwise the
    restarted ids (<= the recorded mark) would silently skip unseen data;
    with a new id every batch commits, so for an append sink the source
    must then start past the already-committed rows (or dedupe downstream
    via stream_upsert).
    """
    from synthea2omop_etl_spark.sources import versioned as V

    def commit(batch: DataFrame, batch_id: int) -> None:
        hwm, txns = _txn_state(V, table_path, txn_app_id)
        if hwm is not None and batch_id <= hwm:
            return  # replayed micro-batch: already committed
        if not batch.isEmpty():
            txns[txn_app_id] = batch_id
            V.commit_version(
                batch, table_path, mode="append",
                extra={"batch_id": batch_id, "txn_app_id": txn_app_id,
                       "txns": txns},
            )

    writer = stream.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_merge_sink(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    checkpoint_dir: str,
    available_now: bool = True,
    delete_missing: bool = False,
    order_col: str | None = None,
    txn_app_id: str = "default",
) -> StreamingQuery:
    """Apply a change stream to a versioned table by MERGE — the CDC-apply
    path: each micro-batch's rows UPDATE matching keys and INSERT new
    ones (sources/versioned.merge_into), so the table converges on the
    latest value per key instead of accreting duplicates the way an
    append sink would.

    Replay guard: the (txn_app_id, batch_id) high-water-mark of
    stream_versioned_sink — a replayed batch of the same logical stream
    is a no-op, which makes the merge exactly-once; a different
    txn_app_id re-applies, which for a merge converges (last value per
    key) rather than duplicating.

    Within a batch, duplicate keys collapse to ONE row before merging.
    ``order_col`` names the change stream's ordering column (a CDC
    sequence number or event timestamp): the row with the greatest value
    wins. Without it the fallback is monotonically_increasing_id(), which
    only orders rows WITHIN an input partition — when one key's changes
    span partitions (multiple Kafka partitions / files per micro-batch)
    the survivor is arbitrary and a stale value can win, so pass
    ``order_col`` for any multi-partition source. The id remains the
    tie-breaker for equal ``order_col`` values.

    Cost note: merge commits an overwrite version, so each micro-batch
    rewrites the table — right for dimension-sized CDC targets; for
    fact-sized append-mostly streams use stream_versioned_sink or
    stream_upsert instead.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from synthea2omop_etl_spark.sources import versioned as V

    def apply(batch: DataFrame, batch_id: int) -> None:
        hwm, txns = _txn_state(V, table_path, txn_app_id)
        if hwm is not None and batch_id <= hwm:
            return
        if batch.isEmpty():
            return
        txns[txn_app_id] = batch_id
        order = [F.monotonically_increasing_id().desc()]
        if order_col is not None:
            order = [F.col(order_col).desc_nulls_last()] + order
        w = F.row_number().over(Window.partitionBy(*keys).orderBy(*order))
        deduped = (
            batch.withColumn("__rn", w).where(F.col("__rn") == 1).drop("__rn")
        )
        extra = {"batch_id": batch_id, "txn_app_id": txn_app_id,
                 "txns": txns}
        if not V.list_versions(table_path):
            V.commit_version(
                deduped, table_path, mode="overwrite", extra=extra
            )
            return
        V.merge_into(
            batch.sparkSession, table_path, deduped, keys,
            delete_missing=delete_missing, extra=extra,
        )

    writer = stream.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
