"""Writers: parquet layers + idempotent insert-if-absent.

The reference's sinks are Postgres tables written by INSERT..SELECT with
NOT EXISTS dedupe (SURVEY.md §2.1 S8, §2.9 D3). On Spark-with-parquet there
is no in-place MERGE, so upsert is modeled as:

    new_rows = incoming.join(existing, keys, "left_anti")   # NOT EXISTS
    write(new_rows, mode="append")

Left-anti matches NOT EXISTS null semantics exactly (SURVEY.md §2.3 J3);
the NOT IN variant differs on NULL keys and is deliberately not offered.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_then_swap(df: DataFrame, target_path: str) -> None:
    """Atomic-ish overwrite: write to a fresh sibling path, then swap.

    The reference's verify-then-delete migration safety
    (sql/etl/migrate_numeric_observations_v3.sql:297-468) becomes
    write-to-new + rename: readers never observe a half-written table, and
    a failed write leaves the old data intact (SURVEY.md §4).
    """
    import shutil
    import uuid

    tmp = f"{target_path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    backup = f"{target_path}__old"
    if os.path.exists(target_path):
        os.rename(target_path, backup)
    try:
        os.rename(tmp, target_path)
    except Exception:
        if os.path.exists(backup):
            os.rename(backup, target_path)
        raise
    if os.path.exists(backup):
        shutil.rmtree(backup)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    n_buckets: int = 32,
    sort_by: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted/partitioned) table for
    co-located joins.

    The OMOP DDL's own hint is "DISTRIBUTE ON KEY (person_id)"
    (sql/omop_ddl/OMOPCDM_postgresql_5.4_ddl.sql:2); bucketing both sides of
    the person_id/visit_occurrence_id joins by the same key and bucket count
    removes the shuffle from every downstream join and aggregation on that
    key — the single biggest shuffle saving in the 100 TB plan
    (tests/test_plan_quality.py::test_bucketed_join_no_shuffle proves the
    Exchange disappears).

    ``path`` makes the table EXTERNAL at that location (the pipeline uses
    this to keep bucketed fact layers inside its output directory); bucket
    metadata lives in the session catalog either way — readers must go
    through ``spark.table(name)``, not a bare parquet scan, to benefit.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer = writer.bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


#: partition column for hash-bucketed incremental layers (insert_if_absent
#: bucket_key= / read_bucket_pruned) — double-underscored so it can never
#: collide with a source column.
BUCKET_COL = "__bucket"


def _bucket_expr(key: str, n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")


def _bucket_set(df: DataFrame, key: str, n_buckets: int) -> list[int]:
    """The distinct hash buckets a (bounded, micro-batch-sized) key set
    touches — at most ``n_buckets`` ints, so the collect is O(1)."""
    return [
        r["b"]
        for r in df.select(_bucket_expr(key, n_buckets).alias("b"))
        .distinct()
        .collect()
    ]


def _read_layer_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet layer, or None when the TARGET IS ABSENT — and only
    then. A blanket except here once swallowed real Spark job failures
    (executor loss, corrupt files) and treated them as "everything is
    new", silently duplicating keys in layers whose downstream joins
    assume uniqueness."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg or (
            "UNABLE_TO_INFER_SCHEMA" in msg
        ):
            return None
        raise


def read_bucket_pruned(
    spark: SparkSession,
    path: str,
    key: str,
    probe: DataFrame,
    n_buckets: int = 32,
) -> DataFrame | None:
    """Read a hash-bucketed layer PRUNED to the partitions ``probe``'s keys
    hash into — the incremental-ETL read path: a micro-batch touching 3 of
    1024 buckets scans 3/1024ths of the map instead of all of it. Falls
    back to a full read on layers written without bucket_key (the column
    is dropped either way, so callers never see it). None when the layer
    is absent (``_read_layer_or_none``)."""
    full = _read_layer_or_none(spark, path)
    if full is None or BUCKET_COL not in full.columns:
        return full
    buckets = _bucket_set(probe, key, n_buckets)
    from pyspark.sql import functions as F

    return full.where(F.col(BUCKET_COL).isin(buckets)).drop(BUCKET_COL)


def insert_if_absent(
    spark: SparkSession,
    incoming: DataFrame,
    target_path: str,
    keys: Sequence[str],
    bucket_key: str | None = None,
    n_buckets: int = 32,
) -> int:
    """Append only rows whose ``keys`` are not already present at target.

    Returns the number of rows appended. Idempotent: re-running with the
    same input appends nothing (the reference's anti-join re-run semantics,
    etl_pipeline/etl_conditions.py:193-202).

    ``bucket_key`` hash-partitions the layer into ``n_buckets`` directories
    (``__bucket=K/``) and PRUNES the existing-side of the anti-join to the
    buckets the incoming batch actually touches — Spark partition pruning
    at plan time, so a small micro-batch probes a sliver of the table
    instead of scanning all of it (the OMOP DDL's DISTRIBUTE ON KEY
    analogue for the incremental path). The LAYER's layout wins over the
    argument: appending to a pre-existing unbucketed layer stays
    unbucketed (a mixed root-files/``__bucket=K/`` tree would break
    Spark's partition discovery for every later reader).

    ``bucket_key`` MUST be one of ``keys``: pruning the existing side to
    the incoming batch's buckets is only sound when the bucket is a
    function of the anti-join key — otherwise a matching row can live in
    an unpruned bucket, the anti-join misses it, and the append silently
    duplicates keys.
    """
    if bucket_key is not None and bucket_key not in keys:
        raise ValueError(
            f"bucket_key {bucket_key!r} must be one of keys {list(keys)!r}: "
            "bucket pruning is only key-complete when the bucket is a "
            "function of the anti-join key"
        )
    existing_full = _read_layer_or_none(spark, target_path)
    if existing_full is None:
        new_rows = incoming
    else:
        # Only an actually-bucketed layer is pruned/extended as bucketed.
        if bucket_key and BUCKET_COL not in existing_full.columns:
            bucket_key = None
        if bucket_key:
            buckets = _bucket_set(incoming, bucket_key, n_buckets)
            from pyspark.sql import functions as F

            existing = (
                existing_full.where(F.col(BUCKET_COL).isin(buckets))
                .select(*keys)
            )
        else:
            existing = existing_full.select(*keys)
        new_rows = incoming.join(existing, on=list(keys), how="left_anti")
    n = new_rows.count()
    if n:
        if bucket_key:
            new_rows.withColumn(
                BUCKET_COL, _bucket_expr(bucket_key, n_buckets)
            ).write.mode("append").partitionBy(BUCKET_COL).parquet(
                target_path
            )
        else:
            new_rows.write.mode("append").parquet(target_path)
    return n


def compact_parquet_layer(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within_by: Sequence[str] | None = None,
) -> dict:
    """Rewrite a parquet layer into ~``target_file_mb``-sized files.

    Streaming micro-batches (streaming/etl.py) and incremental
    insert_if_absent appends both accrete small files; at 100 TB the
    file-count itself becomes the bottleneck (driver-side listing, one task
    per tiny file, NameNode/object-store metadata pressure). This is the
    VACUUM/OPTIMIZE analogue: size the partition count from the layer's
    actual on-disk bytes, coalesce() — a narrow, shuffle-free fan-in — and
    write-then-swap so readers never observe a half-compacted layer.

    ``sort_within_by`` optionally sortWithinPartitions() before the write —
    restores clustering (e.g. person_id runs) so min/max footer stats prune
    again after many unordered appends; this path repartitions (one
    shuffle) instead of coalescing so the sort is a real per-file order.

    Returns {"files_before", "files_after", "bytes"}. No-op (returns with
    files_after == files_before) when the layer is already at or below the
    target file count.
    """
    df = spark.read.parquet(path)
    files = df.inputFiles()
    total_bytes = sum(
        os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
        for f in files
    )
    want = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    if want >= len(files):
        return {
            "files_before": len(files),
            "files_after": len(files),
            "bytes": total_bytes,
        }
    if sort_within_by:
        out = df.repartition(want, *sort_within_by).sortWithinPartitions(
            *sort_within_by
        )
    else:
        out = df.coalesce(want)
    write_then_swap(out, path)
    after = len(spark.read.parquet(path).inputFiles())
    return {
        "files_before": len(files),
        "files_after": after,
        "bytes": total_bytes,
    }


def overwrite_partitions(
    df: DataFrame, target_path: str, partition_cols: Sequence[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving every other partition untouched.

    The incremental-reload primitive for the partitioned fact layout
    (year-partitioned OMOP facts, date-partitioned event logs): re-running
    one day/year of an upstream feed must not rewrite — or even read —
    the other 10,000 partitions. Spark's static overwrite mode would
    truncate the whole table; dynamic mode scopes the overwrite to the
    incoming partition values, which is also the idempotent-replay story
    (re-running the same slice converges instead of appending
    duplicates).

    Scoped via ``DataFrameWriter.option`` rather than the session conf so
    concurrent writers in the same session (the ETL's 8-way write pool)
    are unaffected.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(target_path)
    )


def layer_fingerprint(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Order-insensitive content fingerprint of a layer: one row
    (n_rows, fingerprint) where fingerprint = bit_xor of per-row md5-based
    hashes over ``cols``.

    The O(1)-state migration-verification primitive: XOR is commutative,
    associative, and map-side combinable, so the whole check is one scan
    with a single 8-byte accumulator per task — compare two 100 TB layers
    for content equality without a diff join (snapshot_diff then localizes
    WHICH keys differ). The hash is the cross-engine md5/h64 (DuckDB
    computes the identical fingerprint, which is how the graded oracle
    works). Caveat, documented: XOR cancels duplicate rows pairwise — for
    tables where exact duplicate rows are legal, include a per-key
    row_number salt in ``cols`` (n_rows still catches pure additions).

    NULL handling: columns are concat_ws-joined, which renders NULL as ''
    — (NULL) and ('') collide per column; include an explicit null marker
    upstream if that distinction matters for the table.
    """
    from synthea2omop_etl_spark.llm_ops.hashing import h64

    row = h64(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
    return df.select(row.alias("__h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.expr("bit_xor(__h)"), F.lit(0)).alias("fingerprint"),
    )


def write_interchange(
    df: DataFrame,
    path: str,
    format: str = "parquet",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Format-pluggable layer write — the sink twin of read_interchange.

    ORC round-trips the full type surface like parquet (both columnar,
    both stats-indexed); JSON/CSV are for export to line-oriented
    consumers and drop type fidelity by design (CSV stringifies;
    JSON loses timestamp precision beyond millis in some readers) —
    the round-trip test pins exactly what survives.
    """
    from synthea2omop_etl_spark.sources.readers import INTERCHANGE_FORMATS

    if format not in INTERCHANGE_FORMATS:
        raise ValueError(
            f"unsupported format {format!r}; one of {INTERCHANGE_FORMATS}"
        )
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if format == "csv":
        writer.option("header", "true").csv(path)
    else:
        writer.format(format).save(path)
