"""Dense deterministic ID assignment without sequences (SURVEY.md §1.3, W2).

The reference assigns OMOP integer keys from Postgres sequences into mapping
tables (etl_pipeline/etl_patients.py:202-209; staging sql:10-13). Spark has
no distributed sequence; the engine offers two strategies:

- ``row_number`` — ``row_number().over(Window.orderBy(key))``. Exact, dense,
  deterministic, but the unpartitioned window is a single-task sort at the
  end: fine to ~10^8 rows, a bottleneck at 100 TB.
- ``partitioned`` — scalable variant: range-repartition by the key, count
  rows per partition, prefix-sum the counts with a one-task window over the
  tiny per-partition summary (one row per partition, fully lazy — no driver
  collect), then ``row_number`` within each partition plus the partition's
  offset. Deterministic (range partitioning + in-partition ordering is a
  total order), dense and fully parallel — this is the 100 TB path. See
  ``assign_dense_ids`` for when its two branches share one range Exchange.

Both produce identical results; tests assert so.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from synthea2omop_etl_spark.operators.lineage import cut_lineage


def assign_dense_ids(
    df: DataFrame,
    order_by: str,
    id_col: str = "id",
    offset: int = 0,
    strategy: str = "partitioned",
    materialize_input: bool = False,
) -> DataFrame:
    """Add ``id_col`` = dense 1-based rank of ``order_by`` (+ offset).

    ``order_by`` values must be unique (they are source UUIDs / natural keys
    in every reference use); determinism is guaranteed by total-ordering on
    that key.

    ``materialize_input`` lazily localCheckpoints ``df`` first. Range
    partitioning SAMPLES its child to compute the range bounds, and when
    the child is a broadcast-join-only pipeline (no upstream Exchange —
    every ETL fact transform: scan → cast-or-null typing → broadcast map
    joins) there is no materialized stage boundary for the sampler to
    read, so the whole scan+typing+join chain executes twice (r12,
    measured: 6 full source scans inside one drug_exposure write). The
    checkpoint makes the sample pass and the shuffle fill read one
    materialized copy — one source scan instead of two at every scale
    (guide §5: cut lineage when recompute is the expensive part).
    """
    if strategy == "row_number":
        w = Window.orderBy(F.col(order_by))
        return df.withColumn(id_col, F.row_number().over(w) + F.lit(offset))
    if strategy != "partitioned":
        raise ValueError(f"unknown strategy: {strategy}")
    if materialize_input:
        df = df.transform(cut_lineage)

    # Scale path: range partition by key → per-partition row_number + offset.
    # (The classic zipWithIndex two-pass, expressed FULLY LAZILY: the
    # per-partition counts and their prefix sum are a tiny window over one
    # row per partition — no driver collect(), no eager job at plan-build
    # time.) The counts branch and the main branch share ONE range-shuffle
    # Exchange (ReusedExchange) only when ``df`` is the order key alone,
    # as in build_id_map. For a wider frame (with_row_ids) column pruning
    # narrows the counts branch to the key, so it plans its own range
    # Exchange and its own sampling job: two ``Exchange rangepartitioning``
    # nodes with different plan ids. The ids stay correct only because
    # both exchanges assign every row the same SPARK_PARTITION_ID()
    # (test_with_row_ids_dense_on_wide_frame guards it); a rewrite must
    # take the per-partition counts and the within-partition index from
    # ONE materialization.
    part = df.repartitionByRange(F.col(order_by)).withColumn(
        "__pid", F.spark_partition_id()
    )
    counts = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # partitionBy(pmod(__pid, 1)) — a constant-valued but non-foldable
    # expression (a bare literal would be optimized out of the spec): same
    # single-partition execution over the tiny per-partition summary (one
    # row per partition — bounded by design), but with a non-empty
    # partition spec so WindowExec does not emit its data-scale
    # single-partition warning for what is a summary-scale sort.
    w_off = Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1))).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__offset"),
    )
    w_in = Window.partitionBy("__pid").orderBy(F.col(order_by))
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_col,
            (F.row_number().over(w_in) + F.col("__offset") + F.lit(offset)).cast(
                "long"
            ),
        )
        .drop("__pid", "__offset")
    )


def assign_global_rank(
    df: DataFrame,
    order_by: list[str],
    rank_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """Global 1-based rank over a UNIQUE composite total order, scalably.

    The same two-pass machinery as ``assign_dense_ids``'s partitioned
    strategy, generalized to a composite ordering: range-repartition by the
    order columns, per-partition ``row_number`` plus a lazily prefix-summed
    partition offset (a window over one row per partition — bounded, never
    the data). No global single-task sort, so ranking analytics
    (ntile / percent_rank / cume_dist) built on the rank survive a 100×
    scale-up where a bare ``Window.orderBy`` would serialize on one task.

    ``order_by`` must be a unique composite key (ties would straddle rank
    semantics — with a unique key, rank == row_number == dense_rank).
    ``total_col``, when set, adds the total row count N to every row (via a
    broadcast of the same tiny per-partition summary), for rank-normalized
    statistics.
    """
    cols = [F.col(c) for c in order_by]
    part = df.repartitionByRange(*cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    counts = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # non-empty partition spec over the summary rows — see assign_dense_ids
    w_off = Window.partitionBy(F.pmod(F.col("__pid"), F.lit(1))).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__offset"),
    )
    if total_col is not None:
        offsets = offsets.crossJoin(
            counts.agg(F.sum("__cnt").alias(total_col))
        )
    w_in = Window.partitionBy("__pid").orderBy(*cols)
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(
            rank_col,
            (F.row_number().over(w_in) + F.col("__offset")).cast("long"),
        )
        .drop("__pid", "__offset")
    )


def build_id_map(
    df: DataFrame,
    source_col: str,
    id_col: str,
    existing_map: DataFrame | None = None,
    carry_cols: list[str] | None = None,
    strategy: str = "partitioned",
) -> DataFrame:
    """Build/extend a source-UUID → dense-int mapping table.

    Mirrors ``INSERT INTO person_map SELECT …, nextval(seq) WHERE NOT
    EXISTS`` (etl_pipeline/etl_patients.py:202-209): keys already mapped keep
    their ids; new keys get ids starting above the existing max. ``carry_cols``
    lets the map carry extra attributes (visit_map carries person_id,
    python/enhanced_synthea_to_omop.py:935-944).
    """
    carry = carry_cols or []
    distinct_keys = (
        df.select(source_col, *carry).where(F.col(source_col).isNotNull()).distinct()
    )
    if existing_map is None:
        return assign_dense_ids(distinct_keys, source_col, id_col, strategy=strategy)

    new_keys = distinct_keys.join(
        existing_map.select(source_col), source_col, "left_anti"
    )
    max_id = existing_map.agg(F.max(id_col)).collect()[0][0] or 0
    new_map = assign_dense_ids(
        new_keys, source_col, id_col, offset=max_id, strategy=strategy
    )
    return existing_map.select(source_col, *carry, id_col).unionByName(
        new_map.select(source_col, *carry, id_col)
    )
