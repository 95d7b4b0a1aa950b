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
  ``_partition_rank``, the one kernel it shares with ``assign_global_rank``
  and the exact percentiles, for when its two branches share one range
  Exchange.

Both produce identical results; tests assert so.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from synthea2omop_etl_spark.operators.lineage import cut_lineage


def _partition_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str,
    group_cols: tuple[str, ...] = (),
    total_col: str | None = None,
) -> DataFrame:
    """Add ``rank_col`` = 1-based rank of each row by ``order_cols`` within
    its ``group_cols`` group (the whole frame when there are none): the one
    partition-offset rank kernel behind ``assign_dense_ids``,
    ``assign_global_rank`` and ``percentiles.percentile_exact_by_rank``.

    Range-partition by (groups, order), count rows per (partition, group),
    prefix-sum the counts with a window over that tiny summary (one row per
    partition and group — bounded, fully lazy: no driver collect, no eager
    job at plan-build time), then ``row_number`` within each
    (partition, group) plus its offset. ``total_col``, when set, adds the
    group's row count N to every row, summed by the same summary window and
    carried by the same broadcast. Ties in ``order_cols`` get arbitrary
    adjacent ranks; with a unique key rank == row_number == dense_rank.
    NULL groups are dropped by the equi-join to their offsets.

    The counts branch and the main branch share ONE range-shuffle Exchange
    (ReusedExchange) only when ``df`` is the order key alone, as in
    build_id_map. For a wider frame (with_row_ids) column pruning narrows
    the counts branch to the key, so it plans its own range Exchange and
    its own sampling job: two ``Exchange rangepartitioning`` nodes with
    different plan ids. The ranks stay correct only because both exchanges
    assign every row the same SPARK_PARTITION_ID()
    (test_with_row_ids_dense_on_wide_frame guards it); a rewrite must take
    the per-partition counts and the within-partition index from ONE
    materialization.
    """
    keys = ["__pid", *group_cols]
    part = df.repartitionByRange(
        *[F.col(c) for c in (*group_cols, *order_cols)]
    ).withColumn("__pid", F.spark_partition_id())
    counts = part.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cnt"))
    # Without groups the summary window partitions by pmod(__pid, 1) — a
    # constant-valued but non-foldable expression (a bare literal would be
    # optimized out of the spec): same single-partition execution over the
    # summary, but with a non-empty partition spec so WindowExec does not
    # emit its data-scale single-partition warning for what is a
    # summary-scale sort.
    w = Window.partitionBy(
        *(group_cols or [F.pmod(F.col("__pid"), F.lit(1))])
    ).orderBy("__pid")
    summary = [
        F.coalesce(
            F.sum("__cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("__offset")
    ]
    if total_col is not None:
        summary.append(
            F.sum("__cnt")
            .over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias(total_col)
        )
    offsets = counts.select(*keys, *summary)
    w_in = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    return (
        part.join(F.broadcast(offsets), keys)
        .withColumn(
            rank_col,
            (F.row_number().over(w_in) + F.col("__offset")).cast("long"),
        )
        .drop("__pid", "__offset")
    )


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
    ranked = _partition_rank(df, [order_by], id_col)
    if offset:
        ranked = ranked.withColumn(id_col, F.col(id_col) + F.lit(offset))
    return ranked


def assign_global_rank(
    df: DataFrame,
    order_by: list[str],
    rank_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """Global 1-based rank over a UNIQUE composite total order, scalably.

    The partition-offset rank (``_partition_rank``) over a composite
    ordering: no global single-task sort, so ranking analytics (ntile /
    percent_rank / cume_dist) built on the rank survive a 100× scale-up
    where a bare ``Window.orderBy`` would serialize on one task.

    ``order_by`` must be a unique composite key (ties would straddle rank
    semantics — with a unique key, rank == row_number == dense_rank).
    ``total_col``, when set, adds the total row count N to every row (via a
    broadcast of the same tiny per-partition summary), for rank-normalized
    statistics.
    """
    return _partition_rank(df, order_by, rank_col, total_col=total_col)


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
