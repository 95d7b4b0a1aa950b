"""Dense deterministic ID assignment without sequences (SURVEY.md §1.3, W2).

The reference assigns OMOP integer keys from Postgres sequences into mapping
tables (etl_pipeline/etl_patients.py:202-209; staging sql:10-13). Spark has
no distributed sequence; W2 maps ``nextval`` to the 1-based rank of the key
plus the existing max. Every dense id comes from ONE sorted pass, and the
input's size picks the plan of that pass (``assign_dense_ids``):

- **at most AQE's coalescing floor** (``spark.sql.adaptive.coalescePartitions
  .minPartitionSize``, with AQE and coalescing on): AQE would coalesce any
  shuffle of this input into one partition anyway, so the input is sorted
  in one partition (``repartition(1).sortWithinPartitions(key)``) and a
  row's id is its ``monotonically_increasing_id()`` + offset + 1 — no
  sampler, no window, no lineage cut.
- **above it, or of unknown size**: ``_partition_rank``, the
  partition-offset kernel that dense ids share with ``assign_global_rank``
  and the exact percentiles — one range sort, one materialization of the
  sorted rows, counts per partition read from that materialization, a
  prefix sum over the tiny per-partition summary and a broadcast of the
  offsets. Fully parallel: this is the 100 TB path.

Both give each row of a unique key its ``row_number`` over the key; tests
compare each plan with a bare ``Window.orderBy`` ``row_number``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.lineage import cut_lineage

#: ``monotonically_increasing_id`` packs the partition index above the
#: row's index within its partition, which takes the low 33 bits.
_ROW_BITS = 33


def _below_coalescing_floor(df: DataFrame) -> bool:
    """Whether AQE would coalesce any shuffle of ``df`` into one partition:
    AQE and partition coalescing are on, and the leaves of the optimized
    plan sum to at most ``coalescePartitions.minPartitionSize`` (AQE never
    targets a coalesced partition smaller than that).

    The leaves, not the root estimate: a join multiplies its sides'
    estimates (to ~1e13 bytes over two fact scans), while the leaves bound
    what the plan can read. A leaf reporting ``spark.sql.defaultSizeInBytes``
    (a Python list's ``LogicalRDD``, for one) has unknown size, so the
    input is not known to be small."""
    spark = df.sparkSession
    sql_conf = spark._jsparkSession.sessionState().conf()
    if not (
        sql_conf.adaptiveExecutionEnabled()
        and sql_conf.coalesceShufflePartitionsEnabled()
    ):
        return False
    jvm = spark.sparkContext._jvm
    floor = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    unknown = sql_conf.defaultSizeInBytes()
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        size = int(str(leaves.apply(i).stats().sizeInBytes()))
        if size >= unknown:
            return False
        total += size
        if total > floor:
            return False
    return True


def _partition_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str,
    group_cols: tuple[str, ...] = (),
    total_col: str | None = None,
) -> DataFrame:
    """Add ``rank_col`` = 1-based rank of each row by ``order_cols`` within
    its ``group_cols`` group (the whole frame when there are none): the one
    partition-offset rank kernel behind ``assign_dense_ids`` (above the
    coalescing floor), ``assign_global_rank`` and
    ``percentiles.percentile_exact_by_rank``.

    One exchange and one materialization: sort by (groups, order) — the
    only range shuffle — stamp every row with
    ``monotonically_increasing_id()`` (its partition index above its index
    within the partition) and cut lineage there, so every reader of the
    stamped rows sees the same partitions and the same stamps. From the
    cut, per (partition, group): the row count and the group's first index
    in that partition; a prefix-sum window over that tiny summary (one row
    per partition and group, fully lazy: no driver collect) gives each
    (partition, group) the rows of its group in earlier partitions. The
    summary is broadcast back, and rank = index − first index + offset + 1.
    ``total_col``, when set, adds the group's row count N to every row,
    summed by the same window and carried by the same broadcast.

    Ties in ``order_cols`` get arbitrary adjacent ranks; with a unique key
    rank == row_number == dense_rank. NULL groups are dropped by the
    equi-join to their offsets. The cut runs the sort's sampler and
    shuffle when it is taken (``cut_lineage``); the stamping stage runs at
    the first action.
    """
    keys = ["__pid", *group_cols]
    part = (
        cut_lineage(
            df.orderBy(*group_cols, *order_cols).withColumn(
                "__mid", F.monotonically_increasing_id()
            )
        )
        .withColumn("__pid", F.shiftright("__mid", _ROW_BITS))
        .withColumn("__idx", F.col("__mid").bitwiseAND((1 << _ROW_BITS) - 1))
        .drop("__mid")
    )
    counts = part.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__cnt"), F.min("__idx").alias("__first")
    )
    # Without groups the summary window partitions by pmod(__pid, 1) — a
    # constant-valued but non-foldable expression (a bare literal would be
    # optimized out of the spec): same single-partition execution over the
    # summary, but with a non-empty partition spec so WindowExec does not
    # emit its data-scale single-partition warning for what is a
    # summary-scale sort.
    w = Window.partitionBy(
        *(group_cols or [F.pmod(F.col("__pid"), F.lit(1))])
    ).orderBy("__pid")
    before = F.coalesce(
        F.sum("__cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    summary = [(before - F.col("__first") + F.lit(1)).alias("__base")]
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
    return (
        part.join(F.broadcast(offsets), keys)
        .withColumn(rank_col, (F.col("__idx") + F.col("__base")).cast("long"))
        .drop("__pid", "__idx", "__base")
    )


def assign_dense_ids(
    df: DataFrame,
    order_by: str,
    id_col: str = "id",
    offset: int = 0,
) -> DataFrame:
    """Add ``id_col`` = dense 1-based rank of ``order_by`` (+ offset).

    ``order_by`` values must be unique (they are source UUIDs / natural keys
    in every reference use); determinism is guaranteed by total-ordering on
    that key.

    An input at most AQE's coalescing floor (``_below_coalescing_floor``)
    is sorted in one partition and numbered by
    ``monotonically_increasing_id()``: a single ordered pass, planned and
    run with the consumer's job. A larger input, or one of unknown size,
    takes ``_partition_rank``; its range sampler reads the input once
    more than the shuffle does, so a broadcast-join-only input (every ETL
    fact transform) executes twice there.
    """
    if _below_coalescing_floor(df):
        return df.repartition(1).sortWithinPartitions(order_by).withColumn(
            id_col, F.monotonically_increasing_id() + F.lit(offset + 1)
        )
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
        return assign_dense_ids(distinct_keys, source_col, id_col)

    new_keys = distinct_keys.join(
        existing_map.select(source_col), source_col, "left_anti"
    )
    max_id = existing_map.agg(F.max(id_col)).collect()[0][0] or 0
    new_map = assign_dense_ids(new_keys, source_col, id_col, offset=max_id)
    return existing_map.select(source_col, *carry, id_col).unionByName(
        new_map.select(source_col, *carry, id_col)
    )
