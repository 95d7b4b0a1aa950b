"""Achilles-lite: the characterization analytics surface the reference gets
from OHDSI Achilles + query_achilles_results.sh (SURVEY.md §2.13) beyond
the default catalog (analytics/achilles_catalog.py, which owns the record
counts, concept distributions, age-at-first-observation and visit-duration
analyses):
- arbitrary SQL passthrough (the backend /api/db/query equivalent), table
  inventory and paging (/api/db/tables, /api/db/data)
- records-per-person and monthly-trend shapes, and the drug_strength
  ingredient rollup

Everything is groupBy/agg/join/orderBy/limit + percentile over OMOP
DataFrames — no custom execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_sql(
    spark: SparkSession, sql: str, tables: dict[str, DataFrame]
) -> DataFrame:
    """Arbitrary SQL passthrough over registered OMOP views — the
    reference's `custom <sql>` / /api/db/query endpoint
    (query_achilles_results.sh:241-247; backend/src/index.js:148-171)."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return spark.sql(sql)


def list_tables(tables: dict[str, DataFrame]) -> DataFrame:
    """Table inventory — the /api/db/tables endpoint
    (backend/src/index.js:88-105), enriched with row/column counts:
    (table_name, n_rows, n_columns). One count job per table; the union is
    plan glue over single-row aggregates."""
    if not tables:
        raise ValueError(
            "no tables to list — expected a non-empty {name: DataFrame} "
            "inventory (is the --omop directory missing omop_* outputs?)"
        )
    parts = [
        df.agg(
            F.lit(name).alias("table_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.lit(len(df.columns)).alias("n_columns"),
        )
        for name, df in sorted(tables.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_page(
    df: DataFrame,
    limit: int = 10,
    offset: int = 0,
    order_by: list[str] | None = None,
) -> DataFrame:
    """One deterministic page of a table — the /api/db/data endpoint
    (backend/src/index.js:107-146: table + limit + offset).

    Pages are ordered (default: every column, so identical calls return
    identical pages — LIMIT without ORDER BY is nondeterministic under
    parallel scan). This is a UI display path: offset pagination re-sorts
    per call, fine for browsing thousands of rows, wrong for bulk export —
    bulk readers should scan the parquet layer directly instead.
    """
    if limit < 0 or offset < 0:
        raise ValueError("limit and offset must be non-negative")
    cols = order_by or df.columns
    return df.orderBy(*cols).offset(offset).limit(limit)


# ---------------------------------------------------------------------------
# Default-catalog breadth: the reference runs OHDSI Achilles with
# defaultAnalysesOnly=true (achilles_config.json, run_achilles.sh:202-203),
# whose core shapes include records-per-person percentile distributions
# (105/113/203/…), monthly trend series (x02: 202/402/602/702/802), and
# drug-era rollups that consume drug_strength. All are one groupBy/agg (+
# an optional broadcast dim join) — map-side-combinable single-shuffle
# plans that hold at 100 TB.
# ---------------------------------------------------------------------------


def records_per_person_distribution(
    df: DataFrame, person_col: str = "person_id", mode: str = "exact"
) -> DataFrame:
    """Percentile distribution of records-per-person for a domain table
    (the Achilles *_dist analyses, e.g. 105/113/203): two aggregates —
    count per person (shuffle on person_id), then one global percentile
    row over the per-person counts. ``mode="approx"`` swaps the sort-based
    percentile for the Greenwald-Khanna sketch (the 100 TB path)."""
    per_person = df.groupBy(person_col).agg(F.count(F.lit(1)).alias("n"))
    if mode == "exact":
        pct = [
            F.expr(f"percentile(n, {q})").alias(a)
            for q, a in ((0.10, "p10"), (0.25, "p25"), (0.50, "median"),
                         (0.75, "p75"), (0.90, "p90"))
        ]
    elif mode == "approx":
        pct = [
            F.percentile_approx("n", q, 10_000).alias(a)
            for q, a in ((0.10, "p10"), (0.25, "p25"), (0.50, "median"),
                         (0.75, "p75"), (0.90, "p90"))
        ]
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    return per_person.agg(
        F.count(F.lit(1)).alias("n_persons"),
        F.min("n").alias("min_n"),
        *pct,
        F.max("n").alias("max_n"),
    )


def monthly_trend(df: DataFrame, date_col: str) -> DataFrame:
    """Records per calendar month (the Achilles x02 trend series):
    (year_month yyyy-MM, n). Single map-side-combinable aggregate."""
    return (
        df.select(F.date_format(F.col(date_col), "yyyy-MM").alias("year_month"))
        .where(F.col("year_month").isNotNull())
        .groupBy("year_month")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def drug_strength_rollup(
    drug_exposure: DataFrame, drug_strength: DataFrame
) -> DataFrame:
    """Drug-era-style ingredient rollup consuming drug_strength (loaded by
    the reference's enhanced_vocabulary_loader.py:538-547 and consumed by
    Achilles' drug-era analyses): per ingredient_concept_id, exposure
    count, total exposure days, and amount-weighted exposure
    (quantity × amount_value).

    drug_strength is a vocabulary dimension (small vs 100 TB facts) —
    broadcast; the only shuffle is the final groupBy ingredient."""
    strength = drug_strength.select(
        "drug_concept_id",
        "ingredient_concept_id",
        F.coalesce(F.col("amount_value"), F.lit(0.0)).alias("amount_value"),
    )
    exp = drug_exposure.select(
        "drug_concept_id",
        F.coalesce(F.col("quantity"), F.lit(1.0)).alias("quantity"),
        (
            F.datediff("drug_exposure_end_date", "drug_exposure_start_date")
            + F.lit(1)
        ).alias("exposure_days"),
    )
    return (
        exp.join(F.broadcast(strength), "drug_concept_id")
        .groupBy("ingredient_concept_id")
        .agg(
            F.count(F.lit(1)).alias("n_exposures"),
            F.sum("exposure_days").alias("total_exposure_days"),
            F.round(F.sum(F.col("quantity") * F.col("amount_value")), 2).alias(
                "weighted_amount"
            ),
        )
    )
