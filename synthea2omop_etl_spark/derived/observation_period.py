"""observation_period: min/max event date per person across all domains
(reference: etl_pipeline/etl_observation_periods.py:78-197;
sql/etl/create_observation_period_v2.sql:9-55).

UNION ALL of (person_id, date) from each domain table → groupBy min/max.
The reference's UNION-with-dedup is skipped deliberately: min/max over
duplicates is identical and cheaper (SURVEY.md §2.7 U1 note). Persons with
no events fall back to their birth date (etl_observation_periods.py:164).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.idmap import assign_dense_ids
from synthea2omop_etl_spark.schemas import TYPE_EHR


def observation_period(
    person: DataFrame,
    domain_dates: list[tuple[DataFrame, str, str | None]],
) -> DataFrame:
    """``domain_dates``: (df, start_date_col, end_date_col|None) per domain."""
    parts = []
    for df, start_col, end_col in domain_dates:
        parts.append(
            df.select(
                F.col("person_id"), F.to_date(F.col(start_col)).alias("d")
            )
        )
        if end_col:
            parts.append(
                df.select(
                    F.col("person_id"), F.to_date(F.col(end_col)).alias("d")
                )
            )
    events = parts[0]
    for p in parts[1:]:
        events = events.unionByName(p)
    events = events.where(F.col("d").isNotNull())

    span = events.groupBy("person_id").agg(
        F.min("d").alias("observation_period_start_date"),
        F.max("d").alias("observation_period_end_date"),
    )
    # Birth-date fallback for event-less persons (left join keeps them all).
    base = person.select(
        "person_id", F.to_date("birth_datetime").alias("birth_date")
    )
    joined = base.join(span, "person_id", "left").select(
        "person_id",
        F.coalesce(
            F.col("observation_period_start_date"), F.col("birth_date")
        ).alias("observation_period_start_date"),
        F.coalesce(
            F.col("observation_period_end_date"),
            F.col("birth_date"),
            F.current_date(),
        ).alias("observation_period_end_date"),
        F.lit(TYPE_EHR).alias("period_type_concept_id"),
    )
    return assign_dense_ids(joined, "person_id", "observation_period_id").select(
        "observation_period_id",
        "person_id",
        "observation_period_start_date",
        "observation_period_end_date",
        "period_type_concept_id",
    )
