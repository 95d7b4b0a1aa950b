"""patients → omop.person (reference: etl_pipeline/etl_patients.py:217-273;
sql/etl/transform_person.sql:3-47). The reference's lookup-table variant
(python/enhanced_synthea_to_omop.py:584-633, 786-859) is not reproduced:
nothing in the pipeline chose it, and its seeds encode the CASE arms'
mapping except on race, where they map 'other' (not 'hawaiian') to 8522.

Semantics reproduced:
- gender/race/ethnicity → fixed concept ids via CASE (unmapped → 0);
  gender matching is case-insensitive with M/F/MALE/FEMALE variants
  (the lookup variant's seed rows, enhanced_synthea_to_omop.py:586-596);
- birth parts via EXTRACT(YEAR/MONTH/DAY);
- person_id from the person_map (dense ids over source UUID, §1.3);
- rows with NULL birthdate are kept (reference inserts them; validation
  flags them) but rows with an unmappable patient UUID are impossible by
  construction (map is built from the same table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.schemas import (
    ETHNICITY_CONCEPTS,
    GENDER_CONCEPTS,
    RACE_CONCEPTS,
)


def _case_map(col: str, mapping: dict[str, int]):
    c = F.lower(F.col(col))
    expr = None
    for k, v in mapping.items():
        cond = c == k.lower()
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(0)


def person(
    patients_typed: DataFrame,
    person_map: DataFrame,
    locations: DataFrame | None = None,
) -> DataFrame:
    """Build omop.person. ``person_map``: (patient_uuid, person_id).

    ``locations`` (the omop_location dim, derived/location.py) fuses the
    location_id lookup into this transform's single source scan: the
    address key is computed inline and the geography-bounded dim joins
    BROADCAST — one pass over patients instead of the old
    build-then-attach second scan (the r6 etl_rows_per_sec regression).
    """
    gender = {**GENDER_CONCEPTS, "male": 8507, "female": 8532}
    p = patients_typed.join(
        person_map,
        patients_typed["Id"] == person_map["patient_uuid"],
        "inner",
    )
    extra = []
    if locations is not None:
        from synthea2omop_etl_spark.derived.location import (
            keyed_locations,
            source_address_key,
        )

        key = source_address_key(patients_typed)
        if key is not None:
            loc_keyed = keyed_locations(locations)
            p = p.join(
                loc_keyed, key == loc_keyed["__key"], "left"
            ).drop("__key")
            extra = [F.col("location_id").cast("long").alias("location_id")]
        else:
            extra = [F.lit(None).cast("long").alias("location_id")]
    return p.select(
        F.col("person_id"),
        _case_map("GENDER", gender).alias("gender_concept_id"),
        F.year("BIRTHDATE").alias("year_of_birth"),
        F.month("BIRTHDATE").alias("month_of_birth"),
        F.dayofmonth("BIRTHDATE").alias("day_of_birth"),
        F.col("BIRTHDATE").cast("timestamp").alias("birth_datetime"),
        _case_map("RACE", RACE_CONCEPTS).alias("race_concept_id"),
        _case_map("ETHNICITY", ETHNICITY_CONCEPTS).alias("ethnicity_concept_id"),
        F.col("Id").alias("person_source_value"),
        F.col("GENDER").alias("gender_source_value"),
        F.col("RACE").alias("race_source_value"),
        F.col("ETHNICITY").alias("ethnicity_source_value"),
        *extra,
    )

