"""Typed Synthea event sources → the six OMOP event facts.

Each transform is its source projection (person/visit map joins, then the
reference's column semantics) plus one ``event_fact`` call, which adds the
concept id, the dense primary key and the OMOP column order that
``schemas.OMOP_FACTS`` names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.domains._common import join_person_visit, with_row_ids
from synthea2omop_etl_spark.functions import truncate_str
from synthea2omop_etl_spark.operators.split import route_numeric
from synthea2omop_etl_spark.schemas import (
    IMMUNIZATION_DRUG_TYPE,
    OMOP_FACTS,
    TYPE_EHR,
    OmopFact,
)


def source_keys() -> list:
    """The source natural-key columns ``event_fact`` orders ids by."""
    return [F.col("PATIENT").alias("_patient"), F.col("ENCOUNTER").alias("_encounter")]


def event_fact(
    rows: DataFrame,
    fact: OmopFact,
    concept_map: DataFrame | None,
    extra_key: tuple[str, ...] = (),
) -> DataFrame:
    """The tail of every event-fact transform, over its projection
    (``person_id``, the fact's columns, then ``source_keys()``).

    1. ``fact.concept`` from the source-code → standard-concept map
       (operators.concepts; a forced broadcast, as the map is bounded by
       the vocabulary, not the corpus), unmapped or absent map → 0
       (reference mapping step 9, etl_pipeline/etl_concept_mapping.py:
       136-242);
    2. ``fact.pk`` dense over (patient, encounter, source value, start
       date, *extra_key);
    3. OMOP column order: pk, person_id, concept, then the projection's.
    """
    rest = [c for c in rows.columns if c not in ("person_id", "_patient", "_encounter")]
    if concept_map is not None:
        rows = rows.join(
            F.broadcast(concept_map.select(
                F.col("source_code"), F.col("target_concept_id").alias(fact.concept)
            )),
            rows[fact.source] == F.col("source_code"),
            "left",
        ).drop("source_code")
        concept = F.coalesce(F.col(fact.concept), F.lit(0))
    else:
        concept = F.lit(0)
    rows = with_row_ids(
        rows.withColumn(fact.concept, concept),
        fact.pk,
        ["_patient", "_encounter", fact.source, fact.start, *extra_key],
    ).drop("_patient", "_encounter")
    return rows.select(fact.pk, "person_id", fact.concept, *rest)


def condition_occurrence(
    conditions_typed: DataFrame,
    person_map: DataFrame,
    visit_map: DataFrame,
    concept_map: DataFrame | None = None,
) -> DataFrame:
    """Reference: etl_pipeline/etl_conditions.py:154-203. NULL-safe stop
    date (P7: empty → NULL), SNOMED code → source_value, EHR type."""
    c = join_person_visit(conditions_typed, person_map, visit_map)
    rows = c.select(
        F.col("person_id"),
        F.to_date("START").alias("condition_start_date"),
        F.to_date("STOP").alias("condition_end_date"),
        F.lit(TYPE_EHR).alias("condition_type_concept_id"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("condition_source_value"),
        *source_keys(),
    )
    return event_fact(rows, OMOP_FACTS["condition_occurrence"], concept_map)


def procedure_occurrence(
    procedures_typed: DataFrame,
    person_map: DataFrame,
    visit_map: DataFrame,
    concept_map: DataFrame | None = None,
) -> DataFrame:
    """Reference: etl_pipeline/etl_procedures.py:156-203. Single event
    date, quantity = 1."""
    p = join_person_visit(procedures_typed, person_map, visit_map)
    rows = p.select(
        F.col("person_id"),
        F.to_date("DATE").alias("procedure_date"),
        F.col("DATE").alias("procedure_datetime"),
        F.lit(TYPE_EHR).alias("procedure_type_concept_id"),
        F.lit(1).alias("quantity"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("procedure_source_value"),
        *source_keys(),
    )
    return event_fact(rows, OMOP_FACTS["procedure_occurrence"], concept_map)


def device_exposure(
    devices_typed: DataFrame,
    person_map: DataFrame,
    visit_map: DataFrame,
    concept_map: DataFrame | None = None,
) -> DataFrame:
    """Reference: sql/etl/synthea-omop-ETL.sql:242-296. UDI carried
    through."""
    d = join_person_visit(devices_typed, person_map, visit_map)
    rows = d.select(
        F.col("person_id"),
        F.to_date("START").alias("device_exposure_start_date"),
        F.to_date("STOP").alias("device_exposure_end_date"),
        F.lit(TYPE_EHR).alias("device_type_concept_id"),
        F.col("UDI").alias("unique_device_id"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("device_source_value"),
        *source_keys(),
    )
    return event_fact(rows, OMOP_FACTS["device_exposure"], concept_map)


def _medication_rows(medications_typed, person_map, visit_map) -> DataFrame:
    # etl_pipeline/etl_medications.py:166-232: refills = DISPENSES - 1
    # (missing → 0); days_supply = datediff(STOP, START); quantity 1; end
    # date falls back to start; RxNorm code → source_value.
    m = join_person_visit(medications_typed, person_map, visit_map)
    return m.select(
        F.col("person_id"),
        F.to_date("START").alias("drug_exposure_start_date"),
        F.coalesce(F.to_date("STOP"), F.to_date("START")).alias(
            "drug_exposure_end_date"
        ),
        F.lit(TYPE_EHR).alias("drug_type_concept_id"),
        (F.coalesce(F.col("DISPENSES"), F.lit(1)) - 1).alias("refills"),
        F.lit(1.0).alias("quantity"),
        F.datediff(
            F.coalesce(F.to_date("STOP"), F.to_date("START")),
            F.to_date("START"),
        ).alias("days_supply"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("drug_source_value"),
        *source_keys(),
    )


def _immunization_rows(immunizations_typed, person_map, visit_map) -> DataFrame:
    # sql/etl/synthea-omop-ETL.sql:436-501: single-date exposure (start =
    # end = DATE), refills/quantity/days_supply NULL, CVX code →
    # source_value, drug_type 38000177.
    i = join_person_visit(immunizations_typed, person_map, visit_map)
    return i.select(
        F.col("person_id"),
        F.to_date("DATE").alias("drug_exposure_start_date"),
        F.to_date("DATE").alias("drug_exposure_end_date"),
        F.lit(IMMUNIZATION_DRUG_TYPE).alias("drug_type_concept_id"),
        F.lit(None).cast("int").alias("refills"),
        F.lit(None).cast("double").alias("quantity"),
        F.lit(None).cast("int").alias("days_supply"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("drug_source_value"),
        *source_keys(),
    )


def drug_exposure(
    medications_typed: DataFrame | None,
    person_map: DataFrame,
    visit_map: DataFrame,
    concept_map: DataFrame | None = None,
    immunizations_typed: DataFrame | None = None,
) -> DataFrame:
    """medications ∪ immunizations → drug_exposure. Either source may be
    absent (a partial Synthea export): an immunizations-only input still
    produces its drug_exposure rows.

    Ids are assigned once over the union, so drug_exposure_id is dense
    across sources (the reference draws both inserts from the same
    staging.drug_exposure_seq).
    """
    if medications_typed is None and immunizations_typed is None:
        raise ValueError(
            "drug_exposure needs medications and/or immunizations input"
        )
    out = (
        _medication_rows(medications_typed, person_map, visit_map)
        if medications_typed is not None
        else None
    )
    if immunizations_typed is not None:
        imm = _immunization_rows(immunizations_typed, person_map, visit_map)
        if out is not None:
            # NOT-EXISTS guard (synthea-omop-ETL.sql:495-501): drop
            # immunization rows that duplicate a medication exposure on
            # (person_id, start_date, source_value) — CVX and RxNorm code
            # spaces are disjoint, so this never drops a real immunization.
            dedup_key = [
                "person_id", "drug_exposure_start_date", "drug_source_value"
            ]
            imm = imm.join(out.select(*dedup_key), dedup_key, "left_anti")
            out = out.unionByName(imm)
        else:
            out = imm
    return event_fact(out, OMOP_FACTS["drug_exposure"], concept_map)


def measurement_and_observation(
    observations_typed: DataFrame,
    person_map: DataFrame,
    visit_map: DataFrame,
    concept_map: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (omop.measurement, omop.observation) — the routing
    workhorse (reference: python/enhanced_synthea_to_omop.py:1950-2071).

    Numeric VALUEs (declared regex: signed sci-notation, SURVEY.md §7.3) →
    measurement with value_as_number; everything else → observation with
    value_as_string. The reference's LOINC-whitelist and category routings
    (etl_pipeline/etl_observations.py:33-96, sql/etl/synthea-omop-ETL.sql:
    367-368,425) are not reproduced (operators/split.py).

    The post-hoc "non-numeric transfer" (sql/etl/
    transfer_non_numeric_to_observation.sql) is a no-op here by
    construction: routing is done up front with the same predicate.

    One LOINC ``concept_map`` serves both outputs.
    """
    o = join_person_visit(observations_typed, person_map, visit_map)
    meas_rows, obs_rows = route_numeric(o, "VALUE")
    measurement = meas_rows.select(
        F.col("person_id"),
        F.to_date("DATE").alias("measurement_date"),
        F.col("DATE").alias("measurement_datetime"),
        F.lit(TYPE_EHR).alias("measurement_type_concept_id"),
        F.col("VALUE").cast("double").alias("value_as_number"),
        truncate_str(F.col("UNITS"), 50).alias("unit_source_value"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("measurement_source_value"),
        truncate_str(F.col("VALUE"), 50).alias("value_source_value"),
        *source_keys(),
    )
    observation = obs_rows.select(
        F.col("person_id"),
        F.to_date("DATE").alias("observation_date"),
        F.col("DATE").alias("observation_datetime"),
        F.lit(TYPE_EHR).alias("observation_type_concept_id"),
        truncate_str(F.col("VALUE"), 60).alias("value_as_string"),
        F.col("visit_occurrence_id"),
        F.col("CODE").alias("observation_source_value"),
        *source_keys(),
    )
    return (
        event_fact(measurement, OMOP_FACTS["measurement"], concept_map,
                   ("value_source_value",)),
        event_fact(observation, OMOP_FACTS["observation"], concept_map,
                   ("value_as_string",)),
    )
