"""Typing specs for the Synthea raw layer and OMOP fixed concept ids.

The raw ingest layer is all-string (CSV, header-derived — SURVEY.md §1.2);
``TYPING_SPECS`` drives operators.typing.apply_typing to produce the typed
layer with cast-or-null semantics, covering all 19 tables of the reference
(sql/synthea_typing/synthea-typedtables-transformation.sql:8-889): regex
guards for timestamps/numerics/UUIDs and enum-set filters ("enum" dtype)
for Postgres-ENUM columns.

Fixed concept ids from the reference's config/CASE expressions
(etl_pipeline/etl_patients.py:240-258; sql/etl/transform_visit_occurrence_v2
.sql:29-47; sql/etl/transform_cost.sql:35-36; FIXTURES.md §7).
"""

from __future__ import annotations

from typing import NamedTuple

from synthea2omop_etl_spark.operators.typing import (
    SIGNED_NUMERIC_RE,
    TIMESTAMP_RE,
    UNSIGNED_INT_RE,
    UNSIGNED_NUMERIC_RE,
    UUID_RE,
)

# col -> (dtype, guard regex or None for the dtype default)
TYPING_SPECS: dict[str, dict[str, tuple[str, str | None]]] = {
    "patients": {
        "Id": ("string", None),  # UUID shape validated separately
        "BIRTHDATE": ("date", TIMESTAMP_RE),
        "DEATHDATE": ("date", TIMESTAMP_RE),
        "LAT": ("double", None),
        "LON": ("double", None),
        "HEALTHCARE_EXPENSES": ("double", UNSIGNED_NUMERIC_RE),
        "HEALTHCARE_COVERAGE": ("double", UNSIGNED_NUMERIC_RE),
        "INCOME": ("double", UNSIGNED_NUMERIC_RE),
    },
    "encounters": {
        "START": ("timestamp", TIMESTAMP_RE),
        "STOP": ("timestamp", TIMESTAMP_RE),
        "BASE_ENCOUNTER_COST": ("double", None),
        "TOTAL_CLAIM_COST": ("double", None),
        "PAYER_COVERAGE": ("double", None),
    },
    "conditions": {
        "START": ("date", TIMESTAMP_RE),
        "STOP": ("date", TIMESTAMP_RE),
    },
    "medications": {
        "START": ("timestamp", TIMESTAMP_RE),
        "STOP": ("timestamp", TIMESTAMP_RE),
        "BASE_COST": ("double", None),
        "PAYER_COVERAGE": ("double", None),
        "TOTALCOST": ("double", None),
        "DISPENSES": ("int", None),
    },
    "procedures": {
        "DATE": ("timestamp", TIMESTAMP_RE),
        "BASE_COST": ("double", None),
    },
    "observations": {
        "DATE": ("timestamp", TIMESTAMP_RE),
    },
    "devices": {
        "START": ("timestamp", TIMESTAMP_RE),
        "STOP": ("timestamp", TIMESTAMP_RE),
    },
    "patient_expenses": {
        "YEAR": ("int", None),
        "HEALTHCARE_EXPENSES": ("double", None),
        "INSURANCE_COSTS": ("double", None),
        "COVERED_COSTS": ("double", None),
    },
    # --- the remaining 11 reference tables (typing sql:8-889) --------------
    "allergies": {  # typing sql:8-61
        "START": ("timestamp", TIMESTAMP_RE),
        "STOP": ("timestamp", TIMESTAMP_RE),
        "PATIENT": ("string", UUID_RE),
        "ENCOUNTER": ("string", UUID_RE),
        "TYPE": ("enum", ("allergy", "intolerance")),
        "CATEGORY": ("enum", ("environment", "medication", "food")),
        "SEVERITY1": ("enum", ("MILD", "MODERATE", "SEVERE")),
        "SEVERITY2": ("enum", ("MILD", "MODERATE", "SEVERE")),
    },
    "careplans": {  # typing sql:69-96
        "Id": ("string", UUID_RE),
        "START": ("timestamp", TIMESTAMP_RE),
        "STOP": ("timestamp", TIMESTAMP_RE),
        "PATIENT": ("string", UUID_RE),
        "ENCOUNTER": ("string", UUID_RE),
    },
    "claims": {  # typing sql:103-192
        "Id": ("string", UUID_RE),
        "PATIENTID": ("string", UUID_RE),
        "PROVIDERID": ("string", UUID_RE),
        "PRIMARYPATIENTINSURANCEID": ("string", UUID_RE),
        "SECONDARYPATIENTINSURANCEID": ("string", UUID_RE),
        "REFERRINGPROVIDERID": ("string", UUID_RE),
        "APPOINTMENTID": ("string", UUID_RE),
        "CURRENTILLNESSDATE": ("timestamp", TIMESTAMP_RE),
        "SERVICEDATE": ("timestamp", TIMESTAMP_RE),
        "SUPERVISINGPROVIDERID": ("string", UUID_RE),
        "STATUS1": ("enum", ("OPEN", "CLOSED", "PENDING", "DENIED")),
        "STATUS2": ("enum", ("OPEN", "CLOSED", "PENDING", "DENIED")),
        "STATUSP": ("enum", ("OPEN", "CLOSED", "PENDING", "DENIED")),
        "OUTSTANDING1": ("double", UNSIGNED_NUMERIC_RE),
        "OUTSTANDING2": ("double", UNSIGNED_NUMERIC_RE),
        "OUTSTANDINGP": ("double", UNSIGNED_NUMERIC_RE),
        "LASTBILLEDDATE1": ("timestamp", TIMESTAMP_RE),
        "LASTBILLEDDATE2": ("timestamp", TIMESTAMP_RE),
        "LASTBILLEDDATEP": ("timestamp", TIMESTAMP_RE),
    },
    "claims_transactions": {  # typing sql:198-291
        "ID": ("string", UUID_RE),
        "CLAIMID": ("string", UUID_RE),
        "CHARGEID": ("string", UUID_RE),
        "PATIENTID": ("string", UUID_RE),
        "TYPE": ("enum", ("CHARGE", "PAYMENT", "TRANSFERIN", "TRANSFEROUT")),
        "AMOUNT": ("double", UNSIGNED_NUMERIC_RE),
        "METHOD": ("enum", ("CASH", "CHECK", "CC", "ECHECK")),
        "FROMDATE": ("timestamp", TIMESTAMP_RE),
        "TODATE": ("timestamp", TIMESTAMP_RE),
        "UNITS": ("double", UNSIGNED_NUMERIC_RE),
        "UNITAMOUNT": ("double", UNSIGNED_NUMERIC_RE),
        "TRANSFEROUTID": ("string", UUID_RE),
        "TRANSFERTYPE": ("enum", ("1", "p")),
        "PAYMENTS": ("double", UNSIGNED_NUMERIC_RE),
        "ADJUSTMENTS": ("double", UNSIGNED_NUMERIC_RE),
        "TRANSFERS": ("double", UNSIGNED_NUMERIC_RE),
        "OUTSTANDING": ("double", UNSIGNED_NUMERIC_RE),
        "APPOINTMENTID": ("string", UUID_RE),
        "PATIENTINSURANCEID": ("string", UUID_RE),
        "PROVIDERID": ("string", UUID_RE),
        "SUPERVISINGPROVIDERID": ("string", UUID_RE),
    },
    "imaging_studies": {  # typing sql:405-446
        "Id": ("string", UUID_RE),
        "DATE": ("timestamp", TIMESTAMP_RE),
        "PATIENT": ("string", UUID_RE),
        "ENCOUNTER": ("string", UUID_RE),
        "MODALITY_CODE": ("enum", ("DX", "CR", "US")),
    },
    "immunizations": {  # typing sql:452-477
        "DATE": ("timestamp", TIMESTAMP_RE),
        "PATIENT": ("string", UUID_RE),
        "ENCOUNTER": ("string", UUID_RE),
        "CODE": ("enum", ("08", "10", "20", "49", "119", "133", "140")),
        "BASE_COST": ("double", UNSIGNED_NUMERIC_RE),
    },
    "organizations": {  # typing sql:565-600
        "Id": ("string", UUID_RE),
        "LAT": ("double", SIGNED_NUMERIC_RE),
        "LON": ("double", SIGNED_NUMERIC_RE),
        "REVENUE": ("double", UNSIGNED_NUMERIC_RE),
        "UTILIZATION": ("double", UNSIGNED_NUMERIC_RE),
    },
    "payer_transitions": {  # typing sql:707-741
        "PATIENT": ("string", UUID_RE),
        "MEMBERID": ("string", UUID_RE),
        "START_DATE": ("timestamp", TIMESTAMP_RE),
        "END_DATE": ("timestamp", TIMESTAMP_RE),
        "PAYER": ("string", UUID_RE),
        "SECONDARY_PAYER": ("string", UUID_RE),
        "PLAN_OWNERSHIP": ("enum", ("Self", "Spouse", "Guardian")),
    },
    "payers": {  # typing sql:747-815
        "Id": ("string", UUID_RE),
        "OWNERSHIP": ("enum", ("GOVERNMENT", "PRIVATE", "NO_INSURANCE")),
        "AMOUNT_COVERED": ("double", UNSIGNED_NUMERIC_RE),
        "AMOUNT_UNCOVERED": ("double", UNSIGNED_NUMERIC_RE),
        "REVENUE": ("double", UNSIGNED_NUMERIC_RE),
        "COVERED_ENCOUNTERS": ("double", UNSIGNED_NUMERIC_RE),
        "UNCOVERED_ENCOUNTERS": ("double", UNSIGNED_NUMERIC_RE),
        "COVERED_MEDICATIONS": ("double", UNSIGNED_NUMERIC_RE),
        "UNCOVERED_MEDICATIONS": ("double", UNSIGNED_NUMERIC_RE),
        "COVERED_PROCEDURES": ("double", UNSIGNED_NUMERIC_RE),
        "UNCOVERED_PROCEDURES": ("double", UNSIGNED_NUMERIC_RE),
        "COVERED_IMMUNIZATIONS": ("double", UNSIGNED_NUMERIC_RE),
        "UNCOVERED_IMMUNIZATIONS": ("double", UNSIGNED_NUMERIC_RE),
        "UNIQUE_CUSTOMERS": ("int", UNSIGNED_INT_RE),
        "QOLS_AVG": ("double", UNSIGNED_NUMERIC_RE),
        "MEMBER_MONTHS": ("int", UNSIGNED_INT_RE),
    },
    "providers": {  # typing sql:821-866
        "Id": ("string", UUID_RE),
        "ORGANIZATION": ("string", UUID_RE),
        "GENDER": ("enum", ("M", "F")),
        "LAT": ("double", SIGNED_NUMERIC_RE),
        "LON": ("double", SIGNED_NUMERIC_RE),
        "ENCOUNTERS": ("double", UNSIGNED_NUMERIC_RE),
        "PROCEDURES": ("double", UNSIGNED_NUMERIC_RE),
    },
    "supplies": {  # typing sql:872-889
        "DATE": ("timestamp", TIMESTAMP_RE),
        "PATIENT": ("string", UUID_RE),
        "ENCOUNTER": ("string", UUID_RE),
        "QUANTITY": ("double", UNSIGNED_NUMERIC_RE),
    },
}

UUID_GUARD = UUID_RE


class OmopFact(NamedTuple):
    """The column roles of one OMOP fact table."""

    pk: str
    start: str
    end: str | None
    concept: str
    type: str
    source: str
    #: Achilles family base B: the table's analyses are B+0 … B+13
    achilles_base: int
    #: Achilles stratum: the concept id, or the source value where the
    #: pipeline leaves concept mapping to operators/concepts.py (without a
    #: vocabulary load those ids are all 0 — Achilles then shows the codes)
    stratum: str


#: the seven OMOP fact tables in DQD order — one registry for the Achilles
#: family grid (analytics/achilles_catalog.py), the DQD checks
#: (validate.py) and the pipeline's year partitions and observation-period
#: envelope (plans/pipeline.py).
OMOP_FACTS: dict[str, OmopFact] = {
    "visit_occurrence": OmopFact(
        "visit_occurrence_id", "visit_start_date", "visit_end_date",
        "visit_concept_id", "visit_type_concept_id", "visit_source_value",
        200, "visit_concept_id"),
    "condition_occurrence": OmopFact(
        "condition_occurrence_id", "condition_start_date",
        "condition_end_date", "condition_concept_id",
        "condition_type_concept_id", "condition_source_value",
        400, "condition_concept_id"),
    "drug_exposure": OmopFact(
        "drug_exposure_id", "drug_exposure_start_date",
        "drug_exposure_end_date", "drug_concept_id", "drug_type_concept_id",
        "drug_source_value", 700, "drug_concept_id"),
    "procedure_occurrence": OmopFact(
        "procedure_occurrence_id", "procedure_date", None,
        "procedure_concept_id", "procedure_type_concept_id",
        "procedure_source_value", 600, "procedure_concept_id"),
    "measurement": OmopFact(
        "measurement_id", "measurement_date", None, "measurement_concept_id",
        "measurement_type_concept_id", "measurement_source_value",
        1800, "measurement_source_value"),
    "observation": OmopFact(
        "observation_id", "observation_date", None, "observation_concept_id",
        "observation_type_concept_id", "observation_source_value",
        800, "observation_source_value"),
    "device_exposure": OmopFact(
        "device_exposure_id", "device_exposure_start_date",
        "device_exposure_end_date", "device_concept_id",
        "device_type_concept_id", "device_source_value",
        2100, "device_source_value"),
}

# --- fixed OMOP concept ids (FIXTURES.md §7) -------------------------------
GENDER_CONCEPTS = {"M": 8507, "F": 8532}
RACE_CONCEPTS = {
    "white": 8527,
    "black": 8516,
    "asian": 8515,
    "native": 8657,
    "hawaiian": 8522,
}
ETHNICITY_CONCEPTS = {"hispanic": 38003563, "nonhispanic": 38003564}
VISIT_CLASS_CONCEPTS = {
    "ambulatory": 9202,
    "outpatient": 9202,
    "wellness": 9202,
    "emergency": 9203,
    "urgentcare": 9203,
    "inpatient": 9201,
    "home": 581476,
    "virtual": 5083,
    "hospice": 42898160,
}
TYPE_EHR = 32817  # type_concept_id "EHR" for every domain row
# Immunization drug_exposure rows use the reference's physician-administered
# type (sql/etl/synthea-omop-ETL.sql:477).
IMMUNIZATION_DRUG_TYPE = 38000177
COST_TYPE_CALCULATED = 5031
CURRENCY_USD = 44818668
NO_MATCHING_CONCEPT = 0
