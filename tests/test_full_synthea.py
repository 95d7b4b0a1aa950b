"""Full-breadth Synthea coverage: 19-table typing specs + the
immunizations→drug_exposure union + provider/care_site outputs.

Reference parity targets: sql/synthea_typing/synthea-typedtables-
transformation.sql:8-889 (typing), sql/etl/synthea-omop-ETL.sql:436-501
(immunizations), sql/staging/synthea-omop-staging.sql:37-48 (maps).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from synthea2omop_etl_spark.operators.typing import apply_typing
from synthea2omop_etl_spark.plans.pipeline import run_pipeline
from synthea2omop_etl_spark.schemas import (
    IMMUNIZATION_DRUG_TYPE,
    TYPE_EHR,
    TYPING_SPECS,
)
from tests.fixtures_synthea import raw_tables_full

ALL_19 = {
    "allergies", "careplans", "claims", "claims_transactions", "conditions",
    "devices", "encounters", "imaging_studies", "immunizations",
    "medications", "observations", "organizations", "patient_expenses",
    "patients", "payer_transitions", "payers", "procedures", "providers",
    "supplies",
}


def test_typing_specs_cover_all_19_tables():
    # patients..patient_expenses were the original 8; the rest are the
    # reference's remaining tables. (encounters..patients naming differs
    # from the reference only in that we key specs by raw CSV table name.)
    assert set(TYPING_SPECS) == ALL_19


@pytest.mark.parametrize("table", sorted(ALL_19))
def test_invalid_values_null_out(spark, table):
    """Golden cast-or-null check: one row of garbage per spec'd column →
    every typed column must be NULL (reference semantics: bad input never
    errors, never partially parses)."""
    spec = TYPING_SPECS[table]
    garbage = {
        "string": "zz-not-a-uuid",
        "timestamp": "13/31/2020 99:99",
        "date": "99-99-99",
        "double": "12abc",
        "int": "1.5x",
        "enum": "NOT_IN_ENUM",
    }
    guarded = {
        c: (dtype, g)
        for c, (dtype, g) in spec.items()
        if not (dtype == "string" and g is None)  # ungarded pass-through cols
    }
    row = {c: garbage[dtype] for c, (dtype, _) in guarded.items()}
    if not row:
        pytest.skip(f"{table} has no guarded columns")
    df = spark.createDataFrame([row])
    typed = apply_typing(df, guarded).collect()[0]
    for c in guarded:
        assert typed[c] is None, f"{table}.{c} should null out"


def test_pipeline_full_dir(spark):
    ctx = run_pipeline(spark, raw_tables_full(spark))

    # the full wired output surface: every implemented transform reaches
    # the DAG (VERDICT r3 #1) — 16 OMOP outputs from a full export
    omop_keys = {k for k in ctx if k.startswith("omop_")}
    assert omop_keys >= {
        "omop_person", "omop_visit_occurrence", "omop_condition_occurrence",
        "omop_drug_exposure", "omop_procedure_occurrence", "omop_measurement",
        "omop_observation", "omop_provider", "omop_care_site",
        "omop_device_exposure", "omop_payer_plan_period",
        "omop_observation_period", "omop_death", "omop_cost",
        "omop_drug_era", "omop_condition_era",
    }
    assert len(omop_keys) >= 16

    # wired device_exposure / payer_plan_period / cost / eras are non-empty
    assert ctx["omop_device_exposure"].count() == 2
    assert ctx["omop_payer_plan_period"].count() == 3
    assert ctx["omop_cost"].count() > 0
    assert ctx["omop_drug_era"].count() > 0
    assert ctx["omop_condition_era"].count() > 0

    # provider / care_site emitted with dense ids and mapped attributes
    providers = {r.provider_source_value: r for r in ctx["omop_provider"].collect()}
    assert len(providers) == 2
    dr_a = providers["ffffffff-ffff-ffff-ffff-ffffffffffff"]
    assert dr_a.provider_name == "Dr. Alpha"
    assert dr_a.gender_concept_id == 8532  # F
    assert dr_a.care_site_id is not None
    dr_b = providers["abababab-abab-abab-abab-abababababab"]
    assert dr_b.gender_concept_id == 0  # 'X' nulled by enum → unmapped

    sites = {r.care_site_source_value: r for r in ctx["omop_care_site"].collect()}
    assert len(sites) == 2
    assert sites["dddddddd-dddd-dddd-dddd-dddddddddddd"].care_site_name == "General Hospital"
    assert dr_a.care_site_id == sites["dddddddd-dddd-dddd-dddd-dddddddddddd"].care_site_id

    # visit_occurrence carries provider_id / care_site_id via the maps
    visits = {r.visit_source_value: r for r in ctx["omop_visit_occurrence"].collect()}
    e1 = visits["aaaaaaaa-aaaa-aaaa-aaaa-aaaaaaaaaaaa"]
    assert e1.provider_id == dr_a.provider_id
    assert e1.care_site_id == sites["dddddddd-dddd-dddd-dddd-dddddddddddd"].care_site_id
    e2 = visits["bbbbbbbb-bbbb-bbbb-bbbb-bbbbbbbbbbbb"]
    assert e2.provider_id is None  # empty PROVIDER field

    # immunizations union into drug_exposure
    drugs = ctx["omop_drug_exposure"].collect()
    imm = [d for d in drugs if d.drug_type_concept_id == IMMUNIZATION_DRUG_TYPE]
    meds = [d for d in drugs if d.drug_type_concept_id == TYPE_EHR]
    assert len(meds) == 2
    # orphan-patient row dropped; 3 remaining fixture rows survive
    assert len(imm) == 3
    flu = [d for d in imm if d.drug_source_value == "140"]
    assert len(flu) == 1
    assert flu[0].drug_exposure_start_date == flu[0].drug_exposure_end_date
    assert flu[0].refills is None and flu[0].days_supply is None
    # bogus CVX code nulled by the enum guard but the exposure row remains
    assert sum(1 for d in imm if d.drug_source_value is None) == 1
    # ids dense and unique across the union
    ids = sorted(d.drug_exposure_id for d in drugs)
    assert ids == list(range(1, len(drugs) + 1))


def test_visit_without_maps_has_null_provider(spark):
    from tests.fixtures_synthea import raw_tables

    ctx = run_pipeline(spark, raw_tables(spark))
    assert "omop_provider" not in ctx and "omop_care_site" not in ctx
    v = ctx["omop_visit_occurrence"].collect()
    assert all(r.provider_id is None and r.care_site_id is None for r in v)


def test_staging_projection_layer(spark):
    """19-table typed→staging projection (transfer_population_to_staging
    .sql:38-650): snake_case renames, date truncation, year→Jan-1 date."""
    from synthea2omop_etl_spark.plans.staging import (
        STAGING_PROJECTIONS,
        stage_all,
        to_staging,
    )
    from tests.fixtures_synthea import EXPENSE_COLS, PATIENT_EXPENSES

    assert len(STAGING_PROJECTIONS) == 19

    ctx = run_pipeline(spark, raw_tables_full(spark))
    typed = {
        t: ctx[f"typed_{t}"]
        for t in STAGING_PROJECTIONS
        if f"typed_{t}" in ctx
    }
    staged = stage_all(typed)
    assert set(staged) == {f"staging_{t}" for t in typed}

    enc = staged["staging_encounters"].collect()
    assert {r.encounter_class for r in enc} <= {"ambulatory", "inpatient", "emergency"}
    assert all(r.patient_id is not None for r in enc)

    cond = staged["staging_conditions"].collect()[0]
    assert str(cond.start_datetime).startswith(str(cond.start_date))

    # year_date + explicit-NULL parity quirk
    exp_typed = apply_typing(
        spark.createDataFrame(PATIENT_EXPENSES, EXPENSE_COLS),
        TYPING_SPECS["patient_expenses"],
    ).withColumnRenamed("PATIENT", "PATIENT_ID")
    exp = to_staging(exp_typed, "patient_expenses").collect()
    assert {str(r.year_date) for r in exp} == {"2015-01-01", "2016-01-01"}
    assert all(r.insurance_costs is None for r in exp)
    # absent optional source column (PAYER_ID not in fixture) → NULL
    assert all(r.payer_id is None for r in exp)
