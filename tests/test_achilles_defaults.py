"""Round-10 stock-default-set closure (VERDICT r09 item 1): the pinned
default-analysis grid is fully registered, and the new residue analyses
(person FK validity, death 502/504/509/510, era DQ/dist, cost 1506)
produce the planted counts on a synthetic CDM with known violations."""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F


def _d(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


def test_default_grid_fully_registered():
    """catalog ⊇ stock-default grid: every pinned default id is in
    ANALYSIS_NAMES (implemented or registered-empty with a documented
    reason)."""
    from synthea2omop_etl_spark.analytics.achilles_catalog import (
        ANALYSIS_NAMES,
    )
    from synthea2omop_etl_spark.analytics.achilles_default_ids import (
        DEFAULT_GRID,
        NOT_APPLICABLE,
    )

    missing = DEFAULT_GRID - set(ANALYSIS_NAMES)
    assert missing == set(), f"unregistered default ids: {sorted(missing)}"
    # the registered catalog should not drift below the grid either:
    # everything in ANALYSIS_NAMES beyond the grid is a documented
    # catalog extension, never the other way round
    assert DEFAULT_GRID <= set(ANALYSIS_NAMES)
    # the not-applicable residue is documented, not silently absent
    assert len(NOT_APPLICABLE) >= 4


def _mini_cdm(spark):
    person = spark.createDataFrame(
        [
            (1, 8507, 1980, dt.datetime(1980, 3, 1), 0, 0, 10),
            (2, 8532, 1990, dt.datetime(1990, 7, 1), 0, 0, 99),
            (3, 8507, 2000, dt.datetime(2000, 1, 1), 0, 0, None),
        ],
        "person_id long, gender_concept_id int, year_of_birth int, "
        "birth_datetime timestamp, race_concept_id int, "
        "ethnicity_concept_id int, location_id long",
    )
    location = spark.createDataFrame(
        [(10, "02139", "MA")], "location_id long, zip string, state string"
    )
    op = spark.createDataFrame(
        [
            (1, _d("2020-01-01"), _d("2020-12-31"), 32817),
            (2, _d("2021-01-01"), _d("2021-12-31"), 32817),
            (3, _d("2019-01-01"), _d("2019-12-31"), 32817),
        ],
        "person_id long, observation_period_start_date date, "
        "observation_period_end_date date, period_type_concept_id int",
    )
    death = spark.createDataFrame(
        [
            (1, _d("2020-06-15"), 32817),
            (99, _d("2020-07-01"), 32817),  # invalid person, no op
        ],
        "person_id long, death_date date, death_type_concept_id int",
    )
    drug_era = spark.createDataFrame(
        [
            (1, 100, _d("2020-02-01"), _d("2020-03-01"), 2),
            (99, 100, _d("2020-02-01"), _d("2020-03-01"), 1),  # bad FK
            (2, 100, _d("2021-05-01"), _d("2021-04-01"), 1),  # end<start
            (3, 200, _d("2020-06-01"), _d("2020-07-01"), 1),  # outside op
        ],
        "person_id long, drug_era_concept_id int, "
        "drug_era_start_date date, drug_era_end_date date, "
        "drug_era_exposure_count long",
    )
    condition_era = spark.createDataFrame(
        [
            (1, 300, _d("2020-04-01"), _d("2020-05-01"), 1),
            (99, 300, _d("2020-04-01"), _d("2020-05-01"), 1),  # bad FK
        ],
        "person_id long, condition_era_concept_id int, "
        "condition_era_start_date date, condition_era_end_date date, "
        "condition_era_occurrence_count long",
    )
    cost = spark.createDataFrame(
        [
            ("Drug", 50.0, 40.0, 35.0, 30.0, 5.0),
            ("Drug", 70.0, 60.0, 55.0, 50.0, 5.0),
            ("Procedure", 200.0, None, 180.0, 150.0, 30.0),
        ],
        "cost_domain_id string, total_charge double, total_cost double, "
        "total_paid double, paid_by_payer double, paid_by_patient double",
    )
    return {
        "omop_person": person,
        "omop_location": location,
        "omop_observation_period": op,
        "omop_death": death,
        "omop_drug_era": drug_era,
        "omop_condition_era": condition_era,
        "omop_cost": cost,
    }


@pytest.mark.slow
def test_round10_residue_analyses_planted_counts(spark):
    from synthea2omop_etl_spark.analytics import run_default_analyses

    results, dists = run_default_analyses(_mini_cdm(spark))
    rows = results.collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r.analysis_id, []).append(r)

    # 8: person 2's location_id=99 has no location row; NULL (person 3)
    # is not an orphan
    assert [r.count_value for r in by_id[8]] == [1]
    # 7/9: person table has no provider/care_site columns → emit nothing
    assert 7 not in by_id and 9 not in by_id

    # 502: distinct persons by death month (202006 → 1, 202007 → 1)
    d502 = {r.stratum_1: r.count_value for r in by_id[502]}
    assert d502 == {"202006": 1, "202007": 1}
    # 504: persons with death by year × gender — person 99 has no
    # person row, so only person 1 (male, 2020) survives the join
    d504 = [(r.stratum_1, r.stratum_2, r.count_value) for r in by_id[504]]
    assert d504 == [("2020", "8507", 1)]
    # 509: one death row with an invalid person FK
    assert [r.count_value for r in by_id[509]] == [1]
    # 510: the person-99 death row matches no observation period
    assert [r.count_value for r in by_id[510]] == [1]

    # era DQ trio: 908 invalid FK, 909 outside period (person 3's 2020
    # era vs their 2019 period + the person-99 row), 910 end<start
    assert [r.count_value for r in by_id[908]] == [1]
    assert [r.count_value for r in by_id[909]] == [2]
    assert [r.count_value for r in by_id[910]] == [1]
    assert [r.count_value for r in by_id[1008]] == [1]
    assert [r.count_value for r in by_id[1009]] == [1]
    assert [r.count_value for r in by_id[1010]] == [0]

    drows = dists.collect()
    dist_ids = {r.analysis_id for r in drows}
    # 903/1003: eras per person; 1506: total_cost by domain
    assert {903, 1003, 1506} <= dist_ids
    d903 = [r for r in drows if r.analysis_id == 903][0]
    # four drug-era rows over persons {1, 99, 2, 3} → 4 persons × 1 era
    assert d903.count_value == 4 and d903.max_value == 1.0
    d1506 = {r.stratum_1: r for r in drows if r.analysis_id == 1506}
    # Procedure row's total_cost is NULL → only Drug stratum emits
    assert set(d1506) == {"Drug"}
    assert d1506["Drug"].count_value == 2
    assert d1506["Drug"].avg_value == 50.0

    # every emitted id is registered
    from synthea2omop_etl_spark.analytics.achilles_catalog import (
        ANALYSIS_NAMES,
    )

    assert set(by_id) <= set(ANALYSIS_NAMES)
    assert dist_ids <= set(ANALYSIS_NAMES)


def _fk_range_cdm(spark):
    """A CDM carrying the columns Synthea output lacks: person provider
    and care-site FKs, and measurement provider FKs and normal ranges —
    the column-present branches of 7, 9, 1812 and 1816-1818."""
    person = spark.createDataFrame(
        [
            (1, 8507, 1980, dt.datetime(1980, 3, 1), 5, 1, 10),
            (2, 8532, 1990, dt.datetime(1990, 7, 1), 77, None, 10),
            (3, 8507, 2000, dt.datetime(2000, 1, 1), None, 88, 98),
            (4, 8532, 1970, dt.datetime(1970, 5, 1), 66, 89, None),
        ],
        "person_id long, gender_concept_id int, year_of_birth int, "
        "birth_datetime timestamp, provider_id long, care_site_id long, "
        "location_id long",
    ).withColumn("race_concept_id", F.lit(0)).withColumn(
        "ethnicity_concept_id", F.lit(0)
    )
    provider = spark.createDataFrame(
        [(5, "GP"), (6, "LAB")],
        "provider_id long, specialty_source_value string",
    )
    care_site = spark.createDataFrame(
        [(1, 8756, 10), (2, 8756, 11)],
        "care_site_id long, place_of_service_concept_id int, "
        "location_id long",
    )
    location = spark.createDataFrame(
        [(10, "02139", "MA"), (11, "10001", "NY")],
        "location_id long, zip string, state string",
    )
    measurement = spark.createDataFrame(
        [
            # (id, person, date, value, provider, source, low, high)
            (1, 1, _d("2020-01-05"), 3.0, 5, "L1", 4.0, 8.0),     # below
            (2, 1, _d("2020-02-05"), 6.0, 6, "L1", 4.0, 8.0),     # within
            (3, 2, _d("2020-03-05"), 9.0, 55, "L1", 4.0, 9.0),    # within
            (4, 2, _d("2021-01-05"), 12.0, 56, "L2", 1.0, 10.0),  # above
            (5, 3, _d("2021-02-05"), None, None, "L2", 1.0, 10.0),
            (6, 4, _d("2021-03-05"), 2.0, 56, "L2", None, 10.0),
        ],
        "measurement_id long, person_id long, measurement_date date, "
        "value_as_number double, provider_id long, "
        "measurement_source_value string, range_low double, "
        "range_high double",
    ).select(
        "*",
        F.lit(0).alias("measurement_concept_id"),
        F.lit(32817).alias("measurement_type_concept_id"),
        F.lit("mg").alias("unit_source_value"),
        F.col("value_as_number").cast("string").alias("value_source_value"),
    )
    return {
        "omop_person": person,
        "omop_provider": provider,
        "omop_care_site": care_site,
        "omop_location": location,
        "omop_measurement": measurement,
    }


def test_fk_and_range_branches_planted_counts(spark):
    """7, 9 and 1812 count the non-NULL FKs missing from their dimension
    table; 1816/1817 are the non-NULL range dists and 1818 bands the rows
    carrying a value and both ranges."""
    from synthea2omop_etl_spark.analytics import run_default_analyses

    results, dists = run_default_analyses(_fk_range_cdm(spark))
    by_id: dict[int, list] = {}
    for r in results.collect():
        by_id.setdefault(r.analysis_id, []).append(r)

    def counts(aid):
        return sorted(
            (r.stratum_1, r.count_value) for r in by_id[aid]
        )

    assert counts(7) == [(None, 2)]      # providers 77 and 66
    assert counts(8) == [(None, 1)]      # location 98
    assert counts(9) == [(None, 2)]      # care sites 88 and 89
    assert counts(1812) == [(None, 3)]   # providers 55, 56, 56
    assert counts(1818) == [("above", 1), ("below", 1), ("within", 2)]
    assert counts(1100) == [("021", 2)]
    assert counts(1102) == [("021", 1), ("100", 1)]
    assert counts(1103) == [("MA", 1), ("NY", 1)]

    d = {(r.analysis_id, r.stratum_1): r for r in dists.collect()}
    assert (d[1816, "L1"].count_value, d[1816, "L1"].max_value) == (3, 4.0)
    # the NULL low range of measurement 6 is left out of 1816
    assert (d[1816, "L2"].count_value, d[1816, "L2"].avg_value) == (2, 1.0)
    assert (d[1817, "L1"].count_value, d[1817, "L1"].max_value) == (3, 9.0)
    assert (d[1817, "L2"].count_value, d[1817, "L2"].avg_value) == (3, 10.0)


def test_documented_catalog_count_pins_analysis_names():
    """README's '<N> analysis ids' claims must equal len(ANALYSIS_NAMES)
    — the catalog dict is the single source of truth (r10 verdict: docs
    said 179 while the catalog held 178, and nothing pinned the number)."""
    import re
    from pathlib import Path

    from synthea2omop_etl_spark.analytics.achilles_catalog import (
        ANALYSIS_NAMES,
    )

    readme = (
        Path(__file__).resolve().parents[1] / "README.md"
    ).read_text()
    claims = [
        int(m) for m in re.findall(r"\((\d+) analysis ids", readme)
    ] + [int(m) for m in re.findall(r"catalog now (\d+)", readme)]
    assert claims, "README no longer documents the catalog size"
    assert all(c == len(ANALYSIS_NAMES) for c in claims), (
        f"README claims {claims}, catalog has {len(ANALYSIS_NAMES)}"
    )


def test_504_two_stratum_simplification_documented():
    """The stock 504 age-decile stratum collapse must be adjudicated in
    NOT_APPLICABLE and visible in the catalog name (ADVICE r10: the
    deviation was silent, unlike the 500/501 cause-strata collapse)."""
    from synthea2omop_etl_spark.analytics.achilles_catalog import (
        ANALYSIS_NAMES,
    )
    from synthea2omop_etl_spark.analytics.achilles_default_ids import (
        NOT_APPLICABLE,
    )

    assert any("504" in k and "age-decile" in k for k in NOT_APPLICABLE)
    assert "age-decile" in ANALYSIS_NAMES[504]
