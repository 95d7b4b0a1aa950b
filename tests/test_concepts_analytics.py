"""Concept-map build/apply (vocab fixtures per FIXTURES.md §7) and
achilles_lite analytics tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from synthea2omop_etl_spark.analytics import (
    drug_strength_rollup,
    monthly_trend,
    records_per_person_distribution,
    run_sql,
)
from synthea2omop_etl_spark.operators.concepts import (
    apply_concept_mapping,
    build_concept_map,
    map_to_standard,
    two_hop_standard_map,
)
from synthea2omop_etl_spark.plans.pipeline import run_pipeline
from tests.fixtures_synthea import raw_tables, raw_tables_full

CONCEPT_COLS = [
    "concept_id", "concept_name", "domain_id", "vocabulary_id",
    "concept_class_id", "standard_concept", "concept_code", "invalid_reason",
]
CONCEPTS = [
    (1001, "Diabetes mellitus", "Condition", "SNOMED", "Clinical Finding", "S", "44054006", None),
    (1002, "Hypertension", "Condition", "SNOMED", "Clinical Finding", "S", "38341003", None),
    (1003, "Old diabetes (deprecated)", "Condition", "SNOMED", "Clinical Finding", "S", "44054006", "D"),
    (1004, "Sore throat", "Condition", "SNOMED", "Clinical Finding", None, "195662009", None),
    (1005, "Sore throat (standard)", "Condition", "SNOMED", "Clinical Finding", "S", "195662009-std", None),
    (2001, "metformin", "Drug", "RxNorm", "Ingredient", "S", "860975", None),
    (4001, "Body height", "Measurement", "LOINC", "Lab Test", "S", "8302-2", None),
    (5001, "Influenza vaccine", "Drug", "CVX", "CVX", "S", "140", None),
    (6001, "Spirometry", "Procedure", "SNOMED", "Procedure", "S", "430193006", None),
    (7001, "Glucose meter", "Device", "SNOMED", "Physical Object", "S", "337414009", None),
    # case-preference pair: exact-case must win over lower concept_id
    (3001, "Code mixed lower", "Condition", "SNOMED", "Clinical Finding", "S", "abc123", None),
    (3002, "Code mixed exact", "Condition", "SNOMED", "Clinical Finding", "S", "ABC123", None),
]
RELS = [
    (1004, 1005, "Maps to", None),
    (1001, 1001, "Maps to", None),  # standard maps to itself
]
REL_COLS = ["concept_id_1", "concept_id_2", "relationship_id", "invalid_reason"]


@pytest.fixture(scope="module")
def concept(spark):
    return spark.createDataFrame(CONCEPTS, CONCEPT_COLS)


@pytest.fixture(scope="module")
def concept_relationship(spark):
    return spark.createDataFrame(
        RELS,
        "concept_id_1 bigint, concept_id_2 bigint, "
        "relationship_id string, invalid_reason string",
    )


@pytest.fixture(scope="module")
def omop(spark):
    return run_pipeline(spark, raw_tables(spark))


def test_build_concept_map(spark, concept):
    codes = spark.createDataFrame(
        [("44054006",), ("38341003",), ("UNKNOWN",), ("ABC123",)], ["CODE"]
    )
    cmap = build_concept_map(codes, concept, "CODE", "SNOMED", "Condition")
    rows = {r.source_code: r for r in cmap.collect()}
    assert rows["44054006"].target_concept_id == 1001  # 'D' row excluded
    assert rows["38341003"].target_concept_id == 1002
    assert rows["UNKNOWN"].target_concept_id == 0  # unmapped → 0
    assert rows["ABC123"].target_concept_id == 3002  # exact case preferred


def test_two_hop_mapping(concept, concept_relationship):
    hop = two_hop_standard_map(concept, concept_relationship)
    rows = {r.source_concept_id: r.standard_concept_id for r in hop.collect()}
    assert rows[1004] == 1005  # non-standard → Maps to → standard
    assert rows[1001] == 1001


def test_apply_concept_mapping(spark, concept, concept_relationship, omop):
    conds = omop["omop_condition_occurrence"]
    # full 3-stage: source concept → 'Maps to' standard → direct fallback
    cmap = map_to_standard(
        conds.select(F.col("condition_source_value").alias("CODE")),
        concept,
        concept_relationship,
        "CODE",
        "SNOMED",
        "Condition",
    )
    mapped = apply_concept_mapping(
        conds.drop("condition_concept_id"),
        cmap,
        "condition_source_value",
        "condition_concept_id",
    )
    rows = {
        r.condition_source_value: r.condition_concept_id
        for r in mapped.collect()
    }
    assert rows["44054006"] == 1001  # direct standard (stage 3 + self-map)
    assert rows["38341003"] == 1002
    assert rows["195662009"] == 1005  # non-standard → 'Maps to' → standard


def test_list_tables_empty_inventory_raises():
    """ADVICE r4 (low): an empty inventory (wrong --omop dir) is a clean
    ValueError, not an IndexError stack trace."""
    from synthea2omop_etl_spark.analytics import list_tables

    with pytest.raises(ValueError, match="no tables"):
        list_tables({})


def test_map_to_standard_one_row_per_code(spark, concept):
    """ADVICE r4 (high): a source concept with several valid 'Maps to'
    relationships (common in real Athena vocabularies) must NOT fan the map
    out — exactly one row per source_code with a deterministic
    lowest-standard-id pick, so the domain transforms' broadcast join can
    never duplicate fact rows (the reference's UPDATE..FROM,
    etl_concept_mapping.py:152-164, can't change row counts either)."""
    rels = spark.createDataFrame(
        [(1004, 1005, "Maps to", None), (1004, 1002, "Maps to", None)],
        "concept_id_1 bigint, concept_id_2 bigint, "
        "relationship_id string, invalid_reason string",
    )
    codes = spark.createDataFrame([("195662009",), ("195662009",)], ["CODE"])
    cmap = map_to_standard(codes, concept, rels, "CODE", "SNOMED", "Condition")
    rows = cmap.collect()
    assert len(rows) == 1
    assert rows[0].target_concept_id == 1002  # lowest standard id wins


def test_pipeline_concept_mapping_wired(spark, concept, concept_relationship):
    """VERDICT r3 #1: the concept-mapping step runs inside the pipeline DAG
    when vocabulary tables are supplied — a user of `cli run --vocab-dir`
    gets mapped *_concept_id without calling operators manually — on every
    concept-mapped fact."""
    ctx = run_pipeline(
        spark,
        raw_tables_full(spark),
        vocab_tables={
            "concept": concept,
            "concept_relationship": concept_relationship,
        },
    )
    conds = {
        r.condition_source_value: r.condition_concept_id
        for r in ctx["omop_condition_occurrence"].collect()
    }
    assert conds["44054006"] == 1001  # standard, self-mapped
    assert conds["38341003"] == 1002
    assert conds["195662009"] == 1005  # non-standard → 'Maps to' → standard
    drugs = {
        r.drug_source_value: r.drug_concept_id
        for r in ctx["omop_drug_exposure"].collect()
    }
    assert drugs["860975"] == 2001  # RxNorm, direct-standard fallback
    assert drugs["140"] == 5001  # CVX immunization, same drug map
    assert drugs["308136"] == 0  # RxNorm code absent from the vocabulary
    procs = {
        r.procedure_source_value: r.procedure_concept_id
        for r in ctx["omop_procedure_occurrence"].collect()
    }
    assert procs == {"430193006": 6001, "117015009": 0}
    devs = {
        r.device_source_value: r.device_concept_id
        for r in ctx["omop_device_exposure"].collect()
    }
    assert devs == {"337414009": 7001, "705417005": 0}
    meas = ctx["omop_measurement"].collect()
    mapped = {r.measurement_source_value: r.measurement_concept_id for r in meas}
    assert mapped["8302-2"] == 4001  # LOINC
    # unmapped → 0, never NULL (the core OMOP convention)
    assert all(r.measurement_concept_id is not None for r in meas)
    obs = ctx["omop_observation"].collect()
    assert all(r.observation_concept_id == 0 for r in obs)  # 72166-2 unmapped


def test_pipeline_without_vocab_all_zero(omop):
    """No vocabulary supplied → every *_concept_id is 0 (reference behavior
    before its vocabulary load), and the columns still exist."""
    assert all(
        r.condition_concept_id == 0
        for r in omop["omop_condition_occurrence"].collect()
    )
    assert all(
        r.measurement_concept_id == 0
        for r in omop["omop_measurement"].collect()
    )


def test_age_deciles_and_monthly_trend(omop):
    from synthea2omop_etl_spark.analytics import run_default_analyses

    results, _ = run_default_analyses(omop)
    deciles = results.where(F.col("analysis_id") == 101).collect()
    assert sum(r.count_value for r in deciles) == 3
    assert all(int(r.stratum_1) >= 0 for r in deciles)
    trend = monthly_trend(
        omop["omop_condition_occurrence"], "condition_start_date"
    ).collect()
    assert sum(r.n for r in trend) == 3
    assert all(len(r.year_month) == 7 for r in trend)  # yyyy-MM


def test_records_per_person_distribution(omop):
    row = records_per_person_distribution(
        omop["omop_condition_occurrence"]
    ).collect()[0]
    assert row.n_persons >= 1
    assert row.min_n <= row.median <= row.max_n
    approx = records_per_person_distribution(
        omop["omop_condition_occurrence"], mode="approx"
    ).collect()[0]
    # sketch degenerates to exact below its accuracy
    assert abs(approx.median - row.median) <= 1e-9


def test_drug_strength_rollup(spark, omop):
    strength = spark.createDataFrame(
        [(0, 900001, 500.0)],  # every unmapped drug rolls to one ingredient
        "drug_concept_id int, ingredient_concept_id int, amount_value double",
    )
    out = drug_strength_rollup(omop["omop_drug_exposure"], strength).collect()
    assert len(out) == 1
    r = out[0]
    assert r.ingredient_concept_id == 900001
    assert r.n_exposures == omop["omop_drug_exposure"].count()
    assert r.total_exposure_days >= r.n_exposures  # ≥1 day each


@pytest.mark.slow
def test_achilles_default_catalog(spark):
    """The default-analysis catalog over the FULL pipeline output
    (providers/devices/payer included): standard achilles_results /
    achilles_results_dist shapes, one row set per analysis id, person
    counts consistent with the cohort."""
    from synthea2omop_etl_spark.analytics import (
        ANALYSIS_NAMES,
        run_default_analyses,
    )
    from tests.fixtures_synthea import raw_tables_full

    omop = run_pipeline(spark, raw_tables_full(spark))
    results, dists = run_default_analyses(omop)
    assert results.columns == [
        "analysis_id", "stratum_1", "stratum_2", "count_value"
    ]
    rows = results.collect()
    by_id: dict[int, list] = {}
    for r in rows:
        by_id.setdefault(r.analysis_id, []).append(r)
    # analysis 0: the source-metadata row (stratum_1 = source name,
    # count_value = person count, the stock Achilles insert shape)
    assert by_id[0][0].stratum_1 == "synthea2omop_etl_spark"
    assert by_id[0][0].count_value == 3
    # analysis 1: total persons
    assert by_id[1][0].count_value == 3
    # analysis 2: gender strata sum to persons
    assert sum(r.count_value for r in by_id[2]) == 3
    # every produced analysis id is in the named catalog
    assert set(by_id) <= set(ANALYSIS_NAMES)
    # count analyses present for every domain the fixture populates
    # (incl. the wired-pipeline 1000-series condition eras + 1500s cost,
    # and the r5 default-breadth families: coverage calendar 109/110/116/
    # 117, type-concept x05, death 500s, payer 1300s, device 2100s,
    # 1900 temporal)
    # (r6 adds the residual defaults: observation-period 108/112 and the
    # location/care-site 1100-series over the derived location dim)
    # (r7 adds: 114/115 + the x07/x09 DQ families — 0-count rows on the
    # pipeline's own FK-clean output — and the 2000-series co-occurrence)
    # (r8 adds: era start months 920/1020, payer start month 1302, the
    # x04 extensions 1804/2104, no-numeric-value 1814, domain-presence
    # mask 2004, place-of-service 1200/1201)
    for aid in (101, 102, 108, 110, 111, 112, 114, 115, 116, 117, 119,
                200, 201, 202, 204, 207, 209, 300, 301, 302,
                400, 401, 402, 404, 405, 407, 409, 500, 501, 505,
                601, 604, 605, 607, 701, 704, 705, 707, 709,
                801, 804, 805, 807, 900, 901, 902, 920,
                1000, 1001, 1002, 1020,
                1100, 1101, 1102, 1103, 1200, 1201, 1300, 1301, 1302,
                1500, 1501, 1801, 1804, 1805, 1807, 1814, 1900,
                2000, 2001, 2002, 2004,
                2100, 2101, 2102, 2104, 2105, 2107, 2109,
                # r9 default-set completion: x10 outside-period, x13
                # invalid-visit-FK, and the residual measurement defaults
                210, 213, 410, 413, 610, 613, 710, 713, 810, 813,
                1808, 1809, 1810, 1811, 1813, 1819, 1820, 1821, 1822,
                1825, 2110,
                # r9 fused-pass addition: visit type concept counts
                205,
                # r10 stock-default closure: person FK validity (8; 7/9
                # need columns this CDM lacks), death 502/504/509/510,
                # era DQ residue
                8, 502, 504, 509, 510, 908, 909, 910, 1008, 1009, 1010):
        assert aid in by_id, f"analysis {aid} missing"
    # 2004 masks: stratum_1 is the domain bitmask; counts partition the
    # persons having at least one record anywhere
    masks = {int(r.stratum_1): r.count_value for r in by_id[2004]}
    assert all(0 < m < 32 for m in masks)
    assert sum(masks.values()) <= 3
    # DQ invariants hold by construction on pipeline output → count 0
    # (x10 ids: observation periods are derived as the domain-date
    # envelope, so every fact date is inside; x13 ids: visit FKs come from
    # the id maps; 1809/1811: person FKs valid, no post-death records)
    for aid in (114, 115, 207, 209, 407, 409, 607, 707, 709, 807,
                1807, 2107, 2109,
                210, 213, 410, 413, 610, 613, 710, 713, 810, 813,
                1809, 1810, 1811, 1813,
                8, 509, 908, 909, 910, 1008, 1009, 1010):
        assert [r.count_value for r in by_id[aid]] == [0], f"DQ {aid}"
    # 510 (death outside a valid observation period) is NOT forced to 0:
    # neither this engine nor the reference includes death_date in the
    # observation-period envelope (create_observation_period_v2.sql:10-44
    # unions encounters/conditions/medications/procedures/observations
    # only), so a person dying after their last event legitimately
    # trips it — exact semantics pinned in test_achilles_defaults.py
    assert len(by_id[510]) == 1 and by_id[510][0].count_value >= 0
    # range/provider-dependent measurement analyses are REGISTERED but
    # emit nothing on a CDM without the columns
    for absent in (1812, 1816, 1817, 1818):
        assert absent not in by_id
    # 1822 mapping-status strata partition the measurement records; the
    # unmapped-only fixture (no vocabulary) shows a single stratum
    assert {r.stratum_1 for r in by_id[1822]} <= {"mapped", "unmapped"}
    assert sum(r.count_value for r in by_id[1822]) == sum(
        r.count_value for r in by_id[1820]
    )
    # co-occurrence counts are bounded by the cohort
    for aid in (2000, 2001, 2002):
        assert 0 < by_id[aid][0].count_value <= 3
    # 108: one first-period bucket row set summing to the cohort
    assert sum(r.count_value for r in by_id[108]) == 3
    # 112: persons by period END month — one period per person
    assert sum(r.count_value for r in by_id[112]) == 3
    # 1100/1101: persons by 3-digit zip / state (P1+P3 Boston 02108,
    # P2 Salem 01970, all Massachusetts)
    zips = {r.stratum_1: r.count_value for r in by_id[1100]}
    assert zips == {"021": 2, "019": 1}
    states = {r.stratum_1: r.count_value for r in by_id[1101]}
    assert states == {"Massachusetts": 3}
    # 1102/1103: care sites by zip3 / state (one org in each city)
    cs_zips = {r.stratum_1: r.count_value for r in by_id[1102]}
    assert cs_zips == {"021": 1, "019": 1}
    assert {r.stratum_1: r.count_value for r in by_id[1103]} == {
        "Massachusetts": 2
    }
    # the x04 analyses populate BOTH strata (concept × gender)
    assert all(
        r.stratum_1 is not None and r.stratum_2 is not None
        for r in by_id[404]
    )
    # 1500 totals must equal the sum of the 1501 domain strata
    assert by_id[1500][0].count_value == sum(
        r.count_value for r in by_id[1501]
    )
    # 109 counts FULL-calendar-year continuous coverage: no fixture
    # period spans Jan 1..Dec 31, so it correctly yields no rows (110's
    # full-month twin is populated — P1 covers all of Apr+May 2015)
    assert 109 not in by_id
    # 116 carries decade-of-birth in stratum_2 (multiples of 10)
    assert all(int(r.stratum_2) % 10 == 0 for r in by_id[116])
    # 1900 temporal density covers every populated domain table
    temporal_tables = {r.stratum_1 for r in by_id[1900]}
    assert {"visit_occurrence", "condition_occurrence", "drug_exposure",
            "death", "observation_period"} <= temporal_tables
    # full-coverage counts can never exceed any-day coverage per stratum
    y117 = {r.stratum_1: r.count_value for r in by_id[117]}
    for r in by_id[110]:
        assert r.count_value <= y117[r.stratum_1]
    drows = {r.analysis_id: r for r in dists.collect()}
    # (r8 adds: death-proximity 511-515, dosing trio 716/717,
    # paid-by-payer 1504, age-at-first-device 2106)
    for aid in (103, 104, 105, 106, 107, 113, 203, 206, 211, 403, 406,
                506, 511, 512, 513, 514, 603, 606, 703, 706, 715,
                716, 717, 803, 806, 906, 907, 1006, 1007, 1303, 1306,
                1502, 1503, 1504, 1505, 1803, 1806, 1815, 2103, 2106,
                1823, 1824):
        assert aid in drows, f"dist analysis {aid} missing"
        d = drows[aid]
        assert d.min_value <= d.median_value <= d.max_value
    # procedures carry NULL paid columns (reference parity) → the paid
    # dists stratify over Visit/Drug only; the charge dist keeps all 3
    paid_strata = {r.stratum_1 for r in dists.collect()
                   if r.analysis_id in (1503, 1504, 1505)}
    assert paid_strata == {"Visit", "Drug"}
    charge_strata = {r.stratum_1 for r in dists.collect()
                     if r.analysis_id == 1502}
    assert charge_strata == {"Visit", "Drug", "Procedure"}
    # death-proximity gaps are non-negative on the fixture (every event
    # precedes the death date); 515 is ABSENT — the deceased person has
    # no observation rows, and an empty analysis emits no row (the
    # Achilles convention), never a NULL-stats one
    for aid in (511, 512, 513, 514):
        assert drows[aid].min_value >= 0, aid
    assert 515 not in drows
    # stratified dists carry stratum_1; the global ones stay NULL
    strat = [r for r in dists.collect() if r.analysis_id in (1502, 1815)]
    assert strat and all(r.stratum_1 is not None for r in strat)
    assert drows[105].stratum_1 is None
    # approx mode runs; the GK sketch picks DISCRETE sample values where
    # exact interpolates (a 2-value {0, 92} distribution gives 0 vs 46),
    # so assert the structural guarantees, not numeric closeness
    _, dists_a = run_default_analyses(omop, mode="approx")
    da = {
        (r.analysis_id, r.stratum_1): r for r in dists_a.collect()
    }
    for r in dists.collect():
        a = da[(r.analysis_id, r.stratum_1)]
        assert r.min_value <= a.median_value <= r.max_value
        assert a.count_value == r.count_value


def test_sql_passthrough(spark, omop):
    out = run_sql(
        spark,
        "SELECT gender_concept_id, count(*) AS n FROM person GROUP BY 1",
        {"person": omop["omop_person"]},
    )
    assert out.count() == 3


def test_achilles_catalog_person_only(spark, omop):
    """A person-only OMOP dict yields results rows and an EMPTY (not
    crashing) distribution frame."""
    from synthea2omop_etl_spark.analytics import run_default_analyses

    results, dists = run_default_analyses({"omop_person": omop["omop_person"]})
    assert results.where("analysis_id = 1").collect()[0].count_value == 3
    assert dists.count() == 0
    assert "median_value" in dists.columns


@pytest.mark.slow
def test_achilles_small_cell_suppression(spark, omop):
    """Achilles smallCellCount privacy censoring (achilles_config.json:13,
    run_achilles.R:68): rows with count_value below the threshold are
    DELETED post-aggregation — surviving rows keep their full-data counts
    (totals are not recomputed over the censored set). Runs over a
    two-table slice of the pipeline output: the censoring is one filter on
    the final frames, so the full-catalog breadth (covered by
    test_achilles_default_catalog) adds nothing here but runtime."""
    from synthea2omop_etl_spark.analytics import run_default_analyses

    slim = {
        "omop_person": omop["omop_person"],
        "omop_condition_occurrence": omop["omop_condition_occurrence"],
    }
    full, full_d = run_default_analyses(slim)
    cens, cens_d = run_default_analyses(slim, small_cell_count=2)
    full_rows = full.collect()
    cens_rows = cens.collect()
    # censored = exactly the full rows meeting the threshold, same values
    key = lambda r: (r.analysis_id, r.stratum_1, r.stratum_2, r.count_value)
    assert sorted(map(key, cens_rows)) == sorted(
        key(r) for r in full_rows if r.count_value >= 2
    )
    # the 3-person fixture has singleton strata → censoring really bites
    assert any(r.count_value < 2 for r in full_rows)
    assert all(r.count_value >= 2 for r in cens_rows)
    # analysis 1 (total persons, count 3) survives untouched
    assert [r.count_value for r in cens_rows if r.analysis_id == 1] == [3]
    # dist rows censor on the same column
    full_d_rows = full_d.collect()
    cens_d_rows = cens_d.collect()
    assert all(r.count_value >= 2 for r in cens_d_rows)
    assert len(full_d_rows) >= len(cens_d_rows)


@pytest.mark.slow
def test_achilles_dq_seeded_violations(spark):
    """The round-9 DQ analyses with DELIBERATE violations planted: a
    measurement outside every observation period (1810/x10), one dated
    after death (1811), one with an orphan visit FK (1813/x13), and a
    visit pointing at a missing care site (213). Each must count exactly
    the planted rows; the clean rows stay out."""
    import datetime as dt

    from synthea2omop_etl_spark.analytics import run_default_analyses

    d = dt.date
    person = spark.createDataFrame(
        [(1, 8507, 1980, 8527, 38003564, "1980-01-01 00:00:00"),
         (2, 8532, 1990, 8527, 38003564, "1990-01-01 00:00:00")],
        ["person_id", "gender_concept_id", "year_of_birth",
         "race_concept_id", "ethnicity_concept_id", "birth_datetime"],
    )
    op = spark.createDataFrame(
        [(1, 1, d(2015, 1, 1), d(2015, 12, 31), 44814724),
         (2, 2, d(2016, 1, 1), d(2016, 12, 31), 44814724)],
        ["observation_period_id", "person_id",
         "observation_period_start_date", "observation_period_end_date",
         "period_type_concept_id"],
    )
    death = spark.createDataFrame(
        [(1, d(2015, 6, 30), 38003566)],
        ["person_id", "death_date", "death_type_concept_id"],
    )
    visit = spark.createDataFrame(
        # visit 20 points at care_site 99 which does not exist → 213
        [(10, 1, 9201, d(2015, 3, 1), d(2015, 3, 2), 44818517, 1),
         (20, 2, 9202, d(2016, 5, 1), d(2016, 5, 1), 44818517, 99)],
        ["visit_occurrence_id", "person_id", "visit_concept_id",
         "visit_start_date", "visit_end_date", "visit_type_concept_id",
         "care_site_id"],
    )
    care_site = spark.createDataFrame(
        [(1, 8756)], ["care_site_id", "place_of_service_concept_id"]
    )
    meas = spark.createDataFrame(
        [
            # clean: inside period, before death, valid visit
            (100, 1, 0, d(2015, 3, 1), "2015-03-01", 32817, 5.0,
             "mg", 10, "L1", "5.0"),
            # outside every observation period of person 1 → 1810
            (101, 1, 0, d(2014, 3, 1), "2014-03-01", 32817, 6.0,
             "mg", None, "L1", "6.0"),
            # after person 1's death (but inside the period) → 1811
            (102, 1, 0, d(2015, 7, 15), "2015-07-15", 32817, 7.0,
             "mg", None, "L1", "7.0"),
            # orphan visit FK (visit 999 does not exist) → 1813
            (103, 2, 0, d(2016, 2, 1), "2016-02-01", 32817, 8.0,
             "mg", 999, "L2", "8.0"),
        ],
        ["measurement_id", "person_id", "measurement_concept_id",
         "measurement_date", "measurement_datetime",
         "measurement_type_concept_id", "value_as_number",
         "unit_source_value", "visit_occurrence_id",
         "measurement_source_value", "value_source_value"],
    )
    results, dists = run_default_analyses({
        "omop_person": person,
        "omop_observation_period": op,
        "omop_death": death,
        "omop_visit_occurrence": visit,
        "omop_care_site": care_site,
        "omop_measurement": meas,
    })
    by_id = {}
    for r in results.collect():
        by_id.setdefault(r.analysis_id, []).append(r)
    assert by_id[1810][0].count_value == 1   # the 2014 record
    assert by_id[1811][0].count_value == 1   # the post-death record
    assert by_id[1813][0].count_value == 1   # the orphan visit FK
    assert by_id[213][0].count_value == 1    # visit → missing care site
    # x10 on visits: both visits are inside their persons' periods
    assert by_id[210][0].count_value == 0
    # 1809 (stock id) and 1807 (legacy id) agree: no person orphans
    assert by_id[1809][0].count_value == by_id[1807][0].count_value == 0
    # 1819 counts the unit-carrying rows; 1821 none are fully valueless
    assert by_id[1819][0].count_value == 4
    assert by_id[1821][0].count_value == 0
    # 1822 mapping status: concept ids are all 0 → one 'unmapped' stratum
    m1822 = {r.stratum_1: r.count_value for r in by_id[1822]}
    assert m1822 == {"unmapped": 4}
    # 1820 calendar-year strata partition the records
    assert sum(r.count_value for r in by_id[1820]) == 4
    # range/provider analyses emit NOTHING on a CDM without the columns
    for absent in (1812, 1818):
        assert absent not in by_id
    drows = {r.analysis_id for r in dists.collect()}
    assert {1823, 1824} <= drows
    assert not ({1816, 1817} & drows)


# ---------------------------------------------------------------------------
# Transitive closure / concept_ancestor builder (operators/hierarchy.py)
# ---------------------------------------------------------------------------

def test_transitive_closure_diamond(spark):
    from synthea2omop_etl_spark.operators.hierarchy import transitive_closure

    # Diamond DAG: 1 -> 2 -> 4, 1 -> 3 -> 4, plus a long chain 4 -> 5 -> 6.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "child bigint, parent bigint",
    )
    rows = {
        (r.descendant, r.ancestor): (r.min_depth, r.max_depth)
        for r in transitive_closure(edges).collect()
    }
    assert rows[(1, 4)] == (2, 2)      # two equal-length diamond paths
    assert rows[(1, 6)] == (4, 4)      # full chain through the diamond
    assert rows[(2, 6)] == (3, 3)
    assert rows[(1, 2)] == (1, 1)      # direct edge preserved
    # no self pairs, no reversed pairs
    assert (1, 1) not in rows and (4, 1) not in rows
    # min != max when paths of different lengths exist: add shortcut 1 -> 4
    edges2 = edges.unionByName(
        spark.createDataFrame([(1, 4)], "child bigint, parent bigint")
    )
    rows2 = {
        (r.descendant, r.ancestor): (r.min_depth, r.max_depth)
        for r in transitive_closure(edges2).collect()
    }
    assert rows2[(1, 4)] == (1, 2)
    assert rows2[(1, 6)] == (3, 4)


def test_build_concept_ancestor_shape(spark):
    from synthea2omop_etl_spark.operators.hierarchy import (
        build_concept_ancestor,
    )

    rel = spark.createDataFrame(
        [
            (10, 20, "Is a", None),
            (20, 30, "Is a", None),
            (11, 20, "Is a", "D"),      # invalidated: excluded
            (10, 99, "Maps to", None),  # wrong relationship: excluded
        ],
        "concept_id_1 bigint, concept_id_2 bigint, "
        "relationship_id string, invalid_reason string",
    )
    ca = build_concept_ancestor(rel)
    got = {
        (r.ancestor_concept_id, r.descendant_concept_id): (
            r.min_levels_of_separation,
            r.max_levels_of_separation,
        )
        for r in ca.collect()
    }
    assert got[(20, 10)] == (1, 1)
    assert got[(30, 10)] == (2, 2)
    assert got[(30, 20)] == (1, 1)
    # Athena-style 0-level self rows for every node on a valid 'Is a' edge
    assert got[(10, 10)] == (0, 0)
    assert got[(20, 20)] == (0, 0)
    assert got[(30, 30)] == (0, 0)
    # invalidated edge's child never appears
    assert not any(11 in k for k in got)
