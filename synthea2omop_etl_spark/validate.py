"""Post-ETL validation suite — the reference's weighted checks
(etl_pipeline/etl_validation.py:54-537) as DataFrame assertions.

Checks: (1) record counts non-zero; (2) referential integrity (FK orphans
via left-join-is-null); (3) date ranges (end ≥ start, no future dates);
(4) demographics (valid gender concepts, plausible birth years).

Each check returns (name, passed, weight, details); ``validate`` aggregates
a weighted score and a JSON-able report, like the reference's report writer
(etl_validation.py:499-537).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from synthea2omop_etl_spark.schemas import OMOP_FACTS

Check = tuple[str, bool, float, dict[str, Any]]


def check_record_counts(tables: dict[str, DataFrame]) -> Check:
    counts = {name: df.count() for name, df in tables.items()}
    empty = [n for n, c in counts.items() if c == 0]
    return ("record_counts", not empty, 0.2, {"counts": counts, "empty": empty})


def check_referential_integrity(
    facts: dict[str, tuple[DataFrame, str]],
    dim: DataFrame,
    id_col: str = "person_id",
    name: str = "referential_integrity",
    weight: float = 0.3,
) -> Check:
    """facts: {table: (df, fk_col)}; orphans = non-NULL FK not in ``dim``.

    NULL FKs are not orphans — left-joined links (visit without an
    encounter, visit without a provider) legitimately carry NULL.
    """
    orphans = {}
    dim_ids = dim.select(id_col)
    for fact_name, (df, fk) in facts.items():
        n = (
            df.where(F.col(fk).isNotNull())
            .join(dim_ids, df[fk] == dim_ids[id_col], "left_anti")
            .count()
        )
        orphans[fact_name] = n
    ok = all(v == 0 for v in orphans.values())
    return (name, ok, weight, {"orphans": orphans})


def check_date_ranges(
    ranged: dict[str, tuple[DataFrame, str, str]]
) -> Check:
    """ranged: {table: (df, start_col, end_col)} — end ≥ start, no future."""
    bad = {}
    for name, (df, start, end) in ranged.items():
        n_reversed = df.where(F.col(end) < F.col(start)).count()
        n_future = df.where(F.col(start) > F.current_date()).count()
        bad[name] = {"end_before_start": n_reversed, "future": n_future}
    ok = all(v["end_before_start"] == 0 and v["future"] == 0 for v in bad.values())
    return ("date_ranges", ok, 0.2, bad)


def check_demographics(person: DataFrame) -> Check:
    n = person.count()
    bad_gender = person.where(
        ~F.col("gender_concept_id").isin(8507, 8532)
    ).count()
    bad_birth = person.where(
        (F.col("year_of_birth") < 1900)
        | (F.col("year_of_birth") > F.year(F.current_date()))
    ).count()
    ok = n > 0 and bad_gender == 0 and bad_birth == 0
    return (
        "demographics",
        ok,
        0.15,
        {"persons": n, "invalid_gender": bad_gender, "invalid_birth_year": bad_birth},
    )


#: fact table → its DQD-only fields: required (non-NULL) fields, plausible
#: value ranges and the expected vocabulary DOMAIN of its standard concept
#: (fkDomain). The key, dates, concept and source columns come from
#: ``schemas.OMOP_FACTS``. Drives the full check-type catalog below —
#: Completeness (measureValueCompleteness,
#: standardConceptRecordCompleteness, sourceValueCompleteness),
#: Conformance (cdmField, cdmDatatype, isPrimaryKey, isRequired,
#: isForeignKey, fkDomain, fkClass, isStandardValidConcept), Plausibility
#: (plausibleValueLow/High/LowHigh, plausibleTemporalAfter,
#: plausibleAfterBirth, plausibleDuringLife, withinVisitDates) — the
#: taxonomy of the reference's DataQualityDashboard results table.
DQD_SPECS: dict[str, dict[str, Any]] = {
    "visit_occurrence": {
        "required": ["person_id", "visit_concept_id", "visit_start_date"],
        "domain": "Visit",
    },
    "condition_occurrence": {
        "required": ["person_id", "condition_concept_id",
                     "condition_start_date"],
        "domain": "Condition",
    },
    "drug_exposure": {
        "required": ["person_id", "drug_concept_id",
                     "drug_exposure_start_date"],
        # DQD plausibleValueLow/High for the dosing fields (NULL-safe:
        # immunization rows carry NULL days_supply by construction)
        "values": {"days_supply": (0.0, 365.0), "refills": (0.0, 24.0)},
        "domain": "Drug",
    },
    "procedure_occurrence": {
        "required": ["person_id", "procedure_concept_id", "procedure_date"],
        "domain": "Procedure",
    },
    "measurement": {
        "required": ["person_id", "measurement_date"],
        # global sanity range; concept-appropriate ranges come from the
        # measurement_ranges= argument (plausibleValueLow/High per concept)
        "values": {"value_as_number": (-1000.0, 100000.0)},
        "domain": "Measurement",
    },
    "observation": {
        "required": ["person_id", "observation_date"],
        "values": {"value_as_number": (-1000.0, 100000.0)},
        "domain": "Observation",
    },
    "device_exposure": {
        "required": ["person_id", "device_exposure_start_date"],
        "domain": "Device",
        # open-ended device exposures carry NULL end: no end-date checks
        "open_ended": True,
    },
}

#: the complete check-type catalog run_dqd_checks emits, check → DQD
#: category (the OHDSI
#: DataQualityDashboard check types the reference's
#: dataqualitydashboard_results table implies,
#: query_achilles_results.sh:233-238). Vocabulary-dependent types
#: (fkDomain, fkClass, isStandardValidConcept) run only when a concept
#: table is supplied; death/visit-dependent types (plausibleDuringLife,
#: withinVisitDates) only when those tables are in the input dict; the
#: CONCEPT-parameterized types (plausibleGender, plausibleUnitConceptIds)
#: only when their designation maps are supplied.
DQD_CHECK_TYPES: dict[str, str] = {
    "cdmTable": "Conformance",
    "cdmField": "Conformance",
    "cdmDatatype": "Conformance",
    "isPrimaryKey": "Conformance",
    "isRequired": "Conformance",
    "isForeignKey": "Conformance",
    "fkDomain": "Conformance",
    "fkClass": "Conformance",
    "isStandardValidConcept": "Conformance",
    "measureValueCompleteness": "Completeness",
    "measurePersonCompleteness": "Completeness",
    "measureConditionEraCompleteness": "Completeness",
    "standardConceptRecordCompleteness": "Completeness",
    "sourceValueCompleteness": "Completeness",
    "plausibleValueLow": "Plausibility",
    "plausibleValueHigh": "Plausibility",
    "plausibleValueLowHigh": "Plausibility",
    "plausibleTemporalAfter": "Plausibility",
    "plausibleAfterBirth": "Plausibility",
    "plausibleDuringLife": "Plausibility",
    "withinVisitDates": "Plausibility",
    "plausibleGender": "Plausibility",
    "plausibleUnitConceptIds": "Plausibility",
}

#: run_dqd_checks output: the OHDSI DataQualityDashboard results columns
#: (check_name / check_level / category — what a DQD user queries by,
#: e.g. WHERE check_name = 'isPrimaryKey' AND failed) FOLLOWED BY the
#: reference's legacy dataqualitydashboard_results columns, so both the
#: DQD-style queries and query_achilles_results.sh:233-238's
#: issue_id/issue_description/prevalence/record_count/failed query read
#: this one table unchanged.
DQD_FULL_SCHEMA = (
    "issue_id int, check_name string, check_level string, "
    "category string, cdm_table_name string, cdm_field_name string, "
    "num_violated_rows bigint, pct_violated_rows double, "
    "num_denominator_rows bigint, threshold double, "
    "issue_description string, prevalence double, "
    "record_count bigint, failed boolean"
)


#: default concept-appropriate plausibility ranges for the measurement
#: value check, keyed on measurement_source_value (LOINC). The DQD ships
#: per-concept thresholds (plausibleValueLow/High); these cover the vitals
#: Synthea emits most — callers override/extend via measurement_ranges=.
MEASUREMENT_RANGES: dict[str, tuple[float, float]] = {
    "8302-2": (30.0, 250.0),    # body height, cm
    "29463-7": (0.5, 500.0),    # body weight, kg
    "8867-4": (10.0, 300.0),    # heart rate, /min
    "8480-6": (40.0, 300.0),    # systolic BP, mmHg
    "8462-4": (20.0, 200.0),    # diastolic BP, mmHg
    "2093-3": (50.0, 1000.0),   # total cholesterol, mg/dL
    "8310-5": (25.0, 45.0),     # body temperature, Cel
}


def run_dqd_checks(
    tables: dict[str, DataFrame], person: DataFrame, spark,
    measurement_ranges: dict[str, tuple[float, float]] | None = None,
    concept: DataFrame | None = None,
    gender_specific_concepts: dict[str, int] | None = None,
    allowed_units: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Per-table/per-field DQD check rows over the OMOP layer, in the
    OHDSI DataQualityDashboard results shape (``DQD_FULL_SCHEMA``):
    check_name / check_level (TABLE|FIELD|CONCEPT) / category /
    cdm_table_name / cdm_field_name / num_violated_rows /
    pct_violated_rows / num_denominator_rows / threshold / failed — what
    a DQD user queries by (``WHERE check_name = 'isPrimaryKey' AND
    failed``) — plus the reference's legacy
    issue_id/issue_description/prevalence/record_count/failed columns, so
    the reference dashboard's data-quality query also reads it unchanged
    (query_achilles_results.sh:233-238).

    Check families per fact table: Completeness
    (measureValueCompleteness FIELD; measurePersonCompleteness TABLE,
    with the DQD's lenient threshold since most persons legitimately lack
    records in any one domain), Conformance (isPrimaryKey, isForeignKey
    person_id), Plausibility (plausibleTemporalAfter, plausibleAfterBirth,
    and plausibleValueLow/High over each spec'd numeric field plus the
    concept-appropriate measurement ranges at CONCEPT level). Person gets
    its own plausibility block (year_of_birth bounds — the DQD's
    plausibleValueLow/High field check on the demographic table).

    Round 9 completes the check-type catalog to ``DQD_CHECK_TYPES``:
    structural Conformance (cdmTable / cdmField / cdmDatatype /
    isRequired — schema-inspection checks, zero extra jobs), vocabulary
    Conformance when ``concept`` is supplied (fkDomain: used concept ids
    whose vocabulary domain differs from the spec'd one;
    isStandardValidConcept: non-zero ids absent from the concept table or
    not standard_concept='S'; fkClass: drug_era ingredients), the
    split plausibleValueLow / plausibleValueHigh stock names alongside
    the catalog's composite LowHigh (same single-pass sums),
    standardConceptRecordCompleteness (unmapped fraction — INFORMATIONAL
    threshold 1.0, since vocabulary-less runs are 100% unmapped by
    design) and sourceValueCompleteness, plausibleDuringLife (event
    starts ≤ death_date + 60d, the DQD grace window) and withinVisitDates
    (event start inside its visit's [start-1d, end+1d]) when death /
    visit_occurrence are in the input dict, measureConditionEraCompleteness
    (persons with conditions but no condition era), and the
    CONCEPT-parameterized plausibleGender / plausibleUnitConceptIds when
    their designation maps are supplied.

    Execution shape (holds at 100 TB): ONE aggregate job per table batches
    every null-count / reversed-date / pk-distinct / out-of-range /
    completeness measure as conditional sums (single pass, map-side
    combinable), plus one anti-join for FK orphans, one broadcast-join
    pass each for the birth / death / visit-window plausibility checks,
    and one concept-reduced aggregate for the vocabulary checks — a fixed
    handful of jobs per table regardless of how many fields are checked.
    """
    birth = person.select(
        "person_id", F.to_date("birth_datetime").alias("__bd")
    )
    person_ids = person.select("person_id")
    rows: list[tuple] = []
    issue_id = 1000  # separate id range from the 5-check weighted suite

    def emit(
        desc: str,
        violated: int,
        denom: int,
        *,
        check_name: str,
        level: str,
        table: str,
        field: str | None,
        threshold: float = 0.0,
    ) -> None:
        nonlocal issue_id
        # failed compares the UNROUNDED ratio: with the OHDSI-default
        # threshold of 0.0, any violation fails the check — rounding to 4dp
        # would mask rates below 0.00005 (e.g. 4 dup PKs in 100k rows).
        # The rounded prevalence is kept for the display columns only.
        prevalence = round(violated / denom, 4) if denom else 0.0
        failed = (violated > threshold * denom) if denom else False
        rows.append(
            (
                issue_id,
                check_name,
                level,
                DQD_CHECK_TYPES[check_name],
                table,
                field,
                int(violated),
                float(prevalence),
                int(denom),
                float(threshold),
                f"{desc} [{DQD_CHECK_TYPES[check_name]}]",
                float(prevalence),
                int(violated),
                failed,
            )
        )
        issue_id += 1

    def out_of_range(col: str, lo: float, hi: float):
        # NULL-safe: a NULL value is a Completeness finding, not an
        # implausible one
        return F.sum(
            F.when(
                F.col(col).isNotNull()
                & ~F.col(col).cast("double").between(lo, hi),
                1,
            ).otherwise(0)
        )

    # person-level plausibility: year_of_birth within [1850, current year]
    pstat = person.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(
                F.col("year_of_birth").isNotNull()
                & ~F.col("year_of_birth").between(
                    F.lit(1850), F.year(F.current_date())
                ),
                1,
            ).otherwise(0)
        ).alias("__yob"),
    ).collect()[0]
    emit(
        "person.year_of_birth plausibleValueLowHigh",
        pstat["__yob"],
        pstat["__n"],
        check_name="plausibleValueLowHigh",
        level="FIELD",
        table="person",
        field="year_of_birth",
    )

    # shared slices for the cross-table plausibility checks
    death_df = tables.get("death")
    death_dates = (
        F.broadcast(
            death_df.select(
                "person_id", F.col("death_date").alias("__dd")
            )
        )
        if death_df is not None
        else None
    )
    vo_df = tables.get("visit_occurrence")
    visit_windows = (
        vo_df.select(
            "visit_occurrence_id",
            F.col("visit_start_date").alias("__vs"),
            F.col("visit_end_date").alias("__ve"),
        )
        if vo_df is not None
        else None
    )

    for name, spec in DQD_SPECS.items():
        df = tables.get(name)
        fact = OMOP_FACTS[name]
        pk, start, cc, sc = fact.pk, fact.start, fact.concept, fact.source
        end = None if spec.get("open_ended") else fact.end
        # cdmTable (TABLE, Conformance): the CDM table exists in the layer
        emit(
            f"{name}.* cdmTable",
            0 if df is not None else 1,
            1,
            check_name="cdmTable",
            level="TABLE",
            table=name,
            field=None,
        )
        if df is None:
            continue
        # cdmField / cdmDatatype (FIELD, Conformance): expected columns
        # exist and the pk carries an integral type — schema inspection,
        # no jobs
        expected_fields = [pk, start] + spec["required"]
        if end:
            expected_fields.append(end)
        for c in dict.fromkeys(expected_fields):
            emit(
                f"{name}.{c} cdmField",
                0 if c in df.columns else 1,
                1,
                check_name="cdmField",
                level="FIELD",
                table=name,
                field=c,
            )
        pk_type = dict(df.dtypes).get(pk, "missing")
        emit(
            f"{name}.{pk} cdmDatatype",
            0 if pk_type in ("bigint", "int", "smallint", "tinyint") else 1,
            1,
            check_name="cdmDatatype",
            level="FIELD",
            table=name,
            field=pk,
        )
        value_checks: list[tuple[str, str, float, float]] = [
            (c, f"__rng_{c}", lo, hi)
            for c, (lo, hi) in spec.get("values", {}).items()
            if c in df.columns
        ]
        if name == "measurement" and {
            "measurement_source_value", "value_as_number"
        } <= set(df.columns):
            for code, (lo, hi) in (
                measurement_ranges
                if measurement_ranges is not None
                else MEASUREMENT_RANGES
            ).items():
                value_checks.append(
                    (code, f"__rng_c_{code}", lo, hi)
                )
        aggs = [
            F.count(F.lit(1)).alias("__n"),
            F.countDistinct(pk).alias("__pk_distinct"),
            # isRequired: the pk itself must never be NULL
            F.sum(
                F.when(F.col(pk).isNull(), 1).otherwise(0)
            ).alias("__null_pk"),
        ]
        if cc in df.columns:
            # standardConceptRecordCompleteness: unmapped (= 0) fraction
            aggs.append(
                F.sum(
                    F.when(
                        F.col(cc).isNull() | (F.col(cc) == 0), 1
                    ).otherwise(0)
                ).alias("__std0")
            )
        if sc in df.columns:
            aggs.append(
                F.sum(
                    F.when(
                        F.col(sc).isNull() | (F.col(sc) == ""), 1
                    ).otherwise(0)
                ).alias("__src_null")
            )
        for c in spec["required"]:
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                    f"__null_{c}"
                )
            )
        for c, alias, lo, hi in value_checks:
            if alias.startswith("__rng_c_"):
                # concept-scoped: violations among rows OF that concept,
                # with the stock low/high split alongside the composite
                scoped = (
                    (F.col("measurement_source_value") == c)
                    & F.col("value_as_number").isNotNull()
                )
                aggs.append(
                    F.sum(
                        F.when(
                            scoped
                            & ~F.col("value_as_number").between(lo, hi),
                            1,
                        ).otherwise(0)
                    ).alias(alias)
                )
                aggs.append(
                    F.sum(
                        F.when(
                            scoped & (F.col("value_as_number") < lo), 1
                        ).otherwise(0)
                    ).alias(f"{alias}__lo")
                )
                aggs.append(
                    F.sum(
                        F.when(
                            scoped & (F.col("value_as_number") > hi), 1
                        ).otherwise(0)
                    ).alias(f"{alias}__hi")
                )
            else:
                aggs.append(out_of_range(c, lo, hi).alias(alias))
                v = F.col(c).cast("double")
                aggs.append(
                    F.sum(
                        F.when(v.isNotNull() & (v < lo), 1).otherwise(0)
                    ).alias(f"{alias}__lo")
                )
                aggs.append(
                    F.sum(
                        F.when(v.isNotNull() & (v > hi), 1).otherwise(0)
                    ).alias(f"{alias}__hi")
                )
        if end:
            aggs.append(
                F.sum(
                    F.when(
                        F.col(end) < F.col(start), 1
                    ).otherwise(0)
                ).alias("__rev")
            )
        stat = df.agg(*aggs).collect()[0]
        n = stat["__n"]
        for c in spec["required"]:
            emit(
                f"{name}.{c} measureValueCompleteness",
                stat[f"__null_{c}"],
                n,
                check_name="measureValueCompleteness",
                level="FIELD",
                table=name,
                field=c,
            )
        emit(
            f"{name}.{pk} isPrimaryKey",
            n - stat["__pk_distinct"],
            n,
            check_name="isPrimaryKey",
            level="FIELD",
            table=name,
            field=pk,
        )
        emit(
            f"{name}.{pk} isRequired",
            stat["__null_pk"],
            n,
            check_name="isRequired",
            level="FIELD",
            table=name,
            field=pk,
        )
        if "__std0" in stat.asDict():
            # INFORMATIONAL threshold 1.0: vocabulary-less runs are 100%
            # unmapped by design (concept mapping is the separate 3-stage
            # apply) — the prevalence is the signal, not the flag
            emit(
                f"{name}.{cc} standardConceptRecordCompleteness",
                stat["__std0"],
                n,
                check_name="standardConceptRecordCompleteness",
                level="FIELD",
                table=name,
                field=cc,
                threshold=1.0,
            )
        if "__src_null" in stat.asDict():
            emit(
                f"{name}.{sc} sourceValueCompleteness",
                stat["__src_null"],
                n,
                check_name="sourceValueCompleteness",
                level="FIELD",
                table=name,
                field=sc,
            )
        for c, alias, lo, hi in value_checks:
            concept_scoped = alias.startswith("__rng_c_")
            label = (
                f"{name}.value_as_number ({c}) plausibleValueLowHigh "
                f"[{lo},{hi}]"
                if concept_scoped
                else f"{name}.{c} plausibleValueLowHigh [{lo},{hi}]"
            )
            emit(
                label,
                stat[alias],
                n,
                check_name="plausibleValueLowHigh",
                level="CONCEPT" if concept_scoped else "FIELD",
                table=name,
                field="value_as_number" if concept_scoped else c,
            )
            # the stock DQD names split the composite into its two sides
            for side, bound, suffix in (
                ("plausibleValueLow", lo, "__lo"),
                ("plausibleValueHigh", hi, "__hi"),
            ):
                side_label = (
                    f"{name}.value_as_number ({c}) {side} {bound}"
                    if concept_scoped
                    else f"{name}.{c} {side} {bound}"
                )
                emit(
                    side_label,
                    stat[f"{alias}{suffix}"],
                    n,
                    check_name=side,
                    level="CONCEPT" if concept_scoped else "FIELD",
                    table=name,
                    field="value_as_number" if concept_scoped else c,
                )
        orphans = (
            df.where(F.col("person_id").isNotNull())
            .join(person_ids, "person_id", "left_anti")
            .count()
        )
        emit(
            f"{name}.person_id isForeignKey",
            orphans,
            n,
            check_name="isForeignKey",
            level="FIELD",
            table=name,
            field="person_id",
        )
        if end:
            emit(
                f"{name}.{end} plausibleTemporalAfter {start}",
                stat["__rev"],
                n,
                check_name="plausibleTemporalAfter",
                level="FIELD",
                table=name,
                field=end,
            )
        before_birth = (
            df.join(F.broadcast(birth), "person_id")
            .where(F.col(start) < F.col("__bd"))
            .count()
        )
        emit(
            f"{name}.{start} plausibleAfterBirth",
            before_birth,
            n,
            check_name="plausibleAfterBirth",
            level="FIELD",
            table=name,
            field=start,
        )
        # plausibleDuringLife: events of deceased persons start no later
        # than death_date + 60 days (the DQD grace window for billing /
        # post-mortem records). Denominator = the deceased persons' rows.
        if death_dates is not None:
            life = df.join(death_dates, "person_id").agg(
                F.count(F.lit(1)).alias("__ln"),
                F.sum(
                    F.when(
                        F.col(start)
                        > F.date_add(F.col("__dd"), 60),
                        1,
                    ).otherwise(0)
                ).alias("__lv"),
            ).collect()[0]
            emit(
                f"{name}.{start} plausibleDuringLife",
                life["__lv"] or 0,
                life["__ln"],
                check_name="plausibleDuringLife",
                level="FIELD",
                table=name,
                field=start,
            )
        # withinVisitDates: the event's start sits inside its linked
        # visit's [start-1d, end+1d] (open-ended visits clamp to start).
        # Denominator = rows with a non-NULL visit link.
        if (
            visit_windows is not None
            and name != "visit_occurrence"
            and "visit_occurrence_id" in df.columns
        ):
            vstat = (
                df.where(F.col("visit_occurrence_id").isNotNull())
                .join(visit_windows, "visit_occurrence_id")
                .agg(
                    F.count(F.lit(1)).alias("__vn"),
                    F.sum(
                        F.when(
                            (
                                F.col(start)
                                < F.date_sub(F.col("__vs"), 1)
                            )
                            | (
                                F.col(start)
                                > F.date_add(
                                    F.coalesce(
                                        F.col("__ve"), F.col(start)
                                    ),
                                    1,
                                )
                            ),
                            1,
                        ).otherwise(0)
                    ).alias("__vv"),
                )
                .collect()[0]
            )
            emit(
                f"{name}.{start} withinVisitDates",
                vstat["__vv"] or 0,
                vstat["__vn"],
                check_name="withinVisitDates",
                level="FIELD",
                table=name,
                field=start,
            )
        # TABLE-level family: persons with no record in this fact table
        # (DQD measurePersonCompleteness). Informational at low rates —
        # most persons legitimately lack e.g. device exposures — so the
        # DQD-style threshold makes it fail only when >95% of persons are
        # absent (the table is effectively empty relative to the cohort).
        n_person = pstat["__n"]
        absent = (
            person_ids.join(
                df.select("person_id").distinct(), "person_id", "left_anti"
            ).count()
        )
        emit(
            f"{name}.person_id measurePersonCompleteness",
            absent,
            n_person,
            check_name="measurePersonCompleteness",
            level="TABLE",
            table=name,
            field=None,
            threshold=0.95,
        )

    # measureConditionEraCompleteness (TABLE, Completeness): persons with
    # a condition occurrence but no condition era — the era-derivation
    # coverage check. Person-set semi/anti joins only.
    co_df, ce_df = tables.get("condition_occurrence"), tables.get(
        "condition_era"
    )
    if co_df is not None and ce_df is not None:
        cond_persons = co_df.select("person_id").distinct()
        n_cond = cond_persons.count()
        missing_era = cond_persons.join(
            ce_df.select("person_id").distinct(), "person_id", "left_anti"
        ).count()
        emit(
            "condition_era.person_id measureConditionEraCompleteness",
            missing_era,
            n_cond,
            check_name="measureConditionEraCompleteness",
            level="TABLE",
            table="condition_era",
            field=None,
        )

    # Vocabulary-backed Conformance (needs a concept table): fkDomain —
    # used standard-concept ids whose vocabulary domain differs from the
    # table's CDM domain; isStandardValidConcept — non-zero ids absent
    # from the concept table or not standard_concept = 'S'. The fact
    # table reduces to (concept id, row count) first, so the join is
    # vocabulary-sized, never fact-sized.
    if concept is not None:
        cmeta = concept.select(
            F.col("concept_id").alias("__cid"),
            F.col("domain_id").alias("__dom"),
            F.col("standard_concept").alias("__std"),
            F.col("concept_class_id").alias("__cls"),
        )
        for name, spec in DQD_SPECS.items():
            df = tables.get(name)
            cc = OMOP_FACTS[name].concept
            if df is None or cc not in df.columns:
                continue
            used = (
                df.where(F.col(cc).isNotNull() & (F.col(cc) != 0))
                .groupBy(F.col(cc).alias("__cid"))
                .agg(F.count(F.lit(1)).alias("__rows"))
                .join(cmeta, "__cid", "left")
            )
            cstat = used.agg(
                F.coalesce(F.sum("__rows"), F.lit(0)).alias("__denom"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__dom").isNotNull()
                            & (F.col("__dom") != spec["domain"]),
                            F.col("__rows"),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("__wrong_dom"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__dom").isNull()
                            | F.coalesce(F.col("__std") != "S", F.lit(True)),
                            F.col("__rows"),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("__nonstd"),
            ).collect()[0]
            emit(
                f"{name}.{cc} fkDomain {spec['domain']}",
                cstat["__wrong_dom"],
                cstat["__denom"],
                check_name="fkDomain",
                level="FIELD",
                table=name,
                field=cc,
            )
            emit(
                f"{name}.{cc} isStandardValidConcept",
                cstat["__nonstd"],
                cstat["__denom"],
                check_name="isStandardValidConcept",
                level="FIELD",
                table=name,
                field=cc,
            )
        # fkClass: drug_era concept ids must be RxNorm Ingredient class
        # (the stock DQD fkClass target)
        dera = tables.get("drug_era")
        if dera is not None and "drug_era_concept_id" in dera.columns:
            used = (
                dera.where(
                    F.col("drug_era_concept_id").isNotNull()
                    & (F.col("drug_era_concept_id") != 0)
                )
                .groupBy(F.col("drug_era_concept_id").alias("__cid"))
                .agg(F.count(F.lit(1)).alias("__rows"))
                .join(cmeta, "__cid", "left")
            )
            kstat = used.agg(
                F.coalesce(F.sum("__rows"), F.lit(0)).alias("__denom"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.coalesce(
                                F.col("__cls") != "Ingredient", F.lit(True)
                            ),
                            F.col("__rows"),
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("__noning"),
            ).collect()[0]
            emit(
                "drug_era.drug_era_concept_id fkClass Ingredient",
                kstat["__noning"],
                kstat["__denom"],
                check_name="fkClass",
                level="FIELD",
                table="drug_era",
                field="drug_era_concept_id",
            )

    # plausibleGender (CONCEPT, Plausibility): gender-specific concepts
    # (e.g. prostate conditions, pregnancy measurements) occur only with
    # the designated gender. ``gender_specific_concepts`` maps a SOURCE
    # value to its required gender_concept_id — supplied by the caller,
    # like the DQD's concept-level check designations CSV.
    if gender_specific_concepts:
        pgender = F.broadcast(
            person.select("person_id", "gender_concept_id")
        )
        for name in DQD_SPECS:
            df = tables.get(name)
            sc = OMOP_FACTS[name].source
            if df is None or sc not in df.columns:
                continue
            hits = df.where(
                F.col(sc).isin(list(gender_specific_concepts))
            )
            gstat = (
                hits.join(pgender, "person_id")
                .groupBy(F.col(sc).alias("__src"))
                .agg(
                    F.count(F.lit(1)).alias("__gn"),
                    *[
                        F.sum(
                            F.when(
                                (F.col(sc) == src)
                                & (F.col("gender_concept_id") != gid),
                                1,
                            ).otherwise(0)
                        ).alias(f"__gv_{i}")
                        for i, (src, gid) in enumerate(
                            gender_specific_concepts.items()
                        )
                    ],
                )
                .collect()
            )
            srcs = list(gender_specific_concepts)
            for r in gstat:
                i = srcs.index(r["__src"])
                emit(
                    f"{name}.{sc} ({r['__src']}) plausibleGender",
                    r[f"__gv_{i}"],
                    r["__gn"],
                    check_name="plausibleGender",
                    level="CONCEPT",
                    table=name,
                    field=sc,
                )

    # plausibleUnitConceptIds (CONCEPT, Plausibility): each measurement
    # concept reports in an allowed unit set — ``allowed_units`` maps a
    # measurement source value to its permitted unit source values.
    me_df = tables.get("measurement")
    if (
        allowed_units
        and me_df is not None
        and {"measurement_source_value", "unit_source_value"}
        <= set(me_df.columns)
    ):
        for src, units in allowed_units.items():
            ustat = me_df.where(
                F.col("measurement_source_value") == src
            ).agg(
                F.count(F.lit(1)).alias("__un"),
                F.sum(
                    F.when(
                        ~F.coalesce(
                            F.col("unit_source_value"), F.lit("")
                        ).isin(list(units)),
                        1,
                    ).otherwise(0)
                ).alias("__uv"),
            ).collect()[0]
            emit(
                f"measurement.unit_source_value ({src}) "
                "plausibleUnitConceptIds",
                ustat["__uv"] or 0,
                ustat["__un"],
                check_name="plausibleUnitConceptIds",
                level="CONCEPT",
                table="measurement",
                field="unit_source_value",
            )

    return spark.createDataFrame(rows, DQD_FULL_SCHEMA)


def validate(checks: list[Check]) -> dict[str, Any]:
    score = sum(w for _, ok, w, _ in checks if ok)
    total = sum(w for _, _, w, _ in checks)
    return {
        "passed": all(ok for _, ok, _, _ in checks),
        "score": round(score / total, 4) if total else 1.0,
        "checks": {
            name: {"passed": ok, "weight": w, "details": d}
            for name, ok, w, d in checks
        },
    }
