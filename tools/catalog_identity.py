#!/usr/bin/env python
"""Dump the Achilles, DQD and pipeline outputs of one checkout to a text
file, so two checkouts can be compared for output identity:

    python tools/catalog_identity.py OUT.txt            # this checkout
    python tools/catalog_identity.py OUT.txt --root DIR  # another checkout
    diff parent.txt change.txt

Covers, as the ``repr`` of collected rows:
- ``run_default_analyses`` results and dists, exact and approx mode, over
  ``run_pipeline(raw_tables_full)``, the planted mini CDM of
  tests/test_achilles_defaults.py and its FK/range CDM (sorted rows; the
  FK/range CDM is always read from the tests of this tool's own checkout,
  so a ``--root`` checkout that predates it is still run over it);
- ``run_dqd_checks`` over the full fixture with the vocabulary, gender
  and unit arguments of ``test_dqd_full_check_type_catalog``, without
  them, and over person + condition_occurrence (rows in emitted order,
  issue_id and descriptions included);
- every layer ``run_pipeline(partition_by_year=True)`` writes (sorted
  rows) and the written partition directories;
- every OMOP layer of ``run_pipeline(raw_tables_full, vocab_tables=…)``
  over an inline vocabulary that maps codes of all five concept-mapped
  facts (condition, procedure, device, drug from RxNorm and CVX, and
  LOINC measurement/observation), one of them through 'Maps to'.
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import sys
import tempfile
from pathlib import Path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument(
        "--root", default=str(Path(__file__).resolve().parent.parent),
        help="checkout whose package and test fixtures are imported",
    )
    args = ap.parse_args(argv)
    own_tests = importlib.util.spec_from_file_location(
        "own_achilles_tests",
        Path(__file__).resolve().parent.parent
        / "tests" / "test_achilles_defaults.py",
    )
    own = importlib.util.module_from_spec(own_tests)
    own_tests.loader.exec_module(own)
    out_path = os.path.abspath(args.out)
    sys.path.insert(0, args.root)
    os.chdir(args.root)

    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.analytics import run_default_analyses
    from synthea2omop_etl_spark.plans.pipeline import run_pipeline
    from synthea2omop_etl_spark.session import get_spark
    from synthea2omop_etl_spark.validate import run_dqd_checks
    from tests.fixtures_synthea import raw_tables_full
    from tests.test_achilles_defaults import _mini_cdm

    spark = get_spark(app_name="catalog-identity", shuffle_partitions=8)
    out = open(out_path, "w")

    def dump(label, df, ordered=False):
        rows = df.collect()
        if not ordered:
            rows = sorted(rows, key=repr)
        out.write(f"== {label} {df.schema.simpleString()} n={len(rows)}\n")
        out.writelines(repr(r) + "\n" for r in rows)
        out.flush()

    omop = run_pipeline(spark, raw_tables_full(spark))
    for name, cdm in (("full", omop), ("mini", _mini_cdm(spark)),
                      ("fk_range", own._fk_range_cdm(spark))):
        for mode in ("exact", "approx"):
            res, dist = run_default_analyses(cdm, mode=mode)
            dump(f"achilles {name} {mode} results", res)
            dump(f"achilles {name} {mode} dist", dist)

    tables = {
        k.removeprefix("omop_"): v
        for k, v in omop.items()
        if k.startswith("omop_")
    }
    concept = spark.createDataFrame(
        [(44054006, "Condition", "S", "Clinical Finding"),
         (38341003, "Drug", "S", "Clinical Finding"),
         (195662009, "Condition", None, "Clinical Finding"),
         (860975, "Drug", "S", "Clinical Drug")],
        ["concept_id", "domain_id", "standard_concept", "concept_class_id"],
    )
    vocab_tables = dict(
        tables,
        condition_occurrence=tables["condition_occurrence"].withColumn(
            "condition_concept_id",
            F.expr("CAST(condition_source_value AS BIGINT)"),
        ),
        drug_era=tables["drug_era"].withColumn(
            "drug_era_concept_id", F.lit(860975)
        ),
    )
    person = omop["omop_person"]
    dump("dqd full vocab", run_dqd_checks(
        vocab_tables, person, spark, concept=concept,
        gender_specific_concepts={"44054006": 8507},
        allowed_units={"8310-5": ["Cel"]},
    ), ordered=True)
    dump("dqd full", run_dqd_checks(tables, person, spark), ordered=True)
    dump("dqd person+condition", run_dqd_checks(
        {"condition_occurrence": tables["condition_occurrence"]},
        person, spark,
    ), ordered=True)

    with tempfile.TemporaryDirectory() as d:
        run_pipeline(spark, raw_tables_full(spark), output_dir=d,
                     partition_by_year=True)
        for key in sorted(os.listdir(d)):
            if key.startswith("omop_"):
                dump(f"layer {key}", spark.read.parquet(os.path.join(d, key)))
        dirs = sorted({
            os.path.relpath(p, d)
            for p, _, files in os.walk(d)
            if any(f.endswith(".parquet") for f in files)
        })
        out.write(f"== partition dirs {dirs}\n")

    vocab = {
        "concept": spark.createDataFrame(
            [(1001, "Condition", "SNOMED", "S", "44054006", None),
             (1004, "Condition", "SNOMED", None, "195662009", None),
             (1005, "Condition", "SNOMED", "S", "195662009-std", None),
             (1101, "Procedure", "SNOMED", "S", "430193006", None),
             (1201, "Device", "SNOMED", "S", "337414009", None),
             (2001, "Drug", "RxNorm", "S", "860975", None),
             (5001, "Drug", "CVX", "S", "140", None),
             (4001, "Measurement", "LOINC", "S", "8302-2", None),
             (4002, "Observation", "LOINC", "S", "72166-2", None)],
            "concept_id bigint, domain_id string, vocabulary_id string, "
            "standard_concept string, concept_code string, "
            "invalid_reason string",
        ).withColumn("concept_name", F.col("concept_code")),
        "concept_relationship": spark.createDataFrame(
            [(1004, 1005, "Maps to", None)],
            "concept_id_1 bigint, concept_id_2 bigint, "
            "relationship_id string, invalid_reason string",
        ),
    }
    mapped = run_pipeline(spark, raw_tables_full(spark), vocab_tables=vocab)
    for key in sorted(mapped):
        if key.startswith("omop_"):
            dump(f"mapped layer {key}", mapped[key])
    out.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
