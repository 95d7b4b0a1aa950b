"""CLI surface tests (run → validate → analytics) over fixture CSVs."""

from __future__ import annotations

import csv
import json

import pytest

from synthea2omop_etl_spark.cli import main
from tests import fixtures_synthea as fx


_CORE_CSVS = [
    ("patients", fx.PATIENT_COLS, fx.PATIENTS),
    ("encounters", fx.ENCOUNTER_COLS, fx.ENCOUNTERS),
    ("conditions", fx.CONDITION_COLS, fx.CONDITIONS),
]


def _write_csvs(d, tables) -> None:
    for name, cols, rows in tables:
        with open(d / f"{name}.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows(rows)


@pytest.fixture(scope="module")
def csv_dir(tmp_path_factory, spark):
    d = tmp_path_factory.mktemp("synthea_csv")
    _write_csvs(d, _CORE_CSVS + [
        ("medications", fx.MEDICATION_COLS, fx.MEDICATIONS),
        ("procedures", fx.PROCEDURE_COLS, fx.PROCEDURES),
        ("observations", fx.OBSERVATION_COLS, fx.OBSERVATIONS),
        ("immunizations", fx.IMMUNIZATION_COLS, fx.IMMUNIZATIONS),
        ("organizations", fx.ORGANIZATION_COLS, fx.ORGANIZATIONS),
        ("providers", fx.PROVIDER_COLS, fx.PROVIDERS),
    ])
    return d


def test_cli_run_validate_smoke(tmp_path, capsys, spark):
    """Default-tier CLI smoke: run → validate → analytics --list over the
    patients, encounters and conditions CSVs only (the full run →
    validate → analytics → achilles chain is the slow-tier test below)."""
    csv_in = tmp_path / "csv"
    csv_in.mkdir()
    _write_csvs(csv_in, _CORE_CSVS)
    out_dir = str(tmp_path / "omop")
    assert main(["run", "--input", str(csv_in), "--output", out_dir]) == 0
    written = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rc = main(["validate", "--omop", out_dir])
    report = json.loads(capsys.readouterr().out)
    # exit 1: the fixture deliberately contains an invalid gender
    assert rc == 1
    assert not report["checks"]["demographics"]["passed"]
    assert report["checks"]["referential_integrity"]["passed"]
    assert any(
        r["cdm_table_name"] == "condition_occurrence" for r in report["dqd"]
    )
    assert main(["analytics", "--omop", out_dir, "--list"]) == 0
    inv = {
        r["table_name"]: r["n_rows"]
        for r in map(json.loads, capsys.readouterr().out.splitlines())
    }
    assert inv["person"] == written["tables"]["person"] == 3
    assert (
        inv["condition_occurrence"]
        == written["tables"]["condition_occurrence"]
        > 0
    )


@pytest.mark.slow
def test_cli_run_validate_analytics(csv_dir, tmp_path, capsys, spark):
    out_dir = str(tmp_path / "omop")
    ckpt = str(tmp_path / "ckpt.json")
    rc = main(
        [
            "run",
            "--input",
            str(csv_dir),
            "--output",
            out_dir,
            "--checkpoint",
            ckpt,
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["tables"]["person"] == 3
    # full input dir → provider/care_site emitted, immunizations in drugs
    assert report["tables"]["provider"] == 2
    assert report["tables"]["care_site"] == 2
    assert report["tables"]["drug_exposure"] == 5  # 2 meds + 3 immunizations

    # validate exits 1: the fixture deliberately contains an invalid gender
    rc = main(["validate", "--omop", out_dir])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1
    assert not out["checks"]["demographics"]["passed"]
    assert out["checks"]["referential_integrity"]["passed"]
    assert out["checks"]["provider_linkage"]["passed"]
    assert out["checks"]["care_site_linkage"]["passed"]

    rc = main(
        [
            "analytics",
            "--omop",
            out_dir,
            "--query",
            "SELECT count(*) AS n FROM person",
        ]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["n"] == 3

    # table browsing: --list inventory and --preview pagination
    rc = main(["analytics", "--omop", out_dir, "--list"])
    assert rc == 0
    inv = {
        r["table_name"]: r
        for r in (
            json.loads(line)
            for line in capsys.readouterr().out.strip().splitlines()
        )
    }
    assert inv["person"]["n_rows"] == 3
    assert inv["person"]["n_columns"] > 5
    assert "visit_occurrence" in inv and "cost" in inv

    rc = main(
        ["analytics", "--omop", out_dir, "--preview", "person",
         "--limit", "2", "--offset", "1"]
    )
    assert rc == 0
    page = [
        json.loads(line)
        for line in capsys.readouterr().out.strip().splitlines()
    ]
    assert len(page) == 2
    assert page[0]["person_id"] == 2  # offset 1 into person_id order

    # exactly one mode required
    assert main(["analytics", "--omop", out_dir]) == 2
    capsys.readouterr()
    assert main(
        ["analytics", "--omop", out_dir, "--preview", "nope"]
    ) == 2
    capsys.readouterr()

    rc = main(["achilles", "--omop", out_dir])
    assert rc == 0
    ach = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ach["analyses"]["1"] == 1  # one row for the person-count analysis
    assert ach["dist_rows"] >= 5
    # provider 300-series (the fixture dir includes providers.csv) and the
    # wired cost/era families
    for aid in ("300", "301", "302", "1000", "1001", "1500", "1501"):
        assert aid in ach["analyses"], f"analysis {aid} missing"
    import os

    assert os.path.isdir(os.path.join(out_dir, "achilles_results"))
    assert os.path.isdir(os.path.join(out_dir, "achilles_results_dist"))


def test_cli_run_with_vocab_dir(csv_dir, tmp_path, capsys, spark):
    """cli run --vocab-dir end-to-end: an Athena-style export dir activates
    the concept-mapping step and the written parquet carries mapped
    concept ids (the reference's vocabulary-loaded behavior)."""
    vocab_dir = tmp_path / "vocab"
    vocab_dir.mkdir()
    concept_rows = [
        # concept_id name domain vocabulary class standard code invalid
        ("1001", "Diabetes mellitus", "Condition", "SNOMED",
         "Clinical Finding", "S", "44054006", ""),
        ("1002", "Hypertension", "Condition", "SNOMED",
         "Clinical Finding", "S", "38341003", ""),
    ]
    with open(vocab_dir / "CONCEPT.csv", "w") as f:
        f.write(
            "concept_id\tconcept_name\tdomain_id\tvocabulary_id\t"
            "concept_class_id\tstandard_concept\tconcept_code\t"
            "invalid_reason\n"
        )
        for r in concept_rows:
            f.write("\t".join(r) + "\n")
    with open(vocab_dir / "CONCEPT_RELATIONSHIP.csv", "w") as f:
        f.write(
            "concept_id_1\tconcept_id_2\trelationship_id\tinvalid_reason\n"
        )
        f.write("1001\t1001\tMaps to\t\n")

    out_dir = str(tmp_path / "omop_vocab")
    rc = main(
        ["run", "--input", str(csv_dir), "--output", out_dir,
         "--vocab-dir", str(vocab_dir)]
    )
    assert rc == 0
    capsys.readouterr()
    conds = {
        r.condition_source_value: r.condition_concept_id
        for r in spark.read.parquet(
            f"{out_dir}/omop_condition_occurrence"
        ).collect()
    }
    assert conds["44054006"] == 1001  # mapped via 'Maps to' self-relation
    assert conds["38341003"] == 1002  # direct-standard fallback
    assert conds["195662009"] == 0  # not in the vocab → unmapped


def test_cli_missing_required_input(tmp_path, capsys):
    rc = main(
        ["run", "--input", str(tmp_path), "--output", str(tmp_path / "o")]
    )
    assert rc == 2
    assert "required input missing" in capsys.readouterr().err


@pytest.mark.parametrize("layers", [(), ("visit_occurrence",)])
def test_cli_omop_dir_without_person(layers, tmp_path, capsys):
    """validate / achilles over a directory without omop_person (empty, or
    holding another layer only) print an error and exit 2 before any
    Spark work, as analytics does over an empty directory."""
    for name in layers:
        (tmp_path / f"omop_{name}").mkdir()
    for cmd in ("validate", "achilles"):
        assert main([cmd, "--omop", str(tmp_path)]) == 2
        assert "no omop_person found" in capsys.readouterr().err
    if not layers:
        assert main(["analytics", "--omop", str(tmp_path), "--list"]) == 2
        assert "no omop_* tables found" in capsys.readouterr().err


def test_cli_curate_parquet_and_jsonl(tmp_path, capsys, spark):
    """curate: parquet input end-to-end, then JSONL input with a corrupt
    line quarantined — both emit the JSON report."""
    src = "/root/testdata/sf0.001/documents.parquet"
    out1 = tmp_path / "cur1"
    assert main(["curate", "--input", src, "--output", str(out1)]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["input_docs"] == 500
    assert rep["curated_docs"] > 0
    assert set(rep["splits"]) <= {"train", "val", "test"}
    assert sum(s["n_docs"] for s in rep["splits"].values()) == rep["curated_docs"]

    # JSONL path with one corrupt line
    import gzip

    shard_dir = tmp_path / "shards"
    shard_dir.mkdir()
    docs = spark.read.parquet(src).limit(50).collect()
    with gzip.open(shard_dir / "part-0.jsonl.gz", "wt") as f:
        for r in docs:
            f.write(json.dumps({
                "doc_id": r["doc_id"], "text": r["text"], "lang": r["lang"],
                "source": r["source"], "n_chars": r["n_chars"],
            }) + "\n")
        f.write("{broken json\n")
    out2 = tmp_path / "cur2"
    assert main(["curate", "--input", str(shard_dir), "--format", "jsonl",
                 "--output", str(out2)]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["input_docs"] == 50
    assert rep2["quarantined_lines"] == 1


def test_cli_compact_and_diff(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    layer = str(tmp_path / "layer")
    df = spark.range(0, 2000).withColumn("v", F.col("id") * 2.0)
    for i in range(3):
        df.where(F.pmod("id", F.lit(3)) == i).repartition(4).write.mode(
            "append"
        ).parquet(layer)

    assert main(["compact", "--path", layer]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["files_before"] == 12 and report["files_after"] == 1
    assert spark.read.parquet(layer).count() == 2000

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    spark.range(0, 10).withColumn("v", F.lit(1.0)).write.parquet(old)
    spark.range(5, 12).withColumn(
        "v", F.when(F.col("id") == 5, 9.0).otherwise(1.0)
    ).write.parquet(new)
    out = str(tmp_path / "diff")
    assert main(
        ["diff", "--old", old, "--new", new, "--keys", "id",
         "--output", out]
    ) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report == {
        "keys": ["id"], "compare": ["v"],
        "added": 2, "removed": 5, "changed": 1,
    }
    assert spark.read.parquet(out).count() == 8


def test_cli_table_versioning(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    spark.range(0, 100).withColumn("v", F.lit(1.0)).write.parquet(src_a)
    spark.range(100, 130).withColumn("v", F.lit(2.0)).write.parquet(src_b)
    t = str(tmp_path / "tbl")

    assert main(["table", "commit", "--table", t, "--input", src_a]) == 0
    assert json.loads(capsys.readouterr().out)["committed_version"] == 0
    assert main(["table", "commit", "--table", t, "--input", src_b]) == 0
    assert json.loads(capsys.readouterr().out)["committed_version"] == 1

    assert main(["table", "history", "--table", t]) == 0
    hist = json.loads(capsys.readouterr().out)
    assert [h["version"] for h in hist] == [0, 1]

    out = str(tmp_path / "asof0")
    assert main(
        ["table", "read", "--table", t, "--version", "0", "--output", out]
    ) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 100
    assert spark.read.parquet(out).count() == 100

    assert main(["table", "rollback", "--table", t, "--version", "0"]) == 0
    assert json.loads(capsys.readouterr().out)["new_version"] == 2
    assert main(["table", "read", "--table", t]) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 100

    assert main(["table", "vacuum", "--table", t, "--keep", "1",
                 "--min-age-seconds", "0"]) == 0
    removed = json.loads(capsys.readouterr().out)["removed_files"]
    assert removed > 0  # v1's appended files become unreferenced
    assert main(["table", "read", "--table", t]) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 100

    # missing required args exit 2 without stack traces
    assert main(["table", "commit", "--table", t]) == 2
    assert main(["table", "rollback", "--table", t]) == 2


def test_cli_table_merge(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    base = str(tmp_path / "base")
    upd = str(tmp_path / "upd")
    spark.range(0, 50).withColumn("v", F.lit(1.0)).write.parquet(base)
    spark.range(40, 60).withColumn("v", F.lit(2.0)).write.parquet(upd)
    t = str(tmp_path / "tbl")

    assert main(["table", "commit", "--table", t, "--input", base]) == 0
    capsys.readouterr()
    assert main(
        ["table", "merge", "--table", t, "--input", upd, "--keys", "id"]
    ) == 0
    assert json.loads(capsys.readouterr().out)["merged_version"] == 1
    assert main(["table", "read", "--table", t]) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 60

    assert main(["table", "merge", "--table", t, "--input", upd]) == 2  # no keys


def test_cli_deliver(tmp_path, capsys, spark):
    src = str(tmp_path / "corpus")
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).write.parquet(src)
    out = str(tmp_path / "delivered")
    assert main(
        ["deliver", "--input", src, "--output", out,
         "--seq-len", "512", "--buckets", "4", "--shards", "2"]
    ) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_docs"] == 500 and report["seq_len"] == 512
    assert spark.read.parquet(f"{out}/spans").count() == 500


def test_cli_catalog_snapshot_rollback(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    src = tmp_path / "omop"
    (src / "omop_a").mkdir(parents=True)
    spark.range(0, 40).write.mode("overwrite").parquet(str(src / "omop_a"))
    spark.range(0, 7).withColumn("v", F.lit(1.0)).write.parquet(
        str(src / "omop_b")
    )
    cat = str(tmp_path / "cat")

    assert main(
        ["catalog", "snapshot", "--catalog", cat, "--source", str(src)]
    ) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"catalog_version": 0, "tables": ["omop_a", "omop_b"]}

    # second snapshot after a table changes
    spark.range(0, 99).write.mode("overwrite").parquet(str(src / "omop_a"))
    assert main(
        ["catalog", "snapshot", "--catalog", cat, "--source", str(src)]
    ) == 0
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["catalog_version"] == 1

    from synthea2omop_etl_spark.sources.catalog import read_catalog

    assert read_catalog(spark, cat)["omop_a"].count() == 99
    assert read_catalog(spark, cat, 0)["omop_a"].count() == 40

    assert main(["catalog", "rollback", "--catalog", cat, "--version", "0"]) == 0
    capsys.readouterr()
    assert read_catalog(spark, cat)["omop_a"].count() == 40

    assert main(["catalog", "history", "--catalog", cat]) == 0
    hist = json.loads(capsys.readouterr().out)
    assert [h["version"] for h in hist] == [0, 1, 2]

    assert main(["catalog", "snapshot", "--catalog", cat]) == 2  # no --source


def test_cli_table_stats_and_prune(tmp_path, capsys, spark):
    src_lo = str(tmp_path / "lo")
    src_hi = str(tmp_path / "hi")
    spark.range(0, 100).coalesce(1).write.parquet(src_lo)
    spark.range(1000, 1100).coalesce(1).write.parquet(src_hi)
    t = str(tmp_path / "tbl")
    for s in (src_lo, src_hi):
        assert main(
            ["table", "commit", "--table", t, "--input", s,
             "--stats-cols", "id"]
        ) == 0
        capsys.readouterr()
    assert main(
        ["table", "read", "--table", t, "--prune", "id:1000:"]
    ) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 100
    assert main(["table", "read", "--table", t]) == 0
    assert json.loads(capsys.readouterr().out)["rows"] == 200


def test_cli_stats(tmp_path, capsys, spark):
    from pyspark.sql import functions as F

    layer = str(tmp_path / "vals")
    (
        spark.range(0, 300)
        .select(
            F.col("id"),
            (F.pmod("id", F.lit(3))).cast("string").alias("g"),
            (F.col("id") % 37 * 1.5).alias("x"),
        )
        .write.parquet(layer)
    )

    assert main([
        "stats", "--input", layer, "--value", "x", "--by", "g",
        "--mode", "ci", "--id-col", "id", "--replicates", "20",
    ]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3
    for r in rows:
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"]

    assert main([
        "stats", "--input", layer, "--value", "x", "--by", "g",
        "--mode", "robust",
    ]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(rows) == 3 and all("winsorized_mean" in r for r in rows)

    # ci without --id-col is a usage error
    assert main([
        "stats", "--input", layer, "--value", "x", "--by", "g",
    ]) == 2


def test_cli_tokenizer(tmp_path, capsys, spark):
    """cli tokenizer: trains merges + segments and encodes the corpus;
    every segmentation concatenates back to its word."""
    import json

    from synthea2omop_etl_spark.cli import main

    src = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "low low lower newest newest widest")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "tok")
    rc = main(
        [
            "tokenizer", "--input", src, "--output", out,
            "--num-merges", "4", "--encode",
        ]
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["num_merges"] == 4
    assert report["vocab_words"] == 4
    assert report["encoded_docs"] == 1
    segs = spark.read.parquet(out + "/segments").collect()
    assert all(r["seg"].replace(" ", "") == r["word"] for r in segs)
    enc = spark.read.parquet(out + "/encoded").collect()[0]
    assert enc["bpe_text"].replace(" ", "") == "lowlowlowernewestnewestwidest"
