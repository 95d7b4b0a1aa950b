"""Streaming (events) and source-reader (malformed CSV repair, vocab TSV)
tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from synthea2omop_etl_spark.sources.readers import (
    read_csv_all_text,
    read_csv_repaired,
    read_vocabulary_table,
)
from synthea2omop_etl_spark.streaming import (
    read_events_stream,
    sessionized_stats,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # File-source streaming wants a directory; stage the single-file table.
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    return str(d)


def _run_stream(df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_counts_match_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    _run_stream(windowed_event_counts(stream), "win_counts")
    streamed = spark.sql("SELECT * FROM win_counts")

    from synthea2omop_etl_spark.sources.testdata import load_table

    batch = (
        load_table(spark, SF, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_sessionization_stream(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    _run_stream(sessionized_stats(stream), "sessions")
    sessions = spark.sql("SELECT * FROM sessions")
    n = sessions.count()
    assert n > 0
    # sessions are disjoint per user and ordered
    bad = spark.sql(
        """
        SELECT count(*) AS c FROM (
          SELECT user_id, session_end,
                 lead(session_start) OVER (PARTITION BY user_id ORDER BY session_start) AS nxt
          FROM sessions) WHERE nxt IS NOT NULL AND nxt < session_end
        """
    ).collect()[0].c
    assert bad == 0


def test_stream_upsert_exactly_once(spark, events_dir, tmp_path):
    """foreachBatch + insert-if-absent: re-running the whole stream from a
    FRESH checkpoint (worst-case replay — every micro-batch re-delivered)
    appends nothing; the sink is idempotent on the natural key."""
    from synthea2omop_etl_spark.streaming.sink import stream_upsert

    target = str(tmp_path / "events_table")
    stream = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    q = stream_upsert(
        stream, target, ["event_id"], str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)
    n_first = spark.read.parquet(target).count()
    assert n_first == spark.read.parquet(events_dir).count()
    # full replay: new checkpoint re-reads every file; nothing duplicates
    q2 = stream_upsert(
        stream, target, ["event_id"], str(tmp_path / "ckpt2")
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == n_first


def test_ntz_parquet_loads_as_utc_timestamp(spark, tmp_path):
    """ADVICE r3: tz-naive-micros parquet (read as TIMESTAMP_NTZ) must load
    as TIMESTAMP at the SAME instant (naive-as-UTC, DuckDB's epoch()
    semantics) through BOTH the batch loader and the streaming reader —
    even when the session tz is not UTC at call time."""
    import datetime

    from pyspark.sql import types as T

    from synthea2omop_etl_spark.sources.testdata import load_table

    # events.parquet-shaped table with an NTZ ts column
    sf_dir = tmp_path / "sf_ntz"
    sf_dir.mkdir()
    naive = datetime.datetime(2024, 3, 1, 12, 0, 0)  # noon, tz-naive
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    # repartition(1): a 1-row createDataFrame otherwise writes one part
    # file per default-parallelism slice (31 of them empty)
    spark.createDataFrame(
        [(1, 10, "click", naive, 1.0)], schema
    ).repartition(1).write.parquet(str(sf_dir / "events.parquet"))

    expected_epoch = int(
        naive.replace(tzinfo=datetime.timezone.utc).timestamp()
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        # adversarial session tz: without the UTC pin the NTZ→TZ cast
        # would shift the instant by 9 hours
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        df = load_table(spark, str(sf_dir), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert (
            df.select(F.col("ts").cast("long")).collect()[0][0]
            == expected_epoch
        )

        # the written parquet output IS a directory — stream it directly
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        stream = read_events_stream(spark, str(sf_dir / "events.parquet"))
        assert stream.isStreaming
        assert isinstance(stream.schema["ts"].dataType, T.TimestampType)
        _run_stream(
            stream.groupBy().agg(
                F.min(F.col("ts").cast("long")).alias("epoch")
            ),
            "ntz_probe",
        )
        assert (
            spark.sql("SELECT epoch FROM ntz_probe").collect()[0][0]
            == expected_epoch
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_read_csv_repaired(spark, tmp_path):
    path = str(tmp_path / "broken.csv")
    good = "11111111-1111-1111-1111-111111111111,2020-01-01,alice"
    glued = "22222222-2222-2222-2222-222222222222" + "2020-02-02bob"  # commas lost
    extra = "33333333-3333-3333-3333-333333333333,2020-03-03,carol,extra,fields"
    with open(path, "w") as f:
        f.write("ID,DATE,NAME\n" + good + "\n" + glued + "\n" + extra + "\n")
    df = read_csv_repaired(spark, path)
    rows = {r.ID: r for r in df.collect()}
    assert len(rows) == 3
    assert rows["11111111-1111-1111-1111-111111111111"].NAME == "alice"
    # glued row: UUID peeled, remainder split evenly across 2 columns
    g = rows["22222222-2222-2222-2222-222222222222"]
    assert g.DATE and g.NAME
    assert (g.DATE + g.NAME) == "2020-02-02bob"
    # extra-field row: tail folded into last column
    assert rows["33333333-3333-3333-3333-333333333333"].NAME == "carol,extra,fields"


def test_vocab_tsv_reader(spark, tmp_path):
    path = str(tmp_path / "CONCEPT.csv")
    with open(path, "w") as f:
        f.write("concept_id\tconcept_name\tinvalid_reason\n")
        f.write("1\tAspirin\t\n")
        f.write("2\tIbuprofen\tD\n")
    df = read_vocabulary_table(spark, path)
    rows = {r.concept_id: r for r in df.collect()}
    assert rows["1"].invalid_reason is None  # empty string → NULL
    assert rows["2"].invalid_reason == "D"


def test_read_csv_all_text(spark, tmp_path):
    path = str(tmp_path / "t.csv")
    with open(path, "w") as f:
        f.write("A,B\n1,2\n")
    df = read_csv_all_text(spark, path)
    assert dict(df.dtypes) == {"A": "string", "B": "string"}


def test_stateful_seen_filter(spark, events_dir):
    from synthea2omop_etl_spark.streaming.stateful import streaming_seen_filter

    stream = read_events_stream(spark, events_dir)
    q = (
        streaming_seen_filter(stream)
        .writeStream.format("memory")
        .queryName("seen")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.event_type): r.first_event_id
        for r in spark.sql("SELECT * FROM seen").collect()
    }
    # batch twin: first event_id per (user, type)
    batch = (
        spark.read.parquet(f"{events_dir}/part-0.parquet")
        .groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"))
    )
    want = {
        (r.user_id, r.event_type): r.first_event_id for r in batch.collect()
    }
    assert got == want


def test_write_then_swap(spark, tmp_path):
    from synthea2omop_etl_spark.sources.writers import write_then_swap

    target = str(tmp_path / "layer")
    df1 = spark.range(10)
    write_then_swap(df1, target)
    assert spark.read.parquet(target).count() == 10
    df2 = spark.range(25)
    write_then_swap(df2, target)
    assert spark.read.parquet(target).count() == 25
    import os as _os

    assert not _os.path.exists(target + "__old")


def test_load_vocabulary_full_surface(spark, tmp_path):
    """8-table vocabulary load (enhanced_vocabulary_loader.py:499-596):
    typed concept/concept_ancestor/drug_strength + the drug-class rollup."""
    from synthea2omop_etl_spark.sources.vocabulary import (
        drug_class_rollup,
        load_vocabulary,
    )

    (tmp_path / "CONCEPT.csv").write_text(
        "concept_id\tconcept_name\tdomain_id\tvocabulary_id\tconcept_class_id"
        "\tstandard_concept\tconcept_code\tvalid_start_date\tvalid_end_date"
        "\tinvalid_reason\n"
        "10\tNSAIDs\tDrug\tATC\tATC 3rd\tC\tM01A\t19700101\t20991231\t\n"
        "11\tAspirin\tDrug\tRxNorm\tIngredient\tS\t1191\t19700101\t20991231\t\n"
        "12\tIbuprofen\tDrug\tRxNorm\tIngredient\tS\t5640\t19700101\t20991231\t\n"
    )
    (tmp_path / "CONCEPT_ANCESTOR.csv").write_text(
        "ancestor_concept_id\tdescendant_concept_id"
        "\tmin_levels_of_separation\tmax_levels_of_separation\n"
        "10\t11\t1\t2\n"
        "10\t12\t1\t1\n"
        "10\t10\t0\t0\n"
    )
    (tmp_path / "DRUG_STRENGTH.csv").write_text(
        "drug_concept_id\tingredient_concept_id\tamount_value"
        "\tamount_unit_concept_id\tvalid_start_date\tvalid_end_date"
        "\tinvalid_reason\n"
        "11\t11\t500\t8576\t19700101\t20991231\t\n"
        "12\t12\tnot-a-number\t8576\t19700101\t20991231\t\n"
    )
    vocab = load_vocabulary(spark, str(tmp_path))
    assert set(vocab) == {"concept", "concept_ancestor", "drug_strength"}

    concept = {r.concept_id: r for r in vocab["concept"].collect()}
    assert concept[10].concept_id == 10  # typed int
    assert str(concept[10].valid_start_date) == "1970-01-01"  # YYYYMMDD parsed

    anc = vocab["concept_ancestor"].collect()
    assert all(isinstance(r.min_levels_of_separation, int) for r in anc)

    ds = {r.drug_concept_id: r for r in vocab["drug_strength"].collect()}
    assert ds[11].amount_value == 500.0
    assert ds[12].amount_value is None  # cast-or-null

    exposures = spark.createDataFrame(
        [(11, 1), (11, 2), (12, 1)], "drug_concept_id int, person_id int"
    )
    rollup = drug_class_rollup(
        exposures, vocab["concept"], vocab["concept_ancestor"], "ATC 3rd"
    ).collect()
    assert len(rollup) == 1
    assert rollup[0].class_name == "NSAIDs"
    assert rollup[0].n_exposures == 3
    assert rollup[0].n_persons == 2


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """Genuine JDBC source/sink exercise (S9) against embedded Apache Derby
    (ships in Spark's jars — no external DB needed): batched write,
    plain read, and a partitioned read split across 4 connections."""
    from synthea2omop_etl_spark.sources.jdbc import (
        read_jdbc_table,
        write_jdbc_table,
    )

    url = f"jdbc:derby:{tmp_path}/testdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    src = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "CAST(id * 1.5 AS DOUBLE) AS val"
    )
    write_jdbc_table(src, url, "t1", mode="overwrite", batch_size=200,
                     properties=props)

    plain = read_jdbc_table(spark, url, "t1", properties=props)
    assert plain.count() == 1000

    part = read_jdbc_table(
        spark, url, "t1",
        partition_column="id", lower_bound=0, upper_bound=1000,
        num_partitions=4, properties=props,
    )
    assert part.rdd.getNumPartitions() == 4
    got = part.agg(F.sum("id"), F.sum("val")).collect()[0]
    assert got[0] == 499500 and abs(got[1] - 749250.0) < 1e-6


def test_incremental_person_etl_stable_ids(spark, tmp_path):
    """Streaming Synthea ingest (landing-zone pattern): CSVs arriving in
    waves flow through typing → id-map extension → person upsert. Seen
    patients keep their dense ids across waves; replays insert nothing."""
    import csv as _csvmod

    from synthea2omop_etl_spark.streaming.etl import (
        PATIENT_RAW_COLUMNS,
        incremental_person_etl,
        read_patients_stream,
    )
    from tests.fixtures_synthea import P1, P2, P3, PATIENTS

    land = tmp_path / "landing"
    land.mkdir()
    out = str(tmp_path / "omop_inc")
    ckpt = str(tmp_path / "ckpt_inc")

    def drop(name, rows):
        with open(land / name, "w", newline="") as f:
            w = _csvmod.writer(f)
            w.writerow(PATIENT_RAW_COLUMNS)
            w.writerows(rows)

    def run():
        q = incremental_person_etl(
            read_patients_stream(spark, str(land)), out, ckpt
        )
        q.awaitTermination(120)
        assert q.exception() is None

    # wave 1: two patients
    drop("wave1.csv", [PATIENTS[0], PATIENTS[1]])
    run()
    persons = {
        r.person_source_value: r
        for r in spark.read.parquet(f"{out}/omop_person").collect()
    }
    assert set(persons) == {P1, P2}
    wave1_ids = {k: v.person_id for k, v in persons.items()}
    assert sorted(wave1_ids.values()) == [1, 2]

    # wave 2: one duplicate (P1 re-exported) + one new patient
    drop("wave2.csv", [PATIENTS[0], PATIENTS[2]])
    run()
    persons2 = {
        r.person_source_value: r
        for r in spark.read.parquet(f"{out}/omop_person").collect()
    }
    assert set(persons2) == {P1, P2, P3}
    # stable ids for already-seen patients; the new one numbers above max
    for k, v in wave1_ids.items():
        assert persons2[k].person_id == v
    assert persons2[P3].person_id == 3
    # exactly one row per patient (the duplicate upserted nothing)
    assert spark.read.parquet(f"{out}/omop_person").count() == 3

    # replay with the same checkpoint: no new files → no change
    run()
    assert spark.read.parquet(f"{out}/omop_person").count() == 3
    assert spark.read.parquet(f"{out}/person_map").count() == 3

    # second domain riding the streamed person map: encounters arrive in
    # their own landing dir; visits link person_id through the map and
    # keep dense visit ids across waves
    from synthea2omop_etl_spark.streaming.etl import (
        ENCOUNTER_RAW_COLUMNS,
        incremental_visit_etl,
        read_csv_stream,
    )
    from tests.fixtures_synthea import E1, E2, ENCOUNTERS

    eland = tmp_path / "landing_enc"
    eland.mkdir()

    def edrop(name, rows):
        with open(eland / name, "w", newline="") as f:
            w = _csvmod.writer(f)
            w.writerow(ENCOUNTER_RAW_COLUMNS)
            w.writerows(rows)

    def erun():
        q = incremental_visit_etl(
            read_csv_stream(spark, str(eland), ENCOUNTER_RAW_COLUMNS),
            out,
            str(tmp_path / "ckpt_enc"),
        )
        q.awaitTermination(120)
        assert q.exception() is None

    edrop("enc1.csv", [ENCOUNTERS[0], ENCOUNTERS[1], ENCOUNTERS[2]])  # E1 + dup E2
    erun()
    visits = {
        r.visit_source_value: r
        for r in spark.read.parquet(f"{out}/omop_visit_occurrence").collect()
    }
    assert set(visits) == {E1, E2}  # duplicate encounter id collapsed
    e1_id = visits[E1].visit_occurrence_id
    # person linkage through the streamed map
    assert visits[E1].person_id == persons2[P1].person_id
    edrop("enc2.csv", [ENCOUNTERS[0], ENCOUNTERS[3]])  # dup E1 + new E3
    erun()
    visits2 = {
        r.visit_source_value: r
        for r in spark.read.parquet(f"{out}/omop_visit_occurrence").collect()
    }
    assert len(visits2) == 3
    assert visits2[E1].visit_occurrence_id == e1_id  # stable across waves
    assert (
        spark.read.parquet(f"{out}/omop_visit_occurrence").count() == 3
    )


def test_extend_id_layer_probes_only_batch_buckets(spark, tmp_path):
    """Extending a bucketed id layer hands insert_if_absent the batch's
    keys, not build_id_map's whole existing ∪ new map: the anti-join's
    ``__bucket`` PartitionFilters hold only the buckets the batch's keys
    hash into, seen keys keep their ids and a new key numbers above the
    layer's max."""
    import re

    from synthea2omop_etl_spark.sources.writers import _bucket_set
    from synthea2omop_etl_spark.streaming.etl import _extend_id_layer
    from tests.test_plan_quality import _plans_run

    path, n = str(tmp_path / "map"), 8
    seen = spark.createDataFrame([(f"u{i:03d}",) for i in range(200)], ["k"])
    _extend_id_layer(spark, seen, path, "k", "id", n)
    old = {r.k: r.id for r in spark.read.parquet(path).collect()}
    batch = spark.createDataFrame([("u007",), ("u100",), ("new",)], ["k"])
    buckets = {str(b) for b in _bucket_set(batch, "k", n)}
    assert len(buckets) < n
    got = {}
    ran = _plans_run(
        spark,
        lambda: got.update(
            (r.k, r.id)
            for r in _extend_id_layer(spark, batch, path, "k", "id", n).collect()
        ),
    )
    probes = re.findall(r"PartitionFilters: \[[^\n]*?__bucket#\d+ IN \(([^)]*)\)", ran)
    assert probes
    for probe in probes:
        assert set(probe.split(",")) <= buckets, (probe, buckets)
    # the returned layer is pruned to the batch's buckets
    assert got == {**{k: v for k, v in old.items() if k in got}, "new": 201}
    assert {"u007", "u100"} <= got.keys()
    assert spark.read.parquet(path).count() == 201


def test_incremental_person_etl_in_batch_duplicates(spark, tmp_path):
    """ADVICE r4 (medium): the SAME patient Id appearing twice WITHIN one
    micro-batch (two landed files consumed by a single availableNow trigger,
    or a duplicate row inside one file) must still yield exactly one
    omop_person row — insert_if_absent only guards against already-written
    rows, so the batch itself has to dedupe."""
    import csv as _csvmod

    from synthea2omop_etl_spark.streaming.etl import (
        PATIENT_RAW_COLUMNS,
        incremental_person_etl,
        read_patients_stream,
    )
    from tests.fixtures_synthea import P1, P2, PATIENTS

    land = tmp_path / "landing"
    land.mkdir()
    out = str(tmp_path / "omop_inc")

    # duplicate row inside one file AND the same patient again in a second
    # file — both files consumed by the single availableNow trigger
    for name, rows in [
        ("a.csv", [PATIENTS[0], PATIENTS[0], PATIENTS[1]]),
        ("b.csv", [PATIENTS[0]]),
    ]:
        with open(land / name, "w", newline="") as f:
            w = _csvmod.writer(f)
            w.writerow(PATIENT_RAW_COLUMNS)
            w.writerows(rows)
    q = incremental_person_etl(
        read_patients_stream(
            spark, str(land), max_files_per_trigger=10
        ),
        out,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    persons = spark.read.parquet(f"{out}/omop_person").collect()
    assert len(persons) == 2
    assert {r.person_source_value for r in persons} == {P1, P2}
    assert spark.read.parquet(f"{out}/person_map").count() == 2


def test_incremental_visit_etl_orphan_holding(spark, tmp_path):
    """VERDICT r4 #2 + ADVICE r4 (low): encounters arriving BEFORE their
    patient (or before ANY patient — no person map on disk yet) must not
    crash the stream or be lost to the checkpoint; they are held in
    pending_encounters and materialize on the next trigger after the
    patient lands."""
    import csv as _csvmod

    from synthea2omop_etl_spark.streaming.etl import (
        ENCOUNTER_RAW_COLUMNS,
        PATIENT_RAW_COLUMNS,
        incremental_person_etl,
        incremental_visit_etl,
        read_csv_stream,
        read_patients_stream,
    )
    from tests.fixtures_synthea import E1, E3, ENCOUNTERS, P1, PATIENTS

    pland = tmp_path / "landing_pat"
    eland = tmp_path / "landing_enc"
    pland.mkdir()
    eland.mkdir()
    out = str(tmp_path / "omop_inc")

    def drop(d, name, header, rows):
        with open(d / name, "w", newline="") as f:
            w = _csvmod.writer(f)
            w.writerow(header)
            w.writerows(rows)

    def erun():
        q = incremental_visit_etl(
            read_csv_stream(spark, str(eland), ENCOUNTER_RAW_COLUMNS),
            out,
            str(tmp_path / "ckpt_enc"),
        )
        q.awaitTermination(120)
        assert q.exception() is None

    # wave 1: E1 (patient P1) lands before ANY patient — no person map on
    # disk. The stream must complete (not crash) and hold the encounter.
    drop(eland, "enc1.csv", ENCOUNTER_RAW_COLUMNS, [ENCOUNTERS[0]])
    erun()
    import os as _os

    assert not _os.path.exists(f"{out}/omop_visit_occurrence")
    pend = spark.read.parquet(f"{out}/pending_encounters")
    assert [r.Id for r in pend.collect()] == [E1]

    # now the patient lands through the person stream
    drop(pland, "pat1.csv", PATIENT_RAW_COLUMNS, [PATIENTS[0], PATIENTS[2]])
    q = incremental_person_etl(
        read_patients_stream(spark, str(pland)), out, str(tmp_path / "ckpt_pat")
    )
    q.awaitTermination(120)
    assert q.exception() is None

    # wave 2: a new encounter file triggers the next micro-batch; the HELD
    # E1 must materialize alongside the fresh E3
    drop(eland, "enc2.csv", ENCOUNTER_RAW_COLUMNS, [ENCOUNTERS[3]])
    erun()
    visits = {
        r.visit_source_value: r
        for r in spark.read.parquet(f"{out}/omop_visit_occurrence").collect()
    }
    assert set(visits) == {E1, E3}
    assert visits[E1].person_id is not None
    person_ids = {
        r.person_source_value: r.person_id
        for r in spark.read.parquet(f"{out}/omop_person").collect()
    }
    assert visits[E1].person_id == person_ids[P1]
    # the held encounter left the pending layer
    assert spark.read.parquet(f"{out}/pending_encounters").count() == 0

    # replay with the same checkpoint: no new files → nothing changes
    erun()
    assert spark.read.parquet(f"{out}/omop_visit_occurrence").count() == 2


def test_incremental_visit_etl_unreadable_pending_fails_batch(spark, tmp_path):
    """A pending_encounters layer that exists but cannot be read fails the
    micro-batch and stays as it is: taking it as "none pending" would let
    write_then_swap replace it and lose the held encounters."""
    import csv as _csvmod

    import pytest
    from pyspark.errors import StreamingQueryException

    from synthea2omop_etl_spark.streaming.etl import (
        ENCOUNTER_RAW_COLUMNS,
        incremental_visit_etl,
        read_csv_stream,
    )
    from tests.fixtures_synthea import ENCOUNTERS

    eland = tmp_path / "landing_enc"
    eland.mkdir()
    out = tmp_path / "omop_inc"
    pending = out / "pending_encounters"

    def drop(name, rows):
        with open(eland / name, "w", newline="") as f:
            w = _csvmod.writer(f)
            w.writerow(ENCOUNTER_RAW_COLUMNS)
            w.writerows(rows)

    def erun():
        return incremental_visit_etl(
            read_csv_stream(spark, str(eland), ENCOUNTER_RAW_COLUMNS),
            str(out),
            str(tmp_path / "ckpt_enc"),
        )

    # no patient yet: the encounter is held
    drop("enc1.csv", [ENCOUNTERS[0]])
    erun().awaitTermination(120)
    assert spark.read.parquet(str(pending)).count() == 1
    for part in pending.glob("part-*"):
        part.write_bytes(b"not a parquet file")
    files = {p: p.read_bytes() for p in pending.rglob("*") if p.is_file()}
    drop("enc2.csv", [ENCOUNTERS[3]])
    q = erun()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert files and {
        p: p.read_bytes() for p in pending.rglob("*") if p.is_file()
    } == files


def test_streaming_etl_matches_batch(spark, tmp_path):
    """VERDICT r4 #6: the incremental stream over a landed CSV set produces
    the SAME omop_person / omop_visit_occurrence CONTENT as the batch DAG
    on the same input — the strongest correctness statement for
    streaming/etl.py. Ids are arrival-ordered in the stream (patients land
    in two waves here) while the batch assigns dense ids over the whole
    set, so the comparison keys on source UUIDs and checks person↔visit
    linkage consistency rather than raw id values."""
    import csv as _csvmod

    from synthea2omop_etl_spark.plans.pipeline import run_pipeline
    from synthea2omop_etl_spark.streaming.etl import (
        ENCOUNTER_RAW_COLUMNS,
        PATIENT_RAW_COLUMNS,
        incremental_person_etl,
        incremental_visit_etl,
        read_csv_stream,
        read_patients_stream,
    )
    from tests.fixtures_synthea import (
        ENCOUNTER_COLS,
        ENCOUNTERS,
        PATIENT_COLS,
        PATIENTS,
    )

    pland = tmp_path / "landing_pat"
    eland = tmp_path / "landing_enc"
    pland.mkdir()
    eland.mkdir()
    out = str(tmp_path / "omop_inc")

    def drop(d, name, header, rows):
        with open(d / name, "w", newline="") as f:
            w = _csvmod.writer(f)
            w.writerow(header)
            w.writerows(rows)

    # patients land in two waves; encounters (incl. the in-file dup E2
    # row, exactly as the batch fixture carries it) in one
    drop(pland, "w1.csv", PATIENT_RAW_COLUMNS, PATIENTS[:2])
    q = incremental_person_etl(
        read_patients_stream(spark, str(pland)), out, str(tmp_path / "cp")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    drop(pland, "w2.csv", PATIENT_RAW_COLUMNS, PATIENTS[2:])
    q = incremental_person_etl(
        read_patients_stream(spark, str(pland)), out, str(tmp_path / "cp")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    drop(eland, "e1.csv", ENCOUNTER_RAW_COLUMNS, ENCOUNTERS)
    q = incremental_visit_etl(
        read_csv_stream(spark, str(eland), ENCOUNTER_RAW_COLUMNS),
        out,
        str(tmp_path / "ce"),
    )
    q.awaitTermination(120)
    assert q.exception() is None

    # the batch twin on the same rows
    omop = run_pipeline(
        spark,
        {
            "patients": spark.createDataFrame(PATIENTS, PATIENT_COLS),
            "encounters": spark.createDataFrame(ENCOUNTERS, ENCOUNTER_COLS),
        },
    )

    bp = {
        r.person_source_value: r.asDict()
        for r in omop["omop_person"].collect()
    }
    sp = {
        r.person_source_value: r.asDict()
        for r in spark.read.parquet(f"{out}/omop_person").collect()
    }
    assert set(bp) == set(sp)
    # person_id/location_id VALUES are assignment-order-dependent (batch:
    # global key sort; stream: arrival order) — excluded from the raw row
    # compare; the ids' RESOLUTIONS are compared below.
    for k in bp:
        b = {c: v for c, v in bp[k].items()
             if c not in ("person_id", "location_id")}
        s = {c: v for c, v in sp[k].items()
             if c not in ("person_id", "location_id")}
        assert b == s, f"person {k} differs: {b} vs {s}"

    # location RESOLUTION equality: each person must resolve to the same
    # address through either path's location dim
    def resolve(person_rows, loc_df):
        locs = {r["location_id"]: r for r in loc_df.collect()}
        return {
            k: (
                locs[v["location_id"]]["city"],
                locs[v["location_id"]]["state"],
                locs[v["location_id"]]["zip"],
            )
            for k, v in person_rows.items()
            if v["location_id"] is not None
        }

    batch_res = resolve(bp, omop["omop_location"])
    stream_res = resolve(sp, spark.read.parquet(f"{out}/omop_location"))
    assert batch_res == stream_res and set(batch_res) == set(bp)

    bv = {
        r.visit_source_value: r.asDict()
        for r in omop["omop_visit_occurrence"].collect()
    }
    sv = {
        r.visit_source_value: r.asDict()
        for r in spark.read.parquet(
            f"{out}/omop_visit_occurrence"
        ).collect()
    }
    assert set(bv) == set(sv)
    b_uuid = {v["person_id"]: k for k, v in bp.items()}
    s_uuid = {v["person_id"]: k for k, v in sp.items()}
    id_cols = {"visit_occurrence_id", "person_id"}
    for k in bv:
        # same patient behind the (differently-numbered) person ids
        assert b_uuid[bv[k]["person_id"]] == s_uuid[sv[k]["person_id"]]
        b = {c: v for c, v in bv[k].items() if c not in id_cols}
        s = {c: v for c, v in sv[k].items() if c not in id_cols}
        assert b == s, f"visit {k} differs: {b} vs {s}"


# ---------------------------------------------------------------------------
# Streaming sketches (streaming/sketches.py)
# ---------------------------------------------------------------------------


def test_windowed_hll_registers_match_batch(spark, events_dir):
    """The streaming register table is bit-identical to the batch operator:
    mergeable max(rho) state under a watermark IS the batch aggregate."""
    from synthea2omop_etl_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from synthea2omop_etl_spark.sources.testdata import load_table
    from synthea2omop_etl_spark.streaming.sketches import (
        windowed_hll_registers,
    )

    stream = read_events_stream(spark, events_dir)
    _run_stream(windowed_hll_registers(stream), "hll_regs")
    streamed = spark.sql("SELECT * FROM hll_regs")

    ev = load_table(spark, SF, "events").withColumn(
        "window_start", F.window("ts", "1 hour").start
    )
    batch = hll_registers(ev, ["window_start"], "user_id")
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b

    # read-time estimation over the streamed registers tracks exact counts
    est = {
        r["window_start"]: r["approx_distinct"]
        for r in hll_estimate(streamed, ["window_start"]).collect()
    }
    exact = {
        r["window_start"]: r["d"]
        for r in ev.groupBy("window_start")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    assert set(est) == set(exact)
    for w, e in exact.items():
        assert abs(est[w] - e) <= 0.25 * e + 3


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate file delivery (at-least-once source) collapses to one row
    per event_id; state is watermark-bounded, not unbounded."""
    import shutil

    from synthea2omop_etl_spark.sources.testdata import load_table
    from synthea2omop_etl_spark.streaming.sketches import deduplicated_events

    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(f"{SF}/events.parquet", d / "part-0.parquet")
    shutil.copy(f"{SF}/events.parquet", d / "part-1.parquet")  # redelivery

    stream = read_events_stream(spark, str(d))
    q = (
        deduplicated_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_ev")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_ev"
    ).collect()[0]
    want = load_table(spark, SF, "events").select("event_id").distinct().count()
    assert got["n"] == got["d"] == want


def test_stream_stream_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream INNER join equals its batch twin exactly:
    inner-join rows emit as soon as both sides match (the watermark only
    bounds state eviction, never delays matched output)."""
    from synthea2omop_etl_spark.sources.testdata import load_table
    from synthea2omop_etl_spark.streaming.joins import attribution_join

    stream = read_events_stream(spark, events_dir)
    joined = attribution_join(stream)
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM ss_join").collect()}

    batch = attribution_join(load_table(spark, SF, "events"))
    assert not batch.isStreaming
    expected = {tuple(r) for r in batch.collect()}
    assert streamed == expected
    assert len(expected) > 0


@pytest.mark.slow
def test_stream_stream_left_outer_join(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched rows equal the inner join;
    NULL-extended rows appear only for clicks the watermark has proven
    unmatched (frontier - watermark - horizon), so the streamed result sits
    between the inner join and the batch left-outer twin. Two files +
    maxFilesPerTrigger=1 force a second micro-batch so the watermark
    actually advances and early unmatched clicks are emitted."""
    import shutil

    from synthea2omop_etl_spark.sources.testdata import load_table
    from synthea2omop_etl_spark.streaming.joins import (
        attribution_join,
        attribution_join_left,
    )

    d = tmp_path / "lo_events"
    d.mkdir()
    ev = load_table(spark, SF, "events")
    # Split by time so batch 2's frontier moves the watermark past batch 1.
    ev.where(F.col("ts") < "2024-01-16").coalesce(1).write.parquet(
        str(d / "f0"), mode="overwrite"
    )
    ev.where(F.col("ts") >= "2024-01-16").coalesce(1).write.parquet(
        str(d / "f1"), mode="overwrite"
    )
    for i, sub in enumerate(sorted(d.glob("f*/part-*.parquet"))):
        shutil.copy(sub, d / f"part-{i}.parquet")
    for sub in (d / "f0", d / "f1"):
        shutil.rmtree(sub)

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    q = (
        attribution_join_left(stream)
        .writeStream.format("memory")
        .queryName("ss_lojoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.sql("SELECT * FROM ss_lojoin").collect()}

    inner = {tuple(r) for r in attribution_join(ev).collect()}
    outer = {tuple(r) for r in attribution_join_left(ev).collect()}
    matched = {r for r in streamed if r[3] is not None}
    unmatched = streamed - matched
    assert matched == inner
    assert streamed <= outer
    # the second batch's frontier (2024-01-30) minus watermark+horizon
    # clears every first-half click: all of batch 1's unmatched clicks emit
    assert any(r[2].month == 1 and r[2].day < 16 for r in unmatched)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_interchange_roundtrip(spark, tmp_path, fmt):
    """ORC round-trips typed data exactly like parquet; JSON/CSV survive
    with documented type erosion (strings back; values preserved)."""
    from synthea2omop_etl_spark.sources.readers import read_interchange
    from synthea2omop_etl_spark.sources.writers import write_interchange

    src = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .limit(200)
    )
    p = str(tmp_path / f"layer_{fmt}")
    write_interchange(src, p, format=fmt)
    back = read_interchange(spark, p, format=fmt)
    assert back.count() == 200
    if fmt in ("parquet", "orc"):
        assert back.schema == src.schema
        assert {tuple(r) for r in back.collect()} == {
            tuple(r) for r in src.collect()
        }
    else:
        # schema-on-read: values survive after a cast back to the source types
        typed = back.select(
            *[F.col(f.name).cast(f.dataType) for f in src.schema.fields]
        )
        assert {tuple(r) for r in typed.collect()} == {
            tuple(r) for r in src.collect()
        }


def test_interchange_rejects_unknown_format(spark, tmp_path):
    from synthea2omop_etl_spark.sources.readers import read_interchange
    from synthea2omop_etl_spark.sources.writers import write_interchange

    with pytest.raises(ValueError):
        read_interchange(spark, str(tmp_path), format="avro")
    with pytest.raises(ValueError):
        write_interchange(
            spark.read.parquet(f"{SF}/orders.parquet"),
            str(tmp_path / "x"),
            format="xml",
        )
