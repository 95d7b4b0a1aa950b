"""Incremental (streaming) Synthea→OMOP ETL.

The reference pipeline is batch-only: a full directory of CSVs in, a full
CDM out (SURVEY.md §3.1). This module is the beyond-parity incremental
twin for the landing-zone pattern — Synthea export files DROP into a
directory over time, and each arrival flows through typing → id mapping →
domain transform → idempotent upsert without reprocessing history:

- the file source checkpoints which CSVs were consumed (exactly-once
  source side);
- the person map is EXTENDED per micro-batch with ``build_id_map``'s
  ``existing_map`` path — already-seen patients keep their dense ids, new
  patients get ids above the current max (the reference's
  ``INSERT .. WHERE NOT EXISTS`` + ``nextval(seq)``,
  etl_pipeline/etl_patients.py:202-209, incrementally);
- outputs land via ``insert_if_absent`` keyed on the source UUID, so a
  REPLAYED micro-batch (crash between map write and person write) inserts
  nothing twice — idempotent-sink exactly-once.

Id determinism: like the reference's sequence, ids depend on ARRIVAL
order (batch N's new patients number after batch N-1's). Within one
micro-batch ids are deterministic (ordered by source UUID).

At scale: each micro-batch is bounded (new files only); the anti-join
probe side is the batch, and the existing-table side prunes by
partition/bucket on the key. The full-table touches are build_id_map's
anti-join and max-id lookup, over the (patients-sized, not events-sized)
map's key and id columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from synthea2omop_etl_spark.domains import person as person_transform
from synthea2omop_etl_spark.operators.idmap import build_id_map
from synthea2omop_etl_spark.operators.typing import apply_typing
from synthea2omop_etl_spark.schemas import TYPING_SPECS
from synthea2omop_etl_spark.sources.writers import (
    _read_layer_or_none,
    insert_if_absent,
    read_bucket_pruned,
)

#: raw Synthea patients header (all-string contract, FIXTURES.md)
PATIENT_RAW_COLUMNS = [
    "Id", "BIRTHDATE", "DEATHDATE", "MARITAL", "RACE", "ETHNICITY",
    "GENDER", "HEALTHCARE_EXPENSES", "CITY", "STATE", "ZIP",
]

#: raw Synthea encounters header (FIXTURES.md)
ENCOUNTER_RAW_COLUMNS = [
    "Id", "START", "STOP", "PATIENT", "ENCOUNTERCLASS", "CODE",
    "TOTAL_CLAIM_COST", "PAYER_COVERAGE", "PROVIDER", "ORGANIZATION",
]


def read_csv_stream(
    spark: SparkSession,
    csv_dir: str,
    columns: list[str],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of Synthea CSVs
    (all-string schema — the same raw contract as the batch reader)."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in columns])
    reader = spark.readStream.schema(schema).option("header", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(csv_dir)


def read_patients_stream(
    spark: SparkSession,
    csv_dir: str,
    columns: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    return read_csv_stream(
        spark, csv_dir, columns or PATIENT_RAW_COLUMNS, max_files_per_trigger
    )


def _extend_id_layer(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    key: str,
    id_col: str,
    n_buckets: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Extend the persistent ``key`` → ``id_col`` layer at ``path`` with
    the keys of ``keys`` and return the layer pruned to their buckets.

    ``build_id_map`` over the layer as it stands (seen keys keep their
    ids, new keys number above its max in key order), narrowed to the
    batch's keys, then ``insert_if_absent`` keyed and hash-bucketed on
    ``key`` (a replayed batch appends nothing; its anti-join probes only
    the buckets the batch's keys hash into), then ``read_bucket_pruned``.
    An absent layer is the first batch; a layer that exists but cannot be
    read fails the batch instead of restarting ids at 1.
    """
    ids = build_id_map(
        keys, key, id_col,
        existing_map=_read_layer_or_none(spark, path),
        carry_cols=carry_cols,
    ).join(keys.select(key), key, "left_semi")
    insert_if_absent(
        spark, ids, path, [key], bucket_key=key, n_buckets=n_buckets
    )
    layer = read_bucket_pruned(spark, path, key, keys, n_buckets)
    # absent only when nothing was ever inserted: ``ids`` is then empty
    return ids if layer is None else layer


def _start(
    stream: DataFrame, process, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_person_etl(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    n_buckets: int = 32,
) -> StreamingQuery:
    """Stream raw patients rows into ``omop_person`` + the person map.

    Each micro-batch: cast-or-null typing → extend the persistent person
    map (stable ids for seen patients, fresh dense ids for new ones) →
    person transform → insert-if-absent upsert. Both writes are keyed on
    the patient UUID, so replays are no-ops.

    The person map and the location dim are hash-bucketed on their key
    (``__bucket=K/`` partition dirs): every per-batch re-read prunes to
    the buckets the batch's keys actually hash into — the header's
    "existing-table side prunes by partition/bucket" promise made real.
    The full-layer touches left are build_id_map's anti-join and max-id
    aggregate (column-pruned to the key and id columns).
    """
    import os

    from synthea2omop_etl_spark.derived.location import (
        address_rows,
        attach_location_id,
        location_values,
    )

    map_path = os.path.join(output_dir, "person_map")
    person_path = os.path.join(output_dir, "omop_person")
    loc_path = os.path.join(output_dir, "omop_location")

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # In-batch dedupe: availableNow can consume several landed files in
        # one trigger, and insert_if_absent only anti-joins against rows
        # ALREADY written — a duplicate Id inside one micro-batch would
        # otherwise yield two omop_person rows.
        typed = apply_typing(batch, TYPING_SPECS["patients"]).dropDuplicates(
            ["Id"]
        )
        # transform against the WRITTEN map (ids are now durable)
        batch_map = _extend_id_layer(
            spark, typed.selectExpr("Id as patient_uuid"), map_path,
            "patient_uuid", "person_id", n_buckets,
        )
        rows = person_transform(typed, batch_map)
        # location dim, incrementally: distinct address keys (``__key``,
        # NULL-safe — an equi-join on the NULLable address columns never
        # matches NULL=NULL) extend a persistent location layer exactly
        # like the person map (stable ids for seen addresses, dense new
        # ids above the max — arrival-order semantics; the batch
        # pipeline's ids are global-sort-order, so ids differ across the
        # two paths but the ADDRESS each person resolves to is identical).
        addrs = address_rows(typed)
        if addrs is not None:
            addrs = addrs.select("__key", *location_values())
            locs = _extend_id_layer(
                spark, addrs, loc_path, "__key", "location_id", n_buckets,
                carry_cols=addrs.columns[1:],
            )
            rows = attach_location_id(rows, typed, locs)
        insert_if_absent(spark, rows, person_path, ["person_source_value"])

    return _start(stream, process, checkpoint_dir, available_now)


def incremental_visit_etl(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    n_buckets: int = 32,
) -> StreamingQuery:
    """Stream raw encounters rows into ``omop_visit_occurrence`` + the
    visit map, linking against the (already-streamed) person map.

    The cross-map dependency of the batch DAG, incrementally: encounters
    whose patient has not arrived yet are HELD in a ``pending_encounters``
    layer and re-driven on every subsequent micro-batch — once the patient
    lands, the held encounter materializes on the next trigger. This closes
    the semantic gap with the reference's re-run INSERT..SELECT
    (etl_pipeline/etl_setup.py:230-279 resume semantics): the batch DAG
    would pick such encounters up on a re-run, and now the stream does too,
    without losing them to the file-source checkpoint.
    """
    import os

    from synthea2omop_etl_spark.domains import visit_occurrence
    from synthea2omop_etl_spark.sources.writers import write_then_swap

    vm_path = os.path.join(output_dir, "visit_map")
    pm_path = os.path.join(output_dir, "person_map")
    visit_path = os.path.join(output_dir, "omop_visit_occurrence")
    pending_path = os.path.join(output_dir, "pending_encounters")

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        typed = apply_typing(batch, TYPING_SPECS["encounters"]).dropDuplicates(
            ["Id"]
        )
        # Re-drive encounters held from earlier micro-batches (arrival-order
        # ties broken toward the fresh batch, but rows are identical by Id).
        # An unreadable pending layer fails the batch: taking it as "none
        # pending" would let write_then_swap below drop the held rows.
        pending = _read_layer_or_none(spark, pending_path)
        candidates = (
            typed if pending is None
            else typed.unionByName(pending).dropDuplicates(["Id"])
        )
        # A missing person map means NO patient has arrived — every
        # encounter is an orphan, not a crash (the file source has already
        # checkpointed the batch as consumed). The read prunes to the hash
        # buckets of the batch's PATIENT keys (bucketed layer).
        person_map = read_bucket_pruned(
            spark, pm_path, "patient_uuid",
            candidates.selectExpr("PATIENT as patient_uuid"), n_buckets,
        )
        if person_map is None:
            person_map = spark.createDataFrame(
                [], "patient_uuid string, person_id long"
            )
        pm_keys = person_map.select(F.col("patient_uuid").alias("PATIENT"))
        matched = candidates.join(pm_keys, on="PATIENT", how="left_semi")
        orphans = candidates.join(pm_keys, on="PATIENT", how="left_anti")
        # Ids are assigned on MATERIALIZATION (patient present), so a held
        # encounter numbers after everything that landed while it waited —
        # the same arrival-order semantics as the reference's sequence.
        batch_vm = _extend_id_layer(
            spark, matched.selectExpr("Id as encounter_uuid"), vm_path,
            "encounter_uuid", "visit_occurrence_id", n_buckets,
        )
        rows = visit_occurrence(matched, batch_vm, person_map, None, None)
        insert_if_absent(spark, rows, visit_path, ["visit_source_value"])
        # Persist the new holding set last: on a crash-replay the matched
        # rows above no-op via insert_if_absent and this set is recomputed.
        write_then_swap(orphans, pending_path)

    return _start(stream, process, checkpoint_dir, available_now)
