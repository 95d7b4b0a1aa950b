"""Step DAG + JSON checkpointing (reference: etl_pipeline/etl_main.py:43-108
step list with dependencies; etl_setup.py:199-279 checkpoint/resume).

The pipeline runs the Synthea→OMOP dataflow as pure DataFrame transforms:

    raw (all-string) → typed → person/visit maps → domain transforms
        → derived tables → validation

Steps are declared with dependencies; completed steps are recorded in a
JSON checkpoint and skipped on re-run (idempotent resume). Outputs are
written as parquet layers; each step is replayable because inputs are
immutable layers, not mutated tables (SURVEY.md §7.3).

Scale notes: maps are computed once and cached (reused by every domain
transform — the reference caches them in Postgres tables); independent
domain transforms share no shuffle and can be submitted concurrently from
the driver (reference used concurrent.futures the same way).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from synthea2omop_etl_spark.derived import death, observation_period
from synthea2omop_etl_spark.derived.cost import cost
from synthea2omop_etl_spark.derived.eras import condition_era, drug_era
from synthea2omop_etl_spark.domains import (
    care_site,
    condition_occurrence,
    device_exposure,
    drug_exposure,
    measurement_and_observation,
    payer_plan_period,
    person,
    procedure_occurrence,
    provider,
    visit_occurrence,
)
from synthea2omop_etl_spark.operators.concepts import (
    build_concept_map,
    map_to_standard,
)
from synthea2omop_etl_spark.operators.idmap import build_id_map
from synthea2omop_etl_spark.operators.typing import apply_typing
from synthea2omop_etl_spark.schemas import OMOP_FACTS, TYPING_SPECS


class Checkpoint:
    """JSON step-completion ledger (etl_setup.py:199-227 equivalent).

    A missing, torn or corrupt ledger file loads as an empty ledger: every
    step and write then re-runs, which is safe because layer writes use
    overwrite mode.
    """

    def __init__(self, path: str | None):
        self.path = path
        self.state: dict[str, dict] = {}
        if path and os.path.exists(path):
            try:
                with open(path) as f:
                    state = json.load(f)
            except (OSError, ValueError):
                state = None
            if isinstance(state, dict):
                self.state = state

    def is_done(self, step: str) -> bool:
        return self.state.get(step, {}).get("completed", False)

    def mark_done(self, step: str, stats: dict | None = None) -> None:
        self.state[step] = {
            "completed": True,
            "stats": stats or {},
            "ts": time.time(),
        }
        if self.path:
            # atomic replace: the serve.py /api/etl/status endpoint reads
            # this file live — a plain open('w') would expose a truncated
            # JSON to a request landing mid-rewrite
            tmp = f"{self.path}.tmp"
            with open(tmp, "w") as f:
                json.dump(self.state, f, indent=2)
            os.replace(tmp, self.path)


@dataclass
class Step:
    name: str
    deps: list[str]
    run: Callable[[dict[str, DataFrame]], dict[str, DataFrame]]
    doc: str = ""


def _typing_step(table: str):
    def run(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
        if f"raw_{table}" not in ctx:
            # Optional source: a Synthea output dir need not contain every
            # CSV (the reference's loader likewise skips absent files).
            return {}
        raw = ctx[f"raw_{table}"]
        return {f"typed_{table}": apply_typing(raw, TYPING_SPECS[table])}

    return run


def _maps_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    patients = ctx["typed_patients"]
    encounters = ctx["typed_encounters"]
    person_map = build_id_map(
        patients.selectExpr("Id as patient_uuid"), "patient_uuid", "person_id"
    ).cache()
    visit_map = build_id_map(
        encounters.selectExpr("Id as encounter_uuid"),
        "encounter_uuid",
        "visit_occurrence_id",
    ).cache()
    out = {"person_map": person_map, "visit_map": visit_map}
    # provider_map / care_site_map (staging sql:37-48) when the sources exist.
    if "typed_providers" in ctx:
        out["provider_map"] = build_id_map(
            ctx["typed_providers"].selectExpr("Id as provider_uuid"),
            "provider_uuid",
            "provider_id",
        ).cache()
    if "typed_organizations" in ctx:
        out["care_site_map"] = build_id_map(
            ctx["typed_organizations"].selectExpr("Id as care_site_uuid"),
            "care_site_uuid",
            "care_site_id",
        ).cache()
    return out


#: fact domain step → (its transform, the OMOP layers the transform
#: returns, and each typed source it reads — in the transform's argument
#: order — with the vocabulary and concept domain its CODEs map through).
#: Medications ∪ immunizations share one drug map (RxNorm and CVX code
#: spaces are disjoint); LOINC codes route to measurement OR observation
#: after the split, so their map has no domain filter and serves both.
FACT_STEPS: dict[
    str, tuple[Callable, tuple[str, ...], dict[str, tuple[str, str | None]]]
] = {
    "condition_occurrence": (condition_occurrence, ("condition_occurrence",),
                             {"conditions": ("SNOMED", "Condition")}),
    "drug_exposure": (drug_exposure, ("drug_exposure",),
                      {"medications": ("RxNorm", "Drug"),
                       "immunizations": ("CVX", "Drug")}),
    "measurement_observation": (measurement_and_observation,
                                ("measurement", "observation"),
                                {"observations": ("LOINC", None)}),
    "procedure_occurrence": (procedure_occurrence, ("procedure_occurrence",),
                             {"procedures": ("SNOMED", "Procedure")}),
    "device_exposure": (device_exposure, ("device_exposure",),
                        {"devices": ("SNOMED", "Device")}),
}
_FACT_TYPING = [f"typing_{src}" for _, _, srcs in FACT_STEPS.values() for src in srcs]


def _concept_maps_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Per-fact source-code → standard-concept maps (reference step 9,
    etl_pipeline/etl_concept_mapping.py:136-242, run as a pipeline step of
    etl_main.py:43-108). Built only when vocabulary tables were supplied;
    without them every *_concept_id stays 0 (the unmapped convention).

    Each map is DISTINCT source codes joined against ONE vocabulary slice —
    tiny relative to facts — so the domain transforms broadcast it and the
    fact side never shuffles for mapping.
    """
    if "vocab_concept" not in ctx:
        return {}
    concept = ctx["vocab_concept"]
    rel = ctx.get("vocab_concept_relationship")

    def build(codes: DataFrame, vocab: str, domain: str | None) -> DataFrame:
        if rel is not None:
            # Full 3-stage mapping: source concept → 'Maps to' → standard.
            return map_to_standard(codes, concept, rel, "CODE", vocab, domain)
        return build_concept_map(
            codes, concept, "CODE", vocab, domain
        ).select("source_code", "target_concept_id")

    out: dict[str, DataFrame] = {}
    for step, (_, _, srcs) in FACT_STEPS.items():
        maps = [build(ctx[f"typed_{src}"].select("CODE"), vocab, domain)
                for src, (vocab, domain) in srcs.items() if f"typed_{src}" in ctx]
        if maps:
            out[f"concept_map_{step}"] = (
                reduce(DataFrame.unionByName, maps).dropDuplicates(["source_code"])
                if len(maps) > 1 else maps[0]
            )
    return out


def _location_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Build the location dim ONCE, before the domain transforms. The dim
    is geography-bounded (distinct addresses) and cached; when an
    output_dir is set, run_pipeline materializes omop_location to parquet
    and the person/care_site transforms broadcast the tiny parquet
    read-back instead of re-executing the distinct+dense-id build per
    consumer (the r6 etl_rows_per_sec regression: the dim build ran 3×)."""
    from synthea2omop_etl_spark.derived.location import location

    loc = location(ctx["typed_patients"], ctx.get("typed_organizations"))
    if loc is None:
        return {}
    loc = loc.cache()
    # second, non-materialized key keeps a handle on the cached plan so
    # run_pipeline can unpersist it after the ctx swap to the parquet scan
    return {"omop_location": loc, "location_dim_cache": loc}


# r13 (VERDICT r12 item 1): the monolithic `domains` step serialized
# ~7 s of driver-side plan construction while executors idled, and no
# fact write could start until the LAST domain had planned. (Each
# with_row_ids above AQE's coalescing floor still cuts lineage after its
# range sort, which runs the sort's sampler and shuffle AT CALL TIME; a
# smaller one is numbered in one sorted partition and plans no job at
# the call.) The step is therefore split:
# one pipeline step per domain, each materialize()d immediately, so
# domain k's write runs under domain k+1's planning — planning stays
# STRICTLY SERIAL on the main thread (pool-building the plans is the r12
# measured dead end: GIL + analyzer contention, see
# plans/r12/domains_threadpool_reverted.diff), only the overlap between
# planning and executor work is new. A `domains` BARRIER step keeps the
# step-name contract for derived deps, checkpoints, and /api/etl/status.
#
# Builder order: plan-expensive + write-heavy first (condition, drug,
# measurement/observation) so the biggest writes start earliest and the
# cheap dimension builds plan under them.
#
# Only patients/encounters are required inputs (cli.py contract); every
# other Synthea CSV is optional and its OMOP output is skipped when the
# source is absent — mirroring the reference loader's skip-absent-file
# behavior rather than crashing on a partial export.


def _fact_step(step: str) -> Callable[[dict[str, DataFrame]], dict[str, DataFrame]]:
    transform, layers, srcs = FACT_STEPS[step]

    def run(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
        typed = [ctx.get(f"typed_{src}") for src in srcs]
        if all(t is None for t in typed):
            return {}
        out = transform(typed[0], ctx["person_map"], ctx["visit_map"],
                        ctx.get(f"concept_map_{step}"), *typed[1:])
        return dict(zip([f"omop_{t}" for t in layers],
                        out if isinstance(out, tuple) else (out,)))

    return run


def _b_visit(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {"omop_visit_occurrence": visit_occurrence(
        ctx["typed_encounters"], ctx["visit_map"], ctx["person_map"],
        ctx.get("provider_map"), ctx.get("care_site_map"),
    )}


def _b_person(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {"omop_person": person(
        ctx["typed_patients"], ctx["person_map"],
        locations=ctx.get("omop_location"),
    )}


def _b_payer(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    if "typed_patient_expenses" not in ctx:
        return {}
    return {"omop_payer_plan_period": payer_plan_period(
        ctx["typed_patient_expenses"], ctx["person_map"]
    )}


def _b_provider(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    if ctx.get("provider_map") is None:
        return {}
    return {"omop_provider": provider(
        ctx["typed_providers"], ctx["provider_map"],
        ctx.get("care_site_map"),
    )}


def _b_care_site(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    if ctx.get("care_site_map") is None:
        return {}
    return {"omop_care_site": care_site(
        ctx["typed_organizations"], ctx["care_site_map"],
        locations=ctx.get("omop_location"),
    )}


_DOMAIN_BUILDERS: list[tuple[str, Callable, str]] = [
    ("domain_condition_occurrence", _fact_step("condition_occurrence"),
     "condition_occurrence"),
    ("domain_drug_exposure", _fact_step("drug_exposure"),
     "drug_exposure (medications ∪ immunizations)"),
    ("domain_measurement_observation", _fact_step("measurement_observation"),
     "observations split into measurement + observation"),
    ("domain_visit_occurrence", _b_visit, "visit_occurrence"),
    ("domain_person", _b_person, "person"),
    ("domain_procedure_occurrence", _fact_step("procedure_occurrence"),
     "procedure_occurrence"),
    ("domain_device_exposure", _fact_step("device_exposure"),
     "device_exposure"),
    ("domain_payer_plan_period", _b_payer, "payer_plan_period"),
    ("domain_provider", _b_provider, "provider"),
    ("domain_care_site", _b_care_site, "care_site"),
]


def _domains_barrier(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {}


# The derived tables are FOUR independent builds with different input
# needs — separate steps so each blocks only on the writes it reads
# (STEP_READS): death starts before any domain write lands; eras wait for
# two layers; cost for three; observation_period (which unions every
# dated domain) goes last. Under the shared writer pool this overlaps
# the derived builds with the tail of the domain writes.


def _death_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {"omop_death": death(ctx["typed_patients"], ctx["person_map"])}


#: era layer → (the fact layer it reads, its builder): drug_era /
#: condition_era (OMOP CDM derived tables; Achilles' 900/1000 series
#: consume them) — gap-and-island merge per person+concept
_ERAS = {
    "omop_drug_era": ("omop_drug_exposure", drug_era),
    "omop_condition_era": ("omop_condition_occurrence", condition_era),
}
#: cost's (costed OMOP layer, its typed source) pairs, in cost()'s
#: argument order (transform_cost.sql:7-179)
_COSTED = (
    ("omop_visit_occurrence", "typed_encounters"),
    ("omop_drug_exposure", "typed_medications"),
    ("omop_procedure_occurrence", "typed_procedures"),
)
#: the reference's envelope unions person and six domains
#: (etl_observation_periods.py:81-145): every fact table but devices
_ENVELOPE = [t for t in OMOP_FACTS if t != "device_exposure"]


def _eras_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    # Domains read back from their materialized parquet, so this does not
    # re-execute the upstream transforms.
    return {era: build(ctx[src]) for era, (src, build) in _ERAS.items()
            if src in ctx}


def _cost_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    if not any(layer in ctx for layer, _ in _COSTED):
        return {}
    return {"omop_cost": cost(
        *[ctx.get(k) for pair in _COSTED for k in pair],
        person_map=ctx["person_map"],
    )}


def _obs_period_step(ctx: dict[str, DataFrame]) -> dict[str, DataFrame]:
    return {
        "omop_observation_period": observation_period(
            ctx["omop_person"],
            [
                (ctx[f"omop_{t}"], OMOP_FACTS[t].start, OMOP_FACTS[t].end)
                for t in _ENVELOPE
                if f"omop_{t}" in ctx
            ],
        )
    }


#: fact table → event-date column for year-partitioned output layout
#: (partition pruning: a year-filtered analytics query scans only its
#: year directories — the physical design SURVEY §4 (a) prescribes for
#: cluster scale, alongside person_id bucketing)
YEAR_PARTITION_DATES: dict[str, str] = {
    f"omop_{t}": f.start for t, f in OMOP_FACTS.items()
}


ETL_STEPS: list[Step] = [
    *[
        Step(f"typing_{t}", [], _typing_step(t), f"cast-or-null typing of {t}")
        for t in TYPING_SPECS
    ],
    Step(
        "id_maps",
        ["typing_patients", "typing_encounters", "typing_providers",
         "typing_organizations"],
        _maps_step,
        "person/visit/provider/care_site UUID→dense-int maps",
    ),
    Step(
        "concept_maps",
        _FACT_TYPING,
        _concept_maps_step,
        "source-code→standard-concept maps (when vocabulary supplied)",
    ),
    Step(
        "location_dim",
        ["typing_patients", "typing_organizations"],
        _location_step,
        "location dim from distinct patient ∪ organization addresses",
    ),
    *[
        Step(
            name,
            ["id_maps", "concept_maps", "location_dim", *_FACT_TYPING,
             "typing_patient_expenses"],
            fn,
            doc,
        )
        for name, fn, doc in _DOMAIN_BUILDERS
    ],
    Step(
        "domains",
        [name for name, _, _ in _DOMAIN_BUILDERS],
        _domains_barrier,
        "all OMOP domain transforms (barrier over the per-domain steps)",
    ),
    Step("derived_death", ["id_maps"], _death_step, "death"),
    Step("derived_eras", ["domains"], _eras_step,
         "drug_era, condition_era"),
    Step("derived_cost", ["domains"], _cost_step, "cost"),
    Step("derived_observation_period", ["domains"], _obs_period_step,
         "observation_period"),
]


#: step name → the materialized omop_* layers the step READS at plan-build
#: time. run_pipeline blocks a step only on these (not on every
#: outstanding write): the derived step needs the person/fact layers it
#: unions and costs, but not care_site/provider/location/payer/device —
#: those writes overlap with the derived builds. A step absent here reads
#: no materialized layer (typing/id-map/concept-map steps consume raw and
#: typed plans only).
STEP_READS: dict[str, tuple[str, ...]] = {
    # domains deliberately does NOT settle omop_location: the fused
    # person/care_site lookups broadcast the CACHED dim plan (tiny,
    # computed once — BlockManager serializes concurrent cache fills), so
    # the location write overlaps with the domain writes instead of
    # gating them.
    "derived_eras": tuple(src for src, _ in _ERAS.values()),
    "derived_cost": tuple(layer for layer, _ in _COSTED),
    "derived_observation_period": (
        "omop_person", *(f"omop_{t}" for t in _ENVELOPE)
    ),
}

# Measured dead end (r8), recorded so it isn't retried: letting the leaf
# derived steps (eras/cost/observation_period) plan against the LAZY
# domain plans — to overlap their writes with the domain writes and
# erase the ~5s serialized tail of a 20s 50k-patient run — made the run
# 2-3x SLOWER (34-68s): each derived write then recomputes its input
# transforms inside its own job (observation_period recomputes all
# SEVEN domain transforms), and that recompute both multiplies total
# work and contends with the in-flight domain writes. The layered
# write-once/read-many design is the right call at bench scale too,
# not just at 100 TB.


def run_pipeline(
    spark: SparkSession,
    raw_tables: dict[str, DataFrame],
    checkpoint_path: str | None = None,
    output_dir: str | None = None,
    partition_specs: dict[str, list[str]] | None = None,
    vocab_tables: dict[str, DataFrame] | None = None,
    partition_by_year: bool = False,
    bucket_by_person: bool = False,
    n_buckets: int = 32,
) -> dict[str, DataFrame]:
    """Execute the DAG over raw all-string inputs; returns the layer dict.

    ``vocab_tables`` (e.g. ``load_vocabulary(spark, athena_dir)``: keys
    'concept', 'concept_relationship', …) activates the concept-mapping
    step; without it every *_concept_id is 0, the reference's behavior
    when run without a vocabulary load.

    ``bucket_by_person`` writes every person-keyed OMOP layer as a
    bucketed (+sorted) EXTERNAL table at its usual output path — the OMOP
    DDL's own DISTRIBUTE ON KEY (person_id) hint (SURVEY §4 (a)). Every
    downstream person-keyed join/aggregation over two bucketed layers then
    runs with NO Exchange (plan-asserted in test_plan_quality). Composes
    with ``partition_by_year`` (year directories + person buckets within).

    Steps already marked complete in the checkpoint are still re-executed
    lazily (DataFrames are cheap plans); only the *writes* are skipped —
    the idempotency that matters for a restart.
    """
    ckpt = Checkpoint(checkpoint_path)
    ctx: dict[str, DataFrame] = {
        f"raw_{name}": df for name, df in raw_tables.items()
    }
    for name, df in (vocab_tables or {}).items():
        ctx[f"vocab_{name}"] = df

    from concurrent.futures import Future, ThreadPoolExecutor

    # One shared writer pool for the WHOLE run (8 concurrent Spark jobs
    # measured fastest on local[32] for the 50k-patient/17-output bench;
    # Spark job submission is thread-safe and the scheduler interleaves
    # stages across cores — the reference ran its domain steps under
    # concurrent.futures the same way). Writes are submitted as futures
    # and settled PER KEY: a later step blocks only on the specific
    # layers it reads (STEP_READS), so e.g. the derived step's cost build
    # starts while care_site/provider/payer/device writes are still
    # running — the step barrier was ~1/4 of wall time at 50k patients.
    pool = ThreadPoolExecutor(max_workers=8) if output_dir else None
    futures: dict[str, Future] = {}
    bucketed: set[str] = set()

    def write_one(key: str, df: DataFrame) -> None:
        path = os.path.join(output_dir, key)
        if not ckpt.is_done(f"write_{key}"):
            spec = list(partition_specs.get(key, [])) if partition_specs else []
            if partition_by_year and key in YEAR_PARTITION_DATES:
                # derived year directory key: analytics filtered on the
                # event year prune to those directories (PartitionFilters
                # in the scan — asserted by plan test)
                from pyspark.sql import functions as F

                df = df.withColumn(
                    "year", F.year(F.col(YEAR_PARTITION_DATES[key]))
                )
                spec.append("year")
            if bucket_by_person and "person_id" in df.columns:
                from synthea2omop_etl_spark.sources.writers import (
                    write_bucketed,
                )

                write_bucketed(
                    df,
                    key,
                    ["person_id"],
                    n_buckets,
                    sort_by=["person_id"],
                    partition_by=spec or None,
                    path=path,
                )
                bucketed.add(key)
                return
            writer = df.write.mode("overwrite")
            if spec:
                writer = writer.partitionBy(*spec)
            writer.parquet(path)
        elif bucket_by_person and "person_id" in df.columns:
            bucketed.add(key)  # written in a previous (resumed) run

    def materialize(new_keys: list[str]) -> None:
        """Submit each produced OMOP layer's write to the shared pool.
        The ctx swap to a scan of the written parquet happens in
        settle() — downstream steps read materialized data instead of
        re-executing the whole upstream DAG per consumer (the layered
        write-once/read-many design that also holds at 100 TB).

        Physical layout: facts can be partitioned (e.g. by event year) for
        partition pruning; at cluster scale prefer sources.writers.
        write_bucketed by person_id for co-located joins (SURVEY.md §4 (a);
        the OMOP DDL's own DISTRIBUTE ON KEY hint).
        """
        if not output_dir:
            return
        for key in new_keys:
            if key.startswith("omop_"):
                futures[key] = pool.submit(write_one, key, ctx[key])

    def settle(keys: list[str] | None = None) -> None:
        """Block on the given keys' writes (all outstanding when None),
        mark their checkpoints, and swap ctx to the written layer."""
        todo = []
        for key in list(futures) if keys is None else keys:
            fut = futures.pop(key, None)
            if fut is None:
                continue
            fut.result()
            ckpt.mark_done(f"write_{key}")
            todo.append(key)

        # bucketed layers MUST re-enter via the catalog — a bare parquet
        # scan of the same files would lose the bucket spec and
        # reintroduce the shuffle bucketing exists to remove
        def reread(key: str) -> tuple[str, DataFrame]:
            if key in bucketed:
                return key, spark.table(key)
            return key, spark.read.parquet(os.path.join(output_dir, key))

        # the re-reads are DRIVER-side footer/schema resolution (~0.1-0.6s
        # each, no executor job) — run them on a transient thread pool
        # rather than serially (~2.5s of the 50k-patient run), and NOT on
        # the shared writer pool, where they would queue behind multi-
        # second write jobs during partial settles
        if len(todo) > 1:
            from concurrent.futures import ThreadPoolExecutor as _TPE

            with _TPE(max_workers=min(8, len(todo))) as rp:
                for key, df in rp.map(reread, todo):
                    ctx[key] = df
        else:
            for key in todo:
                ctx[key] = reread(key)[1]

    done: set[str] = set()
    pending = list(ETL_STEPS)
    try:
        while pending:
            progressed = False
            for step in list(pending):
                if all(d in done for d in step.deps):
                    # block only on the layers this step actually reads;
                    # every other write keeps running underneath the
                    # step's plan construction and its own writes
                    settle([k for k in STEP_READS.get(step.name, ())
                            if k in futures])
                    produced = step.run(ctx)
                    ctx.update(produced)
                    materialize(list(produced))
                    ckpt.mark_done(step.name)
                    done.add(step.name)
                    pending.remove(step)
                    progressed = True
            if not progressed:
                missing = [(s.name, s.deps) for s in pending]
                raise RuntimeError(f"DAG stuck; unresolved deps: {missing}")
        if output_dir:
            settle()  # drain every outstanding write before returning
    finally:
        if pool is not None:
            # on the success path this is a no-op join; on a step/write
            # failure it stops queued writes from starting (running ones
            # finish — Spark jobs aren't interruptible here) so the
            # exception isn't followed by a half-alive writer pool
            pool.shutdown(wait=True, cancel_futures=True)
        # every output is materialized and re-read from parquet, so the
        # cached id maps have served all their consumers — release them so
        # a long-lived session (repeated pipeline runs, the bench loop)
        # holds flat storage instead of one pinned map set per run
        for k in ("person_map", "visit_map", "provider_map", "care_site_map",
                  "location_dim_cache"):
            if k in ctx:
                ctx[k].unpersist()
    return ctx
