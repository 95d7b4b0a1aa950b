"""The ``etl_achilles_dqd`` workload: Synthea CSV-shaped tables → OMOP
parquet (``run_pipeline``), then the Achilles catalog and the DQD checks
over the layers that ETL just wrote — the engine's two batch jobs, in the
order a user runs them.

Why one workload and not two: each job here costs seconds of driver-side
plan building and JIT warm-up even at a few hundred patients, so a separate
Achilles workload would pay session start, input generation and a full ETL
again on every run. Reading the layers the timed ETL wrote keeps the
write/read coupling visible: a layout change that speeds the writes but
slows the reads moves ``etl_rows_per_s`` and ``achilles_s`` in opposite
directions.

Every job is timed on its first execution in the process, as a user of the
command line pays it; input generation runs first and warms the JVM's
parquet and codegen paths.

Size: 300 patients (6,904 source rows). Up to a few thousand patients the
three jobs are bound by driver-side plan building, not by rows: on 4 cores,
with Achilles over three OMOP layers, a run took 69-99 s at 300 patients
and 94 s at both 1,000 and 3,000, against the roughly 71 s per run that
the benchmark's run count leaves.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import functions as F

# The OMOP layers Achilles and DQD read. Both skip absent tables; over all
# 17 layers they cost about 65 s of driver-side plan building per pass on 4
# cores, and over person + observation_period + condition_occurrence still
# 15-25 s, more than one run affords.
ACHILLES_TABLES = ("person", "observation_period")
DQD_TABLES = ("person", "condition_occurrence")
# benchgen's UUID-valued columns (primary and foreign keys)
UUID_COLUMNS = {"Id", "PATIENT", "ENCOUNTER", "ORGANIZATION"}
N_PATIENTS = 300
SETUP_REPEATS = 3
# the pipeline steps timed one by one in traced runs
ETL_STEPS = (
    "typing", "id_maps", "concept_maps", "location_dim",
    "domain_condition_occurrence", "domain_drug_exposure",
    "domain_measurement_observation", "domain_visit_occurrence",
    "domain_person", "domain_procedure_occurrence", "domain_device_exposure",
    "domain_payer_plan_period", "domain_provider", "domain_care_site",
    "derived_death", "derived_eras", "derived_cost",
    "derived_observation_period",
)


def _relabel(df, seed: int):
    """Map every UUID through one seeded hash: foreign keys and row counts
    stay intact while id order and partition spread change with the seed."""
    for c in df.columns:
        if c in UUID_COLUMNS:
            h = F.sha2(F.concat(F.lit(f"{seed}:"), F.col(c)), 256)
            df = df.withColumn(c, F.concat_ws(
                "-", *[F.substring(h, a, n) for a, n in
                       ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))]))
    return df


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def setup(ctx) -> dict:
    """The seeded raw tables, written ``SETUP_REPEATS`` times over the same
    directory; ``setup_s`` is the median."""
    from synthea2omop_etl_spark import benchgen

    spark, tr = ctx.spark, ctx.tracer
    raw_dir = os.path.join(ctx.work_dir, "raw")

    def write(item) -> None:
        name, df = item
        _relabel(df, ctx.seed).write.mode("overwrite").parquet(os.path.join(raw_dir, name))

    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with tr.span("synth_raw_tables", "benchgen"), \
                ThreadPoolExecutor(ctx.cores) as pool:
            list(pool.map(write, benchgen.synth_raw_tables(spark, N_PATIENTS).items()))
        times.append(time.perf_counter() - t0)
    ctx.metrics["setup_s"] = statistics.median(times)
    ctx.layers["setup.gen_s"] = ctx.metrics["setup_s"]
    raw = {t: spark.read.parquet(os.path.join(raw_dir, t)) for t in os.listdir(raw_dir)}
    return {"raw": raw, "raw_bytes": _dir_bytes(raw_dir)[0],
            "source_rows": benchgen.total_source_rows(N_PATIENTS),
            "pins": ctx.expected[str(N_PATIENTS)]}


def measure(ctx, state: dict) -> None:
    """Passes of ETL → Achilles → DQD until ``--seconds`` have elapsed (at
    least one); each job's wall and CPU time is the median over passes."""
    tr = ctx.tracer
    times: dict[str, list[float]] = {"etl": [], "achilles": [], "dqd": []}
    cpu: dict[str, list[float]] = {k: [] for k in times}
    t_end = time.perf_counter() + ctx.seconds
    while True:
        out = tempfile.mkdtemp(prefix="pass", dir=ctx.work_dir)
        out_bytes, out_files, result_rows = _one_pass(ctx, state, out, times, cpu)
        shutil.rmtree(out, ignore_errors=True)
        if time.perf_counter() >= t_end:
            break

    med = {k: statistics.median(v) for k, v in times.items()}
    passes = ctx.passes = len(times["etl"])
    ctx.metrics.update({
        "work_s": sum(med.values()),
        "cpu_s": sum(statistics.median(v) for v in cpu.values()),
        "etl_rows_per_s": state["source_rows"] / med["etl"],
        "omop_bytes_per_source_byte": out_bytes / state["raw_bytes"],
        "achilles_s": med["achilles"],
        "dqd_s": med["dqd"],
    })
    ctx.layers.update({
        "etl.output_bytes": out_bytes,
        "etl.output_files": out_files,
        "achilles.result_rows": result_rows,
    })
    if tr.enabled:
        _etl_layers(ctx, tr, passes)
        for metric, span in (("achilles.plan_s", "run_default_analyses"),
                             ("achilles.results_write_s", "results_write"),
                             ("achilles.dist_write_s", "dist_write"),
                             ("dqd.plan_s", "run_dqd_checks"),
                             ("dqd.collect_s", "dqd_collect")):
            ctx.layers[metric] = tr.total(span) / passes


def _one_pass(ctx, state: dict, out: str, times: dict,
              cpu: dict) -> tuple[int, int, int]:
    """ETL into ``out``, then Achilles and DQD over what it wrote; appends
    each job's wall and CPU time to ``times`` and ``cpu`` and checks its
    output."""
    from synthea2omop_etl_spark import validate
    from synthea2omop_etl_spark.analytics import achilles_catalog
    from synthea2omop_etl_spark.plans import pipeline

    spark, tr, pins = ctx.spark, ctx.tracer, state["pins"]
    omop_dir = os.path.join(out, "omop")
    with ctx.work("etl"):
        _trace_pipeline(tr, pipeline)
        try:
            with ctx.op("etl") as op:
                pipeline.run_pipeline(spark, state["raw"], output_dir=omop_dir)
        finally:
            tr.unpatch()
    times["etl"].append(op.seconds)
    cpu["etl"].append(op.cpu_s)
    out_bytes, out_files = _dir_bytes(omop_dir)
    ctx.check("etl", _etl_problems(ctx, omop_dir, pins["etl"]))

    with ctx.work("achilles"):
        with ctx.op("achilles") as op:
            with tr.span("run_default_analyses", "analytics"):
                omop = {f"omop_{n}": spark.read.parquet(os.path.join(omop_dir, f"omop_{n}"))
                        for n in ACHILLES_TABLES}
                results, dists = achilles_catalog.run_default_analyses(omop)
            with tr.span("results_write", "sources"):
                results.write.parquet(os.path.join(out, "achilles_results"))
            with tr.span("dist_write", "sources"):
                dists.write.parquet(os.path.join(out, "achilles_results_dist"))
        times["achilles"].append(op.seconds)
        cpu["achilles"].append(op.cpu_s)
        with ctx.op("dqd") as op:
            with tr.span("run_dqd_checks", "validate"):
                tables = {n: spark.read.parquet(os.path.join(omop_dir, f"omop_{n}"))
                          for n in DQD_TABLES}
                dqd = validate.run_dqd_checks(tables, tables["person"], spark)
            with tr.span("dqd_collect", "validate"):
                dqd_rows = dqd.collect()
        times["dqd"].append(op.seconds)
        cpu["dqd"].append(op.cpu_s)
    problems, result_rows = _achilles_problems(ctx, out, pins)
    ctx.check("achilles", problems)
    ctx.check("dqd", _dqd_problems(ctx, dqd_rows, pins))
    return out_bytes, out_files, result_rows


def _step_layer(name: str) -> str:
    if name.startswith("domain"):
        return "domains"
    if name.startswith(("derived", "location")):
        return "derived"
    return "operators"  # typing, id_maps, concept_maps


def _trace_pipeline(tr, pipeline) -> None:
    """Spans around run_pipeline, each ETL_STEPS callable and every parquet
    write/re-read it issues."""
    if not tr.enabled:
        return
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    tr.patch(pipeline, "run_pipeline", "plans.pipeline", root=True)
    for step in pipeline.ETL_STEPS:
        tr.patch(step, "run", _step_layer(step.name), f"step.{step.name}")
    tr.patch(DataFrameWriter, "parquet", "sources", "parquet_write")
    tr.patch(DataFrameReader, "parquet", "sources", "parquet_read")


def _etl_layers(ctx, tr, passes: int) -> None:
    """Per-pass means of the pipeline spans."""
    from synthea2omop_etl_spark.plans import pipeline

    run_s = tr.total("run_pipeline") / passes
    plan_s = sum(tr.total(f"step.{s.name}") for s in pipeline.ETL_STEPS) / passes
    ctx.layers.update({
        "etl.run_pipeline_s": run_s,
        "etl.plan_s": plan_s,
        "etl.wait_s": run_s - plan_s,
        "etl.write_s": tr.total("parquet_write") / passes,
        "etl.reread_s": tr.total("parquet_read") / passes,
    })
    # a step is charged to the listed name it starts with, so typing_*
    # sums into "typing" and a later split of a step still lands on it
    for s in pipeline.ETL_STEPS:
        key = next((n for n in ETL_STEPS if s.name.startswith(n)), None)
        if key is not None:
            name = f"etl.step.{key}.s"
            ctx.layers[name] = (ctx.layers.get(name, 0.0)
                                + tr.total(f"step.{s.name}") / passes)


def _parquet_rows(path: str) -> int:
    """Row count from the parquet footers, without a Spark job."""
    return sum(
        pq.read_metadata(os.path.join(root, n)).num_rows
        for root, _, names in os.walk(path) for n in names
        if n.endswith(".parquet")
    )


def _etl_problems(ctx, omop_dir: str, expected: dict) -> list[str]:
    got = {e: _parquet_rows(os.path.join(omop_dir, e))
           for e in os.listdir(omop_dir) if e.startswith("omop_")}
    ctx.observed["etl"] = got
    return [f"{t}: {got.get(t)} rows, expected {expected.get(t)}"
            for t in sorted(set(got) | set(expected)) if got.get(t) != expected.get(t)]


def _achilles_problems(ctx, work: str, pins: dict) -> tuple[list[str], int]:
    ids = pq.read_table(os.path.join(work, "achilles_results"),
                        columns=["analysis_id"]).column(0).value_counts()
    got = {str(v["values"]): v["counts"] for v in ids.to_pylist()}
    ctx.observed["achilles"] = dict(sorted(got.items(), key=lambda kv: int(kv[0])))
    want = pins["achilles"]
    problems = [f"analysis {a}: {got.get(a)} rows, expected {want.get(a)}"
                for a in sorted(set(got) | set(want)) if got.get(a) != want.get(a)]
    n_dist = _parquet_rows(os.path.join(work, "achilles_results_dist"))
    ctx.observed["achilles_dist_rows"] = n_dist
    if n_dist != pins["achilles_dist_rows"]:
        problems.append(f"dist rows {n_dist}, expected {pins['achilles_dist_rows']}")
    return problems, sum(got.values()) + n_dist


def _dqd_problems(ctx, rows, pins: dict) -> list[str]:
    failed = sum(1 for r in rows if r["failed"])
    ctx.observed.update(dqd_rows=len(rows), dqd_failed=failed)
    problems = []
    if len(rows) != pins["dqd_rows"]:
        problems.append(f"dqd rows {len(rows)}, expected {pins['dqd_rows']}")
    if failed != pins["dqd_failed"]:
        problems.append(f"dqd failed checks {failed}, expected {pins['dqd_failed']}")
    return problems
