#!/usr/bin/env python3
"""Benchmark for the Synthea→OMOP engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Workloads (see ``omop.py`` and ``suite.py`` for why each was chosen):

- ``etl_achilles_dqd``: run_pipeline over seeded benchgen tables, then the
  Achilles catalog and the DQD checks over the OMOP layers it wrote.
- ``query_suite``: oracle-graded registry and TPC-H queries over the
  engine's sf0.01 test tables, copied into ``data/``.

One process, one ``local[nproc]`` session built by the package's own
``get_spark`` with its defaults. Only the CPU count and the scratch
locations are set, all inside this directory's ``.work``, which is removed
at exit. Outputs are checked (pinned row counts in ``expected.json``,
DuckDB oracles for queries); any exception or mismatch counts as one failed
operation.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones shared by every workload (``setup_s``,
``work_s``, ``cpu_s``), then the workload's own named metrics,
``jvm_peak_rss_mb`` and ``error_rate``. ``work_s`` and
``cpu_s`` sum, over the workload's jobs or queries, the median over timed
passes of each one's wall and CPU seconds (CPU of this process and the
Spark JVM). With ``--trace 1`` the same work runs with
spans around the engine's public entry points and Spark status-store
counters read per phase; the metrics are the per-layer ones, including
``trace.overhead.<metric>``: the traced value minus the median of the
untraced runs of the same sources recorded in ``.runs/`` (or, when there
are none yet, of an untraced measurement made first in the same process).
The line before the result is the host record; the full record, spans
included, is also written to ``.runs/``. ``--tiny`` runs the query suite
on the sf0.001 tables, for ``selfcheck.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
RUNS = HERE / ".runs"
sys.path[:0] = [str(REPO), str(REPO / "tests"), str(HERE)]

from omop import ETL_STEPS  # noqa: E402
from suite import QUERY_NAMES  # noqa: E402

# printed by every workload's untraced run, with a bound in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
    "cpu_s": "s",
}
# printed next to END_TO_END: each workload's own metrics, then two that
# are too noisy (VmHWM: IQR 10-28% of the median) or always 0 (error_rate)
# to bound
NAMED = {
    "etl_achilles_dqd": {
        "etl_rows_per_s": "rows/s",
        "omop_bytes_per_source_byte": "ratio",
        "achilles_s": "s",
        "dqd_s": "s",
    },
    "query_suite": {
        "queries_total_s": "s",
        "query_p50_s": "s",
        "query_p90_s": "s",
    },
}
for _named in NAMED.values():
    _named.update(jvm_peak_rss_mb="MB", error_rate="ratio")
WORKLOADS = {"etl_achilles_dqd": "omop", "query_suite": "suite"}
# bench.py figures that these metrics supersede, for attributing drift
SUPERSEDES = {
    "queries_total_s": "bench.py value (headline_queries_total)",
    "etl_rows_per_s": "bench.py etl_rows_per_sec",
}
PHASES = ("etl", "achilles", "queries")
COUNTERS = ("jobs", "executor_busy_s", "core_util", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes")
SPAN_LAYERS = ("benchgen", "plans.pipeline", "operators", "domains",
               "derived", "sources", "analytics", "validate", "queries",
               "tpch", "llm_ops", "spark")
_TIMED = {m: u for w in NAMED.values() for m, u in w.items() if m != "error_rate"}
# every per-layer metric, printed by each traced run (0 where a workload
# leaves the layer idle), with its unit
PER_LAYER = {
    "session.start_s": "s",
    "setup.gen_s": "s",
    "setup.oracle_s": "s",
    "etl.run_pipeline_s": "s",
    "etl.plan_s": "s",
    "etl.wait_s": "s",
    "etl.write_s": "s",
    "etl.reread_s": "s",
    "etl.output_bytes": "bytes",
    "etl.output_files": "count",
    **{f"etl.step.{s}.s": "s" for s in ETL_STEPS},
    "achilles.plan_s": "s",
    "achilles.results_write_s": "s",
    "achilles.dist_write_s": "s",
    "achilles.result_rows": "count",
    "dqd.plan_s": "s",
    "dqd.collect_s": "s",
    "tpch.s": "s",
    "queries.build_s": "s",
    "queries.python_nodes": "count",
    "queries.exchanges": "count",
    "queries.passes": "count",
    **{f"q.{n}.s": "s" for n in QUERY_NAMES},
    **{f"{p}.{c}": "ratio" if c == "core_util" else
       "s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count"
       for p in PHASES for c in COUNTERS},
    **{f"self.{layer}_s": "s" for layer in SPAN_LAYERS},
    "trace.spans": "count",
    **{f"trace.overhead.{m}": u for m, u in {**END_TO_END, **_TIMED}.items()},
}


class Op:
    seconds = 0.0
    cpu_s = 0.0
    ok = True


class Run:
    """State of one benchmark run, handed to the workload module."""

    def __init__(self, args, spark, tracer, work_dir: Path, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.counters = None
        self.seed = args.seed
        self.seconds = args.seconds
        self.tiny = args.tiny
        self.work_dir = str(work_dir)
        self.cores = cores
        self.expected = json.loads((HERE / "expected.json").read_text())
        self.jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.metrics: dict[str, float] = {}  # end-to-end and named
        self.layers: dict[str, float] = {}
        self.observed: dict = {}  # checked outputs, kept in the run record
        self.passes = 1  # set by the workload: timed passes measured

    def trace(self, tracer) -> None:
        """Switch to ``tracer`` for the following measurement."""
        from tracing import SparkCounters

        self.tracer = tracer
        self.counters = SparkCounters(self.spark) if tracer.enabled else None
        self.layers = {k: v for k, v in self.layers.items() if k.startswith("setup.")}

    def cpu(self) -> float:
        """CPU seconds used so far by this process and the Spark JVM."""
        with open(f"/proc/{self.jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        return time.process_time() + jvm

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    @contextmanager
    def op(self, name: str):
        """One attempted operation, timed in wall and CPU seconds. An
        exception marks it failed (``ok`` False) and is recorded, not
        raised."""
        op = Op()
        self.attempted += 1
        cpu0 = self.cpu()
        t0 = time.perf_counter()
        try:
            yield op
        except Exception:
            op.ok = False
            self.failed += 1
            self.problems.append(f"{name}: {traceback.format_exc()}")
        finally:
            op.seconds = time.perf_counter() - t0
            op.cpu_s = self.cpu() - cpu0

    def check(self, name: str, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems += [f"{name}: {p}" for p in problems]

    @contextmanager
    def work(self, phase: str):
        """A workload phase; in traced runs, the Spark counters it moved."""
        if self.counters is None:
            yield
            return
        before = self.counters.snapshot()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        delta = self.counters.delta(before, self.counters.snapshot(), wall, self.cores)
        for k, v in delta.items():
            self.layers[f"{phase}.{k}"] = self.layers.get(f"{phase}.{k}", 0) + v


def medians(samples: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in samples.items() if v}


def _git_commit() -> str:
    head = REPO / ".git" / "HEAD"
    if not head.is_file():
        return "unknown (not a git checkout)"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    path = REPO / ".git" / ref[5:]
    return path.read_text().strip() if path.is_file() else ref[5:]


def _source_id() -> str:
    """Digest of the engine and benchmark sources: untraced records count as
    a traced run's baseline only when this matches."""
    h = hashlib.sha256()
    files = [*sorted((REPO / "synthea2omop_etl_spark").rglob("*.py")),
             *sorted(HERE.glob("*.py")), HERE / "expected.json"]
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _recorded_baseline(workload: str, tiny: bool, source: str) -> dict | None:
    """Per-metric medians of this checkout's passing untraced runs."""
    values: dict[str, list[float]] = {}
    for f in RUNS.glob(f"{workload}-*-t0-*.json"):
        rec = json.loads(f.read_text())
        if (rec["host"].get("source") != source or rec.get("tiny") != tiny
                or rec["failed"] or not rec["metrics"]):
            continue
        for k, v in rec["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    return medians(values) or None


def _environment(work_dir: Path, cores: int) -> None:
    """CPU count and scratch locations only; every other engine setting
    stays at the package default."""
    for sub in ("local", "tmp", "warehouse"):
        (work_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work_dir / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work_dir / "warehouse")
    os.environ["TMPDIR"] = str(work_dir / "tmp")


def _start_spark(work_dir: Path):
    from synthea2omop_etl_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work_dir / 'tmp'}",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _untraced_metrics(run: Run, workload: str) -> dict:
    e2e = dict(run.metrics, jvm_peak_rss_mb=run.peak_rss_mb(),
               error_rate=run.failed / max(run.attempted, 1))
    units = {**END_TO_END, **NAMED[workload]}
    return {k: {"value": e2e[k], "unit": u} for k, u in units.items()}


def _traced_metrics(run: Run, session_s: float, baseline: dict) -> dict:
    layers = dict(run.layers)
    layers["session.start_s"] = session_s
    for k, v in run.tracer.self_times().items():
        layers[f"self.{k}_s"] = v / run.passes
    layers["trace.spans"] = len(run.tracer.spans)
    traced = dict(run.metrics, jvm_peak_rss_mb=run.peak_rss_mb())
    for k in traced:
        if k in baseline:
            layers[f"trace.overhead.{k}"] = traced[k] - baseline[k]
    return {k: {"value": layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}


def _measure(args, spark, run: Run, host: dict, session_s: float) -> dict:
    """Set up and measure the workload; the metrics of the result line."""
    from tracing import Tracer

    workload = __import__(WORKLOADS[args.workload])
    if not args.trace:
        workload.measure(run, workload.setup(run))
        return _untraced_metrics(run, args.workload)
    traced = Tracer(run.tracer.run_id, enabled=True)
    baseline = _recorded_baseline(args.workload, args.tiny, host["source"])
    if baseline is not None:
        host["baseline"] = "recorded untraced runs"
        run.trace(traced)
        state = workload.setup(run)
    else:
        host["baseline"] = "untraced measurement run first in this process"
        state = workload.setup(run)
        workload.measure(run, state)
        baseline = dict(run.metrics, jvm_peak_rss_mb=run.peak_rss_mb())
        run.trace(traced)
        run.metrics = {"setup_s": run.metrics["setup_s"]}
    workload.measure(run, state)
    return _traced_metrics(run, session_s, baseline)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="query suite on the sf0.001 tables, for selfcheck.py")
    args = ap.parse_args(argv)

    if not (REPO / "synthea2omop_etl_spark" / "__init__.py").is_file():
        print(f"engine package not found under {REPO}", file=sys.stderr)
        return 2
    import pyspark

    from tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_dir = HERE / ".work" / run_id
    _environment(work_dir, cores)
    host = {
        "nproc": cores,
        "load1_before": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "git_commit": _git_commit(),
        "source": _source_id(),
        "supersedes": SUPERSEDES,
    }
    spark = run = None
    metrics: dict = {}
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work_dir)
        session_s = time.perf_counter() - t0
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        run = Run(args, spark, Tracer(run_id, enabled=False), work_dir, cores)
        try:
            metrics = _measure(args, spark, run, host, session_s)
        except Exception:
            run.failed += 1
            run.problems.append(traceback.format_exc())
        host["load1_after"] = os.getloadavg()[0]
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    ok = run.failed == 0 and bool(metrics)
    record = {"run_id": run_id, "tiny": args.tiny, "host": host,
              "attempted": run.attempted, "failed": run.failed,
              "problems": run.problems, "observed": run.observed,
              "metrics": metrics, "spans": run.tracer.dump()}
    RUNS.mkdir(exist_ok=True)
    (RUNS / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    for p in run.problems:
        print(p, file=sys.stderr)
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
