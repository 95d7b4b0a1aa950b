"""The ``query_suite`` workload: oracle-graded registry queries over the
engine's sf0.01 test tables (``data/sf0.01``, a copy of the read-only
tables the engine's tests and ``bench.py`` read; ``--tiny`` uses sf0.001).

The suite is the subset of ``bench.py``'s headline list and TPC-H that a
4-core run can afford within the benchmark's per-run budget: one query per
open operator or ``llm_ops`` item (BPE merges, PageRank's iterative rounds,
the ANN index, partition widths on the perceptual-hash shape) plus TPC-H
q21. Each also has an oracle cheap enough to grade on every run.

Set-up computes every query's DuckDB oracle answer. Each query then starts
from ``clearCache()`` and is timed from building its DataFrame to the end
of ``collect()``; its collected rows are graded against the oracle off the
clock. The first pass is each query's first execution in the process, as
a user of the analytics command pays it (a run has no room for an untimed
warm-up pass of the suite: see ``BENCHMARK.json``'s run count); only
``WARMUP_QUERY``, outside the suite, runs untimed first, so that the
process-wide first-execution cost does not land on whichever query the
seed puts first. Passes repeat until the run's ``--seconds`` have
elapsed. The seed permutes the query order; the
data is the same on every run.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_NAMES = [
    "bpe_merges",
    "pagerank_priorities",
    "ann_ivfpq",
    "dedup_phash",
    "tpch_q21",
]
WARMUP_QUERY = "pricing_summary"
SETUP_REPEATS = 5  # the oracles take under a second; fewer repeats left setup_s noisy
PYTHON_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
    r"WindowInPandas|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)"
)
EXCHANGES = re.compile(r"\b(?:Broadcast)?Exchange\b")


class _Collected:
    """The rows a timed run collected, in the shape ``compare_results``
    reads (``columns`` and ``collect()``), so grading re-executes nothing."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def setup(ctx) -> dict:
    """Every query's oracle answer, computed ``SETUP_REPEATS`` times;
    ``setup_s`` is the median."""
    from oracle_utils import duckdb_connection
    from synthea2omop_etl_spark.queries import QUERIES

    data_dir = os.path.join(HERE, "data", "sf0.001" if ctx.tiny else "sf0.01")
    order = list(QUERY_NAMES)
    random.Random(ctx.seed).shuffle(order)
    specs = {n: QUERIES[n] for n in order}
    times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        con = duckdb_connection(data_dir)
        oracles = {}
        for name in order:
            cur = con.execute(specs[name].oracle)
            oracles[name] = (cur.fetchall(), [d[0] for d in cur.description])
        con.close()
        times.append(time.perf_counter() - t0)
    ctx.metrics["setup_s"] = statistics.median(times)
    ctx.layers["setup.oracle_s"] = ctx.metrics["setup_s"]
    return {"data_dir": data_dir, "order": order, "specs": specs, "oracles": oracles}


def measure(ctx, state: dict) -> None:
    data_dir, order = state["data_dir"], state["order"]
    samples: dict[str, list[float]] = {n: [] for n in order}
    cpu: dict[str, list[float]] = {n: [] for n in order}
    build: dict[str, list[float]] = {n: [] for n in order}
    plans: dict[str, str] = {}

    from synthea2omop_etl_spark.queries import QUERIES

    with ctx.op(WARMUP_QUERY):
        QUERIES[WARMUP_QUERY].spark(ctx.spark, data_dir).collect()
    with ctx.work("queries"):
        t_end = time.perf_counter() + ctx.seconds
        while True:
            _one_pass(ctx, state, samples, cpu, build, plans)
            if time.perf_counter() >= t_end:
                break

    per_query = {n: statistics.median(v) for n, v in samples.items() if v}
    lat = sorted(per_query.values())
    ctx.metrics.update({
        "work_s": sum(lat),
        "cpu_s": sum(statistics.median(v) for v in cpu.values() if v),
        "queries_total_s": sum(lat),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
    })
    ctx.passes = len(samples[order[0]])
    ctx.layers.update({
        "tpch.s": sum(v for n, v in per_query.items() if n.startswith("tpch_")),
        "queries.passes": ctx.passes,
        **{f"q.{n}.s": v for n, v in per_query.items()},
    })
    if ctx.tracer.enabled:
        ctx.layers.update({
            "queries.build_s": sum(statistics.median(v) for v in build.values() if v),
            "queries.python_nodes": sum(len(PYTHON_NODES.findall(p)) for p in plans.values()),
            "queries.exchanges": sum(len(EXCHANGES.findall(p)) for p in plans.values()),
        })


def _one_pass(ctx, state: dict, samples: dict, cpu: dict, build: dict,
              plans: dict) -> None:
    """Every query once, in the seeded order: wall, CPU and build time are
    appended per query, and in traced runs each executed plan is kept once."""
    from oracle_utils import compare_results

    spark, tr, data_dir = ctx.spark, ctx.tracer, state["data_dir"]
    for name in state["order"]:
        spec = state["specs"][name]
        spark.catalog.clearCache()
        with ctx.op(f"q.{name}") as op:
            t0 = time.perf_counter()
            with tr.span(f"build.{name}", spec.spark.__module__.rsplit(".", 1)[-1]):
                df = spec.spark(spark, data_dir)
            t1 = time.perf_counter()
            with tr.span(f"collect.{name}", "spark"):
                rows = df.collect()
        if not op.ok:
            continue
        samples[name].append(op.seconds)
        cpu[name].append(op.cpu_s)
        build[name].append(t1 - t0)
        ctx.check(name, compare_results(_Collected(df.columns, rows),
                                        *state["oracles"][name]))
        if tr.enabled and name not in plans:
            plans[name] = df._jdf.queryExecution().executedPlan().toString()
