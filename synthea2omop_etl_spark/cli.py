"""CLI mirroring the reference's etl_main.py / manage_etl.py surface
(etl_pipeline/etl_main.py:316-334): run the Synthea→OMOP pipeline over a
directory of CSVs with checkpoint/resume, plus validate and analytics
subcommands.

    python -m synthea2omop_etl_spark.cli run --input /data/synthea \\
        --output /data/omop --checkpoint /data/ckpt.json [--force-restart]
    python -m synthea2omop_etl_spark.cli validate --omop /data/omop
    python -m synthea2omop_etl_spark.cli analytics --omop /data/omop \\
        --query "SELECT ..."
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from synthea2omop_etl_spark.session import get_spark

# Every Synthea CSV the typing layer understands (schemas.TYPING_SPECS, all
# 19 reference tables); only patients/encounters are required, the rest are
# ingested when present.
from synthea2omop_etl_spark.schemas import TYPING_SPECS as _SPECS  # noqa: E402

CSV_TABLES = tuple(sorted(_SPECS))


def cmd_run(args: argparse.Namespace) -> int:
    from synthea2omop_etl_spark.plans.pipeline import run_pipeline
    from synthea2omop_etl_spark.sources.readers import (
        read_csv_all_text,
        read_csv_repaired,
    )

    # Reference-format deployment config (utils/config_loader.py parity):
    # .env overlay + config.json fill in anything the flags leave unset;
    # explicit flags always win.
    from synthea2omop_etl_spark.config import ConfigLoader

    cfg = ConfigLoader(env_file=args.env_file, config_file=args.config)
    paths = cfg.get_file_paths()
    opts = cfg.get_processing_options()
    input_dir = args.input or paths["synthea_data_dir"]
    output_dir = args.output or paths["output_dir"]
    if not input_dir or not output_dir:
        print(
            "error: --input/--output required (or SYNTHEA_DATA_DIR/"
            "OUTPUT_DIR via --env-file)",
            file=sys.stderr,
        )
        return 2
    vocab_dir = args.vocab_dir or paths["vocab_dir"] or None
    repair = args.repair_malformed or opts["repair_malformed"]
    bucket_by = args.bucket_by or opts["bucket_by"]

    spark = get_spark(app_name="synthea2omop-etl")
    if args.force_restart and args.checkpoint and os.path.exists(args.checkpoint):
        os.remove(args.checkpoint)
    reader = read_csv_repaired if repair else read_csv_all_text
    raw = {}
    for t in CSV_TABLES:
        path = os.path.join(input_dir, f"{t}.csv")
        if os.path.exists(path):
            raw[t] = reader(spark, path)
        elif t in ("patients", "encounters"):
            print(f"error: required input missing: {path}", file=sys.stderr)
            return 2
    vocab = None
    if vocab_dir:
        from synthea2omop_etl_spark.sources.vocabulary import load_vocabulary

        vocab = load_vocabulary(
            spark, vocab_dir, ["concept", "concept_relationship"]
        )
    ctx = run_pipeline(
        spark,
        raw,
        checkpoint_path=args.checkpoint,
        output_dir=output_dir,
        vocab_tables=vocab,
        partition_by_year=args.partition_by_year or opts["partition_by_year"],
        bucket_by_person=(bucket_by == "person_id"),
        n_buckets=args.n_buckets if args.n_buckets is not None else opts["n_buckets"],
    )
    counts = {
        k.removeprefix("omop_"): ctx[k].count()
        for k in sorted(ctx)
        if k.startswith("omop_")
    }
    print(json.dumps({"status": "ok", "tables": counts}))
    return 0


def _load_omop(
    omop_dir: str,
    app_name: str,
    names: tuple[str, ...] | None = None,
    need_person: bool = False,
):
    """Read the ``omop_<name>`` parquet layers under ``omop_dir`` (every
    one, or those of ``names`` present) → (spark, {name: DataFrame}).

    Prints an error and returns None — before any Spark session starts —
    when no layer is found, or with ``need_person`` when omop_person is
    missing."""
    present = (
        {e.removeprefix("omop_") for e in os.listdir(omop_dir)
         if e.startswith("omop_")}
        if os.path.isdir(omop_dir)
        else set()
    )
    found = [n for n in (names or sorted(present)) if n in present]
    if not found or (need_person and "person" not in found):
        what = "omop_person" if need_person else "omop_* tables"
        print(f"error: no {what} found under {omop_dir}", file=sys.stderr)
        return None
    spark = get_spark(app_name=app_name)
    return spark, {
        n: spark.read.parquet(os.path.join(omop_dir, f"omop_{n}"))
        for n in found
    }


def cmd_validate(args: argparse.Namespace) -> int:
    from synthea2omop_etl_spark.validate import (
        check_date_ranges,
        check_demographics,
        check_record_counts,
        check_referential_integrity,
        validate,
    )

    loaded = _load_omop(
        args.omop,
        "synthea2omop-validate",
        names=(
            "person",
            "visit_occurrence",
            "condition_occurrence",
            "drug_exposure",
            "procedure_occurrence",
            "measurement",
            "observation",
            "provider",
            "care_site",
            "device_exposure",
            "payer_plan_period",
            "drug_era",
            "condition_era",
        ),
        need_person=True,
    )
    if loaded is None:
        return 2
    spark, t = loaded
    vo = t.get("visit_occurrence")
    dims = {"person", "provider", "care_site"}
    checks = [
        check_record_counts(t),
        check_referential_integrity(
            {
                n: (df, "person_id")
                for n, df in t.items()
                if n not in dims
            },
            t["person"],
        ),
    ]
    if "provider" in t and vo is not None:
        checks.append(
            check_referential_integrity(
                {"visit_occurrence": (vo, "provider_id")},
                t["provider"],
                id_col="provider_id",
                name="provider_linkage",
                weight=0.1,
            )
        )
    if "care_site" in t and vo is not None:
        checks.append(
            check_referential_integrity(
                {"visit_occurrence": (vo, "care_site_id")},
                t["care_site"],
                id_col="care_site_id",
                name="care_site_linkage",
                weight=0.1,
            )
        )
    date_targets = {}
    for name, start, end in (
        ("visit_occurrence", "visit_start_date", "visit_end_date"),
        ("drug_era", "drug_era_start_date", "drug_era_end_date"),
        ("condition_era", "condition_era_start_date", "condition_era_end_date"),
        ("payer_plan_period", "payer_plan_period_start_date",
         "payer_plan_period_end_date"),
    ):
        if name in t:
            date_targets[name] = (t[name], start, end)
    checks += [
        check_date_ranges(date_targets),
        check_demographics(t["person"]),
    ]
    report = validate(checks)
    # per-table/field DQD families (Completeness/Conformance/Plausibility)
    # appended in the dataqualitydashboard_results shape
    from synthea2omop_etl_spark.validate import run_dqd_checks

    ranges = None
    if args.config:
        from synthea2omop_etl_spark.config import ConfigLoader

        raw = ConfigLoader(env_file=None, config_file=args.config).get_config(
            "dqd.measurement_ranges", None
        )
        if raw:
            ranges = {k: (float(v[0]), float(v[1])) for k, v in raw.items()}
    dqd = run_dqd_checks(t, t["person"], spark, measurement_ranges=ranges)
    report["dqd"] = [r.asDict() for r in dqd.collect()]
    print(json.dumps(report, indent=2, default=str))
    return 0 if report["passed"] else 1


def cmd_analytics(args: argparse.Namespace) -> int:
    from synthea2omop_etl_spark.analytics import list_tables, run_sql, table_page

    modes = [bool(args.query), args.list, bool(args.preview)]
    if sum(modes) != 1:
        print(
            "error: exactly one of --query / --list / --preview required",
            file=sys.stderr,
        )
        return 2
    loaded = _load_omop(args.omop, "synthea2omop-analytics")
    if loaded is None:
        return 2
    spark, tables = loaded
    if args.list:
        # /api/db/tables (backend/src/index.js:88-105)
        out = list_tables(tables)
    elif args.preview:
        # /api/db/data (backend/src/index.js:107-146)
        if args.preview not in tables:
            print(f"error: unknown table: {args.preview}", file=sys.stderr)
            return 2
        out = table_page(
            tables[args.preview], limit=args.limit, offset=args.offset
        )
    else:
        out = run_sql(spark, args.query, tables).limit(args.limit)
    for row in out.collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    """Serve the read-only analytics HTTP API over an OMOP output dir —
    the engine's twin of the reference backend (backend/src/index.js)."""
    from synthea2omop_etl_spark.serve import serve

    loaded = _load_omop(args.omop, "synthea2omop-serve")
    if loaded is None:
        return 2
    spark, tables = loaded
    serve(spark, tables, host=args.host, port=args.port,
          max_rows=args.max_rows, checkpoint_path=args.checkpoint)
    return 0


def cmd_achilles(args: argparse.Namespace) -> int:
    """Run the Achilles default-analysis catalog over an OMOP output dir
    and write achilles_results / achilles_results_dist parquet — the
    engine-native equivalent of the reference's run_achilles.sh."""
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.analytics import run_default_analyses

    loaded = _load_omop(
        args.omop, "synthea2omop-achilles", need_person=True
    )
    if loaded is None:
        return 2
    spark, tables = loaded
    results, dists = run_default_analyses(
        {f"omop_{n}": df for n, df in tables.items()},
        mode=args.mode,
        small_cell_count=args.small_cell_count,
    )
    out = args.output or args.omop
    results.write.mode("overwrite").parquet(
        os.path.join(out, "achilles_results")
    )
    dists.write.mode("overwrite").parquet(
        os.path.join(out, "achilles_results_dist")
    )
    # Summarize from the WRITTEN parquet — recomputing from the lazy plans
    # would re-execute the whole analysis DAG a second time.
    written = spark.read.parquet(os.path.join(out, "achilles_results"))
    summary = {
        int(r["analysis_id"]): int(r["n"])
        for r in written.groupBy("analysis_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    n_dist = spark.read.parquet(
        os.path.join(out, "achilles_results_dist")
    ).count()
    print(json.dumps({"analyses": summary, "dist_rows": n_dist}))
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """Run the end-to-end corpus-curation pipeline (llm_ops/corpus.py)
    over a parquet or JSONL document set and write the curated corpus +
    a per-split report."""
    from synthea2omop_etl_spark.llm_ops.corpus import (
        curate_corpus,
        curation_report,
    )

    spark = get_spark(app_name="synthea2omop-curate")
    if args.input.endswith((".jsonl", ".jsonl.gz")) or args.format == "jsonl":
        from synthea2omop_etl_spark.sources.jsonl import (
            document_schema,
            read_jsonl_split,
        )

        docs, bad = read_jsonl_split(spark, args.input, document_schema())
        n_bad = bad.count()
    else:
        docs = spark.read.parquet(args.input)
        n_bad = 0
    curated = curate_corpus(
        docs,
        quality_min=args.quality_min,
        langs=tuple(args.langs.split(",")),
        lm_score_min=args.lm_score_min,
    )
    curated.write.mode("overwrite").parquet(
        os.path.join(args.output, "corpus")
    )
    written = spark.read.parquet(os.path.join(args.output, "corpus"))
    report = {
        r["split"]: {"n_docs": r["n_docs"], "total_chars": r["total_chars"]}
        for r in curation_report(written).collect()
    }
    print(
        json.dumps(
            {
                "input_docs": docs.count(),
                "quarantined_lines": n_bad,
                "curated_docs": written.count(),
                "splits": report,
            }
        )
    )
    return 0


def cmd_tokenizer(args: argparse.Namespace) -> int:
    """Train a BPE tokenizer on a parquet document set and optionally
    encode the corpus with it (llm_ops/vocab.py learn_bpe /
    bpe_segment_documents): writes merges.parquet + segments.parquet
    (+ encoded.parquet with --encode) under --output."""
    from synthea2omop_etl_spark.llm_ops.vocab import (
        bpe_segment_documents,
        learn_bpe,
    )

    spark = get_spark(app_name="synthea2omop-tokenizer")
    docs = spark.read.parquet(args.input)
    merges, segments = learn_bpe(docs, args.text_col, args.num_merges)
    merges.write.mode("overwrite").parquet(
        os.path.join(args.output, "merges")
    )
    segments.write.mode("overwrite").parquet(
        os.path.join(args.output, "segments")
    )
    out = {
        "num_merges": spark.read.parquet(
            os.path.join(args.output, "merges")
        ).count(),
        "vocab_words": spark.read.parquet(
            os.path.join(args.output, "segments")
        ).count(),
    }
    if args.encode:
        encoded = bpe_segment_documents(
            docs,
            args.text_col,
            args.id_col,
            spark.read.parquet(os.path.join(args.output, "segments")),
        )
        encoded.write.mode("overwrite").parquet(
            os.path.join(args.output, "encoded")
        )
        out["encoded_docs"] = spark.read.parquet(
            os.path.join(args.output, "encoded")
        ).count()
    print(json.dumps(out))
    return 0


def cmd_deliver(args: argparse.Namespace) -> int:
    """Training-data delivery: seeded shuffle → fixed-seq_len packing →
    sharded span export (llm_ops/delivery.py)."""
    from synthea2omop_etl_spark.llm_ops.delivery import deliver_corpus

    spark = get_spark(app_name="synthea2omop-deliver")
    report = deliver_corpus(
        spark,
        spark.read.parquet(args.input),
        args.output,
        seq_len=args.seq_len,
        seed=args.seed,
        n_buckets=args.buckets,
        n_shards=args.shards,
    )
    print(json.dumps(report))
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Compact an append-accreted parquet layer (streaming micro-batches,
    insert_if_absent waves) back to ~target-sized files — the
    VACUUM/OPTIMIZE maintenance step."""
    from synthea2omop_etl_spark.sources.writers import compact_parquet_layer

    spark = get_spark(app_name="synthea2omop-compact")
    if args.zorder_by:
        from synthea2omop_etl_spark.sources.layout import write_zordered

        report = write_zordered(
            spark.read.parquet(args.path),
            args.path,
            args.zorder_by.split(","),
            target_file_mb=args.target_file_mb,
        )
    else:
        report = compact_parquet_layer(
            spark,
            args.path,
            target_file_mb=args.target_file_mb,
            sort_within_by=args.sort_by.split(",") if args.sort_by else None,
        )
    print(json.dumps(report))
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the physical plan of a registry query — the plan-audit loop
    (PLANS.md / tests/test_plan_quality.py) as a one-shot CLI, so a
    deployment can check pushdown/broadcast/codegen properties of any
    shipped operator against its OWN data scale before running it."""
    from synthea2omop_etl_spark.queries import QUERIES

    if args.query not in QUERIES:
        import difflib

        close = difflib.get_close_matches(args.query, QUERIES, n=5)
        print(
            f"error: unknown query {args.query!r}; close matches: {close}",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="synthea2omop-explain")
    df = QUERIES[args.query].spark(spark, args.sf_dir)
    if args.mode == "formatted":
        print(df._jdf.queryExecution().explainString("formatted"))
    else:
        print(df._jdf.queryExecution().executedPlan().toString())
    return 0


def cmd_stats(args: argparse.Namespace) -> int:
    """Grouped statistics with error bars / outlier resistance over any
    parquet layer: --mode ci = Poisson-bootstrap mean CI (deterministic,
    reproducible across runs); --mode robust = trimmed + winsorized
    means behind exact percentile fences."""
    spark = get_spark(app_name="synthea2omop-stats")
    df = spark.read.parquet(args.input)
    group_cols = args.by.split(",")
    if args.mode == "ci":
        from synthea2omop_etl_spark.operators.bootstrap import (
            bootstrap_mean_ci,
        )

        if not args.id_col:
            print("error: --mode ci requires --id-col", file=sys.stderr)
            return 2
        out = bootstrap_mean_ci(
            df,
            args.value,
            args.id_col,
            group_cols,
            replicates=args.replicates,
            alpha=args.alpha,
        )
    else:
        from synthea2omop_etl_spark.operators.percentiles import (
            robust_group_stats,
        )

        out = robust_group_stats(df, args.value, group_cols, trim=args.trim)
    for row in out.orderBy(*group_cols).limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_backfill(args: argparse.Namespace) -> int:
    """Refresh ONLY the partitions of a derived aggregate that a source
    change set touches: diff two source snapshots, find affected
    partition values (old AND new side of moved keys), rebuild the
    grouped aggregate for those values, dynamic-overwrite them."""
    from synthea2omop_etl_spark.operators.linkage import snapshot_diff
    from synthea2omop_etl_spark.plans.backfill import (
        affected_partitions,
        backfill_aggregate,
    )
    from pyspark.sql import functions as F

    spark = get_spark(app_name="synthea2omop-backfill")
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    keys = args.keys.split(",")
    compare = (
        args.compare_cols.split(",")
        if args.compare_cols
        else [c for c in new.columns if c not in keys]
    )
    group_cols = args.group_cols.split(",")
    if args.partition_col not in group_cols:
        print(
            "error: --partition-col must be one of --group-cols "
            "(the rebuild is partition-local)",
            file=sys.stderr,
        )
        return 2
    sum_cols = args.sum_cols.split(",") if args.sum_cols else []

    def build(src):
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(c).alias(f"sum_{c}") for c in sum_cols
        ]
        return src.groupBy(*group_cols).agg(*aggs)

    diff = snapshot_diff(old, new, keys, compare)
    parts = affected_partitions(diff, args.partition_col)
    report = backfill_aggregate(
        new, build, args.partition_col, args.target, parts
    )
    report["affected_partitions"] = sorted(map(str, parts))
    print(json.dumps(report))
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Diff two snapshots of one table (CDC change set): classify per-key
    rows added/removed/changed and write or print the change set."""
    from synthea2omop_etl_spark.operators.linkage import snapshot_diff

    spark = get_spark(app_name="synthea2omop-diff")
    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    keys = args.keys.split(",")
    compare = (
        args.compare.split(",")
        if args.compare
        else [c for c in old.columns if c not in keys and c in new.columns]
    )
    diff = snapshot_diff(old, new, keys, compare)
    if args.output:
        diff.write.mode("overwrite").parquet(args.output)
    counts = {
        r["change_type"]: r["n"]
        for r in diff.groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(
        json.dumps(
            {
                "keys": keys,
                "compare": compare,
                "added": counts.get("added", 0),
                "removed": counts.get("removed", 0),
                "changed": counts.get("changed", 0),
            }
        )
    )
    return 0


def cmd_table(args: argparse.Namespace) -> int:
    """Versioned-table maintenance (sources/versioned.py): commit a new
    version from a parquet path, list history, time-travel a version out
    to parquet, metadata-only rollback, or vacuum unreferenced files."""
    from synthea2omop_etl_spark.sources import versioned as V

    if args.action == "history":
        out = [
            {k: m[k] for k in ("version", "mode") if k in m}
            | {"n_files": len(m["files"])}
            for m in (
                V.read_manifest(args.table, v)
                for v in V.list_versions(args.table)
            )
        ]
        print(json.dumps(out))
        return 0
    if args.action == "rollback":
        if args.version is None:
            print("rollback requires --version", file=sys.stderr)
            return 2
        v = V.rollback(args.table, args.version)
        print(json.dumps({"rolled_back_to": args.version, "new_version": v}))
        return 0
    if args.action == "vacuum":
        removed = V.vacuum(
            args.table, keep_versions=args.keep,
            min_age_seconds=args.min_age_seconds,
        )
        print(json.dumps({"removed_files": len(removed)}))
        return 0

    spark = get_spark(app_name="synthea2omop-table")
    if args.action == "merge":
        if not args.input or not args.keys:
            print("merge requires --input and --keys", file=sys.stderr)
            return 2
        from synthea2omop_etl_spark.sources.versioned import merge_into

        v = merge_into(
            spark,
            args.table,
            spark.read.parquet(args.input),
            args.keys.split(","),
            update_cols=args.update_cols.split(",") if args.update_cols else None,
            delete_missing=args.delete_missing,
        )
        print(json.dumps({"merged_version": v}))
        return 0
    if args.action == "commit":
        if not args.input:
            print("commit requires --input", file=sys.stderr)
            return 2
        v = V.commit_version(
            spark.read.parquet(args.input), args.table, mode=args.mode,
            stats_cols=args.stats_cols.split(",") if args.stats_cols else None,
            bloom_cols=args.bloom_cols.split(",") if args.bloom_cols else None,
        )
        print(json.dumps({"committed_version": v}))
        return 0
    if args.action == "read":
        prune = None
        if args.prune:
            col, lo, hi = args.prune.split(":")
            prune = (col, float(lo) if lo else None, float(hi) if hi else None)
        prune_eq = None
        if args.prune_eq:
            col, _, val = args.prune_eq.partition(":")
            prune_eq = (col, int(val) if val.lstrip("-").isdigit() else val)
        df = V.read_version(
            spark, args.table, args.version, prune=prune, prune_eq=prune_eq
        )
        if args.output:
            df.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"rows": df.count(), "output": args.output}))
        else:
            print(json.dumps({"rows": df.count()}))
        return 0
    print(f"unknown action {args.action!r}", file=sys.stderr)
    return 2


def cmd_catalog(args: argparse.Namespace) -> int:
    """Atomic multi-table catalog snapshots (sources/catalog.py):
    snapshot every table of a directory (e.g. an OMOP output) as ONE
    catalog version, list history, or roll every table back at once."""
    from synthea2omop_etl_spark.sources import catalog as C

    if args.action == "history":
        out = [
            C.read_catalog_manifest(args.catalog, v)
            for v in C.list_catalog_versions(args.catalog)
        ]
        print(json.dumps(out))
        return 0
    if args.action == "rollback":
        if args.version is None:
            print("rollback requires --version", file=sys.stderr)
            return 2
        v = C.rollback_catalog(args.catalog, args.version)
        print(json.dumps({"rolled_back_to": args.version, "new_version": v}))
        return 0
    if args.action == "vacuum":
        removed = C.vacuum_catalog(
            args.catalog, keep_catalog_versions=args.keep,
            min_age_seconds=args.min_age_seconds,
        )
        print(json.dumps({"removed_files": len(removed)}))
        return 0
    if args.action == "snapshot":
        if not args.source:
            print("snapshot requires --source", file=sys.stderr)
            return 2
        spark = get_spark(app_name="synthea2omop-catalog")
        tables = {
            e: spark.read.parquet(os.path.join(args.source, e))
            for e in sorted(os.listdir(args.source))
            if os.path.isdir(os.path.join(args.source, e))
            and not e.startswith(("_", "."))
        }
        if not tables:
            print(f"no table dirs under {args.source}", file=sys.stderr)
            return 2
        v = C.commit_catalog(args.catalog, tables)
        print(json.dumps({"catalog_version": v, "tables": sorted(tables)}))
        return 0
    print(f"unknown action {args.action!r}", file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="synthea2omop_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run_p = sub.add_parser("run", help="run the Synthea→OMOP pipeline")
    run_p.add_argument(
        "--config",
        default=None,
        help="config.json (reference deployment format: etl.* options, "
        "mapping.* concept ids); flags override config values",
    )
    run_p.add_argument(
        "--env-file",
        default=None,
        help=".env overlay (reference deployment format: SYNTHEA_DATA_DIR, "
        "OUTPUT_DIR, VOCAB_DIR, PARALLEL_JOBS, ...); process env wins",
    )
    run_p.add_argument("--input", default=None, help="dir of Synthea CSVs "
                       "(default: SYNTHEA_DATA_DIR from --env-file/env)")
    run_p.add_argument("--output", default=None, help="output parquet dir "
                       "(default: OUTPUT_DIR from --env-file/env)")
    run_p.add_argument("--checkpoint", default=None, help="checkpoint JSON path")
    run_p.add_argument("--force-restart", action="store_true")
    run_p.add_argument(
        "--repair-malformed",
        action="store_true",
        help="use the malformed-row repairing CSV reader",
    )
    run_p.add_argument(
        "--vocab-dir",
        default=None,
        help="Athena vocabulary export dir (CONCEPT.csv, "
        "CONCEPT_RELATIONSHIP.csv); activates the concept-mapping step",
    )
    run_p.add_argument(
        "--partition-by-year",
        action="store_true",
        help="write fact tables partitioned by event year (partition "
        "pruning for year-filtered analytics)",
    )
    run_p.add_argument(
        "--bucket-by",
        choices=["person_id"],
        default=None,
        help="write person-keyed OMOP layers as bucketed external tables "
        "(co-located person joins: no Exchange downstream — the OMOP "
        "DDL's DISTRIBUTE ON KEY hint)",
    )
    run_p.add_argument(
        "--n-buckets",
        type=int,
        default=None,
        help="bucket count for --bucket-by (match across layers; "
        "default 32, or etl.n_buckets from --config)",
    )
    run_p.set_defaults(fn=cmd_run)

    val_p = sub.add_parser("validate", help="run the 5-check validation suite")
    val_p.add_argument("--omop", required=True, help="pipeline output dir")
    val_p.add_argument(
        "--config",
        default=None,
        help="config.json; dqd.measurement_ranges ({code: [low, high]}) "
        "overrides the concept-appropriate plausibility thresholds",
    )
    val_p.set_defaults(fn=cmd_validate)

    an_p = sub.add_parser(
        "analytics", help="SQL / table browsing over the OMOP output"
    )
    an_p.add_argument("--omop", required=True)
    an_p.add_argument("--query", default=None, help="SQL over omop views")
    an_p.add_argument(
        "--list", action="store_true", help="list tables with row/col counts"
    )
    an_p.add_argument(
        "--preview", default=None, metavar="TABLE",
        help="one deterministic page of TABLE (with --limit/--offset)",
    )
    an_p.add_argument("--limit", type=int, default=100)
    an_p.add_argument("--offset", type=int, default=0)
    an_p.set_defaults(fn=cmd_analytics)

    ach_p = sub.add_parser(
        "achilles", help="run the default-analysis catalog (achilles_results)"
    )
    ach_p.add_argument("--omop", required=True, help="pipeline output dir")
    ach_p.add_argument("--output", default=None, help="results dir (default: --omop)")
    ach_p.add_argument("--mode", choices=["exact", "approx"], default="exact")
    ach_p.add_argument(
        "--small-cell-count", type=int, default=0,
        help="suppress result rows with count_value below this threshold "
             "(Achilles smallCellCount privacy censoring; reference "
             "achilles_config.json sets 5; 0 disables)",
    )
    ach_p.set_defaults(fn=cmd_achilles)

    srv_p = sub.add_parser(
        "serve", help="serve the read-only analytics HTTP API"
    )
    srv_p.add_argument("--omop", required=True, help="pipeline output dir")
    srv_p.add_argument("--host", default="127.0.0.1")
    srv_p.add_argument("--port", type=int, default=8000)
    srv_p.add_argument("--max-rows", type=int, default=1000,
                       help="per-response row cap")
    srv_p.add_argument("--checkpoint", default=None,
                       help="pipeline checkpoint JSON — enables the "
                            "/api/etl/status progress endpoint "
                            "(reference backend/src/index.js:40-86)")
    srv_p.set_defaults(fn=cmd_serve)

    cur_p = sub.add_parser(
        "curate", help="run the corpus-curation pipeline over documents"
    )
    cur_p.add_argument("--input", required=True,
                       help="documents parquet path or JSONL shard dir")
    cur_p.add_argument("--output", required=True, help="output dir")
    cur_p.add_argument("--format", choices=["parquet", "jsonl"],
                       default="parquet")
    cur_p.add_argument("--quality-min", type=float, default=0.5)
    cur_p.add_argument(
        "--lm-score-min", type=float, default=None,
        help="bigram-LM perplexity gate: drop docs whose mean bigram "
        "log-prob (self-trained on the gated slice) is below this",
    )
    cur_p.add_argument("--langs", default="en",
                       help="comma-separated language allowlist")
    cur_p.set_defaults(fn=cmd_curate)

    tok_p = sub.add_parser(
        "tokenizer", help="train (and optionally apply) a BPE tokenizer"
    )
    tok_p.add_argument("--input", required=True,
                       help="documents parquet path")
    tok_p.add_argument("--output", required=True, help="output dir")
    tok_p.add_argument("--text-col", default="text")
    tok_p.add_argument("--id-col", default="doc_id")
    tok_p.add_argument("--num-merges", type=int, default=32)
    tok_p.add_argument("--encode", action="store_true",
                       help="also write the segmented corpus")
    tok_p.set_defaults(fn=cmd_tokenizer)

    del_p = sub.add_parser(
        "deliver", help="shuffle/pack/export a curated corpus for training"
    )
    del_p.add_argument("--input", required=True, help="curated corpus parquet")
    del_p.add_argument("--output", required=True, help="output dir")
    del_p.add_argument("--seq-len", type=int, default=2048)
    del_p.add_argument("--seed", default="epoch0",
                       help="shuffle seed (one per epoch)")
    del_p.add_argument("--buckets", type=int, default=32)
    del_p.add_argument("--shards", type=int, default=8)
    del_p.set_defaults(fn=cmd_deliver)

    cmp_p = sub.add_parser(
        "compact", help="compact an append-accreted parquet layer"
    )
    cmp_p.add_argument("--path", required=True, help="parquet layer dir")
    cmp_p.add_argument("--target-file-mb", type=int, default=128)
    cmp_p.add_argument(
        "--sort-by", default=None,
        help="comma-separated columns: sortWithinPartitions to restore "
        "footer-stats clustering (adds one shuffle)",
    )
    cmp_p.add_argument(
        "--zorder-by", default=None,
        help="comma-separated numeric/date columns: OPTIMIZE-ZORDER the "
        "layer on the interleaved-bit curve so footer min/max stats "
        "prune on EVERY listed column, not just a single sort key "
        "(sources/layout.py; one range shuffle)",
    )
    cmp_p.set_defaults(fn=cmd_compact)

    ex_p = sub.add_parser(
        "explain", help="print the physical plan of a registry query"
    )
    ex_p.add_argument("--query", required=True, help="registry query name")
    ex_p.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001",
        help="table directory to plan against",
    )
    ex_p.add_argument(
        "--mode", choices=["formatted", "executed"], default="executed"
    )
    ex_p.set_defaults(fn=cmd_explain)

    st_p = sub.add_parser(
        "stats",
        help="grouped mean with bootstrap CI or trimmed/winsorized means",
    )
    st_p.add_argument("--input", required=True, help="parquet path")
    st_p.add_argument("--value", required=True, help="numeric column")
    st_p.add_argument("--by", required=True, help="comma-sep group columns")
    st_p.add_argument("--mode", choices=["ci", "robust"], default="ci")
    st_p.add_argument("--id-col", default=None, help="row id (ci mode)")
    st_p.add_argument("--replicates", type=int, default=50)
    st_p.add_argument("--alpha", type=float, default=0.05)
    st_p.add_argument("--trim", type=float, default=0.05)
    st_p.add_argument("--limit", type=int, default=1000)
    st_p.set_defaults(fn=cmd_stats)

    bf_p = sub.add_parser(
        "backfill",
        help="refresh only the aggregate partitions a change set touches",
    )
    bf_p.add_argument("--old", required=True, help="old source snapshot")
    bf_p.add_argument("--new", required=True, help="new source snapshot")
    bf_p.add_argument("--keys", required=True, help="comma-sep key columns")
    bf_p.add_argument(
        "--compare-cols", default=None,
        help="columns whose change matters (default: all non-key)",
    )
    bf_p.add_argument("--partition-col", required=True)
    bf_p.add_argument(
        "--group-cols", required=True,
        help="aggregate grouping (must include --partition-col)",
    )
    bf_p.add_argument(
        "--sum-cols", default=None, help="columns to SUM (plus n_rows)"
    )
    bf_p.add_argument("--target", required=True, help="aggregate table path")
    bf_p.set_defaults(fn=cmd_backfill)

    diff_p = sub.add_parser(
        "diff", help="CDC diff of two snapshots of one table"
    )
    diff_p.add_argument("--old", required=True, help="old snapshot parquet")
    diff_p.add_argument("--new", required=True, help="new snapshot parquet")
    diff_p.add_argument("--keys", required=True, help="comma-separated keys")
    diff_p.add_argument(
        "--compare", default=None,
        help="comma-separated compare columns (default: shared non-keys)",
    )
    diff_p.add_argument("--output", default=None,
                        help="write the change set here (parquet)")
    diff_p.set_defaults(fn=cmd_diff)

    tbl_p = sub.add_parser(
        "table", help="versioned-table history / time travel / rollback"
    )
    tbl_p.add_argument(
        "action",
        choices=["commit", "merge", "history", "read", "rollback", "vacuum"],
    )
    tbl_p.add_argument("--keys", default=None,
                       help="comma-separated merge keys")
    tbl_p.add_argument("--update-cols", default=None,
                       help="columns a merge updates (default: shared non-keys)")
    tbl_p.add_argument("--delete-missing", action="store_true",
                       help="merge deletes target keys absent from source")
    tbl_p.add_argument("--table", required=True, help="versioned table root")
    tbl_p.add_argument("--input", default=None, help="parquet to commit")
    tbl_p.add_argument("--mode", default="append",
                       choices=["append", "overwrite"])
    tbl_p.add_argument("--version", type=int, default=None)
    tbl_p.add_argument("--min-age-seconds", type=float, default=3600.0,
                       help="vacuum grace window for in-flight commit "
                       "data (0 disables; see versioned.vacuum)")
    tbl_p.add_argument("--keep", type=int, default=2,
                       help="versions to keep on vacuum")
    tbl_p.add_argument("--output", default=None,
                       help="write the time-travel read here (parquet)")
    tbl_p.add_argument("--bloom-cols", default=None,
                       help="comma-separated columns to bloom-index per "
                       "file on commit (point-lookup skipping)")
    tbl_p.add_argument("--stats-cols", default=None,
                       help="commit: record per-file min/max for these "
                       "columns in the manifest (pruning index)")
    tbl_p.add_argument("--prune-eq", default=None,
                       help="point-lookup file skipping col:value over the "
                       "manifest bloom bitmaps (commit --bloom-cols)")
    tbl_p.add_argument("--prune", default=None,
                       help="read: col:lo:hi — skip files whose recorded "
                       "range can't intersect (empty bound = unbounded)")
    tbl_p.set_defaults(fn=cmd_table)

    cat_p = sub.add_parser(
        "catalog", help="atomic multi-table snapshots over versioned tables"
    )
    cat_p.add_argument(
        "action", choices=["snapshot", "history", "rollback", "vacuum"]
    )
    cat_p.add_argument("--catalog", required=True, help="catalog root dir")
    cat_p.add_argument("--source", default=None,
                       help="directory of table subdirs to snapshot")
    cat_p.add_argument("--version", type=int, default=None)
    cat_p.add_argument("--min-age-seconds", type=float, default=3600.0,
                       help="vacuum grace window for in-flight commit data")
    cat_p.add_argument("--keep", type=int, default=2,
                       help="catalog versions to keep on vacuum (every "
                       "table version they pin survives)")
    cat_p.set_defaults(fn=cmd_catalog)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
