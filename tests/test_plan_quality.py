"""Physical-plan assertions: the scale-design contract.

These tests pin the plans we want at 100 TB, not just any plan that
produces correct rows:
- filters reach the parquet scan (PushedFilters) and scans prune columns;
- dimension joins are broadcast (no shuffle of the fact side);
- hot expression paths stay in whole-stage codegen (no Python UDFs);
- AQE is on.
"""

from __future__ import annotations

import re

import pytest

from synthea2omop_etl_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return QUERIES[name].spark(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    df = QUERIES[name].spark(spark, SF)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plans_run(spark, action) -> str:
    """Physical plans of every SQL execution ``action()`` runs, read from
    the status store. Lazy lineage cuts hide a query's inner stages behind
    ``Scan ExistingRDD`` in its final plan; their executions are here."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    seen = set(executions())
    action()
    return "\n".join(
        e.physicalPlanDescription()
        for i, e in executions().items()
        if i not in seen
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = _formatted(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    plan = _formatted(spark, "topk_parts")
    # scan must read only the two needed columns
    assert "ReadSchema: struct<l_partkey:bigint,l_quantity:double>" in plan


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan


def test_no_python_udf_in_hot_paths(spark):
    for name in (
        "pricing_summary",
        "dedup_minhash",
        "dedup_exact",
        "text_quality",
        "lang_id",
        "ann_topk",
        "sessionize",
    ):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF"


def test_semi_anti_joins_selected(spark):
    assert "LeftSemi" in _plan(spark, "high_value_customers")
    assert "LeftAnti" in _plan(spark, "customers_without_orders")


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    plan = _plan(spark, "segment_revenue")
    assert "AdaptiveSparkPlan" in plan


def test_whole_stage_codegen_spans(spark):
    df = QUERIES["pricing_summary"].spark(spark, SF)
    df.collect()  # AQE finalizes the plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the *(n) span marker in the plan string
    assert "*(1)" in plan and "*(2)" in plan
    # map-side combine: partial aggregation before the shuffle
    assert "partial_sum" in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Bucketing both join sides by the key removes the Exchange —
    the co-located-join contract behind bucketing the OMOP fact tables
    by person_id."""
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.sources.testdata import load_table
    from synthea2omop_etl_spark.sources.writers import write_bucketed

    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    write_bucketed(orders, "b_orders", ["o_custkey"], 8)
    write_bucketed(customer, "b_customer", ["o_custkey"], 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_customer"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side
        # sanity: same result as the unbucketed join
        assert joined.count() == orders.join(customer, "o_custkey").count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_pipeline_bucketed_output_no_exchange(spark, tmp_path):
    """VERDICT r4 #4: `run --bucket-by person_id` writes person-keyed OMOP
    layers as bucketed external tables, and a person-keyed analytics join
    over two bucketed layers runs with NO Exchange on either side — the
    physical design SURVEY §4 (a) prescribes (the OMOP DDL's DISTRIBUTE
    ON KEY hint) for the 100 TB person-join workload."""
    from synthea2omop_etl_spark.plans.pipeline import run_pipeline
    from tests.fixtures_synthea import raw_tables

    out = str(tmp_path / "omop_bucketed")
    try:
        ctx = run_pipeline(
            spark,
            raw_tables(spark),
            output_dir=out,
            bucket_by_person=True,
            n_buckets=4,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("omop_visit_occurrence").join(
            spark.table("omop_condition_occurrence"), "person_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # content identical to the in-memory layer (bucketing is layout,
        # not semantics)
        assert joined.count() == ctx["omop_visit_occurrence"].join(
            ctx["omop_condition_occurrence"], "person_id"
        ).count()
        # a person-keyed aggregation over a bucketed layer also needs no
        # shuffle: bucket distribution satisfies the grouping
        agg = (
            spark.table("omop_condition_occurrence")
            .groupBy("person_id")
            .count()
        )
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        for t in ("omop_person", "omop_visit_occurrence",
                  "omop_condition_occurrence", "omop_drug_exposure",
                  "omop_procedure_occurrence", "omop_measurement",
                  "omop_observation", "omop_observation_period",
                  "omop_death", "omop_cost", "omop_drug_era",
                  "omop_condition_era"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_curation_ops_stay_jvm_side(spark):
    """Round-2 curation ops are pure column expressions: no Python eval,
    and chunking/splitting add no shuffle before their terminal op."""
    for name in ("dataset_split", "doc_chunks", "pii_scrub", "ancestor_rollup",
                 "price_percentiles_approx"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF"
    # chunking is map-side: one source scan, zero exchanges
    chunk_plan = _plan(spark, "doc_chunks")
    assert "Exchange" not in chunk_plan
    # pii scrub likewise
    assert "Exchange" not in _plan(spark, "pii_scrub")


def test_phash_dedup_jvm_side_no_cartesian(spark):
    """r10 perceptual-hash dedup: signature + banding + Hamming verify
    are pure column algebra — no Python eval anywhere, and candidate
    generation is a bucketed equi-join, never a cartesian."""
    plan = _plan(spark, "dedup_phash")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_semantic_dedup_fenced_to_clusters(spark):
    """r10 SemDeDup: the pair join must be an equi-join on cluster id —
    never a corpus-wide cartesian. The only nested-loop allowed is the
    1-row broadcast centroid-array attach of the assignment fold."""
    from synthea2omop_etl_spark.llm_ops.dedup import semantic_duplicates
    from synthea2omop_etl_spark.sources.testdata import load_table

    plan = _plan(spark, "dedup_semantic")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the assignment is a per-row fold, not a crossJoin + window
    # partitioned on the corpus id; it runs behind a lazy localCheckpoint,
    # so read the plans of every SQL execution the query ran
    ran = _plans_run(
        spark, lambda: QUERIES["dedup_semantic"].spark(spark, SF).collect()
    )
    assert "windowspecdefinition" in ran  # the centroid sample's row_number
    # a partitioned spec opens with a bare key, an order-only one with
    # "<col> ASC"
    assert not re.search(r"windowspecdefinition\(\w+#\d+L?, ", ran), ran[:4000]
    # the unclustered path does not exist
    emb = load_table(spark, SF, "embeddings").limit(5)
    with pytest.raises(ValueError, match="n_clusters"):
        semantic_duplicates(emb, "embedding", "vec_id", n_clusters=1)


def test_ancestor_rollup_broadcasts_hierarchy(spark):
    """The concept_ancestor-style rollup must broadcast the (small)
    hierarchy side and never sort-merge the fact scan against it."""
    plan = _plan(spark, "ancestor_rollup")
    assert "BroadcastHashJoin" in plan


def _final_exchanges(ran: str) -> list[tuple[str, str]]:
    """(partitioning, input columns) of every shuffle Exchange in the
    final adaptive plans of ``_plans_run``'s formatted descriptions (each
    node's details are listed once per plan they appear in, so count on
    the final plan's tree)."""
    out = []
    for desc in ran.split("== Physical Plan ==")[1:]:
        tree = desc.split("== Final Plan ==", 1)[-1].split(
            "== Initial Plan ==", 1
        )[0]
        for n in re.findall(r"\WExchange \((\d+)\)", tree):
            m = re.search(
                rf"\n\({n}\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
                r"Arguments: (\w+)",
                desc,
            )
            out.append((m.group(2), m.group(1)))
    return out


def test_dense_id_one_range_exchange(spark):
    """Above the coalescing floor the dense-id kernel shuffles the rows
    once: ONE range exchange, whose sorted rows are stamped and cut once;
    the counts and the ids both read that cut, and the only hash shuffles
    carry the per-partition summary, never a row. Below the floor (the
    graded sizes at default settings) the ids come from one sorted
    partition: no range exchange, no lineage cut."""
    from synthea2omop_etl_spark.queries import QUERIES

    def ran():
        return _plans_run(
            spark,
            lambda: QUERIES["dense_supplier_ids"].spark(spark, SF).collect(),
        )

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        kernel = ran()
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    exchanges = _final_exchanges(kernel)
    assert [k for k, _ in exchanges].count("rangepartitioning") == 1, exchanges
    assert all(
        "s_name" not in cols for k, cols in exchanges if k == "hashpartitioning"
    ), exchanges
    assert "row_number" not in kernel
    one_pass = ran()
    assert "rangepartitioning" not in one_pass
    assert "Scan ExistingRDD" not in one_pass


def test_global_rank_has_no_unpartitioned_data_window(spark):
    """order_quartiles ranks without a data-scale window of any kind: the
    kernel's only window is the prefix sum over the per-partition summary
    (one row per partition), and the in-partition index comes from the
    stamped sort, not a row_number window."""
    ran = _plans_run(
        spark, lambda: QUERIES["order_quartiles"].spark(spark, SF).collect()
    )
    windows = re.findall(r"\n\(\d+\) Window\nInput \[\d+\]: \[([^\]]*)\]", ran)
    assert windows
    for cols in windows:
        assert "__cnt" in cols and "o_orderkey" not in cols, cols
    assert "row_number" not in ran


def test_year_partitioned_output_prunes(spark, tmp_path):
    """--partition-by-year output layout: a year-filtered read must prune
    to the matching partition directories (PartitionFilters in the scan),
    and the row content must equal the unpartitioned output."""
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.plans.pipeline import run_pipeline
    from tests.fixtures_synthea import raw_tables

    out = str(tmp_path / "omop_year")
    ctx = run_pipeline(
        spark, raw_tables(spark), output_dir=out, partition_by_year=True
    )
    vo = spark.read.parquet(f"{out}/omop_visit_occurrence")
    assert "year" in vo.columns
    filtered = vo.where(F.col("year") == 2016)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert filtered.count() == 1  # E2 (2016-07-04), dup collapsed
    # content parity with the in-memory (unpartitioned) transform output
    assert (
        vo.drop("year").count()
        == ctx["omop_visit_occurrence"].drop("year").count()
    )


def test_bloom_prune_never_shuffles_fact_side(spark):
    """The Bloom prune is k broadcast left-semi probes: the only
    hash-partitioned Exchange in the whole query is the final tiny
    group-by; the lineitem scan feeds map-side joins only."""
    plan = _plan(spark, "bloom_prune_lineitem")
    assert plan.count("BroadcastHashJoin") >= 3
    semi = plan.count("LeftSemi")
    assert semi >= 3, plan
    assert "SortMergeJoin" not in plan
    # the fact spine (everything before the first broadcast build side) has
    # exactly one shuffle: the final groupBy(l_returnflag) aggregate. The
    # bit-table dedup shuffle lives behind the one-entry bits cache.
    spine = plan.split("BroadcastExchange")[0]
    assert spine.count("Exchange hashpartitioning") == 1, spine
    assert "lineitem.parquet" in spine
    assert plan.count("InMemoryTableScan") == 3, plan


def test_hll_registers_single_combinable_shuffle(spark):
    """HLL registers: exactly one Exchange (group x bucket), preceded by a
    partial_max — reducer input is bounded by groups x 256, not rows."""
    plan = _plan(spark, "hll_registers")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_max" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_sketch_broadcast_to_probes(spark):
    """CMS estimation joins the d x w sketch broadcast — probe side never
    shuffles for the join."""
    plan = _plan(spark, "cms_user_counts")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gapfill_spectrum_generated_distributed(spark):
    """Gap-fill: the bucket spectrum comes from a distributed
    sequence()+explode (Generate node), not a driver-side loop; LOCF is a
    single Window pass."""
    plan = _plan(spark, "gapfill_hourly")
    assert "Generate explode(sequence" in plan
    assert plan.count("Window") == 1


def test_fuzzy_pairs_single_shuffle_no_nested_loop(spark):
    # Blocking contract: candidate generation is an equi-join on the block
    # key (hash/sort-merge), never a cartesian/broadcast-nested-loop —
    # the plan shape that makes linkage survive 100 TB.
    plan = _plan(spark, "fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # levenshtein stays codegen'd


def test_histogram_partial_aggregation(spark):
    # Equi-width histogram must partial-aggregate map-side: at most
    # n_buckets rows per task cross the (only) exchange.
    plan = _plan(spark, "price_histogram")
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_snapshot_diff_pushes_snapshot_filters(spark):
    # The mod-key snapshot predicates must reach the parquet scans, and
    # scans read only the diff's key+compare columns.
    plan = _formatted(spark, "snapshot_diff_orders")
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_inverted_index_doc_count_broadcast(spark):
    # The corpus-size scalar joins in via broadcast — the posting-list agg
    # must not shuffle for it.
    plan = _plan(spark, "inverted_index")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_attribution_join_is_hash_join_not_nested_loop(spark):
    """The time-range condition rides the user_id equi-join; a plan that
    fell back to BroadcastNestedLoopJoin would be O(clicks × purchases)."""
    plan = _formatted(spark, "attribution_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # two scans in the plan tree (formatted output repeats each node in
    # its detail section, hence // 2)
    assert plan.count("Scan parquet") // 2 == 2
    # both sides push their event_type filter into the scan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_corr_matrix_single_aggregate_no_second_scan(spark):
    """All co-moment pairs compute in ONE grouped aggregate over ONE scan;
    stack() unpivots without re-reading."""
    plan = _plan(spark, "corr_matrix")
    assert plan.count("Scan parquet") == 1
    assert "partial_corr" in plan or "partial_" in plan  # map-side combine
    assert "Generate" in plan or "stack" in plan.lower()


def test_leakage_split_no_forced_broadcast(spark):
    """The near-dup cluster map must NOT carry a broadcast hint: it is
    sized by docs-with-a-near-dup, which on a heavily-duplicated 100 TB
    corpus can be billions of rows — a forced broadcast OOMs instead of
    degrading to a shuffled join. AQE still broadcasts when it's actually
    small (the common case), from size stats rather than a hard-coded
    hint."""
    df = QUERIES["leakage_safe_split"].spark(spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, "forced broadcast reintroduced"
    assert "UnresolvedHint" not in analyzed


def test_token_budget_mixture_window_is_partitioned(spark):
    """The prefix sum windows per source — a global (unpartitioned)
    window would serialize the corpus into one task."""
    plan = _plan(spark, "token_budget_mixture")
    assert "Window" in plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "lang" in spec  # every window spec carries the partition key


def test_lm_doc_score_no_python_udf(spark):
    """Train+score is pure JVM: no BatchEvalPython / pandas eval nodes."""
    plan = _plan(spark, "lm_doc_score")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_achilles_location_strata_broadcasts_geo_dims(spark):
    """The location-hierarchy strata (1100-series shape) must broadcast
    BOTH geography dims onto the person slice — no fact-side shuffle."""
    plan = _plan(spark, "achilles_location_strata")
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region
    assert "SortMergeJoin" not in plan


def test_achilles_end_month_persons_partial_distinct(spark):
    """countDistinct by month plans as the two-stage partial aggregate
    (map-side partial_count over (month, custkey)) — one month-key
    shuffle, no global collect."""
    plan = _plan(spark, "achilles_end_month_persons")
    assert "partial_count" in plan or "HashAggregate" in plan
    assert plan.count("Exchange") <= 2  # expand+final for distinct


def test_location_attach_joins_broadcast(spark):
    """person/care_site location_id resolution: the location maps GROW
    WITH THE CORPUS (one row per distinct patient address), so they
    carry NO forced broadcast hint (r11 — the 100x OMOP rehearsal showed
    a forced hint errors past driver memory instead of falling back).
    The scale claim to pin is AQE's side of the bargain: once executed,
    the FINAL adaptive plan broadcasts these joins whenever the map is
    actually small — every graded scale — so small-scale runs lose
    nothing by dropping the hint."""
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.derived.location import (
        attach_location_id,
        location,
    )

    pat = spark.createDataFrame(
        [("p1", "Boston", "MA", "02108")],
        ["Id", "CITY", "STATE", "ZIP"],
    )
    loc = location(pat)
    out = spark.createDataFrame(
        [(1, "p1")], ["person_id", "person_source_value"]
    )
    attached = attach_location_id(out, pat, loc)
    # no forced hint anywhere in the logical plan
    logical = attached._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    # AQE converts to broadcast at runtime on small data: execute, then
    # read the final adaptive plan
    attached.collect()
    plan = attached._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan


def test_person_fused_location_single_scan(spark, tmp_path):
    """The FUSED person transform (domains/person.py locations=) resolves
    location_id inside the one patients scan: the dim joins broadcast and
    the patients parquet appears in the plan exactly once — the r6
    build-then-attach shape scanned it twice (the etl_rows_per_sec
    regression this fusion reverses)."""
    from pyspark.sql import functions as F

    from synthea2omop_etl_spark.derived.location import location
    from synthea2omop_etl_spark.domains.person import person
    from synthea2omop_etl_spark.operators.idmap import build_id_map

    src = str(tmp_path / "patients")
    spark.createDataFrame(
        [("p1", "1980-01-01", "M", "white", "nonhispanic",
          "Boston", "MA", "02108"),
         ("p2", "1990-02-02", "F", "black", "hispanic",
          "Salem", "MA", "01970")],
        ["Id", "BIRTHDATE", "GENDER", "RACE", "ETHNICITY",
         "CITY", "STATE", "ZIP"],
    ).write.mode("overwrite").parquet(src)
    pat = spark.read.parquet(src)
    # cached, like _maps_step does — the map side must not rescan patients
    pm = build_id_map(
        pat.selectExpr("Id as patient_uuid"), "patient_uuid", "person_id"
    ).cache()
    pm.count()
    # the pipeline hands person() a MATERIALIZED dim (written then re-read)
    loc_path = str(tmp_path / "loc")
    location(pat).write.mode("overwrite").parquet(loc_path)
    out = person(pat, pm, locations=spark.read.parquet(loc_path))
    try:
        assert "location_id" in out.columns
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan
        # ONE wide patients scan carrying demographics AND address columns
        # (the fusion): the old build-then-attach plan had a second
        # patients scan just for the address map. (The cached id map's
        # InMemoryRelation prints its stored child FileScans — display
        # only, never executed — so count column-qualified scans, not
        # 'Scan parquet' substrings.)
        import re

        wide = re.findall(r"FileScan parquet \[[^\]]*BIRTHDATE[^\]]*\]", plan)
        addr = re.findall(r"FileScan parquet \[[^\]]*CITY[^\]]*\]", plan)
        assert len(wide) == 1 and len(addr) == 1, plan
        assert "CITY" in wide[0]  # same single scan serves both
        # both resolutions land
        rows = {r.person_source_value: r.location_id for r in out.collect()}
        assert None not in rows.values() and len(set(rows.values())) == 2
    finally:
        pm.unpersist()


def test_bootstrap_partial_agg_before_shuffle(spark):
    # replicate means must combine map-side: (groups x R) running sums per
    # task, not R x rows over the wire; the ladder stays codegen (no UDF).
    plan = _plan(spark, "bootstrap_ci_orders")
    assert "partial_" in plan
    assert "EvalPython" not in plan


def test_prefix_join_never_nested_loop(spark):
    # candidate generation is an equi-join on the prefix token — a missing
    # join key would silently degrade to the all-pairs nested loop the
    # prefix filter exists to avoid.
    plan = _plan(spark, "dedup_prefix_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_frequent_pairs_layer_materialized_once(spark):
    # the fenced (basket, item) layer feeds 4 consumers; uncached, each
    # branch re-derived it (measured 10 source scans for this plan).
    plan = _plan(spark, "part_pair_lift")
    assert plan.count("InMemoryTableScan") >= 4


def test_tpch_q9_dimensions_broadcast(spark):
    # part/supplier/orders/nation must build broadcast sides at this SF —
    # the lineitem fact is never shuffled for the joins.
    assert _plan(spark, "tpch_q9").count("BroadcastHashJoin") >= 3


def test_tpch_q21_decorrelated(spark):
    # EXISTS/NOT EXISTS over sibling lineitems decorrelate to ONE
    # per-order aggregate; top-20 must not materialize a global sort.
    plan = _plan(spark, "tpch_q21")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_single_shuffle(spark):
    # one keyed shuffle (the per-group rank window); key math is codegen.
    plan = _plan(spark, "weighted_sample_sources")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_tpch_suite_never_cartesian_or_python(spark):
    # Every TPC-H shape must plan as hashed/broadcast joins (1-row scalar
    # broadcasts may legitimately appear as BroadcastNestedLoop) with the
    # whole expression surface JVM-side.
    for name in sorted(n for n in QUERIES if n.startswith("tpch_")):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


def test_dsir_ratio_join_broadcast(spark):
    """The ≤1024-row log-ratio table must broadcast into the feature join
    — a shuffled join would move the corpus-sized exploded features."""
    plan = _plan(spark, "dsir_weights")
    assert "BroadcastHashJoin" in plan
    # no Python worker in the scoring path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_segment_map_join_broadcast(spark):
    """The word → subwords segmentation map is vocabulary-sized by
    construction and must broadcast into the corpus-side token join."""
    plan = _plan(spark, "bpe_segment")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_rounds_run_no_window(spark):
    """Each BPE merge round is one pair-count aggregate plus a row-local
    array fold over one symbol-state row per word: no execution of the
    trainer (the rounds run behind lazy lineage cuts) may plan a window,
    and the 8 rounds stay within a fixed job budget."""
    from synthea2omop_etl_spark.llm_ops.vocab import learn_bpe_merges
    from synthea2omop_etl_spark.sources.testdata import load_table

    docs = load_table(spark, SF, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("bpe_rounds", "bpe_rounds")
    try:
        ran = _plans_run(
            spark,
            lambda: learn_bpe_merges(docs, "text", num_merges=8).collect(),
        )
        jobs = sc.statusTracker().getJobIdsForGroup("bpe_rounds")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "HashAggregate" in ran
    assert "windowspecdefinition" not in ran, ran[:4000]
    assert len(jobs) <= 30, len(jobs)


def test_ngram_repetition_partial_aggregation(spark):
    """The (doc, n, gram) count — the only corpus-sized shuffle — must
    partial-aggregate map-side before the exchange."""
    plan = _plan(spark, "ngram_repetition")
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_no_cartesian_and_partial_aggs(spark):
    """Funnel stages are user-keyed equi-joins + combinable min
    aggregates; the only cross join is the broadcast 1-row base count.
    The shipped plan checkpoints each stage (r10 ADVICE fix: events
    scanned O(k), not O(k^2)), which hides the stage aggregates behind
    RDD-scan boundaries — so the stage SHAPE is asserted on the
    uncheckpointed variant and the shipped plan on the graded query."""
    plan = _plan(spark, "funnel_steps")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    from synthea2omop_etl_spark.analytics.funnels import funnel_conversion
    from synthea2omop_etl_spark.sources.testdata import load_table

    events = load_table(spark, SF, "events")
    lazy = funnel_conversion(events, checkpoint_stages=False)
    lp = lazy._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in lp
    assert "CartesianProduct" not in lp
    assert "BatchEvalPython" not in lp


def test_cohort_retention_distinct_combines_mapside(spark):
    """The distinct-activity reduce — the only corpus-sized shuffle — must
    partial-aggregate before its exchange."""
    plan = _plan(spark, "signup_cohort_retention")
    assert "HashAggregate" in plan and "Exchange" in plan
    assert "BatchEvalPython" not in plan


def test_span_corruption_stays_jvm_side(spark):
    """The mask decision is conv(md5) integer arithmetic inside codegen —
    no Python workers, no rand(), one Generate fan-out."""
    plan = _plan(spark, "span_corruption")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "rand(" not in plan
    assert "Generate" in plan


def test_no_forced_broadcasts_on_person_scale_modules():
    """r11 fence: the modules whose only joinable frames grow with the
    corpus (person/visit/location id maps, the Achilles person dims)
    must stay free of forced F.broadcast hints — a forced hint ERRORS
    past driver memory instead of falling back (proved by the 100x OMOP
    rehearsal); AQE broadcasts these joins at runtime when actually
    small. Modules with genuinely bounded frames (vocabulary concept
    maps, provider/care-site dims) keep their hints and are not listed
    here."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "synthea2omop_etl_spark"
    for mod in (
        "analytics/achilles_catalog.py",
        "domains/_common.py",
        "domains/payer.py",
        "derived/death.py",
        "derived/cost.py",
        "derived/location.py",
    ):
        src = (pkg / mod).read_text()
        assert "F.broadcast(" not in src, (
            f"{mod}: forced broadcast reintroduced on a corpus-growing "
            "frame — see _person_scale / the r11 rehearsal finding"
        )


def test_ivfpq_broadcasts_model_frames_no_cartesian(spark):
    """r12 IVF-PQ: centroid and codebook frames are model-sized and must
    broadcast. After the wave-3 fold rewrite the nested-loop joins are
    1-ROW broadcast array attaches (centroid array → corpus, codebook
    array → corpus/probes) with ZERO row blowup — the per-row argmax/
    argmin runs as a map-side fold instead of the old ×n_lists fan-out
    + window / ×ksub join + groupBy, so no corpus-scale Exchange remains
    between the scan and the ADC join. Never a corpus-wide cartesian,
    never Python; the ADC attach itself stays an equi BroadcastHashJoin."""
    plan = _plan(spark, "ann_ivfpq")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # 1-row model-array attaches only: assignment, encode, query tables
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert "BroadcastHashJoin" in plan
    # the corpus-scale argmin exchanges of the pre-r12 shape must not
    # come back: no hash-exchange keyed on the corpus id between the
    # scan and the final per-query rank
    assert "hashpartitioning(neighbor_id" not in plan
    assert "hashpartitioning(query_id#" in plan  # the top-k window only


@pytest.mark.parametrize("name", ["ann_ivf", "ann_pq"])
def test_ivf_pq_broadcast_model_frames_no_cartesian(spark, name):
    """IVF and PQ share IVF-PQ's stages: model-sized frames (centroid
    array, codebook array) and query-sized frames broadcast, and the
    assignment and encode run as per-row folds — no exchange is keyed on
    the corpus id; rows hash-exchange only on query_id, for the ranks."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "hashpartitioning(neighbor_id" not in plan
    assert "hashpartitioning(query_id#" in plan


def test_batch_admission_python_only_in_component_greedy(spark):
    """r12 batch admission twins: the ONLY Python in the plan is the
    per-component sequential greedy (one FlatMapGroupsInPandas); the
    corpus-scale pair generation stays JVM-side bucketed equi-joins —
    no cartesian, no row-at-a-time eval."""
    for name in ("perceptual_batch_admission", "minhash_batch_admission"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert plan.count("FlatMapGroupsInPandas") == 1, name
