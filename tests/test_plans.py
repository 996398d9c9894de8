"""Scale-posture tests: assert the *physical plan* properties that decide
100 TB behavior — filters reach the scan, projections prune columns, small
dims broadcast, self-join pipelines reuse exchanges — so regressions in
plan shape fail CI, not a cluster run."""

from __future__ import annotations

from bigdata_googleplaystore_spark import plans
from bigdata_googleplaystore_spark.catalog import QUERIES


def test_q6_filters_and_projection_reach_scan(spark, sf_dir):
    r = plans.analyze(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
    scan = r.scan_for("lineitem")
    assert scan is not None
    # predicate pushdown: the date/discount/quantity filters land on the scan
    assert any("l_shipdate" in f for f in scan.pushed_filters)
    assert any("l_discount" in f for f in scan.pushed_filters)
    # column pruning: reads only the 4 columns the query touches
    assert scan.reads_only("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")


def test_q5_broadcasts_small_dims(spark, sf_dir):
    """region/nation/supplier are small: the multi-way join must broadcast
    rather than shuffle the big fact table once per dim."""
    r = plans.analyze(QUERIES["q5_region_supplier_volume"].fn(spark, sf_dir))
    assert r.broadcast_joins >= 2
    # no shuffle-requiring join at all: every join side is broadcastable
    assert r.sort_merge_joins == 0


def test_bound_sql_preserves_caller_cached_table(spark, sf_dir):
    """sql_bind (r14, advice): a caller-persisted load_table frame must
    survive a catalog query that binds it — pyspark's parameterized
    spark.sql drops its auto temp views after parsing, which also
    uncaches a persisted bound frame — and the query's results must be
    identical on the cached path (which binds via a non-dropped view)."""
    from bigdata_googleplaystore_spark.sources import load_table

    expected = sorted(
        map(tuple, QUERIES["q5_region_supplier_volume"].fn(spark, sf_dir).collect())
    )
    l = load_table(spark, sf_dir, "lineitem").persist()
    try:
        got = sorted(
            map(
                tuple,
                QUERIES["q5_region_supplier_volume"].fn(spark, sf_dir).collect(),
            )
        )
        assert got == expected and len(got) > 0
        assert l.is_cached, "bound persisted table was silently unpersisted"
    finally:
        l.unpersist()
        spark.catalog.clearCache()


def test_q1_scan_prunes_to_agg_columns(spark, sf_dir):
    r = plans.analyze(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
    scan = r.scan_for("lineitem")
    assert scan is not None
    assert "l_comment" not in scan.read_columns  # widest column stays unread
    assert any("l_shipdate" in f for f in scan.pushed_filters)


def test_jaccard_shuffle_count_is_bounded(spark, sf_dir):
    """Shuffle discipline for the inverted-index self-join: both sides
    derive from one identical exchange subtree (AQE dedups it at runtime;
    ReusedExchange is only visible post-execution), so the static plan
    carries at most 2 exchanges per side (doc, shingle) plus the pair
    aggregation — a new exchange appearing here is a perf regression."""
    r = plans.analyze(QUERIES["dedup_ngram_jaccard"].fn(spark, sf_dir))
    assert r.exchanges <= 5


def test_topk_is_single_pass(spark, sf_dir):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    top-k + merge), not a global sort."""
    r = plans.analyze(QUERIES["orderby_desc_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in r.text


def test_training_pipeline_queries_broadcast_small_sides(spark, sf_dir):
    """The training-pipeline probes must not sort-merge-join: the
    benchmark shingle set (decontamination) and the per-user firsts
    frame (cohort) are small by construction and declared broadcast —
    at 100 TB a sort-merge join here would shuffle the full corpus."""
    from bigdata_googleplaystore_spark.catalog import QUERIES

    for name in ("decontaminate_ngram_overlap", "cohort_retention"):
        df = QUERIES[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_sessionize_reuses_one_user_shuffle(spark, sf_dir):
    """Both window passes and the final session agg partition by user_id:
    the plan must carry a single hash exchange on user_id — a second
    exchange appearing means the agg stopped reusing the window
    partitioning and the query shuffles the events table twice."""
    r = plans.analyze(QUERIES["sessionize_gap_cumsum"].fn(spark, sf_dir))
    assert r.exchanges <= 1, r.text


def test_boilerplate_prune_anti_join_broadcasts(spark, sf_dir):
    """The learned common-token vocabulary is tiny; stripping it from the
    exploded token stream must be a broadcast anti-join (map-side), never
    a shuffle of the token stream on the token key."""
    r = plans.analyze(QUERIES["boilerplate_token_prune"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in r.text and "LeftAnti" in r.text, r.text
    # token-stream shuffles: doc_id aggs (and their reuse) only — the
    # tok-keyed anti join must not add one
    assert not any("tok" in x for x in __import__("re").findall(
        r"Exchange hashpartitioning\(([^)]*)\)", r.text)) , r.text


def test_bitmap_rollup_single_scan(spark, sf_dir):
    """The daily level and the merged total both derive from one events
    scan + one (type, day, bucket) bitmap agg — the rollup must not
    re-scan the fact table."""
    r = plans.analyze(QUERIES["bitmap_distinct_rollup"].fn(spark, sf_dir))
    n_event_scans = sum(1 for s in r.scans if "events" in s.location)
    assert n_event_scans <= 2, r.text  # initial plan may not dedup subtrees yet


def test_scd2_pipeline_single_exchange(spark, sf_dir):
    """Change-flag window, run-id window, run agg, and the lead() window
    all partition by user_id: exactly ONE shuffle for the whole SCD2
    pipeline (verified non-vacuously: PlanReport.exchanges counts
    formatted-mode `(n) Exchange` node headers)."""
    r = plans.analyze(QUERIES["scd2_type_intervals"].fn(spark, sf_dir))
    assert r.exchanges == 1, r.text


def test_heavy_hitters_recount_broadcasts_candidates(spark, sf_dir):
    """The exact-recount join must broadcast the (tiny) candidate union —
    a sort-merge join here would shuffle the full token stream by term,
    which is exactly what the two-phase shape exists to avoid."""
    r = plans.analyze(QUERIES["heavy_hitter_terms"].fn(spark, sf_dir))
    assert r.broadcast_joins >= 2  # candidates + the 1-row total
    assert r.sort_merge_joins == 0


def test_covariance_shuffle_is_model_sized(spark, sf_dir):
    """The moment-matrix shuffle carries only per-batch partials: one
    exchange for the (i, j) merge (plus AQE bookkeeping), never a
    rows x d explode or a position self-join."""
    r = plans.analyze(QUERIES["embedding_covariance"].fn(spark, sf_dir))
    assert r.exchanges <= 2
    assert r.sort_merge_joins == 0


def test_char_lm_model_join_broadcasts(spark, sf_dir):
    """Scoring joins the alphabet^2-row model back onto per-doc counts:
    the model side must broadcast (the corpus-count frame never
    reshuffles for the join)."""
    r = plans.analyze(QUERIES["text_char_lm_score"].fn(spark, sf_dir))
    assert r.broadcast_joins >= 2  # model + the 1-row total
    assert r.sort_merge_joins == 0


def test_bipartite_projection_broadcasts_degrees(spark, sf_dir):
    """The Jaccard normalization joins two dimension-sized degree tables:
    both must broadcast; only the user self-join + pair agg shuffle."""
    r = plans.analyze(QUERIES["graph_bipartite_projection"].fn(spark, sf_dir))
    assert r.broadcast_joins >= 2


def test_orc_roundtrip_scan_pushes_filters_and_prunes(spark, sf_dir):
    """The ORC reader gets the same scale posture evidence as parquet
    (round-6 source widening): the date-range + quantity predicates of
    orc_sink_scan_roundtrip must reach the ORC scan as pushed filters
    (ORC stripe min/max stats then skip non-matching stripes at scale)
    and the scan must prune to exactly the columns the aggregate
    touches — l_comment, the widest column, stays unread."""
    r = plans.analyze(QUERIES["orc_sink_scan_roundtrip"].fn(spark, sf_dir))
    scan = r.scan_for("lineitem_orc")
    assert scan is not None
    assert any("l_shipdate" in f for f in scan.pushed_filters)
    assert any("l_quantity" in f for f in scan.pushed_filters)
    assert "l_comment" not in scan.read_columns
    assert scan.reads_only(
        "l_shipdate", "l_quantity", "l_returnflag", "l_extendedprice", "l_discount"
    )


def test_static_partition_pruning_reads_only_matching_partition(spark, sf_dir):
    """Read-side STATIC partition pruning (round-3 verdict item 5): the
    partitioned_scan_prune query's scan must carry the ship_year filter
    as a PartitionFilters entry (not a data Filter), and the files the
    scan actually lists must ALL live under ship_year=1996/ — the
    physical proof that the other partitions contribute zero I/O at any
    scale."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.sources import scratch_dir

    from bigdata_googleplaystore_spark.catalog import QUERIES

    q = QUERIES["partitioned_scan_prune"].fn(spark, sf_dir)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the partition predicate reaches the scan's PartitionFilters clause
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("ship_year" in ln and "1996" in ln for ln in pf), plan

    def scan_metric(df, key: str) -> int:
        """Post-execution scan metrics — the PHYSICAL count of partitions
        / files the FileSourceScan actually touched (inputFiles() can't
        be used here: it snapshots the relation's file index before
        partition pruning applies)."""
        df.collect()
        total = 0

        def walk(node):
            nonlocal total
            if "Scan" in node.nodeName():
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == key:
                        total += kv._2().value()
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return total

    path = scratch_dir("lineitem_by_year", sf_dir)
    pruned = spark.read.parquet(path).filter(F.col("ship_year") == 1996)
    full = spark.read.parquet(path)
    n_pruned = scan_metric(pruned, "numPartitions")
    n_full = scan_metric(full, "numPartitions")
    assert n_pruned == 1, (n_pruned, n_full)
    assert n_full >= 7, n_full  # testdata spans 1995..2001


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a fact table PARTITIONED on the
    join key with a selectively-filtered dim must inject a runtime
    partition filter into the fact scan (DynamicPruningExpression) —
    at 100 TB this is what turns a full-fact scan into reading only the
    partitions the dim survives. Result equality vs the static-filter
    form is asserted alongside the plan shape."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.sources import load_table

    fact_dir = str(tmp_path / "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)

    dim = (
        ev.select("event_type").distinct()
        .withColumn("keep", F.length("event_type") >= 5)
        .filter(F.col("keep"))
    )
    joined = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.count("*").alias("n")
    )
    plan = joined._jdf.queryExecution().executedPlan().toString().lower()
    explained = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    ).lower() if hasattr(joined._sc._jvm, "PythonSQLUtils") else plan
    assert "dynamicpruning" in plan or "dynamicpruning" in explained

    want = {
        r["event_type"]: r["n"]
        for r in ev.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r["event_type"]: r["n"] for r in joined.collect()}
    assert got == want and len(got) > 0


def test_running_distinct_single_exchange(spark, sf_dir):
    """Both windows partition by user_id, so the (user, type) rank is a
    sub-partitioning of the user shuffle: the whole pipeline must plan
    exactly one exchange."""
    r = plans.analyze(QUERIES["running_distinct_types"].fn(spark, sf_dir))
    assert r.exchanges == 1


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """The three join-strategy hints must each produce their physical
    join: broadcast -> BroadcastHashJoin, shuffle_hash -> ShuffledHashJoin,
    merge -> SortMergeJoin — the manual override surface for when a
    statistics misestimate picks the wrong strategy at scale."""
    from bigdata_googleplaystore_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def joined(hint):
        return orders.join(
            customer.hint(hint), orders.o_custkey == customer.c_custkey
        )

    for hint, marker in (
        ("broadcast", "BroadcastHashJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("merge", "SortMergeJoin"),
    ):
        plan = joined(hint)._jdf.queryExecution().executedPlan().toString()
        assert marker in plan, (hint, marker)


def test_skew_salted_join_partitions_on_salted_key(spark, sf_dir):
    """The salted join must shuffle on (user_id, _salt) — the whole point
    is that a hot user's rows land on R different reducers — and its
    result must equal the plain unsalted join exactly."""
    df = QUERIES["skew_salted_join"].fn(spark, sf_dir)
    text = plans.formatted_plan(df)
    assert "_salt" in text
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", text)
    assert any("user_id" in p and "_salt" in p for p in parts), parts

    from bigdata_googleplaystore_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    totals = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    plain = (
        e.join(totals, "user_id")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_total").alias("sum_user_totals"),
            F.max("user_total").alias("max_user_total"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_minhash_signature_stage_is_map_side(spark, sf_dir):
    """The LSH pipeline must plan exactly 2 exchanges (bucket self-join +
    verify aggregate): the signature stage computes array_min(transform)
    map-side on the cached shingle arrays — re-introducing a signature
    groupBy would show up as a third exchange."""
    r = plans.analyze(QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert r.exchanges <= 2, r.exchanges


def test_runtime_bloom_filter_injected_on_selective_dim_join(spark, sf_dir):
    """Runtime bloom-filter join pruning: when a shuffle join's small side
    carries a selective filter, the optimizer should inject a bloom-filter
    aggregate on that side and a might_contain probe on the fact side —
    at 100 TB this discards non-joining fact rows BEFORE the shuffle
    (the map-side analogue of dynamic partition pruning for
    non-partition join keys). Thresholds are test-lowered because the
    defaults (10 GB application side) are sized for real clusters;
    broadcast is disabled to force the shuffle-join path the feature
    targets. Result equality vs the plain join is asserted too."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.sources import load_table

    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        l = load_table(spark, sf_dir, "lineitem")
        p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
        j = (
            l.join(p, l["l_partkey"] == p["p_partkey"])
            .groupBy("p_brand")
            .agg(F.count("*").alias("n"))
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "might_contain" in optimized or "bloomfilter" in optimized, optimized

        got = {r["p_brand"]: r["n"] for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    want = {
        r["p_brand"]: r["n"]
        for r in load_table(spark, sf_dir, "lineitem")
        .join(
            load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_large_large_joins_sort_merge_with_pushdown_when_no_broadcast(spark, sf_dir):
    """The 100 TB large-large regime (VERDICT r04 item 5): at test SFs
    every benched join resolves to BroadcastHashJoin because the dim
    sides fit the 10 MB threshold, but on a 1000-executor cluster both
    sides of q3/q18's joins exceed it and Spark must fall back to
    SortMergeJoin — same declarative plan, different physical strategy.
    Disabling broadcast simulates that regime and pins: (a) SMJ is
    chosen for every join, (b) no broadcast join remains, (c) each
    table's filter STILL reaches its scan (pushdown is join-strategy-
    independent), (d) column pruning survives (q18's lineitem scan reads
    2 of 16 columns), (e) AQE skew-join splitting stays on session-wide
    (the flag that partitions a skewed SMJ side at runtime)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"

        r3 = plans.analyze(QUERIES["q3_shipping_priority"].fn(spark, sf_dir))
        assert r3.sort_merge_joins >= 2, r3.text
        assert r3.broadcast_joins == 0
        for tbl, pred in [
            ("customer", "c_mktsegment"),
            ("orders", "o_orderdate"),
            ("lineitem", "l_shipdate"),
        ]:
            scan = r3.scan_for(tbl)
            assert scan is not None
            assert any(pred in f for f in scan.pushed_filters), (
                tbl,
                scan.pushed_filters,
            )

        r18 = plans.analyze(QUERIES["q18_large_orders"].fn(spark, sf_dir))
        assert r18.sort_merge_joins >= 2, r18.text
        assert r18.broadcast_joins == 0
        lscan = r18.scan_for("lineitem")
        assert lscan is not None
        assert lscan.reads_only("l_orderkey", "l_quantity")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_triangle_count_all_hash_joins_and_exchange_reuse(spark, sf_dir):
    """The triangle operator's wedge join must plan as equi-joins on
    node-id keys — nested-loop joins may appear ONLY as the two final
    1-row count crossJoins (x2 in the static text), never in the data
    path. The events scan must prune to the 4 step-derivation columns.
    And the shared und/oriented subtrees (3 consumers each) must dedup
    at runtime via AQE exchange reuse — the operator deliberately does
    NOT persist() (docstring: shuffle-file reuse is free; cache was
    measured slower), so reuse is the property that keeps the 3-legged
    self-join linear in practice."""
    static = plans.analyze(QUERIES["graph_triangle_count"].fn(spark, sf_dir))
    assert static.nested_loop_joins <= 4  # the 1-row count crossJoins only
    assert static.broadcast_joins + static.sort_merge_joins >= 3
    scan = static.scan_for("events")
    assert scan is not None
    assert scan.reads_only("ts", "event_id", "user_id", "event_type")
    executed = plans.analyze(
        QUERIES["graph_triangle_count"].fn(spark, sf_dir), execute=True
    )
    assert executed.reused_exchanges >= 6, executed.reused_exchanges


def test_bucketed_join_query_has_no_join_exchange(spark, sf_dir):
    """The registered bucketed_join_no_shuffle query: with broadcast
    disabled (the 100 TB fact-fact regime), the sort-merge join must
    consume the bucket layout directly — the ONLY exchange in the plan
    is the final 5-key aggregate's, none under the join."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    saved = {}
    for k in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        r = plans.analyze(QUERIES["bucketed_join_no_shuffle"].fn(spark, sf_dir))
        assert r.sort_merge_joins >= 1, r.text  # text counts tree+detail nodes
        assert r.broadcast_joins == 0
        assert r.exchanges == 1, r.text  # aggregate only; join is co-located
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dpp_gate_reads_only_surviving_partitions(spark, sf_dir):
    """The registered DPP gate must report that the fact scan touched
    exactly the dim's surviving partitions (2 of 5 event types have
    length >= 6) with the dynamic-pruning subquery present in the
    executed plan — the runtime metric, not a plan string alone."""
    row = QUERIES["dpp_partition_pruned_join"].fn(spark, sf_dir).collect()[0]
    assert row["dpp_active"] is True
    assert row["n_partitions_total"] == 5
    assert row["n_partitions_read"] == 2, row


def test_bloom_gate_rewrites_the_join(spark, sf_dir):
    """The registered bloom gate must find the might_contain rewrite in
    its optimized plan (bloom_active True) and still produce the exact
    join aggregate — pruning must never drop a matching row."""
    rows = QUERIES["bloom_join_pruning"].fn(spark, sf_dir).collect()
    assert len(rows) == 1 and rows[0]["bloom_active"] is True
    assert rows[0]["n_items"] > 0


def test_zorder_payoff_prunes_most_segments(spark, sf_dir):
    """The Z-ordered layout must satisfy the 2-D box from a strict
    minority of its 16 segments while the orderkey-scattered naive
    layout needs all of them — footer-measured, not data-derived."""
    row = QUERIES["zorder_pruning_payoff"].fn(spark, sf_dir).collect()[0]
    assert row["zorder_prunes"] is True
    assert row["n_segs_needed_naive"] == row["n_segs_zorder"] == 16
    assert row["n_segs_needed_zorder"] * 2 < row["n_segs_needed_naive"], row


def test_analyze_stats_feed_cbo_join_estimates(spark, sf_dir, tmp_path):
    """The registered stats gate must see the ANALYZE'd row count through
    the optimizer (stats_visible_to_optimizer), and the stats must
    PROPAGATE: under spark.sql.cbo.enabled a join over an analyzed
    table plans with a defined cost-based row-count estimate at the join
    root — the input every CBO join-order/broadcast decision reads at
    scale. Without column stats that estimate is undefined (size-only
    fallback), so this pins the statistics actually reaching the
    cost model, not just the catalog. The gate drops its scratch
    catalog table after harvesting (r07 advice), so the propagation
    check builds and ANALYZEs its own table."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.sources import load_table

    row = QUERIES["analyze_table_stats"].fn(spark, sf_dir).collect()[0]
    assert row["stats_visible_to_optimizer"] is True
    assert row["row_count"] > 0

    tname = "stats_cbo_probe_tbl"
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite")
        .option("path", str(tmp_path / "cbo_probe"))
        .saveAsTable(tname)
    )
    spark.sql(
        f"ANALYZE TABLE {tname} COMPUTE STATISTICS FOR COLUMNS o_orderkey"
    )
    prev = spark.conf.get("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        t = spark.table(tname)
        j = t.join(
            t.select(t.o_orderkey.alias("k")), t.o_orderkey == F.col("k")
        )
        rc = j._jdf.queryExecution().optimizedPlan().stats().rowCount()
        assert rc.isDefined(), "CBO join estimate lost the analyzed stats"
        assert int(str(rc.get())) > 0
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_signed_ivm_refresh_plan_structure(spark, sf_dir):
    """The retraction-capable IVM refresh must keep the insert-only
    path's plan shape (the claim COVERAGE.md records at
    runtime, pinned here as a static-plan assertion): all three signed
    delta terms are BroadcastHashJoins with history only ever the probe
    side, and the hash-shuffle exchanges carry only signed
    delta-partials + the state fold — never a base table. The
    large-large recompute twin (broadcast disabled) is
    test_large_large_joins_sort_merge_with_pushdown_when_no_broadcast's
    territory; here we pin the refresh."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.sources import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    delta_o = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "_mult", F.lit(-1)
    )
    upd = li.filter(F.col("o_orderkey") % 13 == 1)
    delta_l = upd.withColumn("_mult", F.lit(-1)).unionByName(
        upd.withColumn("l_quantity", F.col("l_quantity") + 5).withColumn(
            "_mult", F.lit(1)
        )
    )
    state = incremental.partial_agg(
        o.join(li, "o_orderkey"), ["o_orderpriority"], "l_quantity"
    )
    refresh = incremental.finalize_signed(
        incremental.merge_partials_signed(
            state,
            incremental.partial_agg_signed(
                incremental.delta_join_signed(o, delta_o, li, delta_l, "o_orderkey"),
                ["o_orderpriority"],
                "l_quantity",
            ),
        )
    )
    plan = refresh._jdf.queryExecution().executedPlan().toString()
    # the three delta terms broadcast the batch sides (plus AQE may fold
    # more); history is never the build side of a shuffle join
    assert plan.count("BroadcastExchange") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    # the only hash shuffles: partial-agg exchanges on the group key
    # (delta partials, old-state fold) — bounded by |keys| + batch, not
    # by base-table row count. The old-state partial_agg contributes
    # one; the signed fold contributes the rest.
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles <= 4, f"unexpected extra shuffles ({shuffles}):\n{plan}"
    # and those exchanges partition on the aggregate key, never the join key
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "o_orderpriority" in m.group(1), m.group(0)


def test_asof_state_read_prunes_newer_batch_partitions(spark, tmp_path):
    """streaming.read_incremental_state(version=v) plans its scan from
    manifest v: the scan must read exactly the files of the batch
    directories that manifest lists — the physical proof that a
    time-travel read costs O(partials up to v), not O(all history)."""
    import glob
    from urllib.parse import urlparse

    from bigdata_googleplaystore_spark import streaming
    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    state = str(tmp_path / "state")
    for bid in range(4):
        base = spark.createDataFrame(
            [("a", float(bid)), ("b", float(bid) + 0.5)], "k STRING, v DOUBLE"
        )
        streaming.write_batch_partition(
            incremental.partial_agg(base, ["k"], "v"), state, bid
        )
        manifest.commit_batch(spark, state, bid)
    listed = manifest.read_manifest(spark, state, 1)["batch_ids"]
    assert listed == [0, 1]
    want_files = sorted(
        f
        for b in listed
        for f in glob.glob(f"{state}/_batch_id={b}/*.parquet")
    )
    # plan with AQE off: AdaptiveSparkPlanExec hides its final plan from
    # children() traversal (same caveat as ops._fact_scan_metric)
    from bigdata_googleplaystore_spark.catalog.ops import (
        _restore_confs,
        _save_confs,
    )

    saved = _save_confs(spark, ["spark.sql.adaptive.enabled"])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        view = streaming.read_incremental_state(spark, state, version=1)
        plan = view._jdf.queryExecution().executedPlan().toString()
        # the scan's file set is exactly the listed batches' files
        got_files = sorted(urlparse(f).path for f in view.inputFiles())
        assert got_files == want_files, plan
        # physical metric: the scan read exactly those files
        rows = view.collect()
        total = 0

        def walk(node):
            nonlocal total
            if "Scan" in node.nodeName():
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numFiles":
                        total += kv._2().value()
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(view._jdf.queryExecution().executedPlan())
        assert total == len(want_files), plan
    finally:
        _restore_confs(spark, saved)
    # value check: as-of-1 folds exactly batches 0-1
    got = {r["k"]: (r["n_rows"], r["total"]) for r in rows}
    assert got == {"a": (2, 1.0), "b": (2, 2.0)}


def test_cms_lookup_broadcasts_matrix(spark, sf_dir):
    """Point queries against the count-min matrix must broadcast the
    2 KiB matrix, never shuffle the query side against it."""
    r = plans.analyze(QUERIES["sketch_cms_point_queries"].fn(spark, sf_dir))
    assert r.broadcast_joins >= 1
    assert r.sort_merge_joins == 0


def test_kmv_sketch_has_no_global_collect_shape(spark, sf_dir):
    """The KMV gate's plan: sharded partial top-k then final top-k —
    bounded exchanges, no nested-loop, documents scan prunes to the
    two columns the sketch and the exact count need."""
    r = plans.analyze(QUERIES["sketch_kmv_distinct"].fn(spark, sf_dir))
    assert r.nested_loop_joins <= 1  # the 1-row estimate/exact crossJoin only
    scan = r.scan_for("documents")
    assert scan is not None
    assert scan.reads_only("source", "text")


def test_manifest_row_read_broadcasts_delete_files(spark, sf_dir, tmp_path):
    """Merge-on-read snapshot scan: the equality-delete anti-join must
    broadcast the delete keys; the data side never reshuffles."""
    from bigdata_googleplaystore_spark import streaming
    from bigdata_googleplaystore_spark.streaming import manifest
    from pyspark.sql import functions as F

    table = str(tmp_path / "tbl")
    rows = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("k")
    )
    streaming.write_batch_partition(rows, table, 0)
    manifest.commit_batch(spark, table, 0)
    manifest.commit_deletes(
        spark, table, rows.where(F.col("id") % 7 == 0).select("id"), 0
    )
    r = plans.analyze(manifest.read_snapshot_rows(spark, table))
    assert "BroadcastHashJoin" in r.text and "LeftAnti" in r.text
    # the only exchange is the delete-side distinct (delete-file-sized);
    # the data side goes scan -> broadcast anti-join with no shuffle
    assert r.exchanges <= 1
    assert r.sort_merge_joins == 0
