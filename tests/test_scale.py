"""Scale-path operators: salted/split joins must equal their plain
equivalents, and bucketed tables must join with zero shuffle; the
local-mode session gets a heap sized for them and a codegen cache that
holds a workload's generated classes."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_googleplaystore_spark import plans
from bigdata_googleplaystore_spark.operators import skew
from bigdata_googleplaystore_spark.sources import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_explicit_local_master_gets_heap_default(spark):
    """The shared test session passes an explicit local[N] master, and
    get_spark still applies the local-mode heap default instead of
    Spark's ~1g: the configured value, and a JVM heap that size."""
    from bigdata_googleplaystore_spark.session import default_driver_memory

    want = default_driver_memory()
    sc = spark.sparkContext
    assert sc.master.startswith("local[")
    assert sc.getConf().get("spark.driver.memory") == want
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    want_bytes = int(want[:-1]) * units[want[-1].lower()]
    # maxMemory reports the usable heap, a little under -Xmx
    assert sc._jvm.java.lang.Runtime.getRuntime().maxMemory() > 0.8 * want_bytes


def test_heap_default_is_sized_to_the_host(monkeypatch, tmp_path):
    """Without $SPARK_GRAFT_DRIVER_MEM the heap default is half the
    host's physical memory, or of a smaller cgroup `memory.max` limit,
    capped at 16g; the variable overrides it."""
    from bigdata_googleplaystore_spark import session
    from bigdata_googleplaystore_spark.session import default_driver_memory

    def host(gib):
        pages = {"SC_PHYS_PAGES": gib << 18, "SC_PAGE_SIZE": 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)

    limit = tmp_path / "memory.max"  # absent: no cgroup limit
    monkeypatch.setattr(session, "CGROUP_MEMORY_MAX", str(limit))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    host(15)
    assert default_driver_memory() == "7680m"
    host(4)
    assert default_driver_memory() == "2048m"
    host(256)
    assert default_driver_memory() == "16384m"
    limit.write_text("max\n")  # cgroup v2 without a limit
    assert default_driver_memory() == "16384m"
    limit.write_text(f"{6 << 30}\n")  # a 6 GiB container on the 256 GiB host
    assert default_driver_memory() == "3072m"
    host(4)  # a limit above physical memory changes nothing
    assert default_driver_memory() == "2048m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def test_second_run_of_a_150_plan_query_set_compiles_nothing(spark):
    """150 plans that differ only in an integer literal (codegen inlines
    it, so each is its own generated class) run twice: the second run is
    served from the codegen cache, where Spark's default 100 entries
    would evict and recompile them."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    count = lambda: metrics.METRIC_COMPILATION_TIME().getCount()  # noqa: E731
    # literals no other test plans with, so the first run compiles them all
    plans = [spark.range(10).where(F.col("id") > 7_000_003 + i) for i in range(150)]

    before = count()
    for df in plans:
        assert df.collect() == []
    first = count()
    for df in plans:
        df.collect()
    assert first - before >= 150
    assert count() == first


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = o.join(c, "o_custkey")
    salted = skew.salted_join(o, c, "o_custkey", n_salts=8)
    assert sorted(plain.columns) == sorted(salted.columns)
    assert _rows(salted.select(*plain.columns)) == _rows(plain)


def test_salted_join_partitions_on_key_and_salt(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    r = plans.analyze(skew.salted_join(o, c, "o_custkey", n_salts=8))
    assert "_salt" in r.text  # shuffle key includes the salt

def test_split_broadcast_join_equals_plain_join(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    ).select("l_orderkey", "o_orderpriority")
    hot = skew.top_keys(l, "l_orderkey", min_count=5)
    plain = l.join(o, "l_orderkey")
    hybrid = skew.split_broadcast_join(l, o, "l_orderkey", hot)
    assert _rows(hybrid.select(*plain.columns)) == _rows(plain)


def test_top_keys_census(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    hot = skew.top_keys(l, "l_orderkey", min_count=5)
    # census agrees with a direct computation
    direct = (
        l.groupBy("l_orderkey").count().filter(F.col("count") > 5).count()
    )
    assert hot.count() == direct


def test_bucketed_join_runs_without_shuffle(spark, sf_dir, tmp_path):
    """Bucketing is the at-rest answer to repeated join shuffles: write
    both sides bucketed+sorted on the join key and the sort-merge join
    needs no Exchange at read time."""
    from bigdata_googleplaystore_spark.sources import write_parquet

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_parquet(
        o, str(tmp_path / "b_orders"), bucket_by=(8, ["o_orderkey"]),
        table_name="b_orders",
    )
    write_parquet(
        l, str(tmp_path / "b_lineitem"), bucket_by=(8, ["l_orderkey"]),
        table_name="b_lineitem",
    )
    bo = spark.table("b_orders")
    bl = spark.table("b_lineitem")
    joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    r = plans.analyze(joined)
    assert r.exchanges == 0, r.text
    # and it actually runs, producing every lineitem row
    assert joined.count() == l.count()


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """partitionBy at write time -> PartitionFilters at read time: a
    filter on the partition column must prune directories in the scan,
    not filter rows post-read."""
    from bigdata_googleplaystore_spark.sources import write_parquet

    e = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    write_parquet(e, out, partition_by=["event_type"])
    df = spark.read.parquet(out).filter(F.col("event_type") == "error")
    r = plans.analyze(df)
    assert "PartitionFilters" in r.text
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", r.text)
    assert m and "event_type" in m.group(1), r.text
    # row counts agree with the unpartitioned path
    assert df.count() == e.filter(F.col("event_type") == "error").count()


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    from bigdata_googleplaystore_spark.sources import compact_parquet

    src = str(tmp_path / "fragmented")
    load_table(spark, sf_dir, "lineitem").repartition(37).write.parquet(src)
    out = str(tmp_path / "compacted")
    target = 8 * 1024 * 1024
    n = compact_parquet(spark, src, out, target_file_bytes=target)
    import glob
    import os

    # compact_parquet now RETURNS the measured post-write file count, so
    # compare it against independent expectations, not its own listing
    # (advisor r07: len(files) == n alone had become circular):
    # the ceil(source-bytes / target) sizing contract, and a real
    # reduction from the 37 fragments.
    src_bytes = sum(
        os.path.getsize(f) for f in glob.glob(f"{src}/*.parquet")
    )
    expected = max(1, -(-src_bytes // target))
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n == expected <= 3 < 37
    assert (
        spark.read.parquet(out).count()
        == load_table(spark, sf_dir, "lineitem").count()
    )


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's runtime skew-join replan is the engine's answer to hot keys
    a static plan can't see: one key carrying 200x the median partition
    must make the final plan read the hot partition in slices
    (AQEShuffleRead skewed / SortMergeJoin(skew=true)) instead of
    serializing the whole key through one task. Thresholds are scaled
    down to test size; production uses the session defaults
    (session.py enables AQE + skewJoin)."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        hot = spark.range(0, 200_000).select(
            F.lit(0).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        tail = spark.range(0, 1000).select(
            (F.col("id") % 50 + 1).alias("k"), F.lit("x").alias("payload")
        )
        right = spark.range(0, 51).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("rv")
        )
        j = (
            hot.unionAll(tail)
            .join(right, "k")
            .select(F.sum(F.length("payload")).alias("s"))
        )
        [row] = j.collect()
        assert row["s"] == 200_000 * 64 + 1000  # join lost/duplicated nothing
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """Runtime row-level filtering: when the build side of a shuffle join
    is selectively filtered, Catalyst injects a bloom filter
    (bloom_filter_agg on the build side, might_contain on the probe
    scan) so the 100 TB probe table drops non-joining rows BEFORE the
    shuffle. Broadcast is disabled to force the shuffle-join shape the
    optimization exists for."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.plans import formatted_plan
    from bigdata_googleplaystore_spark.sources import load_table

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        l = load_table(spark, sf_dir, "lineitem")
        j = (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        t = formatted_plan(j)
        assert "bloom_filter_agg" in t
        assert "might_contain" in t
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

def test_window_spills_to_disk_and_stays_correct(spark, sf_dir):
    """Spill-awareness, demonstrated rather than asserted in prose: with
    the window operator's in-memory buffer threshold forced tiny, a
    whole-table window aggregation must SPILL (the Window node's spill
    metric > 0) and still produce exactly the no-spill answer — the
    property that lets a fixed-memory executor survive a partition that
    outgrows its buffer at 100 TB instead of OOMing. (Sort/agg/join
    spill through the same UnsafeExternalSorter machinery; the window
    threshold is the one knob that forces the path deterministically at
    test scale.) AQE is disabled for the measured run because
    AdaptiveSparkPlanExec hides the final plan from children()
    traversal — same caveat as ops._fact_scan_metric."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.sources import load_table

    def build():
        o = load_table(spark, sf_dir, "orders")
        w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        return o.select(
            "o_orderkey",
            F.sum("o_totalprice").over(w).alias("running"),
        ).agg(F.sum("running").alias("s"), F.count("*").alias("n"))

    baseline = build().collect()[0]

    overrides = {
        # rows per partition before the buffer leaves the in-memory
        # array (default 4096 — larger than any sf0.001 partition), then
        # rows before the external sorter spills to disk
        "spark.sql.windowExec.buffer.in.memory.threshold": "16",
        "spark.sql.windowExec.buffer.spill.threshold": "16",
        "spark.sql.adaptive.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        df = build()
        spilled = df.collect()[0]
        assert (spilled["n"], round(spilled["s"], 2)) == (
            baseline["n"],
            round(baseline["s"], 2),
        )
        found = []

        def walk(node):
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if "spill" in kv._1().lower():
                    found.append((node.nodeName(), kv._1(), kv._2().value()))
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        assert any(v > 0 for _node, _name, v in found), found
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
