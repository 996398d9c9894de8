#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` is total wall-clock over the headline set (lower is better).
Each query is executed to completion with a noop-format write — the
pruning-proof action (round-5 verdict item 1): `count()` lets Catalyst
prune every deterministic projected column, so map-only/window queries
were billed at scan cost (measured at sf0.1: text_quality_score 0.478s
full vs 0.161s counted, window_range_frame_sum 0.594s vs 0.110s — the
window sum never executed under count). `write.format("noop")` keeps
all output columns in the physical plan and discards rows at the sink,
so the timed number is the cost of actually producing the result. A
warmup pass first touches every input file and compiles each query's
full (unpruned) plan at sf0.001 so JVM/codegen startup noise doesn't
land on q1.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_googleplaystore_spark.catalog import QUERIES  # noqa: E402
from bigdata_googleplaystore_spark.session import get_spark  # noqa: E402
from bigdata_googleplaystore_spark.sources import TESTDATA_TABLES, load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The headline set: every query tagged "bench" (flagship analytics + the
# heavy LLM-pipeline operators).
BENCH_QUERIES = [name for name, qd in QUERIES.items() if "bench" in qd.tags]


def _bpe_train_corpus(spark, sf_dir):
    """Real-corpus 16-merge BPE training (word_counts + learn_bpe_merges
    on the documents table). Benched here as a special case because the
    registered bpe_learn_merges query moved to a planted tie-free vocab
    in round 6 (so the driver can hash-check the full merge sequence);
    the bench keeps timing the real workload under its own name so the
    tokenizer-training number stays SF-scaled and comparable."""
    from bigdata_googleplaystore_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.learn_bpe_merges(spark, bpe.word_counts(docs), n_merges=16, min_freq=2)


def _ensure_bench_manifest_table(spark, sf_dir) -> str:
    """The PRE-BUILT manifest row table shared by the lakehouse bench
    entries (8 committed batches with o_orderdate stats + one
    equality-delete commit over 1% of keys); built once per sf and
    reused across warmup/count/min-of-3 invocations, like an ANN
    index train."""
    import shutil

    from pyspark.sql import functions as FF

    from bigdata_googleplaystore_spark.streaming import manifest as mf

    table = f"/tmp/bench_manifest_{sf_dir.rstrip('/').replace('/', '_')}"
    if mf.latest_version(spark, table) != 8:
        shutil.rmtree(table, ignore_errors=True)
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
        )
        for b in range(8):
            mf.write_and_commit_batch(
                spark,
                o.filter(FF.col("o_orderkey") % 8 == b),
                table,
                b,
                stats_cols=["o_orderdate"],
            )
        mf.commit_deletes(
            spark,
            table,
            o.filter(FF.col("o_orderkey") % 100 == 7).select("o_orderkey"),
            delete_id=0,
        )
    return table


def _ensure_bench_scd2_table(spark, sf_dir) -> str:
    """PRE-BUILT paired-upsert table for the SCD2 bench entry (r12
    verdict item 4): base batch of (k, v) from orders, then 8 atomic
    upserts (commit_upsert) over NESTED key subsets — k % 12 at v1
    down to k % 1536 at v8 — so deep keys carry 8-interval version
    chains. Built once per sf and reused across warmup/min-of-3, like
    the manifest read table."""
    import shutil

    from pyspark.sql import functions as FF

    from bigdata_googleplaystore_spark.streaming import manifest as mf

    table = f"/tmp/bench_scd2_{sf_dir.rstrip('/').replace('/', '_')}"
    if mf.latest_version(spark, table) != 8:
        shutil.rmtree(table, ignore_errors=True)
        o = load_table(spark, sf_dir, "orders").select(
            FF.col("o_orderkey").alias("k"),
            FF.col("o_totalprice").alias("v"),
        )
        mf.write_and_commit_batch(spark, o, table, 0)
        for u in range(1, 9):
            mf.commit_upsert(
                spark,
                table,
                o.filter(FF.col("k") % (12 * 2 ** (u - 1)) == 0).withColumn(
                    "v", FF.col("v") + u
                ),
                ["k"],
                batch_id=u,
                delete_id=u - 1,
            )
    return table


def _scd2_drain_bench(spark, sf_dir):
    """SCD TYPE-2 MAINTENANCE DRAIN (r12 verdict item 4): replay the
    whole 9-version PAIRED feed (keyColumns -> insert/update_preimage/
    update_postimage tagging) off the pre-built upsert table through
    the manifest_cdf_stream source, then build the dimension's
    validity intervals with one windowed pass by key — the complete
    warehouse-consumer pipeline the SCD2 gate checks at sf0.01, timed
    here at the bench SF. Fresh checkpoint every invocation so the
    timed number is the full replay a new consumer pays."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    table = _ensure_bench_scd2_table(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="bench_scd2_ckpt_")
    sink = tempfile.mkdtemp(prefix="bench_scd2_sink_")
    try:
        q = (
            manifest_cdf_stream.load(
                spark, table,
                "k bigint, v double, _change_type string, _commit_version long",
                startingVersion=0, keyColumns="k",
            )
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        log = spark.read.parquet(sink).withColumn(
            "is_open", F.col("_change_type").isin("insert", "update_postimage")
        )
        w = Window.partitionBy("k").orderBy(
            F.col("_commit_version"), F.col("is_open").cast("int")
        )
        scd2 = (
            log.withColumn("next_version", F.lead("_commit_version").over(w))
            .withColumn("next_is_open", F.lead("is_open").over(w))
            .filter(F.col("is_open"))
            .select(
                "k",
                "v",
                F.col("_commit_version").alias("valid_from"),
                F.when(~F.col("next_is_open"), F.col("next_version")).alias(
                    "valid_to"
                ),
            )
        )
        out = scd2.groupBy(
            "valid_from", F.col("valid_to").isNull().alias("is_current")
        ).agg(
            F.count("*").alias("n_rows"),
            F.sum("v").alias("total_value"),
        )
        # materialize INSIDE the timed fn so the temp dirs can be
        # cleaned; the returned 1-row handle keeps the harness action
        # trivial
        out.write.format("noop").mode("overwrite").save()
    finally:
        # the sink holds a full replay of the feed — never leak it
        # across retried bench runs
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
    return spark.range(1).select(F.lit("scd2_maintained").alias("status"))


def _manifest_read_bench(spark, sf_dir):
    """Manifest-table READ path over a PRE-BUILT row table — the
    lakehouse layer's steady-state cost (the gates time build+read;
    the board regression-tracks the read a 1000-executor cluster pays
    per query): snapshot planning from the manifest, zone-map pruning
    on a date range, merge-on-read delete masking, then the aggregate."""
    from pyspark.sql import functions as FF

    from bigdata_googleplaystore_spark.streaming import manifest as mf

    table = _ensure_bench_manifest_table(spark, sf_dir)
    rows = mf.read_snapshot_rows(
        spark,
        table,
        where_between=(
            "o_orderdate",
            datetime.date(1994, 1, 1),
            datetime.date(1996, 12, 31),
        ),
    )
    return rows.groupBy("o_orderpriority").agg(
        FF.count("*").alias("n_rows"),
        FF.sum("o_totalprice").alias("total_price"),
    )


def _cdf_drain_bench(spark, sf_dir):
    """CDF STREAMING DRAIN over the same pre-built table — the change
    feed's steady-state replay cost (r11 verdict item 7): one
    Structured Streaming query replays the WHOLE 9-version log
    (startingVersion=0, fresh checkpoint every invocation) through the
    manifest_cdf_stream source into a noop sink. Versions 0-7 ride the
    unmasked arrow-to-arrow insert hot path; version 8's equality
    delete plans per-batch delete partitions that semi-join each file
    against the key frame executor-side (the arrow masked path) — so
    the timed number covers both regimes a replica/IVM consumer pays.
    The drain happens INSIDE this function; the returned frame is a
    1-row status so the harness's noop materialization stays trivial."""
    import shutil
    import tempfile

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    table = _ensure_bench_manifest_table(spark, sf_dir)
    ckpt = tempfile.mkdtemp(prefix="bench_cdf_ckpt_")
    q = (
        manifest_cdf_stream.load(
            spark, table,
            "o_orderkey bigint, o_orderdate timestamp,"
            " o_orderpriority string, o_totalprice double,"
            " _change_type string",
            startingVersion=0,
        )
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.range(1).select(F.lit("drained").alias("status"))


# Non-registry sf-scaled workloads timed alongside the tagged queries
# (same interleaved min-of-3, same headline sum).
EXTRA_BENCH = {
    "bpe_train_corpus": _bpe_train_corpus,
    "manifest_snapshot_read": _manifest_read_bench,
    "cdf_feed_drain": _cdf_drain_bench,
    "scd2_dimension_maintenance": _scd2_drain_bench,
}


def materialize(df) -> None:
    """Pruning-proof action: a noop-format write keeps every output column
    in the physical plan (unlike count(), which lets Catalyst prune all
    deterministic projections down to a scan) and discards rows JVM-side
    at the sink — no driver collect, no disk."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    spark = get_spark(app_name="bgps-bench")

    # Warmup: materialize file listings + JVM codepaths, not query results.
    for t in TESTDATA_TABLES:
        load_table(spark, SF_DIR, t).count()
    # Plan warmup at the smallest SF: whole-stage codegen compilation is a
    # per-plan, data-independent driver cost (measured: 8s of a 10s first
    # minhash run) — compile it outside the timed region so timings reflect
    # the data-scaling cost a long-lived cluster session actually pays.
    bench_fns = {name: QUERIES[name].fn for name in BENCH_QUERIES}
    bench_fns.update(EXTRA_BENCH)
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for fn in bench_fns.values():
            # warm with the SAME action as the timed region — the noop
            # write's unpruned plan compiles different codegen than a
            # count() plan would
            materialize(fn(spark, warm_dir))
    # Cache hygiene between queries: operators that persist() a shared
    # frame (minhash shingles, curation) leak their cache entry when the
    # caller never unpersists — in one long session those entries pile up
    # and produce multi-second eviction/GC spikes (measured: minhash
    # min-of-3 went 9.8 s -> 2.4 s at sf0.1 once the bench clears cache
    # per query). Real deployments get this for free: a job's cache dies
    # with its application.
    spark.catalog.clearCache()

    # Each query is timed three times and the min is reported: the first
    # run at a new SF pays one-off page-cache/shuffle-init costs
    # (~0.5-1 s of noise at sf0.1) that a long-lived cluster session
    # doesn't, and this host's background load can poison any single run
    # (r02 recorded q18 at +69% on an unchanged plan; n=5 re-measure came
    # back at the r01 number). min-of-3 measures the data-scaling cost.
    # Policy is stated in the JSON.
    # Rounds are INTERLEAVED (all queries once, three times over) rather
    # than back-to-back per query: this host's background load arrives in
    # multi-minute bursts, and back-to-back min-of-3 lets one burst sink
    # every sample of whichever query it lands on (observed: the same
    # query reading 1.3 s in one bench run and 8.5 s min-of-3 in the
    # next). Interleaving spreads each query's samples ~minutes apart.
    # HOST-BURST CANARY (round-10 verdict item 6): this host's background
    # load arrives in multi-minute bursts that once inflated a whole
    # board uniformly (~1.4x in BENCH_r10 vs an idle same-code re-run).
    # One cheap fixed query with a stable plan (q6: scan + agg) is timed
    # at board START and END; a burst overlapping the board shows up as
    # a canary_ratio far from 1.0 and/or canary times far above their
    # cross-round record, so a uniformly-slow round self-identifies
    # inside the JSON without stderr cross-referencing.
    CANARY = "q6_forecast_revenue"

    def _canary_time() -> float:
        t0 = time.perf_counter()
        materialize(QUERIES[CANARY].fn(spark, SF_DIR))
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return round(dt, 3)

    canary_start = _canary_time()

    best: dict[str, float] = {name: float("inf") for name in bench_fns}
    # Row counts are reported for sanity but counted OUTSIDE the timed
    # region (count() runs the cheap pruned plan; the timing below runs
    # the honest full-column plan).
    rows: dict[str, int] = {
        name: fn(spark, SF_DIR).count() for name, fn in bench_fns.items()
    }
    spark.catalog.clearCache()
    for _ in range(3):
        for name, fn in bench_fns.items():
            t0 = time.perf_counter()
            materialize(fn(spark, SF_DIR))
            best[name] = min(best[name], time.perf_counter() - t0)
            spark.catalog.clearCache()
    canary_end = _canary_time()
    timings: dict[str, float] = {}
    for name in bench_fns:
        timings[name] = round(best[name], 3)
        print(f"# {name}: {timings[name]:.3f}s ({rows[name]} rows)", file=sys.stderr)

    # The headline metric sums ONLY the sf-scaled testdata queries, so the
    # number is comparable across rounds and environments.
    headline_total = round(sum(timings.values()), 3)

    # Reference-pipeline replication at the reference's own data scale —
    # the direct comparable for BASELINE.md's measured numbers (CSV read +
    # inference 2.32 s, Part 2 0.77 s, full replication ≈90 s on local[2]).
    ref_csv = "/root/reference/src/main/resources/originals/googleplaystore.csv"
    if os.path.exists(ref_csv):
        import tempfile

        from bigdata_googleplaystore_spark import playstore

        # One UNTIMED warmup pass first (round-13, bimodality fix): this
        # pipeline's unique plans can't share the sf0.001 warmup loop
        # above, and the r12 runs showed min-of-3 alone does NOT absorb
        # the first-run compile under host load — background JIT kept
        # bleeding into runs 2-3, flipping the row between ~1.9 s and
        # ~3.7 s across invocations. Warm exactly like every headline
        # query (compile + page cache outside the timed window), then
        # time min-of-3.
        best = float("inf")
        for run in range(-1, 3):
            with tempfile.TemporaryDirectory() as tmp:
                t0 = time.perf_counter()
                ps = playstore.read_playstore_csv(spark, ref_csv)
                df3 = playstore.group_by_app_and_standardize(ps)
                playstore.generate_best_apps_csv(spark, ps, f"{tmp}/best_apps.csv").count()
                df1 = df3.select("App").withColumn("Average_Sentiment_Polarity", F.lit(0.0))
                df4 = playstore.clean_google_play_store_data(spark, df1, df3, f"{tmp}/cleaned.gz")
                playstore.get_google_play_store_metrics_by_genre(
                    spark, df4, f"{tmp}/metrics.gz"
                ).count()
                if run >= 0:
                    best = min(best, time.perf_counter() - t0)
        timings["playstore_parts_2_3_4_5"] = round(best, 3)
        print(
            f"# playstore_parts_2_3_4_5: {timings['playstore_parts_2_3_4_5']:.3f}s"
            " (baseline ~90s)",
            file=sys.stderr,
        )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_clock",
                "value": headline_total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                # stated so cross-round comparisons are honest: timings
                # exclude per-plan codegen compile (warmed at sf0.001)
                # and take the best of three timed runs per query
                "canary": {
                    "query": CANARY,
                    "start_sec": canary_start,
                    "end_sec": canary_end,
                    "ratio": round(canary_end / max(canary_start, 1e-9), 3),
                },
                "warmup": "plans@sf0.001+input_listing",
                "action": "noop_write_full_materialization",
                "timing": "min_of_3_interleaved_rounds (playstore pipeline: min_of_3 back-to-back)",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
