"""Manifest-layer scale probe: the claims in streaming/manifest.py,
measured.

Setup: orders at $SPARK_GRAFT_SF_DIR (default sf0.1, ~150k rows) as a
64-batch manifest-committed row table with zone-map stats on
o_orderkey. Measures:

1. snapshot read wall at 64 committed batches (64-way footer fan-in);
2. the same read after copy-on-write compaction to 1 base + 8 recent
   (the fan-in cap compaction buys);
3. CHANGE-DATA-FEED cost: diff of (head-1 -> head) after one more
   commit — must be delta-sized, independent of the 64-batch history
   (compare to the full snapshot read);
4. zone-map skipping: a range read covering ~1/8 of the key space —
   batches planned (from the manifest alone) and wall vs the full
   scan.

Usage: python tools/manifest_scale_probe.py  (local[32], ~2-3 min)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_googleplaystore_spark import streaming  # noqa: E402
from bigdata_googleplaystore_spark.session import get_spark  # noqa: E402
from bigdata_googleplaystore_spark.sources import load_table, manifest_log  # noqa: E402
from bigdata_googleplaystore_spark.sources.storage import HadoopBackend  # noqa: E402
from bigdata_googleplaystore_spark.streaming import manifest  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BATCHES = 64


def timed(fn, reps=3):
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    spark = get_spark(app_name="manifest-scale-probe", shuffle_partitions=32)
    o = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").alias("v")
    )
    n_rows = o.count()
    kmax = o.agg(F.max("o_orderkey")).collect()[0][0]
    table = "/tmp/manifest_scale_probe_tbl"
    shutil.rmtree(table, ignore_errors=True)
    # batches by contiguous key range so zone maps are selective
    span = (kmax // N_BATCHES) + 1
    t0 = time.time()
    for b in range(N_BATCHES):
        manifest.write_and_commit_batch(
            spark,
            o.where(
                (F.col("o_orderkey") >= b * span)
                & (F.col("o_orderkey") < (b + 1) * span)
            ),
            table,
            b,
            stats_cols=["o_orderkey"],
        )
    build_wall = round(time.time() - t0, 3)
    out = {"sf_dir": SF, "rows": n_rows, "batches": N_BATCHES,
           "build_commit_wall_s": build_wall}

    out["read_64_batches_s"] = timed(
        lambda: manifest.read_snapshot_rows(spark, table).count()
    )
    # 4: zone-map range read BEFORE compaction (1/8 of the key space)
    lo, hi = 8 * span, 16 * span - 1
    m = manifest.read_manifest(spark, table)
    planned = manifest.prune_snapshot_batches(m, "o_orderkey", lo, hi)
    out["zone_read_planned_batches"] = len(planned)
    out["zone_read_s"] = timed(
        lambda: manifest.read_snapshot_rows(
            spark, table, where_between=("o_orderkey", lo, hi)
        ).count()
    )
    # 3: CDF after one more commit — delta-sized
    extra = o.limit(500).withColumn("o_orderkey", F.col("o_orderkey") + kmax + 1)
    streaming.write_batch_partition(extra, table, N_BATCHES)
    manifest.commit_batch(spark, table, N_BATCHES)
    head = manifest.latest_version(spark, table)
    out["cdf_one_batch_s"] = timed(
        lambda: manifest.snapshot_diff(spark, table, head - 1, head).count()
    )
    # 2: compaction caps fan-in
    t0 = time.time()
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=55)
    out["compact_wall_s"] = round(time.time() - t0, 3)
    out["read_after_compact_s"] = timed(
        lambda: manifest.read_snapshot_rows(spark, table).count()
    )
    out["dirs_after_vacuum"] = None
    d, mn = manifest.vacuum(spark, table, keep_versions=1)
    out["vacuumed"] = [d, mn]
    out["dirs_after_vacuum"] = len(streaming.list_batch_partitions(spark, table))
    # 5 (r10): checkpoint-pointer cold start. Rebuild a LONG commit
    # history (metadata-only commits — the history length is what is
    # being measured, not data volume) and compare latest_version via
    # the advisory pointer's forward probes vs the full-listing
    # fallback a cold reader without the pointer pays.
    jvm, fs, _ = manifest._fs(spark, table)
    hist_table = "/tmp/manifest_scale_probe_hist"
    shutil.rmtree(hist_table, ignore_errors=True)
    streaming.write_batch_partition(o.limit(10), hist_table, 0)
    t0 = time.time()
    n_commits = 512
    for i in range(n_commits):
        manifest.commit_batch(spark, hist_table, 0)
    out["hist_commits"] = n_commits
    out["hist_commit_wall_s"] = round(time.time() - t0, 3)
    out["latest_version_with_pointer_s"] = timed(
        lambda: manifest.latest_version(spark, hist_table), reps=5
    )
    ckpt = manifest_log.checkpoint_path(hist_table)
    with HadoopBackend(spark).open(ckpt) as f:
        ckpt_bak = f.read()
    fs.delete(jvm.org.apache.hadoop.fs.Path(ckpt), False)
    out["latest_version_listing_fallback_s"] = timed(
        lambda: manifest.latest_version(spark, hist_table), reps=5
    )
    manifest._write_small_file(spark, ckpt, ckpt_bak)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
