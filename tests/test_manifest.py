"""Manifest-committed snapshot layer (streaming/manifest.py): atomic
compaction swap, torn-writer isolation, version pinning, optimistic
concurrency, vacuum GC — the transactional properties directory-listing
state tables cannot give."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_googleplaystore_spark import streaming
from bigdata_googleplaystore_spark.operators import incremental
from bigdata_googleplaystore_spark.sources import manifest_log
from bigdata_googleplaystore_spark.streaming import manifest


def _raw(spark):
    return spark.range(200).select(
        F.col("id"),
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 1.0).alias("v"),
    )


def _write_committed_batches(spark, table, n_batches=4):
    df = _raw(spark)
    for b in range(n_batches):
        batch = df.where(F.col("id") % n_batches == b).drop("id")
        streaming.write_batch_partition(
            incremental.partial_agg(batch, ["k"], "v"), table, b
        )
        manifest.commit_batch(spark, table, b)
    return df


def _agg_rows(df):
    return sorted(
        (r["k"], r["n_rows"], r["total"]) for r in df.collect()
    )


def _direct_rows(raw):
    return sorted(
        (r["k"], r["n_rows"], r["total"])
        for r in raw.groupBy("k")
        .agg(F.count("*").alias("n_rows"), F.sum("v").alias("total"))
        .collect()
    )


def test_commit_read_roundtrip_and_versions(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    assert manifest.list_versions(spark, table) == [0, 1, 2, 3]
    m = manifest.read_manifest(spark, table)
    assert m["batch_ids"] == [0, 1, 2, 3]
    view = manifest.read_snapshot_agg(spark, table)
    assert _agg_rows(view) == _direct_rows(raw)


def test_uncommitted_partition_is_invisible(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    before = _agg_rows(manifest.read_snapshot_agg(spark, table))
    # a crashed writer: partition lands on disk, commit never happens
    dup = incremental.partial_agg(raw.drop("id"), ["k"], "v")
    streaming.write_batch_partition(dup, table, 99)
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == before
    # directory-listing readers WOULD see it — that's the contrast
    assert 99 in streaming.list_batch_partitions(spark, table)


def test_version_pinned_time_travel(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    first_two = raw.where(F.col("id") % 4 <= 1)
    v1 = manifest.read_snapshot_agg(spark, table, version=1)
    assert _agg_rows(v1) == _direct_rows(first_two)


def test_compact_is_atomic_and_crash_safe(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    want = _direct_rows(raw)
    # CRASH SIM: the base partition is fully written but the manifest
    # commit never happened (exactly compact_snapshot minus its last
    # step) — the snapshot must be logically unchanged, no double count
    sub = manifest.snapshot_partials(spark, table).where(F.lit(True))
    paths = [f"{table}/_batch_id={b}" for b in (0, 1, 2)]
    base = incremental.merge_partials(spark.read.parquet(*paths))
    streaming.write_batch_partition(
        base.localCheckpoint(), table, streaming.compact_base_id(2)
    )
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == want
    # re-run completes: overwrites the orphan base, commits the swap
    v = manifest.compact_snapshot(spark, table, upto_batch=2)
    m = manifest.read_manifest(spark, table, v)
    assert m["batch_ids"] == [streaming.compact_base_id(2), 3]
    assert m["horizon"] == 2
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == want
    # pre-compaction version still readable until vacuum
    assert _agg_rows(manifest.read_snapshot_agg(spark, table, version=3)) == want


def test_compact_horizon_only_moves_forward(spark, tmp_path):
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    manifest.compact_snapshot(spark, table, upto_batch=2)
    with pytest.raises(ValueError, match="horizon only moves forward"):
        manifest.compact_snapshot(spark, table, upto_batch=1)


def test_concurrent_commit_conflict(spark, tmp_path):
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    cur = manifest.read_manifest(spark, table)
    # a committer that planned against version 2 while 3 already landed
    with pytest.raises(manifest.ConcurrentCommitError):
        manifest.commit_version(spark, table, {**cur, "version": 2})


def test_vacuum_reclaims_unreferenced_and_orphans(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    want = _direct_rows(raw)
    # orphan from a crashed writer
    streaming.write_batch_partition(
        incremental.partial_agg(raw.drop("id"), ["k"], "v"), table, 99
    )
    manifest.compact_snapshot(spark, table, upto_batch=2)
    dirs, mans = manifest.vacuum(spark, table, keep_versions=1)
    # partials 0,1,2 (subsumed) + orphan 99 deleted; manifests v0..v3 gone
    assert dirs == 4
    assert mans == 4
    assert streaming.list_batch_partitions(spark, table) == [
        streaming.compact_base_id(2),
        3,
    ]
    assert manifest.list_versions(spark, table) == [4]
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == want


def test_vacuum_keeps_pinned_window(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    manifest.compact_snapshot(spark, table, upto_batch=2)
    # keep 2 versions: v3 (all four partials) + v4 (base + 3) -> nothing
    # v3 references may be deleted
    dirs, mans = manifest.vacuum(spark, table, keep_versions=2)
    assert dirs == 0
    assert mans == 3
    # the pinned old version still folds correctly
    assert _agg_rows(
        manifest.read_snapshot_agg(spark, table, version=3)
    ) == _direct_rows(raw)


def test_run_stream_manifest_agg_commits_every_batch(spark, tmp_path):
    raw = _raw(spark)
    src = str(tmp_path / "src")
    raw.drop("id").repartition(4).write.mode("overwrite").parquet(src)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    manifest.run_stream_manifest_agg(stream, ["k"], "v", table, ckpt)
    versions = manifest.list_versions(spark, table)
    assert len(versions) >= 4
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == _direct_rows(raw)
    # every version is a strict superset chain (atomic publish order)
    sets = [
        set(manifest.read_manifest(spark, table, v)["batch_ids"]) for v in versions
    ]
    assert all(a < b for a, b in zip(sets, sets[1:]))


def test_merge_on_read_deletes_and_compaction(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(3):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    # delete every id divisible by 10 (20 rows) via a key file
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 0).select("id"), 0
    )
    snap = manifest.read_snapshot_rows(spark, table)
    assert snap.count() == 180
    assert snap.where(F.col("id") % 10 == 0).count() == 0
    # data partitions untouched: raw union still holds all 200
    assert spark.read.parquet(*[f"{table}/_batch_id={b}" for b in range(3)]).count() == 200
    # uncommitted delete file invisible
    extra = raw.where(F.col("id") % 10 == 1).select("id")
    extra.write.mode("overwrite").parquet(manifest_log.delete_path(table, 7))
    assert manifest.read_snapshot_rows(spark, table).count() == 180
    # copy-on-write catch-up: base holds no deleted keys, values unchanged
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    post = manifest.read_snapshot_rows(spark, table)
    assert post.count() == 180
    base = spark.read.parquet(
        f"{table}/_batch_id={streaming.compact_base_id(1)}"
    )
    assert base.where(F.col("id") % 10 == 0).count() == 0
    # delete ids retained: they still mask batch 2's rows
    m = manifest.read_manifest(spark, table)
    assert m["delete_ids"] == [0]


def test_deletes_are_version_pinned(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    v_before = manifest.latest_version(spark, table)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") < 100).select("id"), 0
    )
    # pre-delete version still sees all rows; latest sees the delete
    assert manifest.read_snapshot_rows(spark, table, version=v_before).count() == 200
    assert manifest.read_snapshot_rows(spark, table).count() == 100


def test_snapshot_diff_inserts_deletes_and_masked_insert(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    v_from = manifest.latest_version(spark, table)
    # in-window: insert 100..199, then delete ids ending in 0 everywhere
    streaming.write_batch_partition(
        raw.where(F.col("id") >= 100), table, 1
    )
    manifest.commit_batch(spark, table, 1)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 0).select("id"), 0
    )
    v_to = manifest.latest_version(spark, table)
    feed = manifest.snapshot_diff(spark, table, v_from, v_to)
    ins = sorted(r["id"] for r in feed.where("_change_type = 'insert'").collect())
    dels = sorted(r["id"] for r in feed.where("_change_type = 'delete'").collect())
    # inserts: 100..199 except the in-window-deleted multiples of 10
    assert ins == [i for i in range(100, 200) if i % 10 != 0]
    # deletes: only previously-VISIBLE rows (0..99) matching the keys
    assert dels == [i for i in range(0, 100) if i % 10 == 0]


def test_snapshot_diff_refuses_across_compaction(spark, tmp_path):
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    manifest.compact_snapshot(spark, table, upto_batch=2)
    with pytest.raises(ValueError, match="compaction rewrite"):
        manifest.snapshot_diff(spark, table, 1, manifest.latest_version(spark, table))


def test_zone_map_stats_skip_batches(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    # four committed batches covering disjoint id ranges, stats on id
    for b in range(4):
        manifest.write_and_commit_batch(
            spark,
            raw.where((F.col("id") >= b * 50) & (F.col("id") < (b + 1) * 50)),
            table,
            b,
            stats_cols=["id"],
        )
    m = manifest.read_manifest(spark, table)
    assert m["stats"]["0"]["id"] == [0, 49]
    assert m["stats"]["3"]["id"] == [150, 199]
    # range [60, 120] overlaps batches 1 and 2 only
    assert manifest.prune_snapshot_batches(m, "id", 60, 120) == [1, 2]
    got = manifest.read_snapshot_rows(
        spark, table, where_between=("id", 60, 120)
    )
    assert sorted(r["id"] for r in got.collect()) == list(range(60, 121))
    # a batch without stats is always kept (skipping never loses rows)
    streaming.write_batch_partition(
        raw.where(F.col("id") < 0), table, 9
    )
    manifest.commit_batch(spark, table, 9)
    m2 = manifest.read_manifest(spark, table)
    assert 9 in manifest.prune_snapshot_batches(m2, "id", 60, 120)


def test_zone_map_stats_survive_row_compaction(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(4):
        manifest.write_and_commit_batch(
            spark,
            raw.where((F.col("id") >= b * 50) & (F.col("id") < (b + 1) * 50)),
            table,
            b,
            stats_cols=["id"],
        )
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 0).select("id"), 0
    )
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    m = manifest.read_manifest(spark, table)
    base = str(streaming.compact_base_id(1))
    # base bounds = merged subsumed bounds (conservative under deletes)
    assert m["stats"][base]["id"] == [0, 99]
    assert m["stats"]["2"]["id"] == [100, 149]
    # pruned range read over the compacted table stays correct
    got = manifest.read_snapshot_rows(
        spark, table, where_between=("id", 40, 110)
    )
    assert sorted(r["id"] for r in got.collect()) == [
        i for i in range(40, 111) if i % 10 != 0
    ]


def test_zone_map_date_stats_are_iso_strings(spark, tmp_path):
    import datetime

    table = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i, datetime.date(1995, 1, 1) + datetime.timedelta(days=30 * i)) for i in range(8)],
        "id long, d date",
    )
    manifest.write_and_commit_batch(
        spark, rows.where(F.col("id") < 4), table, 0, stats_cols=["d"]
    )
    manifest.write_and_commit_batch(
        spark, rows.where(F.col("id") >= 4), table, 1, stats_cols=["d"]
    )
    m = manifest.read_manifest(spark, table)
    assert m["stats"]["0"]["d"] == ["1995-01-01", "1995-04-01"]
    # ISO strings order lexicographically == temporally
    assert manifest.prune_snapshot_batches(
        m, "d", "1995-02-01", "1995-03-15"
    ) == [0]
    got = manifest.read_snapshot_rows(
        spark, table, where_between=("d", "1995-02-01", "1995-03-15")
    )
    # only 1995-03-02 (i=2) falls inside; 1995-01-31 and 1995-04-01 don't
    assert got.count() == 1


def test_write_and_commit_empty_batch_commits_no_dangling_id(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    manifest.write_and_commit_batch(spark, raw, table, 0, stats_cols=["id"])
    # an empty batch: version bumps, id set unchanged, snapshot readable
    manifest.write_and_commit_batch(
        spark, raw.where(F.col("id") < 0), table, 1, stats_cols=["id"]
    )
    m = manifest.read_manifest(spark, table)
    assert m["version"] == 1
    assert m["batch_ids"] == [0]
    assert manifest.read_snapshot_rows(spark, table).count() == 200


def test_commit_upsert_is_atomic_and_sequence_aware(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    v_before = manifest.latest_version(spark, table)
    # MERGE: ids divisible by 4 get v boosted by 10000
    updates = raw.where(F.col("id") % 4 == 0).withColumn(
        "v", F.col("v") + 10_000.0
    )
    manifest.commit_upsert(spark, table, updates, ["id"], 2, 0)
    # ONE version advance: no torn intermediate was ever addressable
    assert manifest.latest_version(spark, table) == v_before + 1
    snap = manifest.read_snapshot_rows(spark, table)
    assert snap.count() == 200  # replaced, not duplicated or lost
    got = {r["id"]: r["v"] for r in snap.collect()}
    for i in range(200):
        assert got[i] == (float(i) + 10_000.0 if i % 4 == 0 else float(i))
    # pre-upsert version still reads the original values
    old = manifest.read_snapshot_rows(spark, table, version=v_before)
    assert all(r["v"] == float(r["id"]) for r in old.collect())


def test_upsert_delete_cutoff_does_not_eat_later_inserts(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    updates = raw.where(F.col("id") < 10).withColumn("v", F.lit(-1.0))
    manifest.commit_upsert(spark, table, updates, ["id"], 1, 0)
    # a LATER plain insert of the same keys must remain visible: the
    # upsert's delete file is pinned below the new batch's sequence
    streaming.write_batch_partition(
        raw.where(F.col("id") < 5).withColumn("v", F.lit(7777.0)), table, 2
    )
    manifest.commit_batch(spark, table, 2)
    snap = manifest.read_snapshot_rows(spark, table)
    late = snap.where(F.col("v") == 7777.0).count()
    assert late == 5
    # and the upsert rows themselves also survived their own delete
    assert snap.where(F.col("v") == -1.0).count() == 10


def test_upsert_then_cdf_and_compaction(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw, table, 0)
    manifest.commit_batch(spark, table, 0)
    v0 = manifest.latest_version(spark, table)
    updates = raw.where(F.col("id") % 50 == 0).withColumn("v", F.lit(-7.0))
    manifest.commit_upsert(spark, table, updates, ["id"], 1, 0)
    feed = manifest.snapshot_diff(spark, table, v0, v0 + 1)
    ins = {r["id"] for r in feed.where("_change_type = 'insert'").collect()}
    dels = {r["id"] for r in feed.where("_change_type = 'delete'").collect()}
    assert ins == {0, 50, 100, 150}
    assert dels == {0, 50, 100, 150}  # the OLD rows, emitted as deletes
    # copy-on-write catch-up folds everything; values preserved
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    snap = manifest.read_snapshot_rows(spark, table)
    assert snap.count() == 200
    assert snap.where(F.col("v") == -7.0).count() == 4


def test_upsert_batch_keeps_metadata_count_exact_past_compaction(spark, tmp_path):
    # an upsert batch records `_rows` like any other, so once a
    # compaction spends the upsert's delete the metadata COUNT(*) is
    # exact again while the upsert batch itself stays above the horizon
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") % 2 == b), table, b
        )
    updates = raw.where(F.col("id") % 10 == 0).withColumn("v", F.lit(-1.0))
    manifest.commit_upsert(spark, table, updates, ["id"], 2, 0)
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    want = manifest.read_snapshot_rows(spark, table).count()
    assert want == 200
    assert manifest.snapshot_row_count(spark, table) == (want, True)


def test_bloom_point_lookup_plans_and_reads(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(4):
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") % 4 == b), table, b, bloom_col="id"
        )
    m = manifest.read_manifest(spark, table)
    assert set(m["blooms"]) == {"0", "1", "2", "3"}
    # key 42 lives in batch 42 % 4 == 2; the plan must contain it
    planned = manifest.plan_point_lookup(spark, table, m, "id", 42)
    assert 2 in planned
    assert len(planned) < 4  # at least one batch bloom-skipped
    got = manifest.read_point_lookup(spark, table, "id", 42).collect()
    assert len(got) == 1 and got[0]["id"] == 42
    # absent key: usually zero batches planned, always zero rows
    assert manifest.read_point_lookup(spark, table, "id", 10_001).count() == 0
    # deletes still apply on the lookup path
    manifest.commit_deletes(
        spark, table, spark.createDataFrame([(42,)], "id long"), 0
    )
    assert manifest.read_point_lookup(spark, table, "id", 42).count() == 0


def test_bloom_batches_record_row_and_byte_stats(spark, tmp_path):
    # a bloom-committed batch records the same stats as a plain one: the
    # metadata COUNT(*) is exact on a table built only through the bloom
    # path, and byte admission sees every batch's size
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(3):
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") % 3 == b), table, b, bloom_col="id"
        )
    assert manifest.snapshot_row_count(spark, table) == (200, True)
    stats = manifest.read_manifest(spark, table)["stats"]
    assert sorted(stats) == ["0", "1", "2"]
    assert all(e["_bytes"] > 0 for e in stats.values())


def test_blooms_survive_other_commits_and_vacuum_cleans_sidecars(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(3):
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") % 3 == b), table, b, bloom_col="id"
        )
    # a plain delete commit must not drop the bloom entries
    manifest.commit_deletes(
        spark, table, spark.createDataFrame([(7,)], "id long"), 0
    )
    m = manifest.read_manifest(spark, table)
    assert set(m["blooms"]) == {"0", "1", "2"}
    # compaction drops subsumed blooms; vacuum removes their sidecars
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    m2 = manifest.read_manifest(spark, table)
    assert set(m2["blooms"]) == {"2"}
    manifest.vacuum(spark, table, keep_versions=1)
    jvm, fs, _ = manifest._fs(spark, table)
    assert not fs.exists(
        jvm.org.apache.hadoop.fs.Path(manifest_log.bloom_path(table, 0))
    )
    assert fs.exists(
        jvm.org.apache.hadoop.fs.Path(manifest_log.bloom_path(table, 2))
    )


def test_empty_upsert_is_a_noop(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw, table, 0)
    manifest.commit_batch(spark, table, 0)
    v = manifest.latest_version(spark, table)
    out = manifest.commit_upsert(
        spark, table, raw.where(F.col("id") < 0), ["id"], 1, 0
    )
    assert out == v
    assert manifest.latest_version(spark, table) == v
    assert manifest.read_snapshot_rows(spark, table).count() == 200


def test_history_and_rollback(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    good_v = manifest.latest_version(spark, table)
    # a bad delete wipes half the table
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") < 100).select("id"), 0
    )
    assert manifest.read_snapshot_rows(spark, table).count() == 100
    # RESTORE: one atomic commit, history intact
    v = manifest.rollback(spark, table, good_v)
    assert v == good_v + 2
    assert manifest.read_snapshot_rows(spark, table).count() == 200
    # the bad version stays readable for forensics
    assert manifest.read_snapshot_rows(spark, table, version=good_v + 1).count() == 100
    hist = manifest.history(spark, table)
    assert [h["change"] for h in hist] == [
        "append", "append", "delete", "rollback"
    ]
    # rollback to current is a no-op
    assert manifest.rollback(spark, table, v) == v


def test_schema_evolution_merge_and_deletes_compose(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    evolved = raw.where(F.col("id") >= 100).withColumn("tag", F.lit("new"))
    streaming.write_batch_partition(evolved, table, 1)
    manifest.commit_batch(spark, table, 1)
    merged = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    assert "tag" in merged.columns
    assert merged.count() == 200
    assert merged.where(F.col("tag").isNull()).count() == 100  # old rows
    # deletes compose with the merged read
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 2 == 0).select("id"), 0
    )
    after = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    assert after.count() == 100
    assert after.where(F.col("tag") == "new").count() == 50


@pytest.mark.parametrize("upsert", [False, True])
def test_row_compaction_keeps_additively_evolved_columns(
    spark, tmp_path, upsert
):
    # the compacted base is written from the merged schema of the
    # batches it replaces, on the plain path and on the delete-applying
    # path alike: an added column's values survive the rewrite
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    evolved = raw.where(F.col("id") >= 100).withColumn("tag", F.lit("new"))
    streaming.write_batch_partition(evolved, table, 1)
    manifest.commit_batch(spark, table, 1)
    upto = 1
    if upsert:
        updates = raw.where(F.col("id") % 50 == 0).withColumn(
            "tag", F.lit("upd")
        )
        manifest.commit_upsert(spark, table, updates, ["id"], 2, 0)
        upto = 2
    before = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    want = sorted((r["id"], r["tag"]) for r in before.collect())
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=upto)
    assert manifest.read_manifest(spark, table)["batch_ids"] == [-(upto + 1)]
    after = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    assert sorted((r["id"], r["tag"]) for r in after.collect()) == want
    assert len(want) == 200
    assert sum(t == "new" for _, t in want) == (98 if upsert else 100)


def test_snapshot_diff_carries_additively_evolved_columns(spark, tmp_path):
    # both sides of the feed read the merged batch schema: rows deleted
    # from an evolved batch keep its added column, and rows from the
    # batch before it read it as a typed null
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    evolved = raw.where(F.col("id") >= 100).withColumn("tag", F.lit("new"))
    streaming.write_batch_partition(evolved, table, 1)
    manifest.commit_batch(spark, table, 1)
    v_from = manifest.latest_version(spark, table)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 50 == 0).select("id"), 0
    )
    feed = manifest.snapshot_diff(
        spark, table, v_from, manifest.latest_version(spark, table)
    )
    assert "tag" in feed.columns
    got = sorted((r["id"], r["tag"], r["_change_type"]) for r in feed.collect())
    assert got == [
        (0, None, "delete"),
        (50, None, "delete"),
        (100, "new", "delete"),
        (150, "new", "delete"),
    ]


def test_vacuum_refuses_zero_retention(spark, tmp_path):
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    with pytest.raises(ValueError, match="at least"):
        manifest.vacuum(spark, table, keep_versions=0)


def test_point_in_time_delete_erased_after_compaction_and_vacuum(
    spark, tmp_path
):
    # a cutoff-bounded DELETE is SPENT once compaction's horizon covers
    # its cutoff: dropped from the manifest, its key file vacuumed — the
    # right-to-be-forgotten path where the keys themselves are PII
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(raw.where(F.col("id") % 2 == b), table, b)
        manifest.commit_batch(spark, table, b)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") < 50).select("id"), 0, cutoff=1
    )
    assert manifest.read_snapshot_rows(spark, table).count() == 150
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    m = manifest.read_manifest(spark, table)
    assert m["delete_ids"] == []
    assert "0" not in (m.get("delete_cutoffs") or {})
    manifest.vacuum(spark, table, keep_versions=1)
    jvm, fs, _ = manifest._fs(spark, table)
    assert not fs.exists(
        jvm.org.apache.hadoop.fs.Path(manifest_log.delete_path(table, 0))
    )
    assert manifest.read_snapshot_rows(spark, table).count() == 150


def test_unbounded_delete_survives_compaction_and_vacuum(spark, tmp_path):
    # legacy cutoff-None DELETE masks future re-inserts of the key, so
    # compaction must retain it and vacuum must keep its key file
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw, table, 0)
    manifest.commit_batch(spark, table, 0)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") < 50).select("id"), 0
    )
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=0)
    m = manifest.read_manifest(spark, table)
    assert m["delete_ids"] == [0]
    manifest.vacuum(spark, table, keep_versions=1)
    jvm, fs, _ = manifest._fs(spark, table)
    assert fs.exists(
        jvm.org.apache.hadoop.fs.Path(manifest_log.delete_path(table, 0))
    )
    # a re-insert of a masked key stays masked (unbounded semantics)
    streaming.write_batch_partition(raw.where(F.col("id") == 7), table, 5)
    manifest.commit_batch(spark, table, 5)
    assert (
        manifest.read_snapshot_rows(spark, table)
        .where(F.col("id") == 7)
        .count()
        == 0
    )


def test_stream_empty_trigger_commits_no_dangling_id(spark, tmp_path):
    # an empty micro-batch writes no _batch_id directory; committing its
    # id would break every later snapshot read with path-not-found
    raw = _raw(spark)
    src = str(tmp_path / "src")
    raw.drop("id").coalesce(1).write.mode("overwrite").parquet(src)
    # a second source file with ZERO rows -> one trigger is empty
    raw.drop("id").limit(0).coalesce(1).write.mode("append").parquet(src)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    manifest.run_stream_manifest_agg(stream, ["k"], "v", table, ckpt)
    m = manifest.read_manifest(spark, table)
    jvm, fs, _ = manifest._fs(spark, table)
    for b in m["batch_ids"]:
        assert fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{table}/_batch_id={b}")
        )
    # the read path survives the empty trigger and the fold is right
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == _direct_rows(
        raw
    )


def test_prune_mixed_date_timestamp_granularity(spark):
    import datetime

    m = {
        "batch_ids": [0, 1],
        "stats": {
            "0": {"ts": ["2000-01-31 00:00:00", "2000-02-10 12:00:00"]},
            "1": {"ts": ["2000-03-01 00:00:00", "2000-03-05 00:00:00"]},
        },
    }
    # hi bound is DATE-only; batch 0's min is exactly midnight of that
    # date — its boundary rows satisfy BETWEEN, so it must be KEPT
    kept = manifest.prune_snapshot_batches(
        m, "ts", datetime.date(2000, 1, 1), datetime.date(2000, 1, 31)
    )
    assert kept == [0]
    # mirrored: date-only stats vs timestamp bounds
    m2 = {
        "batch_ids": [0],
        "stats": {"0": {"d": ["2000-01-01", "2000-01-31"]}},
    }
    kept2 = manifest.prune_snapshot_batches(
        m2,
        "d",
        datetime.datetime(2000, 1, 31, 0, 0, 0),
        datetime.datetime(2000, 2, 15, 0, 0, 0),
    )
    assert kept2 == [0]
    # plain strings keep exact lexicographic semantics (no padding)
    m3 = {"batch_ids": [0], "stats": {"0": {"s": ["aaa", "bbb"]}}}
    assert manifest.prune_snapshot_batches(m3, "s", "bbc", "zzz") == []


def test_vacuum_reclaims_orphan_manifest_tmp(spark, tmp_path):
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    orphan = (
        manifest_log.version_path(table, 99) + ".deadbeefdeadbeef.tmp"
    )
    manifest._write_small_file(spark, orphan, b"{}")
    manifest.vacuum(spark, table, keep_versions=1, tmp_grace_seconds=0)
    jvm, fs, _ = manifest._fs(spark, table)
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(orphan))
    # staged-but-never-renamed junk must not corrupt version listing
    assert manifest.list_versions(spark, table) == [3]


def test_vacuum_spares_young_manifest_tmp(spark, tmp_path):
    # a .tmp younger than the grace period may belong to a LIVE
    # committer between stage-write and rename — the default vacuum
    # must not yank it out from under that commit (r10 ADVICE)
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    staged = manifest_log.version_path(table, 99) + ".cafebabecafebabe.tmp"
    manifest._write_small_file(spark, staged, b"{}")
    manifest.vacuum(spark, table, keep_versions=1)  # default 1h grace
    jvm, fs, _ = manifest._fs(spark, table)
    assert fs.exists(jvm.org.apache.hadoop.fs.Path(staged))
    # ...and a later pass past the grace period reclaims it
    manifest.vacuum(spark, table, keep_versions=1, tmp_grace_seconds=0)
    assert not fs.exists(jvm.org.apache.hadoop.fs.Path(staged))


def test_checkpoint_pointer_and_forward_probe(spark, tmp_path):
    # 12 commits -> pointer refreshed at v10; latest_version probes
    # forward from it instead of listing, and every degraded pointer
    # state (stale / corrupt / absent / vacuumed target) still answers
    # correctly via fallback
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(12):
        streaming.write_batch_partition(
            incremental.partial_agg(
                raw.where(F.col("id") % 12 == b).drop("id"), ["k"], "v"
            ),
            table,
            b,
        )
        manifest.commit_batch(spark, table, b)
    assert manifest.read_checkpoint(spark, table) == 10
    assert manifest.latest_version(spark, table) == 11
    # stale pointer: still correct (probes forward)
    manifest.write_checkpoint(spark, table, 3)
    assert manifest.latest_version(spark, table) == 11
    # corrupt pointer: falls back to listing
    manifest._write_small_file(
        spark, manifest_log.checkpoint_path(table), b"not json"
    )
    assert manifest.latest_version(spark, table) == 11
    # absent pointer: listing fallback
    jvm, fs, _ = manifest._fs(spark, table)
    fs.delete(jvm.org.apache.hadoop.fs.Path(manifest_log.checkpoint_path(table)), False)
    assert manifest.latest_version(spark, table) == 11
    # vacuum refreshes the pointer into the retained window
    manifest.vacuum(spark, table, keep_versions=2)
    assert manifest.read_checkpoint(spark, table) == 11
    assert manifest.latest_version(spark, table) == 11
    # pointer at a vacuumed version: fallback, not a wrong answer
    manifest.write_checkpoint(spark, table, 0)
    assert manifest.latest_version(spark, table) == 11


def test_custom_commit_backend_arbitrates(spark, tmp_path):
    # the backend is the ONE pluggable atomic primitive: a backend that
    # reports a lost race surfaces as ConcurrentCommitError; a recording
    # backend sees exactly the version path and full manifest bytes
    import json as _json

    table = str(tmp_path / "tbl")

    class Recorder(manifest.CommitBackend):
        def __init__(self):
            self.calls = []

        def publish(self, spark, data, final_path):
            self.calls.append((final_path, data))
            manifest.RenameCommitBackend().publish(spark, data, final_path)

    rec = Recorder()
    v = manifest.commit_version(
        spark, table, {**manifest_log.EMPTY_MANIFEST, "batch_ids": [0, 1]},
        backend=rec,
    )
    assert v == 0
    assert rec.calls[0][0] == manifest_log.version_path(table, 0)
    assert _json.loads(rec.calls[0][1])["batch_ids"] == [0, 1]

    class AlwaysLoses(manifest.CommitBackend):
        def publish(self, spark, data, final_path):
            raise manifest.ConcurrentCommitError("simulated conditional-put 412")

    with pytest.raises(manifest.ConcurrentCommitError):
        manifest.commit_version(
            spark,
            table,
            {**manifest_log.EMPTY_MANIFEST, "version": 0, "batch_ids": [0, 1, 2]},
            backend=AlwaysLoses(),
        )
    # the losing publish left no trace: latest is still v0
    assert manifest.latest_version(spark, table) == 0


def test_hadoop_backend_matches_local_backend(spark, tmp_path):
    # the operator tier reads the log through HadoopBackend, the
    # connector tier through LocalBackend: on a table the operator tier
    # committed, the five read operations — and so every format read —
    # must agree
    from bigdata_googleplaystore_spark.sources.storage import (
        HadoopBackend,
        LocalBackend,
    )

    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table)
    manifest.commit_deletes(
        spark, table, spark.createDataFrame([("1",)], "k string"), delete_id=0
    )
    hfs, lfs = HadoopBackend(spark), LocalBackend()

    def visible(names):
        # Hadoop's checksummed local filesystem hides its .crc sidecars
        return [n for n in names if not (n.startswith(".") and n.endswith(".crc"))]

    paths = [
        table,
        manifest_log.manifest_dir(table),
        manifest_log.version_path(table, 0),
        manifest_log.version_path(table, 4),
        manifest_log.version_path(table, 99),
        manifest_log.checkpoint_path(table),
        manifest_log.batch_path(table, 0),
        manifest_log.batch_path(table, 42),
        manifest_log.delete_dir(table),
        manifest_log.delete_path(table, 0),
    ]
    for p in paths:
        assert hfs.exists(p) == lfs.exists(p), p
        assert hfs.isdir(p) == lfs.isdir(p), p
        assert visible(hfs.listdir(p)) == visible(lfs.listdir(p)), p
        hm, lm = hfs.mtime(p), lfs.mtime(p)
        if lm is None:
            assert hm is None, p
        else:
            assert abs(hm - lm) < 1e-3, p  # Hadoop reports whole milliseconds
        if not lfs.exists(p):
            with pytest.raises(FileNotFoundError):
                hfs.open(p)
        elif not lfs.isdir(p):
            with hfs.open(p) as a, lfs.open(p) as b:
                assert a.read() == b.read(), p
    assert manifest_log.latest_version(hfs, table) == 4
    for read in (
        manifest_log.list_versions,
        manifest_log.read_checkpoint,
        manifest_log.latest_version,
        manifest_log.read_manifest,
        manifest_log.list_batch_ids,
        manifest_log.list_delete_ids,
    ):
        assert read(hfs, table) == read(lfs, table), read.__name__


def _stream_drain(spark, table, ckpt, sink, schema_ddl, **opts):
    # parquet sink (memory sink cannot recover from a checkpoint, and
    # checkpoint RESUMPTION is exactly what the second drain tests)
    from bigdata_googleplaystore_spark.sources import manifest_stream

    manifest_stream.register(spark)
    reader = (
        spark.readStream.format("manifest_stream")
        .schema(schema_ddl)
        .option("path", table)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(sink)


def test_manifest_stream_source_incremental_and_replay(spark, tmp_path):
    # offsets are manifest versions: first drain emits the committed
    # snapshot, a later drain from the SAME checkpoint emits only the
    # newly committed batch, and compaction bases are skipped (their
    # rows were already emitted)
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(raw.where(F.col("id") % 2 == b), table, b)
        manifest.commit_batch(spark, table, b)
    got1 = _stream_drain(spark, table, ckpt, sink, "id long, k string, v double")
    assert sorted(r["id"] for r in got1.collect()) == list(range(200))
    # new commit + a compaction: only the new batch's rows arrive
    streaming.write_batch_partition(
        raw.where(F.col("id") < 50).select(
            (F.col("id") + 1000).alias("id"), "k", "v"
        ),
        table,
        2,
    )
    manifest.commit_batch(spark, table, 2)
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    got2 = _stream_drain(spark, table, ckpt, sink, "id long, k string, v double")
    assert got2.count() == 250  # 200 from run 1 + ONLY the new batch
    assert (
        sorted(r["id"] for r in got2.where(F.col("id") >= 1000).collect())
        == list(range(1000, 1050))
    )


def test_manifest_stream_source_refuses_deletes(spark, tmp_path):
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw, table, 0)
    manifest.commit_batch(spark, table, 0)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") < 10).select("id"), 0
    )
    with pytest.raises(Exception, match="append-only|retractions"):
        _stream_drain(
            spark, table, str(tmp_path / "c1"), str(tmp_path / "s1"),
            "id long, k string, v double",
        )
    # ignoreDeletes streams the inserts and skips the retraction
    got = _stream_drain(
        spark, table, str(tmp_path / "c2"), str(tmp_path / "s2"),
        "id long, k string, v double", ignoreDeletes="true",
    )
    assert got.count() == 200


def test_manifest_stream_source_initial_snapshot_after_compaction(
    spark, tmp_path
):
    # a FRESH stream over an already-compacted table must emit the
    # base partition (initial-snapshot semantics) — its rows were never
    # emitted by THIS stream, and the pre-compaction history may be
    # vacuumed
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(raw.where(F.col("id") % 2 == b), table, b)
        manifest.commit_batch(spark, table, b)
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    manifest.vacuum(spark, table, keep_versions=1)
    got = _stream_drain(
        spark, table, str(tmp_path / "c"), str(tmp_path / "s"),
        "id long, k string, v double",
    )
    assert sorted(r["id"] for r in got.collect()) == list(range(200))


def test_manifest_stream_source_max_versions_per_trigger(spark, tmp_path):
    # admission control: after the (uncapped) first batch, each trigger
    # spans at most maxVersionsPerTrigger commit-log versions — a
    # running stream catches up in bounded batches, and no row is lost
    # or duplicated across the capped batches
    from bigdata_googleplaystore_spark.sources import manifest_stream

    manifest_stream.register(spark)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 50), table, 0)
    manifest.commit_batch(spark, table, 0)
    q = (
        spark.readStream.format("manifest_stream")
        .schema("id long, k string, v double")
        .option("path", table)
        .option("maxVersionsPerTrigger", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    for b in range(1, 4):
        streaming.write_batch_partition(
            raw.where((F.col("id") >= 50 * b) & (F.col("id") < 50 * (b + 1))),
            table,
            b,
        )
        manifest.commit_batch(spark, table, b)
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(str(tmp_path / "sink"))
    assert sorted(r["id"] for r in got.collect()) == list(range(200))
    # the catch-up drained as one version per trigger: >= 4 non-empty
    # micro-batches total (1 initial + 3 capped)
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(nonempty) >= 4


def test_manifest_stream_source_starting_version(spark, tmp_path):
    # startingVersion=N is INCLUSIVE of N (Delta parity, r10 ADVICE):
    # the initial snapshot is skipped and the changes committed AT and
    # after N are emitted
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(3):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    got = _stream_drain(
        spark, table, str(tmp_path / "c"), str(tmp_path / "s"),
        "id long, k string, v double", startingVersion="1",
    )
    # version 1 committed batch 1; inclusive tail emits batches 1 and 2
    want = sorted(
        r["id"] for r in raw.where(F.col("id") % 3 != 0).collect()
    )
    assert sorted(r["id"] for r in got.collect()) == want
    # startingVersion=0 replays the whole log (not the snapshot path)
    got0 = _stream_drain(
        spark, table, str(tmp_path / "c0"), str(tmp_path / "s0"),
        "id long, k string, v double", startingVersion="0",
    )
    assert sorted(r["id"] for r in got0.collect()) == sorted(
        r["id"] for r in raw.collect()
    )
    # negative startingVersion is a caller error, refused at once
    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from pyspark.sql.types import StructType

    with pytest.raises(ValueError, match="startingVersion"):
        ms.ManifestStreamReader(
            StructType([]), {"path": table, "startingversion": "-1"}
        )


def test_manifest_stream_planning_model(spark, tmp_path):
    # PLANNING-LEVEL model check (no live query — partitions() is a
    # pure function of two manifest versions): across ANY chunking of
    # the commit log into triggers, every positive batch is planned
    # exactly once, compaction bases only ever appear in an initial
    # snapshot, and a batch committed-then-compacted INSIDE one chunk
    # is still planned (the intermediate-version walk)
    import json as _json
    import os

    from bigdata_googleplaystore_spark.sources import manifest_stream as ms

    table = str(tmp_path / "tbl")
    os.makedirs(os.path.join(table, "_manifests"))

    def put_manifest(v, batch_ids, delete_ids=()):
        with open(
            os.path.join(table, "_manifests", f"v{v:012d}.json"), "w"
        ) as f:
            _json.dump(
                {"version": v, "batch_ids": sorted(batch_ids),
                 "delete_ids": sorted(delete_ids)}, f,
            )

    def put_batch_dir(b):
        d = os.path.join(table, f"_batch_id={b}")
        os.makedirs(d, exist_ok=True)
        # planning only globs for existence; content is never read
        open(os.path.join(d, "part-0.parquet"), "w").write("x")

    # commit log: appends 0,1; compact(<=1) -> base -2; appends 2,3;
    # compact(<=3) -> base -4; append 4
    log = [
        {0}, {0, 1}, {-2}, {-2, 2}, {-2, 2, 3}, {-4}, {-4, 4},
    ]
    for v, ids in enumerate(log):
        put_manifest(v, ids)
        for b in ids:
            put_batch_dir(b)

    from pyspark.sql.types import StructType

    def planned(reader, sv, ev):
        return sorted(
            int(p.path.split("_batch_id=")[1].split("/")[0])
            for p in reader.partitions(
                {"version": sv}, {"version": ev}
            )
        )

    head = len(log) - 1
    # fresh stream, single giant trigger: initial snapshot = head's ids
    r = ms.ManifestStreamReader(StructType([]), {"path": table})
    assert planned(r, -1, head) == [-4, 4]
    # fresh stream, then every chunking of the tail must cover each
    # positive batch exactly once and no base
    for cuts in ([0, 2, 4, head], [0, head], [1, 3, 5, head], [2, head]):
        r = ms.ManifestStreamReader(StructType([]), {"path": table})
        emitted = planned(r, -1, cuts[0])
        start_ids = set(log[cuts[0]])
        for sv, ev in zip(cuts, cuts[1:]):
            tail = planned(r, sv, ev)
            assert all(b >= 0 for b in tail), (cuts, sv, ev, tail)
            emitted += tail
        # coverage: initial snapshot content + every positive batch
        # committed after the first cut, each exactly once
        tail_batches = set()
        for v in range(cuts[0] + 1, head + 1):
            tail_batches |= {b for b in log[v] - start_ids if b >= 0}
            start_ids |= log[v]
        want = sorted(list(log[cuts[0]]) + sorted(tail_batches))
        assert sorted(emitted) == want, (cuts, emitted, want)


def test_manifest_stream_source_max_bytes_per_trigger(spark, tmp_path):
    # byte-based admission control: every batch commit records `_bytes`
    # per batch in the manifest stats (plain and bloom-committed
    # alike); with the cap set below one batch's size, the post-initial
    # catch-up drains one version per trigger (>=1 version always
    # admitted), with no loss and no duplication — the
    # maxBytesPerTrigger analog of the version cap
    from bigdata_googleplaystore_spark.sources import manifest_stream

    manifest_stream.register(spark)
    raw = _raw(spark)
    for bloom_col in (None, "id"):
        root = tmp_path / f"bloom_{bloom_col}"
        table = str(root / "tbl")
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") < 50), table, 0, bloom_col=bloom_col
        )
        m = manifest.read_manifest(spark, table)
        assert m["stats"]["0"]["_bytes"] > 0  # recorded at commit
        q = (
            spark.readStream.format("manifest_stream")
            .schema("id long, k string, v double")
            .option("path", table)
            .option("maxBytesPerTrigger", 1)  # < any real batch
            .load()
            .writeStream.format("parquet")
            .option("path", str(root / "sink"))
            .option("checkpointLocation", str(root / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        for b in range(1, 4):
            manifest.write_and_commit_batch(
                spark,
                raw.where((F.col("id") >= 50 * b) & (F.col("id") < 50 * (b + 1))),
                table,
                b,
                bloom_col=bloom_col,
            )
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(str(root / "sink"))
        assert sorted(r["id"] for r in got.collect()) == list(range(200))
        nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
        assert len(nonempty) >= 4  # 1 initial + 3 byte-capped catch-ups


def test_manifest_stream_source_reads_pre_evolution_batches(spark, tmp_path):
    # additive schema evolution (r10 ADVICE): a batch committed BEFORE
    # a column existed still streams — the missing column comes back
    # as typed nulls, same as the operator tier's merge_schema reads
    from bigdata_googleplaystore_spark.sources import manifest_stream

    manifest_stream.register(spark)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(
        raw.where(F.col("id") < 100).drop("v"), table, 0
    )
    manifest.commit_batch(spark, table, 0)
    streaming.write_batch_partition(
        raw.where(F.col("id") >= 100), table, 1
    )
    manifest.commit_batch(spark, table, 1)
    got = _stream_drain(
        spark, table, str(tmp_path / "c"), str(tmp_path / "s"),
        "id long, k string, v double",
    )
    rows = {r["id"]: r for r in got.collect()}
    assert sorted(rows) == list(range(200))
    assert all(rows[i]["v"] is None for i in range(100))
    want = {r["id"]: r["v"] for r in raw.where(F.col("id") >= 100).collect()}
    assert all(rows[i]["v"] == want[i] for i in range(100, 200))


# ---------------------------------------------------------------------------
# conditional-put commit backend (r10 VERDICT item 3): a SECOND real
# CommitBackend — object-store conditional-write semantics against a
# mock store with injected contention — and the existing concurrency/
# crash protocol suite re-run parameterized over BOTH backends
# ---------------------------------------------------------------------------


@pytest.fixture(params=["rename", "conditional_put"])
def commit_backend(request):
    if request.param == "rename":
        return manifest.RenameCommitBackend()
    return manifest.ConditionalPutCommitBackend(manifest.MockObjectStore())


def test_protocol_suite_under_both_backends(spark, tmp_path, commit_backend):
    # the backend is the ONE pluggable primitive: the whole protocol
    # (roundtrip+versions, optimistic conflict, compaction crash
    # recovery, vacuum GC, MoR deletes, checkpoint pointer) must hold
    # verbatim under either publish implementation
    with manifest.default_commit_backend(commit_backend):
        test_commit_read_roundtrip_and_versions(spark, tmp_path / "t1")
        test_concurrent_commit_conflict(spark, tmp_path / "t2")
        test_compact_is_atomic_and_crash_safe(spark, tmp_path / "t3")
        test_vacuum_reclaims_unreferenced_and_orphans(spark, tmp_path / "t4")
        test_merge_on_read_deletes_and_compaction(spark, tmp_path / "t5")
        test_checkpoint_pointer_and_forward_probe(spark, tmp_path / "t6")


def test_conditional_put_arbitrates_injected_contention(spark, tmp_path):
    # the 412 path: a rival's put lands BETWEEN this committer's
    # read-latest and its own PUT (the interpose hook fires inside
    # that window); the store must refuse the second put and the
    # optimistic retry in commit_batch must then land on the next
    # version — the exact race conditional-put exists to arbitrate
    table = str(tmp_path / "tbl")
    store = manifest.MockObjectStore()
    backend = manifest.ConditionalPutCommitBackend(store)
    raw = _raw(spark)
    with manifest.default_commit_backend(backend):
        streaming.write_batch_partition(
            raw.where(F.col("id") < 100), table, 0
        )
        manifest.commit_batch(spark, table, 0)
        streaming.write_batch_partition(
            raw.where(F.col("id") >= 100), table, 1
        )

        fired = {"n": 0}
        rival_backend = manifest.ConditionalPutCommitBackend(store)

        def rival_commits_first(key):
            # fire exactly once, and commit the RIVAL through a
            # separate backend handle sharing the same store
            if fired["n"] == 0 and key.endswith("v000000000001.json"):
                fired["n"] += 1
                store.interpose = None
                try:
                    manifest.commit_version(
                        spark, table,
                        {**manifest_log.EMPTY_MANIFEST, "version": 0,
                         "batch_ids": [0, 7]},
                        backend=rival_backend,
                    )
                finally:
                    store.interpose = rival_commits_first

        store.interpose = rival_commits_first
        v = manifest.commit_batch(spark, table, 1)  # retries internally
        store.interpose = None
    assert fired["n"] == 1
    assert v == 2  # lost v1 to the rival, retried on top of it
    m = manifest.read_manifest(spark, table)
    assert m["batch_ids"] == [0, 1, 7]
    # the rival's v1 bytes were never clobbered
    assert manifest.read_manifest(spark, table, 1)["batch_ids"] == [0, 7]
    assert store.puts == 3  # v0, rival v1, retried v2


def test_conditional_put_adopts_preexisting_objects(spark, tmp_path):
    # a table whose early commits used the rename backend: a FRESH
    # store handle must refuse to clobber version files it has no
    # generation for (exists-probe adoption), not silently overwrite
    table = str(tmp_path / "tbl")
    _write_committed_batches(spark, table, n_batches=2)  # rename backend
    store = manifest.MockObjectStore()
    backend = manifest.ConditionalPutCommitBackend(store)
    with pytest.raises(manifest.ConcurrentCommitError, match="412"):
        manifest.commit_version(
            spark,
            table,
            {**manifest_log.EMPTY_MANIFEST, "version": 0, "batch_ids": [0]},
            backend=backend,
        )
    # and the natural next version still commits fine
    v = manifest.commit_version(
        spark,
        table,
        {**manifest_log.EMPTY_MANIFEST, "version": 1, "batch_ids": [0, 1]},
        backend=backend,
    )
    assert v == 2
    assert manifest.read_manifest(spark, table)["batch_ids"] == [0, 1]


# ---------------------------------------------------------------------------
# CDF streaming source (sources/manifest_cdf_stream.py): the
# retraction-capable twin of manifest_stream — _change_type-tagged
# rows, per-version-step planning, compaction steps skipped
# ---------------------------------------------------------------------------

_CDF_DDL = "id long, k string, v double, _change_type string"


def _cdf_drain(spark, table, ckpt, sink, **opts):
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    manifest_cdf_stream.register(spark)
    reader = (
        spark.readStream.format("manifest_cdf_stream")
        .schema(_CDF_DDL)
        .option("path", table)
    )
    for kk, vv in opts.items():
        reader = reader.option(kk, vv)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(sink)


def _feed_rows(df):
    return sorted(
        (r["_change_type"], r["id"], r["k"], r["v"]) for r in df.collect()
    )


def test_cdf_stream_inserts_then_mid_stream_deletes(spark, tmp_path):
    # a delete committed WHILE the stream runs lands as 'delete' rows
    # in the next trigger — exactly the gap manifest_stream refuses
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    manifest_cdf_stream.register(spark)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    q = (
        spark.readStream.format("manifest_cdf_stream")
        .schema(_CDF_DDL)
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # mid-stream: retract every id % 10 == 0, then append batch 2
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 0).select("id"), 0,
        cutoff=1,
    )
    streaming.write_batch_partition(
        raw.select((F.col("id") + 1000).alias("id"), "k", "v"), table, 2
    )
    manifest.commit_batch(spark, table, 2)
    q.processAllAvailable()
    q.stop()
    got = _feed_rows(spark.read.parquet(str(tmp_path / "sink")))
    ins0 = [("insert", r["id"], r["k"], r["v"]) for r in raw.collect()]
    dels = [
        ("delete", r["id"], r["k"], r["v"])
        for r in raw.where(F.col("id") % 10 == 0).collect()
    ]
    ins2 = [
        ("insert", r["id"] + 1000, r["k"], r["v"]) for r in raw.collect()
    ]
    assert got == sorted(ins0 + dels + ins2)


def test_cdf_stream_replay_matches_batch_feed_through_upsert(spark, tmp_path):
    # startingVersion=0 whole-log replay == the batch CDF composed per
    # version step, including an upsert version (batch + cutoff delete
    # committed atomically: old rows retract, new rows insert, the
    # upsert's own rows NOT eaten by its own delete file)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    updates = raw.where(F.col("id") < 20).select(
        "id", "k", (F.col("v") + 0.5).alias("v")
    )
    manifest.commit_upsert(spark, table, updates, ["id"], 1, 0)
    got = _feed_rows(
        _cdf_drain(
            spark, table, str(tmp_path / "c"), str(tmp_path / "s"),
            startingVersion="0",
        )
    )
    want = []
    for v in range(0, manifest.latest_version(spark, table) + 1):
        step = manifest.snapshot_diff(spark, table, max(v - 1, 0), v) \
            if v > 0 else manifest.read_snapshot_rows(
                spark, table, version=0
            ).withColumn("_change_type", F.lit("insert"))
        want += [
            (r["_change_type"], r["id"], r["k"], r["v"])
            for r in step.collect()
        ]
    assert got == sorted(want) and len(got) > 0
    # the updated rows appear exactly as delete(old) + insert(new)
    by_type = {}
    for t, i, k, v in got:
        by_type.setdefault(t, set()).add((i, v))
    assert all((i, float(i) + 0.5) in by_type["insert"] for i in range(20))
    assert all((i, float(i)) in by_type["delete"] for i in range(20))


def test_cdf_stream_skips_compaction_step_and_keeps_running(spark, tmp_path):
    # OPTIMIZE-style maintenance mid-log: the compaction version emits
    # nothing (no change data in a rewrite) and the stream continues —
    # where the batch snapshot_diff must refuse across the rewrite
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") >= 190).select("id"), 0, cutoff=1
    )
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    streaming.write_batch_partition(
        raw.select((F.col("id") + 1000).alias("id"), "k", "v"), table, 2
    )
    manifest.commit_batch(spark, table, 2)
    with pytest.raises(ValueError, match="compaction"):
        manifest.snapshot_diff(
            spark, table, 0, manifest.latest_version(spark, table)
        )
    got = _feed_rows(
        _cdf_drain(
            spark, table, str(tmp_path / "c"), str(tmp_path / "s"),
            startingVersion="0",
        )
    )
    ins = [("insert", r["id"], r["k"], r["v"]) for r in raw.collect()]
    dels = [
        ("delete", r["id"], r["k"], r["v"])
        for r in raw.where(F.col("id") >= 190).collect()
    ]
    ins2 = [("insert", r["id"] + 1000, r["k"], r["v"]) for r in raw.collect()]
    assert got == sorted(ins + dels + ins2)


def test_cdf_stream_initial_snapshot_and_schema_guard(spark, tmp_path):
    # absent startingVersion: first batch = current VISIBLE snapshot as
    # 'insert' rows (deletes already applied, Delta CDF contract); and
    # a schema without _change_type is refused up front
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from pyspark.sql.types import StructType

    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 3).select("id"), 0,
        cutoff=1,
    )
    got = _feed_rows(
        _cdf_drain(spark, table, str(tmp_path / "c"), str(tmp_path / "s"))
    )
    want = sorted(
        ("insert", r["id"], r["k"], r["v"])
        for r in raw.where(F.col("id") % 10 != 3).collect()
    )
    assert got == want
    with pytest.raises(ValueError, match="_change_type"):
        mc.ManifestCDFStreamReader(
            StructType([]), {"path": table}
        )


def test_cdf_stream_max_versions_per_trigger(spark, tmp_path):
    # the CDF source shares the append-only source's admission-control
    # floor discipline: after the uncapped first batch, catch-up drains
    # one version per trigger — inserts AND retractions — with no loss
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    manifest_cdf_stream.register(spark)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 50), table, 0)
    manifest.commit_batch(spark, table, 0)
    q = (
        spark.readStream.format("manifest_cdf_stream")
        .schema(_CDF_DDL)
        .option("path", table)
        .option("maxVersionsPerTrigger", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    streaming.write_batch_partition(
        raw.where((F.col("id") >= 50) & (F.col("id") < 100)), table, 1
    )
    manifest.commit_batch(spark, table, 1)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 1).select("id"), 0,
        cutoff=1,
    )
    streaming.write_batch_partition(raw.where(F.col("id") >= 100), table, 2)
    manifest.commit_batch(spark, table, 2)
    q.processAllAvailable()
    q.stop()
    got = _feed_rows(spark.read.parquet(str(tmp_path / "sink")))
    ins = [("insert", r["id"], r["k"], r["v"]) for r in raw.collect()]
    dels = [
        ("delete", r["id"], r["k"], r["v"])
        for r in raw.where((F.col("id") % 10 == 1) & (F.col("id") < 100)).collect()
    ]
    assert got == sorted(ins + dels)
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(nonempty) >= 4  # 1 initial + 3 capped catch-ups


def _cdf_steps(parts):
    """Flatten file-grouped CDF partitions to (kind, path, version,
    exclude, match) steps — the per-version planning decisions the
    pre-r13 one-partition-per-(version, file) shape exposed directly;
    since the file-grouping optimization they ride one partition per
    FILE so the executor decodes each file once per plan."""
    out = []
    for p in parts:
        if p.insert is not None:
            exclude, version, _pair_match = p.insert
            out.append(("insert", p.path, version, exclude, []))
        for exclude, match, version, _pair in p.deletes:
            out.append(("delete", p.path, version, exclude, match))
    return out


def test_cdf_stream_planning_model(tmp_path):
    # PLANNING-LEVEL model check, no Spark session: across ANY chunking
    # of the commit log into triggers, the composed CDF plan is
    # IDENTICAL — every insert planned exactly once at its commit
    # version with that version's masks, every delete group planned
    # exactly once against the pre-step snapshot's applicable batches,
    # compaction steps contributing nothing — because the walk is
    # per-version inside partitions() regardless of trigger boundaries
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc

    table = str(tmp_path / "tbl")
    os.makedirs(os.path.join(table, "_manifests"))

    def put_manifest(v, batch_ids, delete_ids=(), cutoffs=None):
        with open(
            os.path.join(table, "_manifests", f"v{v:012d}.json"), "w"
        ) as f:
            _json.dump(
                {
                    "version": v,
                    "batch_ids": sorted(batch_ids),
                    "delete_ids": sorted(delete_ids),
                    "delete_cutoffs": cutoffs or {},
                },
                f,
            )

    def put_batch(b):
        d = os.path.join(table, f"_batch_id={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array([b * 10], pa.int64())}),
            os.path.join(d, "part-0.parquet"),
        )

    def put_delete(d, keys):
        dd = os.path.join(table, "_deletes", f"d{d:08d}")
        os.makedirs(dd, exist_ok=True)
        pq.write_table(
            pa.table({"id": pa.array(keys, pa.int64())}),
            os.path.join(dd, "part-0.parquet"),
        )

    # log: append 0; append 1; delete d0 (cutoff=1, masks batches<=1);
    # compact(<=1) -> base -2 (d0 spent: dropped); append 2;
    # delete d1 (unbounded); append 3
    put_batch(0), put_batch(1), put_batch(2), put_batch(3), put_batch(-2)
    put_delete(0, [0]), put_delete(1, [20])
    log = [
        ({0}, [], {}),
        ({0, 1}, [], {}),
        ({0, 1}, [0], {"0": 1}),
        ({-2}, [], {}),
        ({-2, 2}, [], {}),
        ({-2, 2}, [1], {}),
        ({-2, 2, 3}, [1], {}),
    ]
    for v, (ids, dels, cuts) in enumerate(log):
        put_manifest(v, ids, dels, cuts)

    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("_change_type", StringType()),
        ]
    )

    def fingerprint(parts):
        # (kind, file, exclude masks, match key tuples) per STEP — the
        # full observable planning decision; enumerated step-wise so
        # the chunked and whole-log plans compare identically however
        # the file-grouping packs steps into partitions
        out = []
        for kind, path, _v, exclude, match in _cdf_steps(parts):
            match_t = tuple(
                tuple(sorted(map(tuple, k.itertuples(index=False))))
                for k in match
            )
            excl = tuple(
                tuple(sorted(map(tuple, k.itertuples(index=False))))
                for k in exclude
            )
            out.append((kind, path, excl, match_t))
        return sorted(out)

    head = len(log) - 1
    plans = {}
    for cuts in ([head], [2, head], [0, 1, 2, 3, 4, 5, head], [3, head],
                 [1, 4, head]):
        r = mc.ManifestCDFStreamReader(
            schema, {"path": table, "startingversion": "0"}
        )
        acc = []
        sv = -1
        for ev in cuts:
            acc += fingerprint(
                r.partitions({"version": sv}, {"version": ev})
            )
            sv = ev
        plans[tuple(cuts)] = sorted(acc)
    vals = list(plans.values())
    assert all(v == vals[0] for v in vals[1:]), "chunking changed the plan"
    # shape of the canonical plan: inserts 0,1 (masked later is MOOT —
    # planned at their commit versions, pre-delete), the d0 delete over
    # batches 0 and 1, nothing for the compaction, insert 2, the
    # unbounded d1 delete over the THEN-visible {-2, 2}, insert 3
    kinds = [(k, p.rsplit("_batch_id=", 1)[1].split("/")[0], m)
             for k, p, _e, m in vals[0]]
    ins = sorted(b for k, b, _ in kinds if k == "insert")
    assert ins == ["0", "1", "2", "3"]
    dels = sorted((b, m) for k, b, m in kinds if k == "delete")
    assert [b for b, _ in dels] == ["-2", "0", "1", "2"]
    # d0 (key id=0) hit batches 0,1; d1 (key id=20) hit base -2 and 2
    assert dels[1][1] == ((((0,),)),) and dels[2][1] == ((((0,),)),)
    assert dels[0][1] == ((((20,),)),) and dels[3][1] == ((((20,),)),)


def test_cdf_stream_max_bytes_per_trigger(spark, tmp_path):
    # the CDF source honors the shared byte-admission walk: with the
    # cap below one batch's recorded _bytes, catch-up drains one
    # version per trigger, retractions included, no loss
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    manifest_cdf_stream.register(spark)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    manifest.write_and_commit_batch(
        spark, raw.where(F.col("id") < 50), table, 0
    )
    q = (
        spark.readStream.format("manifest_cdf_stream")
        .schema(_CDF_DDL)
        .option("path", table)
        .option("maxBytesPerTrigger", 1)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    for b in range(1, 4):
        manifest.write_and_commit_batch(
            spark,
            raw.where((F.col("id") >= 50 * b) & (F.col("id") < 50 * (b + 1))),
            table,
            b,
        )
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 9).select("id"), 0,
        cutoff=3,
    )
    q.processAllAvailable()
    q.stop()
    got = _feed_rows(spark.read.parquet(str(tmp_path / "sink")))
    ins = [("insert", r["id"], r["k"], r["v"]) for r in raw.collect()]
    dels = [
        ("delete", r["id"], r["k"], r["v"])
        for r in raw.where(F.col("id") % 10 == 9).collect()
    ]
    assert got == sorted(ins + dels)
    nonempty = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(nonempty) >= 5  # 1 initial + 3 byte-capped + the delete


def test_mock_store_thread_race_single_winner():
    # the store's atomic section under REAL concurrency: 16 threads
    # race put_if_absent on one key; exactly one writer runs, exactly
    # one caller wins, everyone else gets the 412 path
    import threading

    store = manifest.MockObjectStore()
    wrote, wins = [], []
    barrier = threading.Barrier(16)

    def race(i):
        barrier.wait()
        won = store.put_if_absent("k", lambda: wrote.append(i))
        if won:
            wins.append(i)

    ts = [threading.Thread(target=race, args=(i,)) for i in range(16)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert len(wins) == 1 and len(wrote) == 1 and wins == wrote
    assert store.puts == 1


def test_cdf_stream_commit_version_column(spark, tmp_path):
    # Delta-CDF-parity _commit_version: when declared, every row is
    # stamped with the commit its change belongs to — the column that
    # makes multi-version catch-up triggers ORDERABLE (apply-to-replica
    # flows are ambiguous without it); the initial snapshot stamps its
    # endpoint version
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    manifest_cdf_stream.register(spark)
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    for b in range(2):
        streaming.write_batch_partition(
            raw.where(F.col("id") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    manifest.commit_deletes(
        spark, table, raw.where(F.col("id") % 10 == 4).select("id"), 0,
        cutoff=1,
    )
    ddl = _CDF_DDL + ", _commit_version long"
    q = (
        spark.readStream.format("manifest_cdf_stream")
        .schema(ddl)
        .option("path", table)
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "s"))
        .option("checkpointLocation", str(tmp_path / "c"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(str(tmp_path / "s"))
    by_ver = {
        (r["_commit_version"], r["_change_type"])
        for r in got.select("_commit_version", "_change_type").distinct().collect()
    }
    assert by_ver == {(0, "insert"), (1, "insert"), (2, "delete")}
    # per-version content: version v's inserts are exactly batch v
    for v in (0, 1):
        ids = sorted(
            r["id"]
            for r in got.filter(F.col("_commit_version") == v).collect()
        )
        assert ids == sorted(
            r["id"] for r in raw.where(F.col("id") % 2 == v).collect()
        )
    # initial-snapshot mode stamps the endpoint version on every row
    got2 = spark.read.parquet(str(tmp_path / "s2")) if False else None
    q2 = (
        spark.readStream.format("manifest_cdf_stream")
        .schema(ddl)
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "s2"))
        .option("checkpointLocation", str(tmp_path / "c2"))
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = spark.read.parquet(str(tmp_path / "s2"))
    assert {
        r["_commit_version"]
        for r in got2.select("_commit_version").distinct().collect()
    } == {2}


def test_cdf_stream_plans_through_memory_backend_and_fails_loud():
    # the CDF planner is storage-agnostic (memory:// table no local
    # path ever backed), and its retention edges fail LOUD with named
    # remedies: a vacuumed manifest and a vacuumed delete-key file both
    # raise ValueError naming the table and the fix
    import io
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdftbl")
    mem.clear()
    tbl = "memory://cdftbl"

    def put_parquet(path, table):
        buf = io.BytesIO()
        pq.write_table(table, buf)
        mem.put(path, buf.getvalue())

    put_parquet(
        f"{tbl}/_batch_id=0/part-0.parquet",
        pa.table({"id": pa.array([1, 2], pa.int64())}),
    )
    put_parquet(
        f"{tbl}/_deletes/d00000000/part-0.parquet",
        pa.table({"id": pa.array([1], pa.int64())}),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000000.json",
        _json.dumps({"version": 0, "batch_ids": [0], "delete_ids": []}).encode(),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000001.json",
        _json.dumps(
            {
                "version": 1,
                "batch_ids": [0],
                "delete_ids": [0],
                "delete_cutoffs": {"0": 0},
            }
        ).encode(),
    )
    schema = StructType(
        [StructField("id", LongType()), StructField("_change_type", StringType())]
    )
    r = mc.ManifestCDFStreamReader(schema, {"path": tbl, "startingversion": "0"})
    parts = r.partitions({"version": -1}, {"version": 1})
    steps = sorted((k, v) for k, _p, v, _e, _m in _cdf_steps(parts))
    assert steps == [("delete", 1), ("insert", 0)]
    # file-grouped planning: ONE partition carries both steps, and the
    # delete step rides the key frame loaded through memory://
    (p0,) = parts
    assert p0.deletes[0][1][0]["id"].tolist() == [1]
    # ...and the executor read path works against memory:// too — one
    # decode of the file yields the insert rows AND the delete row
    got = pa.Table.from_batches(list(r.read(p0)))
    assert sorted(
        zip(got.column("id").to_pylist(), got.column("_change_type").to_pylist())
    ) == [(1, "delete"), (1, "insert"), (2, "insert")]
    # vacuumed manifest -> loud, named error
    mem.delete(f"{tbl}/_manifests/v000000000000.json")
    r2 = mc.ManifestCDFStreamReader(schema, {"path": tbl, "startingversion": "0"})
    with pytest.raises(ValueError, match="vacuum retention"):
        r2.partitions({"version": -1}, {"version": 1})
    # vacuumed delete keys -> loud, named error
    mem.put(
        f"{tbl}/_manifests/v000000000000.json",
        _json.dumps({"version": 0, "batch_ids": [0], "delete_ids": []}).encode(),
    )
    mem.delete(f"{tbl}/_deletes/d00000000/part-0.parquet")
    r3 = mc.ManifestCDFStreamReader(schema, {"path": tbl, "startingversion": "0"})
    with pytest.raises(ValueError, match="no key files"):
        r3.partitions({"version": -1}, {"version": 1})
    mem.clear()


def test_schema_enforcement_on_write(spark, tmp_path):
    # writer-side schema guard (the Delta design: writes validate,
    # reads merge): additive nullable columns pass, type flips and
    # dropped columns refuse BEFORE any bytes land
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    manifest.write_and_commit_batch(
        spark, raw.where(F.col("id") < 100), table, 0, enforce_schema=True
    )
    # additive: a new column passes and merged reads fill typed nulls
    manifest.write_and_commit_batch(
        spark,
        raw.where(F.col("id") >= 100).withColumn("src", F.lit("b")),
        table, 1, enforce_schema=True,
    )
    merged = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    assert merged.count() == 200 and "src" in merged.columns
    # type flip refused, nothing written
    with pytest.raises(manifest.SchemaEnforcementError, match="diverge"):
        manifest.write_and_commit_batch(
            spark,
            raw.withColumn("src", F.lit("c")).withColumn(
                "v", F.col("v").cast("string")
            ),
            table, 2, enforce_schema=True,
        )
    # dropped column refused (src joined the table schema at batch 1)
    with pytest.raises(manifest.SchemaEnforcementError, match="drops"):
        manifest.write_and_commit_batch(
            spark, raw, table, 2, enforce_schema=True
        )
    # the refusals landed NO bytes and NO version
    assert manifest.latest_version(spark, table) == 1
    assert streaming.list_batch_partitions(spark, table) == [0, 1]
    # default stays permissive (the pre-r11 contract)
    manifest.write_and_commit_batch(spark, raw.drop("k"), table, 2)
    assert manifest.latest_version(spark, table) == 2


def test_schema_enforcement_revalidates_inside_commit_retry(spark, tmp_path):
    # TOCTOU guard (ADVICE r11): the pre-write schema check validates
    # against the manifest it read, but a concurrent schema-evolving
    # commit can land between that check and the publish. The retry
    # loop must RE-validate against the re-read manifest — mirroring
    # how table formats validate within each transaction attempt —
    # so the stale-checked batch refuses instead of committing a
    # now-column-dropping write.
    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    store = manifest.MockObjectStore()
    backend = manifest.ConditionalPutCommitBackend(store)
    rival = manifest.ConditionalPutCommitBackend(store)
    fired = {"n": 0}
    with manifest.default_commit_backend(backend):
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") < 100), table, 0,
            enforce_schema=True,
        )

        def rival_evolves_schema(key: str) -> None:
            # inside the victim's publish window: a rival lands batch 1
            # carrying a NEW column `src`, evolving the table schema
            # after the victim's pre-write check already passed
            if fired["n"] == 0 and key.endswith("v000000000001.json"):
                fired["n"] += 1
                store.interpose = None
                try:
                    manifest.write_and_commit_batch(
                        spark,
                        raw.where(F.col("id") >= 100).withColumn(
                            "src", F.lit("rival")
                        ),
                        table, 1,
                    )
                finally:
                    store.interpose = rival_evolves_schema

        store.interpose = rival_evolves_schema
        # victim batch lacks `src`: its pre-write check saw the
        # pre-rival table and passed; the conflict retry must re-check
        # and refuse the now-dropping write
        with pytest.raises(manifest.SchemaEnforcementError, match="drops"):
            manifest.write_and_commit_batch(
                spark, raw.where(F.col("id") < 10), table, 2,
                enforce_schema=True,
            )
        store.interpose = None
    assert fired["n"] == 1
    # the rival's version is the table's latest; the victim landed none
    assert manifest.latest_version(spark, table) == 1
    assert 2 not in manifest.read_manifest(spark, table)["batch_ids"]


def test_cdf_replication_through_upsert_and_later_reinsert(spark, tmp_path):
    # replication correctness on the two delete-ordering edges: an
    # UPSERT version (delete+insert atomically — the delete must mask
    # replicated old rows but not the same trigger's new rows), and a
    # LATER plain re-insert of previously deleted keys (the cutoff
    # keeps it visible). Replica snapshot must equal source snapshot.
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    manifest_cdf_stream.register(spark)
    table = str(tmp_path / "src")
    replica = str(tmp_path / "dst")
    raw = _raw(spark)
    streaming.write_batch_partition(raw.where(F.col("id") < 100), table, 0)
    manifest.commit_batch(spark, table, 0)
    # v1: upsert ids < 20 with bumped values (batch 1 + delete d0, one commit)
    updates = raw.where(F.col("id") < 20).select(
        "id", "k", (F.col("v") + 0.5).alias("v")
    )
    manifest.commit_upsert(spark, table, updates, ["id"], 1, 0)
    # v2: plain re-insert of ids 0..9 with original values — the upsert's
    # cutoff delete must NOT eat these on either side
    streaming.write_batch_partition(raw.where(F.col("id") < 10), table, 2)
    manifest.commit_batch(spark, table, 2)

    changes = (
        spark.readStream.format("manifest_cdf_stream")
        .schema("id long, k string, v double, _change_type string,"
                " _commit_version long")
        .option("path", table)
        .option("startingVersion", "0")
        .load()
    )

    def apply_changes(batch_df, batch_id: int) -> None:
        pinned = batch_df.localCheckpoint()
        versions = sorted(
            r["_commit_version"]
            for r in pinned.select("_commit_version").distinct().collect()
        )
        for v in versions:
            step = pinned.filter(F.col("_commit_version") == v).drop(
                "_commit_version"
            )
            ins = step.filter(F.col("_change_type") == "insert").drop(
                "_change_type"
            )
            dels = step.filter(F.col("_change_type") == "delete").select("id")
            if not dels.isEmpty():
                cur = manifest.read_manifest(spark, replica)
                cutoff = max(cur["batch_ids"], default=-1)
                manifest.commit_deletes(
                    spark, replica, dels, delete_id=v, cutoff=cutoff
                )
            if not ins.isEmpty():
                manifest.write_and_commit_batch(spark, ins, replica, v)

    q = (
        changes.writeStream.foreachBatch(apply_changes)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    src_rows = sorted(
        map(tuple, manifest.read_snapshot_rows(spark, table).collect())
    )
    rep_rows = sorted(
        map(tuple, manifest.read_snapshot_rows(spark, replica).collect())
    )
    assert rep_rows == src_rows and len(rep_rows) > 0
    # spot the semantics: ids<10 appear TWICE (upserted value + re-insert),
    # ids 10..19 once with +0.5, ids 20..99 once with the original value
    from collections import Counter

    counts = Counter(t[0] for t in rep_rows)
    assert all(counts[i] == 2 for i in range(10))
    assert all(counts[i] == 1 for i in range(10, 100))


def test_byte_capped_end_model():
    # model-check the admission decision as a pure function over random
    # commit logs (memory backend, no Spark): the admitted endpoint is
    # maximal under the cap — within budget OR the forced single
    # version, and never extendable by one more version within budget
    import json as _json
    import random

    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    rng = random.Random(11)
    mem = storage.get_backend("memory://bcap")
    for trial in range(30):
        mem.clear()
        tbl = "memory://bcap"
        n_versions = rng.randint(2, 12)
        ids: list[int] = []
        stats: dict = {}
        per_version_new: list[list[int]] = []
        next_id = 0
        for v in range(n_versions):
            new = []
            for _ in range(rng.randint(0, 3)):
                b = next_id if rng.random() < 0.9 else -(next_id + 1)
                next_id += 1
                if b >= 0:
                    stats[str(b)] = {"_bytes": rng.choice([0, 10, 100, 1000])}
                ids.append(b)
                new.append(b)
            per_version_new.append(new)
            mem.put(
                f"{tbl}/_manifests/v{v:012d}.json",
                _json.dumps(
                    {"version": v, "batch_ids": sorted(ids), "stats": stats}
                ).encode(),
            )
        floor = rng.randint(0, n_versions - 2)
        latest = n_versions - 1
        cap = rng.choice([1, 50, 500, 5000])
        got = ms._byte_capped_end(mem, tbl, floor, latest, cap)

        def cost(upto: int) -> int:
            return sum(
                stats[str(b)]["_bytes"]
                for v in range(floor + 1, upto + 1)
                for b in per_version_new[v]
                if b >= 0
            )

        assert floor + 1 <= got <= latest
        assert got == floor + 1 or cost(got) <= cap
        if got < latest:
            assert cost(got + 1) > cap  # maximality: one more would bust
    mem.clear()


def _mem_cdf_table(mem, tbl):
    """A memory:// manifest table in the commit_upsert shape: v0 =
    batch 0 (ids 1..4), v1 = batch 1 (new values for ids 1,2 plus a
    NEVER-PRESENT id 9) + delete group 0 keyed on id {1,2,9} with
    cutoff 0 — the atomic MERGE a CDF pairing consumer cares about."""
    import io
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    def put_parquet(path, table):
        buf = io.BytesIO()
        pq.write_table(table, buf)
        mem.put(path, buf.getvalue())

    put_parquet(
        f"{tbl}/_batch_id=0/part-0.parquet",
        pa.table(
            {
                "id": pa.array([1, 2, 3, 4], pa.int64()),
                "v": pa.array([10.0, 20.0, 30.0, 40.0]),
            }
        ),
    )
    put_parquet(
        f"{tbl}/_batch_id=1/part-0.parquet",
        pa.table(
            {
                "id": pa.array([1, 2, 9], pa.int64()),
                "v": pa.array([11.0, 22.0, 99.0]),
            }
        ),
    )
    put_parquet(
        f"{tbl}/_deletes/d00000000/part-0.parquet",
        pa.table({"id": pa.array([1, 2, 9], pa.int64())}),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000000.json",
        _json.dumps({"version": 0, "batch_ids": [0], "delete_ids": []}).encode(),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000001.json",
        _json.dumps(
            {
                "version": 1,
                "batch_ids": [0, 1],
                "delete_ids": [0],
                "delete_cutoffs": {"0": 0},
            }
        ).encode(),
    )


def _cdf_schema():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("id", LongType()),
            StructField("v", DoubleType()),
            StructField("_change_type", StringType()),
        ]
    )


def test_cdf_update_image_pairing_and_default_unpaired():
    # keyColumns pairing (Delta CDF parity): an upsert version's
    # delete rows emit as update_preimage and its key-matching insert
    # rows as update_postimage; a never-present upserted key emits a
    # postimage with NO preimage (the documented divergence from
    # MERGE). Without the option, the same log stays delete+insert.
    import pyarrow as pa

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdfpair")
    mem.clear()
    tbl = "memory://cdfpair"
    _mem_cdf_table(mem, tbl)
    schema = _cdf_schema()

    def drain(opts):
        r = mc.ManifestCDFStreamReader(schema, {"path": tbl, **opts})
        parts = r.partitions({"version": 0}, {"version": 1})
        rows = []
        for p in parts:
            for rb in r.read(p):
                t = pa.Table.from_batches([rb])
                rows += list(
                    zip(
                        t.column("id").to_pylist(),
                        t.column("v").to_pylist(),
                        t.column("_change_type").to_pylist(),
                    )
                )
        return sorted(rows)

    paired = drain({"startingversion": "0", "keycolumns": "id"})
    assert paired == [
        (1, 10.0, "update_preimage"),
        (1, 11.0, "update_postimage"),
        (2, 20.0, "update_preimage"),
        (2, 22.0, "update_postimage"),
        (9, 99.0, "update_postimage"),  # never-present key: no preimage
    ]
    unpaired = drain({"startingversion": "0"})
    assert unpaired == [
        (1, 10.0, "delete"),
        (1, 11.0, "insert"),
        (2, 20.0, "delete"),
        (2, 22.0, "insert"),
        (9, 99.0, "insert"),
    ]
    # pairing only engages when the delete groups are keyed EXACTLY on
    # keyColumns — a different key column leaves the step unpaired
    assert drain({"startingversion": "0", "keycolumns": "v"}) == unpaired
    # option validation: unknown / meta columns refuse up front
    for bad in ("nope", "_change_type", ""):
        with pytest.raises(ValueError, match="keyColumns"):
            mc.ManifestCDFStreamReader(
                schema, {"path": tbl, "keycolumns": bad}
            )
    mem.clear()


def test_cdf_key_frame_size_guard():
    # the broadcast-small premise, enforced: a plan whose cumulative
    # partition-riding key bytes exceed maxKeyFrameBytes refuses loudly
    # steering to compaction; the default cap leaves small plans alone
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdfguard")
    mem.clear()
    tbl = "memory://cdfguard"
    _mem_cdf_table(mem, tbl)
    schema = _cdf_schema()
    # default cap: fine
    r = mc.ManifestCDFStreamReader(schema, {"path": tbl, "startingversion": "0"})
    assert len(r.partitions({"version": 0}, {"version": 1})) > 0
    # tiny cap: the same plan refuses with the named remedy
    r2 = mc.ManifestCDFStreamReader(
        schema,
        {"path": tbl, "startingversion": "0", "maxkeyframebytes": "8"},
    )
    with pytest.raises(ValueError, match="maxKeyFrameBytes"):
        r2.partitions({"version": 0}, {"version": 1})
    # cap 0 disables the guard
    r3 = mc.ManifestCDFStreamReader(
        schema,
        {"path": tbl, "startingversion": "0", "maxkeyframebytes": "0"},
    )
    assert len(r3.partitions({"version": 0}, {"version": 1})) > 0
    mem.clear()


def test_cdf_masked_paths_stream_arrow_side():
    # the masked read paths process RecordBatch-at-a-time arrow-side:
    # a masked insert file excludes delete keys per batch, and a delete
    # partition emits only matched rows, deduplicated per file even
    # when the file carries physical duplicates across row groups
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdfarrow")
    mem.clear()
    tbl = "memory://cdfarrow"
    _mem_cdf_table(mem, tbl)
    schema = _cdf_schema()
    # duplicate a batch-0 row across TWO row groups of the same file so
    # per-batch processing must still dedup the matched delete rows
    dup = pa.table(
        {
            "id": pa.array([1, 2, 3, 4, 1], pa.int64()),
            "v": pa.array([10.0, 20.0, 30.0, 40.0, 10.0]),
        }
    )
    buf = io.BytesIO()
    pq.write_table(dup, buf, row_group_size=3)
    mem.put(f"{tbl}/_batch_id=0/part-0.parquet", buf.getvalue())
    r = mc.ManifestCDFStreamReader(schema, {"path": tbl, "startingversion": "0"})
    parts = r.partitions({"version": 0}, {"version": 1})
    dels = [p for p in parts if p.deletes]
    assert len(dels) == 1 and dels[0].insert is None
    got = pa.Table.from_batches(list(r.read(dels[0])))
    assert sorted(
        zip(got.column("id").to_pylist(), got.column("v").to_pylist())
    ) == [(1, 10.0), (2, 20.0)]  # duplicate (1, 10.0) emitted once
    # masked INSERT: read batch 0's file as the post-delete snapshot
    # (exclude = the delete keys) — ids 1,2 drop, 3,4 survive, and the
    # duplicate of id 1 drops in BOTH row-group batches
    snap = mc.ManifestCDFStreamReader(schema, {"path": tbl})
    sparts = snap.partitions({"version": -1}, {"version": 1})
    b0 = [p for p in sparts if "_batch_id=0" in p.path]
    assert b0 and b0[0].insert[0]  # masked: the delete group applies
    rows = []
    for rb in snap.read(b0[0]):
        t = pa.Table.from_batches([rb])
        rows += list(
            zip(t.column("id").to_pylist(), t.column("v").to_pylist())
        )
    assert sorted(rows) == [(3, 30.0), (4, 40.0)]
    mem.clear()


def test_cdf_masked_paths_handle_nested_payload_columns():
    # regression (r12 self-review finding 1): the arrow rewrite's
    # membership joins must probe KEY COLUMNS ONLY — Acero hash join
    # rejects nested types even as non-key payload fields, so joining
    # the full-width table crashed any masked read of a table carrying
    # an array/struct column (the embedding shape every LLM pipeline
    # table has)
    import io
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdfnested")
    mem.clear()
    tbl = "memory://cdfnested"

    def put_parquet(path, table):
        buf = io.BytesIO()
        pq.write_table(table, buf)
        mem.put(path, buf.getvalue())

    put_parquet(
        f"{tbl}/_batch_id=0/part-0.parquet",
        pa.table(
            {
                "id": pa.array([1, 2, 3], pa.int64()),
                "emb": pa.array(
                    [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]],
                    pa.list_(pa.float64()),
                ),
            }
        ),
    )
    put_parquet(
        f"{tbl}/_deletes/d00000000/part-0.parquet",
        pa.table({"id": pa.array([2], pa.int64())}),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000000.json",
        _json.dumps({"version": 0, "batch_ids": [0], "delete_ids": []}).encode(),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000001.json",
        _json.dumps(
            {"version": 1, "batch_ids": [0], "delete_ids": [0]}
        ).encode(),
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("emb", ArrayType(DoubleType())),
            StructField("_change_type", StringType()),
        ]
    )
    # masked INSERT (initial snapshot at v1): nested column rides along
    snap = mc.ManifestCDFStreamReader(schema, {"path": tbl})
    (ipart,) = snap.partitions({"version": -1}, {"version": 1})
    assert ipart.insert[0]
    got = pa.Table.from_batches([rb for rb in snap.read(ipart)])
    assert got.column("id").to_pylist() == [1, 3]
    assert got.column("emb").to_pylist() == [[1.0, 2.0], [5.0, 6.0]]
    # DELETE partition: matched row with its nested payload (per-file
    # dedup falls back to emit-as-is for unhashable types)
    tail = mc.ManifestCDFStreamReader(
        schema, {"path": tbl, "startingversion": "0"}
    )
    dparts = [
        p
        for p in tail.partitions({"version": 0}, {"version": 1})
        if p.deletes
    ]
    got_d = pa.Table.from_batches(
        [rb for p in dparts for rb in tail.read(p)]
    )
    assert got_d.column("id").to_pylist() == [2]
    assert got_d.column("emb").to_pylist() == [[3.0, 4.0]]
    assert got_d.column("_change_type").to_pylist() == ["delete"]
    mem.clear()


def test_cdf_pairing_requires_true_upsert_cutoff_shape():
    # regression (r12 self-review finding 2): a version committing an
    # append PLUS a cutoff-None plain delete keyed on keyColumns is
    # NOT the commit_upsert shape — the delete masks the co-committed
    # batch too, so its retractions are real deletes (no postimage
    # exists: the new rows are masked out). Pairing must not relabel
    # them update_preimage.
    import io
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdfmixed")
    mem.clear()
    tbl = "memory://cdfmixed"

    def put_parquet(path, table):
        buf = io.BytesIO()
        pq.write_table(table, buf)
        mem.put(path, buf.getvalue())

    put_parquet(
        f"{tbl}/_batch_id=0/part-0.parquet",
        pa.table(
            {
                "id": pa.array([1, 2, 3, 4], pa.int64()),
                "v": pa.array([10.0, 20.0, 30.0, 40.0]),
            }
        ),
    )
    put_parquet(
        f"{tbl}/_batch_id=1/part-0.parquet",
        pa.table(
            {"id": pa.array([1, 2], pa.int64()), "v": pa.array([11.0, 22.0])}
        ),
    )
    # cutoff-None plain delete committed ALONGSIDE batch 1: masks both
    put_parquet(
        f"{tbl}/_deletes/d00000000/part-0.parquet",
        pa.table({"id": pa.array([1, 2], pa.int64())}),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000000.json",
        _json.dumps({"version": 0, "batch_ids": [0], "delete_ids": []}).encode(),
    )
    mem.put(
        f"{tbl}/_manifests/v000000000001.json",
        _json.dumps(
            {"version": 1, "batch_ids": [0, 1], "delete_ids": [0]}
        ).encode(),
    )
    schema = _cdf_schema()
    r = mc.ManifestCDFStreamReader(
        schema, {"path": tbl, "startingversion": "0", "keycolumns": "id"}
    )
    rows = []
    for p in r.partitions({"version": 0}, {"version": 1}):
        for rb in r.read(p):
            t = pa.Table.from_batches([rb])
            rows += list(
                zip(
                    t.column("id").to_pylist(),
                    t.column("v").to_pylist(),
                    t.column("_change_type").to_pylist(),
                )
            )
    # real deletes of the old rows, nothing else: the co-committed
    # batch's rows are masked by the same cutoff-None group
    assert sorted(rows) == [(1, 10.0, "delete"), (2, 20.0, "delete")]
    mem.clear()


def test_cdf_batch_reader_option_contract():
    # batch table_changes: start required, end defaults to latest and
    # is validated against the log; planning/read shared with the
    # stream reader (same partitions objects)
    import pyarrow as pa

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://cdfbatch")
    mem.clear()
    tbl = "memory://cdfbatch"
    _mem_cdf_table(mem, tbl)  # versions 0 (append) and 1 (upsert)
    schema = _cdf_schema()
    with pytest.raises(ValueError, match="startingVersion or"):
        mc.ManifestCDFBatchReader(schema, {"path": tbl})
    with pytest.raises(ValueError, match="exceeds the latest"):
        mc.ManifestCDFBatchReader(
            schema,
            {"path": tbl, "startingversion": "0", "endingversion": "9"},
        )
    with pytest.raises(ValueError, match="precedes the resolved"):
        mc.ManifestCDFBatchReader(
            schema,
            {"path": tbl, "startingversion": "1", "endingversion": "0"},
        )
    r = mc.ManifestCDFBatchReader(schema, {"path": tbl, "startingversion": "0"})
    rows = []
    for p in r.partitions():
        for rb in r.read(p):
            t = pa.Table.from_batches([rb])
            rows += list(
                zip(
                    t.column("id").to_pylist(),
                    t.column("_change_type").to_pylist(),
                )
            )
    # whole log: v0 inserts 1..4; v1 deletes OLD 1,2 and inserts NEW
    # 1,2,9 — upserted keys carry two insert rows (old value at v0,
    # new value at v1) plus the retraction between them
    assert sorted(rows) == [
        (1, "delete"), (1, "insert"), (1, "insert"),
        (2, "delete"), (2, "insert"), (2, "insert"),
        (3, "insert"), (4, "insert"), (9, "insert"),
    ]
    mem.clear()


def test_version_as_of_timestamp_resolution(spark, tmp_path):
    # timestampAsOf (batch time travel): largest version with manifest
    # mtime <= ts; before-first-commit and aged-out-of-retention refuse
    import time

    table = str(tmp_path / "tbl")
    raw = _raw(spark)
    t_before = time.time()
    stamps = []
    for b in range(3):
        manifest.write_and_commit_batch(
            spark, raw.where(F.col("id") % 3 == b), table, b
        )
        stamps.append(time.time())
    for v, t in enumerate(stamps):
        assert manifest.version_as_of_timestamp(spark, table, t) == v
    assert manifest.version_as_of_timestamp(spark, table, t_before + 1e9) == 2
    with pytest.raises(ValueError, match="newer"):
        manifest.version_as_of_timestamp(spark, table, t_before - 10)
    # the resolved snapshot really is the historical one
    v0 = manifest.version_as_of_timestamp(spark, table, stamps[0])
    assert manifest.read_snapshot_rows(spark, table, version=v0).count() == (
        raw.where(F.col("id") % 3 == 0).count()
    )


def test_starting_timestamp_resolution_and_option_contract():
    # startingTimestamp (Delta parity): binary search over monotone
    # manifest mtimes to the first version committed at/after T;
    # all-older -> future-commits-only; empty table -> version 0;
    # vacuumed (mtime-less) prefixes count as old; mutually exclusive
    # with startingVersion; mtime-less backends refuse loudly
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://stts")
    mem.clear()
    tbl = "memory://stts"
    # versions 0..4 committed at t=100,200,300,400,500
    for v in range(5):
        mem.put(
            f"{tbl}/_manifests/v{v:012d}.json",
            _json.dumps({"version": v, "batch_ids": list(range(v + 1))}).encode(),
            mtime=100.0 * (v + 1),
        )
        mem.put(f"{tbl}/_batch_id={v}/part-0.parquet", b"PAR1", mtime=1.0)
    R = ms.resolve_starting_timestamp
    assert R(mem, tbl, 50.0) == 0      # before everything
    assert R(mem, tbl, 100.0) == 0     # boundary inclusive
    assert R(mem, tbl, 250.0) == 2     # mid-log
    assert R(mem, tbl, 500.0) == 4     # last commit exactly
    assert R(mem, tbl, 501.0) == 5     # all older: future commits only
    # vacuumed prefix: resolutions whose replay BASELINE survives keep
    # working; a resolution landing on the retention floor refuses
    # loudly (its baseline manifest is gone — a tail from there cannot
    # be exact), instead of returning an unreadable stream
    mem.delete(f"{tbl}/_manifests/v000000000000.json")
    assert R(mem, tbl, 250.0) == 2     # baseline v1 still retained
    with pytest.raises(ValueError, match="vacuumed"):
        R(mem, tbl, 150.0)             # resolves to v1; baseline v0 gone
    with pytest.raises(ValueError, match="vacuumed"):
        R(mem, tbl, 50.0)              # predates retained history
    # an existing manifest the backend cannot stat refuses, never
    # silently classifies as old
    saved = mem.mtimes.pop(mem._norm(f"{tbl}/_manifests/v000000000002.json"))
    with pytest.raises(ValueError, match="EXISTING manifest"):
        R(mem, tbl, 250.0)
    mem.mtimes[mem._norm(f"{tbl}/_manifests/v000000000002.json")] = saved
    # the reader wires it as startingVersion=resolved (inclusive tail)
    schema = StructType([StructField("id", LongType())])
    r = ms.ManifestStreamReader(
        schema, {"path": tbl, "startingtimestamp": "450"}
    )
    assert r.starting == 3 and not r.snapshot_mode
    parts = r.partitions({"version": r.starting}, {"version": 4})
    assert [p.path for p in parts] == [f"{tbl}/_batch_id=4/part-0.parquet"]
    # ISO form parses; CDF reader shares the contract
    r2 = mc.ManifestCDFStreamReader(
        _cdf_schema(),
        {"path": tbl, "startingtimestamp": "1970-01-01 00:07:00"},
    )
    assert r2.starting == 3  # 420s -> first commit at/after is v4
    with pytest.raises(ValueError, match="mutually exclusive"):
        ms.ManifestStreamReader(
            schema,
            {"path": tbl, "startingversion": "1", "startingtimestamp": "9"},
        )
    # a backend without mtimes refuses rather than skipping history
    class _NoMtime(storage.MemoryBackend):
        def mtime(self, path):
            return None

    nm = _NoMtime(dict(mem.store))
    with pytest.raises(ValueError, match="modification time"):
        ms.resolve_starting_timestamp(nm, tbl, 250.0)
    # empty table: first future commit is v0
    # FUTURE timestamps refuse (r12 advice + r13 review): a commit
    # landing between now and a future T carries mtime < T yet would
    # be emitted — on an empty table AND on the all-older tail path.
    # Past timestamps stay usable (unlike Delta's blanket refusal of
    # any ts past the last commit): a commit landing after resolution
    # gets mtime >= now >= ts, so the contract holds.
    future = 4102444800.0  # 2100-01-01
    with pytest.raises(ValueError, match="future"):
        R(mem, tbl, future)
    mem2 = storage.get_backend("memory://sttsempty")
    mem2.clear()
    assert R(mem2, "memory://sttsempty", 123.0) == 0  # past ts: sound
    with pytest.raises(ValueError, match="future"):
        R(mem2, "memory://sttsempty", future)
    # injectable clock: what counts as "future" is resolution-time now
    assert R(mem2, "memory://sttsempty", 123.0, now=200.0) == 0
    with pytest.raises(ValueError, match="future"):
        R(mem2, "memory://sttsempty", 123.0, now=100.0)
    # the shared helper handles None at `latest` itself (the exported
    # contract: None = definitely-older), no caller pre-guard needed
    assert manifest_log.min_version_at_or_after(lambda v: None, 4, 10.0) == 5
    mem.clear()
    mem2.clear()
    # parse safety (r12 self-review finding 2): compact ISO parses as a
    # DATE, not as epoch seconds; epoch-milliseconds habits and
    # NaN/inf refuse loudly instead of silently mis-resolving
    import datetime as _dt

    assert ms._parse_timestamp("20260816") == _dt.datetime(
        2026, 8, 16, tzinfo=_dt.timezone.utc
    ).timestamp()
    assert ms._parse_timestamp("450") == 450.0
    assert ms._parse_timestamp(450) == 450.0
    # invalid 8-digit "dates" (month 00) fall to the numeric path —
    # matching fromisoformat's acceptance set, but via an explicit
    # %Y%m%d match so the behavior is interpreter-version-independent
    assert ms._parse_timestamp("86400000") == 86400000.0
    for bad in ("1755302400000", "nan", "inf", "-5"):
        with pytest.raises(ValueError, match="epoch"):
            ms._parse_timestamp(bad)


def test_skip_change_commits_skips_change_versions_whole():
    # Delta's skipChangeCommits parity on the append-only source: a
    # tail version that adds deletes is skipped WHOLE (its co-committed
    # inserts are an upsert's updates, not appends), pure appends
    # stream through, and the skipped batch never re-emits later
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://skipcc")
    mem.clear()
    tbl = "memory://skipcc"
    for b in range(3):
        mem.put(f"{tbl}/_batch_id={b}/part-0.parquet", b"PAR1")
    logs = [
        {"version": 0, "batch_ids": [0], "delete_ids": []},
        # v1 = change commit: upsert shape (new batch + new delete)
        {"version": 1, "batch_ids": [0, 1], "delete_ids": [0],
         "delete_cutoffs": {"0": 0}},
        # v2 = pure append
        {"version": 2, "batch_ids": [0, 1, 2], "delete_ids": [0],
         "delete_cutoffs": {"0": 0}},
    ]
    for m in logs:
        mem.put(
            f"{tbl}/_manifests/v{m['version']:012d}.json",
            _json.dumps(m).encode(),
        )
    schema = StructType([StructField("id", LongType())])
    r = ms.ManifestStreamReader(
        schema,
        {"path": tbl, "startingversion": "0", "skipchangecommits": "true"},
    )
    parts = r.partitions({"version": -1}, {"version": 2})
    assert sorted(p.path for p in parts) == [
        f"{tbl}/_batch_id=0/part-0.parquet",  # v0 append
        f"{tbl}/_batch_id=2/part-0.parquet",  # v2 append; v1 skipped whole
    ]
    # ...and batch 1 does not sneak into a LATER step either
    r2 = ms.ManifestStreamReader(
        schema,
        {"path": tbl, "startingversion": "0", "skipchangecommits": "true"},
    )
    assert [
        p.path for p in r2.partitions({"version": 1}, {"version": 2})
    ] == [f"{tbl}/_batch_id=2/part-0.parquet"]
    # without the option the change commit still refuses loudly
    r3 = ms.ManifestStreamReader(schema, {"path": tbl, "startingversion": "0"})
    with pytest.raises(ValueError, match="append-only stream"):
        r3.partitions({"version": -1}, {"version": 2})
    # the two delete-handling options are mutually exclusive
    with pytest.raises(ValueError, match="mutually exclusive"):
        ms.ManifestStreamReader(
            schema,
            {"path": tbl, "skipchangecommits": "true",
             "ignoredeletes": "true"},
        )
    mem.clear()


def test_strict_schema_check_catches_never_carried_columns():
    # the typo'd-declared-column footgun (ADVICE r11 item 1), closed by
    # the opt-in: strictSchemaCheck=true validates declared data
    # columns against one footer per batch at FIRST plan and raises on
    # names no batch ever carried; the default stays typed-null
    # tolerant, and a column carried by ANY batch passes strict
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream as mc
    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://strict")
    mem.clear()
    tbl = "memory://strict"
    _mem_cdf_table(mem, tbl)  # batches carry columns id, v

    typo = StructType(
        [StructField("id", LongType()), StructField("vv", DoubleType())]
    )
    r = ms.ManifestStreamReader(
        typo, {"path": tbl, "strictschemacheck": "true"}
    )
    with pytest.raises(ValueError, match=r"\['vv'\].*strictSchemaCheck"):
        r.partitions({"version": -1}, {"version": 0})
    # same option through the CDF reader, meta columns skipped
    typo_cdf = StructType(
        [
            StructField("id", LongType()),
            StructField("vv", DoubleType()),
            StructField("_change_type", StringType()),
        ]
    )
    r2 = mc.ManifestCDFStreamReader(
        typo_cdf, {"path": tbl, "strictschemacheck": "true"}
    )
    with pytest.raises(ValueError, match=r"\['vv'\]"):
        r2.partitions({"version": -1}, {"version": 1})
    # correct declared names pass strict on both sources, and the
    # check runs once (flag set after the first plan)
    ok = StructType(
        [StructField("id", LongType()), StructField("v", DoubleType())]
    )
    r3 = ms.ManifestStreamReader(
        ok, {"path": tbl, "strictschemacheck": "true"}
    )
    assert len(r3.partitions({"version": -1}, {"version": 0})) > 0
    assert r3._strict_checked
    ok_cdf = _cdf_schema()
    r4 = mc.ManifestCDFStreamReader(
        ok_cdf, {"path": tbl, "strictschemacheck": "true"}
    )
    assert len(r4.partitions({"version": -1}, {"version": 1})) > 0
    # default (no option): the typo'd column reads as typed nulls
    r5 = ms.ManifestStreamReader(typo, {"path": tbl})
    parts = r5.partitions({"version": -1}, {"version": 0})
    import pyarrow as pa

    got = pa.Table.from_batches(
        [rb for p in parts for rb in r5.read(p)]
    )
    assert got.column("vv").null_count == got.num_rows
    mem.clear()


def test_byte_capped_end_mid_walk_vacuum_returns_latest():
    # ADVICE r11: vacuum removing a manifest in (floor, latest] while
    # the byte-cap walk is in flight must NOT leak a raw
    # FileNotFoundError out of latestOffset() — the admission decision
    # returns `latest` uncapped so partitions() walks the gap and
    # raises its descriptive vacuum-retention ValueError instead
    import json as _json

    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://bcapvac")
    mem.clear()
    tbl = "memory://bcapvac"
    for v in range(4):
        mem.put(
            f"{tbl}/_manifests/v{v:012d}.json",
            _json.dumps(
                {
                    "version": v,
                    "batch_ids": list(range(v + 1)),
                    "stats": {str(v): {"_bytes": 10}},
                }
            ).encode(),
        )
    # vacuum takes out v2, strictly inside (floor=0, latest=3]
    mem.delete(f"{tbl}/_manifests/v000000000002.json")
    assert ms._byte_capped_end(mem, tbl, 0, 3, 5) == 3
    # and the planning walk over that gap surfaces the loud error
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("id", IntegerType())])
    r = ms.ManifestStreamReader(schema, {"path": tbl, "startingversion": "0"})
    with pytest.raises(ValueError, match="vacuum retention"):
        r.partitions({"version": 0}, {"version": 3})
    mem.clear()


def test_vacuum_dry_run_and_age_retention(spark, tmp_path):
    # dry_run reports the exact would-delete counts without touching a
    # byte (no deletes, no checkpoint refresh); keep_hours widens
    # retention by manifest AGE (the Delta RETAIN-N-HOURS contract) —
    # fresh manifests survive a keep_versions=1 vacuum, and the
    # retained set stays a contiguous version suffix
    import os

    table = str(tmp_path / "tbl")
    raw = _write_committed_batches(spark, table)
    manifest.compact_snapshot(spark, table, upto_batch=2)
    before_versions = manifest.list_versions(spark, table)
    before_parts = streaming.list_batch_partitions(spark, table)
    ckpt_before = manifest.read_checkpoint(spark, table)
    # dry run: same counts the real pass would report, nothing changed
    dirs, mans = manifest.vacuum(spark, table, keep_versions=1, dry_run=True)
    assert (dirs, mans) == (3, 4)
    assert manifest.list_versions(spark, table) == before_versions
    assert streaming.list_batch_partitions(spark, table) == before_parts
    assert manifest.read_checkpoint(spark, table) == ckpt_before
    # age retention: everything here is seconds old, so a 1h window
    # retains every version even at keep_versions=1
    dirs, mans = manifest.vacuum(spark, table, keep_versions=1, keep_hours=1.0)
    assert (dirs, mans) == (0, 0)
    assert manifest.list_versions(spark, table) == before_versions
    # age the old manifests out by backdating their mtimes, then the
    # same call reclaims exactly the pre-compaction history
    for v in before_versions[:-1]:
        p = manifest_log.version_path(table, v)
        os.utime(p, (1_000_000_000, 1_000_000_000))
    dirs, mans = manifest.vacuum(spark, table, keep_versions=1, keep_hours=1.0)
    assert (dirs, mans) == (3, 4)
    assert manifest.list_versions(spark, table) == [before_versions[-1]]
    assert _agg_rows(manifest.read_snapshot_agg(spark, table)) == _direct_rows(raw)
