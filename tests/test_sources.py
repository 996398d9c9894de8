"""Source/sink round-trips beyond the reference's CSV+parquet surface
(SURVEY.md §2.1): JSON-lines, ORC, and batch dynamic partition overwrite.

Round-trip = write the frame, read it back, compare the full multiset of
rows AND the schema — a sink that silently widens types (JSON) or drops
partition columns would pass a count-only check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_googleplaystore_spark import sources
from bigdata_googleplaystore_spark.sources import manifest_log


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_json_lines_roundtrip_with_schema(spark, sf_dir, tmp_path):
    src = sources.load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_json")
    sources.write_json(src, path)
    # schema-on-read: an explicit schema restores the exact types
    # (inference would widen n_nationkey to bigint but ints survive; a
    # DATE column would NOT — JSON carries no date type, which is why
    # the loader demands a schema at scale)
    back = sources.read_json(spark, path, schema=src.schema)
    assert back.schema == src.schema
    cols = [f.name for f in src.schema.fields]
    assert _rows(back, cols) == _rows(src, cols)


def test_orc_roundtrip_preserves_types_and_values(spark, sf_dir, tmp_path):
    src = sources.load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    sources.write_orc(src, path)
    back = sources.read_orc(spark, path)
    assert back.schema == src.schema
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    assert _rows(back, cols) == _rows(src, cols)


def test_orc_scan_pushes_filters(spark, sf_dir, tmp_path):
    src = sources.load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc_pushdown")
    sources.write_orc(src, path)
    plan = (
        sources.read_orc(spark, path)
        .filter(F.col("o_orderkey") == 7)
        .select("o_orderkey", "o_totalprice")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,7)" in plan


def test_dynamic_partition_overwrite_batch(spark, sf_dir, tmp_path):
    """mode=overwrite + partitionOverwriteMode=dynamic must replace ONLY
    the partitions present in the incoming frame — static overwrite
    (the default) would wipe the whole table. This is the batch half of
    the exactly-once foreachBatch sink pattern (streaming half tested in
    test_streaming.py)."""
    e = sources.load_table(spark, sf_dir, "events").select("event_id", "event_type")
    path = str(tmp_path / "events_dyn")
    sources.write_parquet(e, path, partition_by=["event_type"])
    total_before = spark.read.parquet(path).count()
    one_type = (
        e.filter(F.col("event_type") == "click")
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    n_click = one_type.count()
    (
        one_type.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    after = spark.read.parquet(path)
    assert after.count() == total_before  # click replaced 1:1, others intact
    assert after.filter(F.col("event_type") == "click").count() == n_click
    # the rewritten partition really is the new data
    assert (
        after.filter(
            (F.col("event_type") == "click") & (F.col("event_id") < 10_000_000)
        ).count()
        == 0
    )
    # and a non-targeted partition survived untouched
    assert (
        after.filter(F.col("event_type") != "click").count()
        == total_before - n_click
    )


def test_csv_malformed_row_modes(spark, tmp_path):
    """The three malformed-row policies on a dirty CSV (the reference's
    own input famously has a column-shifted row: SURVEY.md §1.2)."""
    import pytest as _pytest

    from bigdata_googleplaystore_spark import sources

    p = tmp_path / "dirty.csv"
    p.write_text(
        "id,price,name\n"
        "1,9.99,widget\n"
        "oops_not_an_int,free,gadget\n"
        "3,1.50,bolt\n"
    )
    schema = "id INT, price DOUBLE, name STRING"

    # PERMISSIVE + capture: bad row kept, typed fields null, raw line saved
    df = sources.read_csv(
        spark, str(p), schema, corrupt_record_col="_bad", mode="PERMISSIVE"
    )
    rows = {r["name"]: r for r in df.collect()}
    assert rows["widget"]["_bad"] is None and rows["widget"]["id"] == 1
    assert rows["gadget"]["id"] is None
    assert rows["gadget"]["_bad"] == "oops_not_an_int,free,gadget"

    # DROPMALFORMED: bad row gone
    dropped = sources.read_csv(spark, str(p), schema, mode="DROPMALFORMED")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 3]

    # FAILFAST: read aborts
    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        sources.read_csv(spark, str(p), schema, mode="FAILFAST").collect()


def test_csv_multiline_quoted_fields(spark, tmp_path):
    from bigdata_googleplaystore_spark import sources

    p = tmp_path / "multi.csv"
    p.write_text('id,note\n1,"line one\nline two"\n2,plain\n')
    df = sources.read_csv(spark, str(p), "id INT, note STRING", multiline=True)
    rows = {r["id"]: r["note"] for r in df.collect()}
    assert rows[1] == "line one\nline two"
    assert rows[2] == "plain"


def test_custom_python_datasource(spark):
    """Spark 4 Python DataSource API: registered format, option handling,
    explicit partition plan (parallel python readers), deterministic
    content."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("docgen")
        .option("rows", 500)
        .option("partitions", 8)
        .load()
    )
    assert df.count() == 500
    assert df.select("id").distinct().count() == 500
    # the scan really fans out over the declared partitions
    nparts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nparts == 8
    # deterministic: same rows on a re-read with different parallelism
    df2 = (
        spark.read.format("docgen")
        .option("rows", 500)
        .option("partitions", 3)
        .load()
    )
    a = sorted((r["id"], r["text"], r["score"]) for r in df.collect())
    b = sorted((r["id"], r["text"], r["score"]) for r in df2.collect())
    assert a == b
    assert all(len(t.split()) == 8 for _, t, _ in a[:20])


def test_custom_python_datasource_writer_round_trip(spark, tmp_path):
    """Writer half of the docgen connector: per-task temp files + a
    driver-side two-phase commit rename; content round-trips through
    spark.read.json."""
    from bigdata_googleplaystore_spark.sources import pydatasource

    pydatasource.register(spark)
    df = spark.read.format("docgen").option("rows", 300).option("partitions", 5).load()
    out = str(tmp_path / "jsonl_out")
    df.write.format("docgen").option("path", out).mode("append").save()
    import glob

    files = glob.glob(out + "/part-*.jsonl")
    assert len(files) == 5  # one committed file per partition
    assert not glob.glob(out + "/_tmp-*")  # no uncommitted leftovers
    back = spark.read.json(out)
    a = sorted((r["id"], r["text"], r["score"]) for r in df.collect())
    b = sorted((r["id"], r["text"], r["score"]) for r in back.collect())
    assert a == b


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lake-style schema evolution: a later batch adds a column; reading
    with mergeSchema unions the schemas and backfills nulls for the old
    batch, while the default read keeps serving the footer-sampled schema
    (both behaviors are contracts worth pinning)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    spark.range(5).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(
        f"{out}/batch=0"
    )
    spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.parquet(f"{out}/batch=1")

    merged = spark.read.option("mergeSchema", True).parquet(out)
    assert set(merged.columns) == {"id", "v1", "v2", "batch"}
    assert merged.count() == 8
    old = merged.filter(F.col("batch") == 0)
    assert old.filter(F.col("v2").isNull()).count() == 5  # backfilled nulls
    new = merged.filter(F.col("batch") == 1)
    assert new.filter(F.col("v2") == 1.5).count() == 3


# ---------------------------------------------------------------------------
# storage seam (sources/storage.py) — the connector tier's pluggable
# read-side filesystem: local by default, memory:// for tests, fsspec
# schemes refused with a clear message when the package is absent
# ---------------------------------------------------------------------------


def test_storage_backend_dispatch_and_memory_fs(tmp_path):
    import pickle

    import pytest

    from bigdata_googleplaystore_spark.sources import storage

    local = storage.get_backend(str(tmp_path / "x"))
    assert isinstance(local, storage.LocalBackend)
    assert isinstance(storage.get_backend("file:///tmp/x"), storage.LocalBackend)
    mem = storage.get_backend("memory://tbl")
    assert isinstance(mem, storage.MemoryBackend)
    with pytest.raises(ImportError, match="fsspec"):
        storage.get_backend("s3://bucket/key")

    # local: open/exists/listdir/local_path against a real dir
    p = tmp_path / "d" / "a.txt"
    p.parent.mkdir()
    p.write_bytes(b"hi")
    assert local.exists(str(p)) and not local.exists(str(p) + ".nope")
    assert local.isdir(str(p.parent)) and not local.isdir(str(p))
    assert local.listdir(str(p.parent)) == ["a.txt"]
    assert local.open(str(p)).read() == b"hi"
    assert local.local_path(f"file://{p}") == str(p)

    # memory://: same contract over the shared in-process store
    mem.clear()
    mem.put("memory://tbl/_manifests/v000000000000.json", b"{}")
    mem.put("memory://tbl/_batch_id=0/part-0.parquet", b"PAR1")
    assert mem.exists("memory://tbl/_manifests/v000000000000.json")
    assert mem.isdir("memory://tbl/_batch_id=0")
    assert mem.listdir("memory://tbl") == ["_batch_id=0", "_manifests"]
    assert mem.listdir("memory://tbl/_batch_id=0") == ["part-0.parquet"]
    assert mem.open("memory://tbl/_batch_id=0/part-0.parquet").read() == b"PAR1"
    assert mem.local_path("memory://tbl/x") is None
    with mem.open("memory://tbl/w.bin", "wb") as f:
        f.write(b"xyz")
    assert mem.open("memory://tbl/w.bin").read() == b"xyz"
    # a SECOND handle sees the shared store (write-one-plan-another)
    assert storage.get_backend("memory://tbl").exists("memory://tbl/w.bin")
    # pickling snapshots the store by value (executor-shipping semantics)
    clone = pickle.loads(pickle.dumps(mem))
    mem.put("memory://tbl/after.bin", b"!")
    assert clone.exists("memory://tbl/w.bin")
    assert not clone.exists("memory://tbl/after.bin")
    mem.clear()


def test_fsspec_backend_delegations_through_vendored_shim(monkeypatch):
    """FsspecBackend covered by a NON-refusal path (VERDICT r11 item
    5): the container has no fsspec package, so a vendored ~60-line
    fsspec-compatible shim (tests/_fsspec_shim.py — `filesystem(scheme)`
    returning open/exists/isdir/ls, fsspec's memory-fs semantics) is
    installed as sys.modules['fsspec'] and the adapter's delegations
    plus an end-to-end manifest_stream plan+read run through it."""
    import json
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    import _fsspec_shim as shim
    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    monkeypatch.setitem(sys.modules, "fsspec", shim)
    shim._instances.clear()
    b = storage.get_backend("shim://tbl")
    assert isinstance(b, storage.FsspecBackend)

    # the four delegations against the shim filesystem
    fs = shim.filesystem("shim")
    tbl = "shim://tbl"
    buf = __import__("io").BytesIO()
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), buf)
    with fs.open(f"{tbl}/_batch_id=0/part-0.parquet", "wb") as f:
        f.write(buf.getvalue())
    with fs.open(f"{tbl}/_manifests/v000000000000.json", "wb") as f:
        f.write(json.dumps({"version": 0, "batch_ids": [0]}).encode())
    assert b.exists(f"{tbl}/_manifests/v000000000000.json")
    assert not b.exists(f"{tbl}/_manifests/v000000000001.json")
    assert b.isdir(f"{tbl}/_batch_id=0") and not b.isdir(f"{tbl}/nope")
    assert b.listdir(f"{tbl}/_manifests") == ["v000000000000.json"]
    assert b.listdir(f"{tbl}/nope") == []
    assert b.local_path(f"{tbl}/x") is None
    got = b.open(f"{tbl}/_manifests/v000000000000.json").read()
    assert json.loads(got)["version"] == 0

    # end to end: the manifest stream source plans and READS through it
    schema = StructType([StructField("id", LongType())])
    r = ms.ManifestStreamReader(schema, {"path": tbl})
    assert manifest_log.latest_version(b, tbl) == 0
    parts = r.partitions({"version": -1}, {"version": 0})
    assert [p.path for p in parts] == [f"{tbl}/_batch_id=0/part-0.parquet"]
    rows = pa.Table.from_batches(list(r.read(parts[0])))
    assert rows.column("id").to_pylist() == [1, 2, 3]
    shim._instances.clear()


def test_manifest_stream_plans_through_memory_backend():
    """The manifest_stream planning helpers are storage-agnostic: the
    same offset ladder (checkpoint pointer, listing fallback) and
    partition planning run against a memory:// table no local path
    ever backed."""
    import json

    from pyspark.sql.types import StructType

    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    mem = storage.get_backend("memory://mtbl")
    mem.clear()
    tbl = "memory://mtbl"
    for v, ids in enumerate([[0], [0, 1], [0, 1, 2]]):
        mem.put(
            f"{tbl}/_manifests/v{v:012d}.json",
            json.dumps({"version": v, "batch_ids": ids}).encode(),
        )
    for b in range(3):
        mem.put(f"{tbl}/_batch_id={b}/part-0.parquet", b"PAR1")
    assert manifest_log.latest_version(mem, tbl) == 2
    # checkpoint pointer fast path, including forward probing
    mem.put(
        f"{tbl}/_manifests/_last_checkpoint.json",
        json.dumps({"version": 1}).encode(),
    )
    assert manifest_log.latest_version(mem, tbl) == 2
    r = ms.ManifestStreamReader(StructType([]), {"path": tbl})
    snap = r.partitions({"version": -1}, {"version": 2})
    assert sorted(p.path for p in snap) == [
        f"{tbl}/_batch_id={b}/part-0.parquet" for b in range(3)
    ]
    r2 = ms.ManifestStreamReader(StructType([]), {"path": tbl})
    tail = r2.partitions({"version": 1}, {"version": 2})
    assert [p.path for p in tail] == [f"{tbl}/_batch_id=2/part-0.parquet"]
    mem.clear()


def test_manifest_stream_read_tolerates_added_column(tmp_path):
    """read()'s schema-evolution tolerance (r10 ADVICE): a batch file
    written BEFORE a column was added streams back with typed nulls in
    the missing column — against both the local and memory backends,
    straight through _read_evolved_batches (the exact executor path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from bigdata_googleplaystore_spark.sources import manifest_stream as ms
    from bigdata_googleplaystore_spark.sources import storage

    old = pa.table({"id": pa.array([1, 2], pa.int64()),
                    "k": pa.array(["a", "b"])})
    f = tmp_path / "old.parquet"
    pq.write_table(old, str(f))
    declared = StructType([
        StructField("id", LongType()),
        StructField("k", StringType()),
        StructField("v", DoubleType()),  # added AFTER the file was written
    ])
    got = pa.Table.from_batches(
        list(ms._read_evolved_batches(storage.LocalBackend(), str(f), declared))
    )
    assert got.column_names == ["id", "k", "v"]
    assert got.column("v").null_count == 2
    assert got.column("v").type == pa.float64()
    assert got.column("id").to_pylist() == [1, 2]
    # memory:// takes the file-like branch of the same helper
    mem = storage.get_backend("memory://evo")
    mem.clear()
    mem.put("memory://evo/old.parquet", f.read_bytes())
    got2 = pa.Table.from_batches(
        list(ms._read_evolved_batches(mem, "memory://evo/old.parquet", declared))
    )
    assert got.equals(got2)
    mem.clear()


def test_storage_backends_contract_equivalence(tmp_path):
    """Random op sequences observe the SAME filesystem contract through
    LocalBackend and MemoryBackend — the property that lets the
    connector tier treat the seam as interchangeable."""
    import random

    from bigdata_googleplaystore_spark.sources import storage

    rng = random.Random(7)
    local = storage.LocalBackend()
    mem = storage.MemoryBackend(store={})
    root_l = str(tmp_path / "root")
    root_m = "memory://eqroot"
    names = ["a", "b/c", "b/d", "e/f/g", "b/c2"]
    written: list[str] = []
    for step in range(60):
        op = rng.choice(["put", "exists", "isdir", "listdir", "read"])
        rel = rng.choice(names)
        if op == "put":
            data = bytes([rng.randrange(256) for _ in range(rng.randrange(9))])
            p = f"{root_l}/{rel}"
            import os as _os

            _os.makedirs(_os.path.dirname(p), exist_ok=True)
            open(p, "wb").write(data)
            mem.put(f"{root_m}/{rel}", data)
            written.append(rel)
        elif op == "exists":
            assert local.exists(f"{root_l}/{rel}") == mem.exists(
                f"{root_m}/{rel}"
            ), (step, rel)
        elif op == "isdir":
            parent = rel.rsplit("/", 1)[0] if "/" in rel else rel
            assert local.isdir(f"{root_l}/{parent}") == mem.isdir(
                f"{root_m}/{parent}"
            ), (step, parent)
        elif op == "listdir":
            d = rng.choice(["", "b", "e", "e/f", "zz"])
            pl = f"{root_l}/{d}" if d else root_l
            pm = f"{root_m}/{d}" if d else root_m
            assert local.listdir(pl) == mem.listdir(pm), (step, d)
        elif op == "read" and written:
            rel = rng.choice(written)
            assert (
                local.open(f"{root_l}/{rel}").read()
                == mem.open(f"{root_m}/{rel}").read()
            ), (step, rel)
