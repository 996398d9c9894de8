"""Structured Streaming: the streaming transformations must produce the
same results as their batch forms (Spark's unified model), exercised over
a real file-source stream."""

from __future__ import annotations

import pytest

from bigdata_googleplaystore_spark import streaming
from bigdata_googleplaystore_spark.sources import load_table

from _markers import HEAVY


@pytest.fixture(scope="module")
def event_stream_dir(spark, sf_dir, tmp_path_factory):
    """Re-write the events table (micros timestamps) into a stream-source
    directory of several files, as a file stream would arrive."""
    out = str(tmp_path_factory.mktemp("event_stream"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(
        out
    )
    return out


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_windowed_counts_match_batch(spark, sf_dir, event_stream_dir):
    batch = streaming.windowed_counts(load_table(spark, sf_dir, "events"), "1 hour")
    schema = spark.read.parquet(event_stream_dir).schema
    stream = streaming.read_event_stream(spark, event_stream_dir, schema)
    streamed = streaming.run_stream_to_memory(
        streaming.windowed_counts(stream, "1 hour", watermark="1 hour"),
        "win_counts",
    )
    cols = ["w_start", "n_events"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_dedup_within_watermark(spark, sf_dir, event_stream_dir):
    """Streaming dedup drops re-delivered events: stream the events dir
    TWICE (simulating at-least-once redelivery); with event_id dedup the
    drained output matches the batch distinct row count."""
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix="dup_stream")
    n = 0
    import os

    for f in os.listdir(event_stream_dir):
        if f.endswith(".parquet"):
            shutil.copy(f"{event_stream_dir}/{f}", f"{src}/a{n}.parquet")
            shutil.copy(f"{event_stream_dir}/{f}", f"{src}/b{n}.parquet")
            n += 1
    schema = spark.read.parquet(event_stream_dir).schema
    stream = streaming.read_event_stream(spark, src, schema)
    deduped = streaming.dedup_events(stream, ["event_id"], watermark="365 days")
    out = streaming.run_stream_to_memory(deduped, "dedup_events", output_mode="append")
    batch_n = load_table(spark, sf_dir, "events").count()
    assert out.count() == batch_n


def test_stateful_running_totals_match_batch(spark, sf_dir, event_stream_dir):
    """applyInPandasWithState carries per-user (count, sum) state across
    micro-batches (maxFilesPerTrigger=1 forces 4 batches); the final update
    per user must equal the batch groupBy."""
    from pyspark.sql import functions as F

    batch = streaming.user_running_totals_batch(load_table(spark, sf_dir, "events"))
    schema = spark.read.parquet(event_stream_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_stream_dir)
    )
    updates = streaming.run_stream_to_memory(
        streaming.user_running_totals_stream(stream),
        "running_totals",
        output_mode="update",
    )
    # latest update per user = the row with the highest running count
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        updates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_stream_sessionized_matches_batch(spark, sf_dir, event_stream_dir):
    batch = streaming.sessionized(load_table(spark, sf_dir, "events"), "10 minutes")
    schema = spark.read.parquet(event_stream_dir).schema
    stream = streaming.read_event_stream(spark, event_stream_dir, schema)
    streamed = streaming.run_stream_to_memory(
        streaming.sessionized(stream, "10 minutes", watermark="1 hour"),
        "sessions",
    )
    cols = ["user_id", "session_start", "last_event", "n_events"]
    assert _rows(streamed, cols) == _rows(batch, cols)


def test_stream_stream_join_matches_batch(spark, sf_dir, event_stream_dir):
    """Stream-stream inner join with watermarks + time-range condition
    produces exactly the batch join's rows once the bounded stream drains."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    batch = streaming.errors_with_recent_clicks(
        ev.filter(F.col("event_type") == "error"),
        ev.filter(F.col("event_type") == "click"),
        gap="15 minutes",
    )
    schema = spark.read.parquet(event_stream_dir).schema
    s1 = streaming.read_event_stream(spark, event_stream_dir, schema)
    s2 = streaming.read_event_stream(spark, event_stream_dir, schema)
    joined = streaming.errors_with_recent_clicks(
        s1.filter(F.col("event_type") == "error"),
        s2.filter(F.col("event_type") == "click"),
        gap="15 minutes",
        watermark="1 hour",
    )
    out = streaming.run_stream_to_memory(joined, "ss_join", output_mode="append")
    cols = ["user_id", "error_id", "click_id"]
    assert _rows(out, cols) == _rows(batch, cols)
    assert out.count() > 0


def test_foreach_batch_parquet_exactly_once_shape(spark, sf_dir, event_stream_dir, tmp_path):
    """foreachBatch sink: batches land in _batch_id partitions, each
    committed to the sink's manifest; total rows equal the source, and
    re-running the same checkpointed stream adds nothing (offsets
    already committed) and commits no new manifest version. A plain
    parquet read of the sink skips the `_manifests/` log."""
    import os

    from bigdata_googleplaystore_spark.streaming import manifest

    schema = spark.read.parquet(event_stream_dir).schema
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(event_stream_dir)
        )
        streaming.run_stream_foreach_batch_parquet(stream, out, ckpt)

    run()
    total = load_table(spark, sf_dir, "events").count()
    sunk = spark.read.parquet(out)
    assert sunk.count() == total
    assert sunk.select("_batch_id").distinct().count() >= 2  # multi-batch
    versions = manifest.list_versions(spark, out)
    committed = manifest.read_manifest(spark, out)["batch_ids"]
    assert len(versions) == len(committed) >= 2
    assert committed == streaming.list_batch_partitions(spark, out)
    run()  # replay with same checkpoint: no new data, no duplicates
    assert manifest.list_versions(spark, out) == versions
    # the manifest log sits in the sink root, and the parquet read
    # still sees only the data columns and rows
    assert os.path.isdir(os.path.join(out, "_manifests"))
    again = spark.read.parquet(out)
    assert again.columns == sunk.columns
    assert again.count() == total


def test_stream_incremental_agg_matches_batch(spark, sf_dir, event_stream_dir, tmp_path):
    """The streaming materialized view (per-batch mergeable partials +
    merge-on-read) must equal a direct batch aggregate after the stream
    drains, and replaying the checkpointed stream must not change it
    (idempotent per-batch partitions)."""
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.operators import incremental

    schema = spark.read.parquet(event_stream_dir).schema
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(event_stream_dir)
        )
        streaming.run_stream_incremental_agg(
            stream, ["event_type"], "value", state, ckpt
        )

    run()
    got = streaming.read_incremental_state(spark, state)
    want = incremental.finalize(
        incremental.partial_agg(
            load_table(spark, sf_dir, "events"), ["event_type"], "value"
        )
    )
    cols = ["event_type", "n_rows", "vmin", "vmax"]
    assert _rows(got, cols) == _rows(want, cols)
    # float totals: compare rounded (sums accumulate in different orders)
    g = {r["event_type"]: r for r in got.collect()}
    w = {r["event_type"]: r for r in want.collect()}
    for k in w:
        assert abs(g[k]["total"] - w[k]["total"]) < 1e-6
        assert abs(g[k]["vavg"] - w[k]["vavg"]) < 1e-9
    # state table really is per-batch partials, several of them
    assert (
        spark.read.parquet(state).select("_batch_id").distinct().count() >= 2
    )
    run()  # replay: committed offsets -> no state change
    again = streaming.read_incremental_state(spark, state)
    assert _rows(again, cols) == _rows(want, cols)


def test_stream_static_enrich_matches_batch(spark, sf_dir, event_stream_dir):
    """Stream-static left join == the same join run in batch; events with
    no dimension row survive with nulls."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    # synthetic dim: per-user tier, deliberately missing half the users
    dim = (
        events.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn("tier", F.when(F.col("user_id") % 4 == 0, "gold").otherwise("basic"))
    )
    batch = streaming.enrich_stream_static(events, dim, "user_id", ["tier"])
    schema = spark.read.parquet(event_stream_dir).schema
    stream = spark.readStream.schema(schema).parquet(event_stream_dir)
    enriched = streaming.enrich_stream_static(stream, dim, "user_id", ["tier"])
    got = streaming.run_stream_to_memory(enriched, "enrich_t", "append")
    cols = ["event_id", "user_id", "tier"]
    assert _rows(got, cols) == _rows(batch, cols)
    # missing-dim events kept with null tier
    assert got.filter(F.col("tier").isNull()).count() > 0


def test_custom_python_datasource_stream(spark, tmp_path):
    """The docgen source's streaming reader: micro-batched offsets, and
    the drained stream equals the batch read of the same source."""
    from bigdata_googleplaystore_spark.sources import pydatasource

    pydatasource.register(spark)
    opts = {"rows": "250", "batchRows": "60", "partitions": "4"}
    stream = spark.readStream.format("docgen").options(**opts).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("docgen_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.table("docgen_stream")
    batch = spark.read.format("docgen").options(**opts).load()
    cols = ["id", "text", "score"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_top_types_processor_logic_with_fake_state(spark, sf_dir):
    """Unit-test the state-API-v2 processor against a fake MapState: the
    snapshot after replaying the same rows in two chunks must equal the
    batch group-by + rank (state carries across handleInputRows calls)."""
    from pyspark.sql import functions as F

    class FakeMapState:
        def __init__(self):
            self.d = {}

        def getValue(self, key):
            return self.d.get(key)

        def updateValue(self, key, value):
            self.d[key] = value

        def iterator(self):
            return iter(self.d.items())

    class FakeHandle:
        def __init__(self):
            self.state = FakeMapState()

        def getMapState(self, name, key_schema, value_schema, ttlDurationMs=None):
            return self.state

    proc = streaming.TopTypesProcessor(3, "user_id", "event_type")
    proc.init(FakeHandle())

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .toPandas()
    )
    user = ev["user_id"].iloc[0]
    rows = ev[ev["user_id"] == user]
    half = len(rows) // 2
    # replay in two chunks: second snapshot must reflect ALL rows
    list(proc.handleInputRows((user,), iter([rows.iloc[:half]]), None))
    out = list(proc.handleInputRows((user,), iter([rows.iloc[half:]]), None))[0]

    want = streaming.user_top_types_batch(
        load_table(spark, sf_dir, "events")
    ).filter(F.col("user_id") == int(user)).collect()
    want_rows = sorted((r["event_type"], r["n"], r["rk"], r["total_seen"]) for r in want)
    got_rows = sorted(
        zip(out["event_type"], out["n"].astype(int), out["rk"], out["total_seen"].astype(int))
    )
    assert got_rows == want_rows


def test_stateful_top_types_live_match_batch(spark, sf_dir, event_stream_dir):
    """End-to-end per-key top-k state across 4 forced micro-batches: the
    latest per-user snapshot must equal the batch computation. ALWAYS
    runs live (no skip gate): where the protobuf package is present the
    v2 `transformWithStateInPandas` path (MapState + RocksDB provider)
    is exercised; where it is absent — this container — the
    contract-identical v1 `applyInPandasWithState` form
    (`user_top_types_stream_v1`) drives the same micro-batch run, so
    the operator's live streaming semantics are verified in the default
    suite either way. The v2-only wire integration remains additionally
    covered by the fake-handle processor tests above (state
    accumulation across batches + eviction order)."""
    try:
        import google.protobuf  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    batch = streaming.user_top_types_batch(load_table(spark, sf_dir, "events"))
    schema = spark.read.parquet(event_stream_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_stream_dir)
    )
    if have_protobuf:
        conf_key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(
            conf_key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            updates = streaming.run_stream_to_memory(
                streaming.user_top_types_stream(stream),
                "top_types",
                output_mode="update",
            )
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
    else:
        updates = streaming.run_stream_to_memory(
            streaming.user_top_types_stream_v1(stream),
            "top_types_v1",
            output_mode="update",
        )
    final = (
        updates.withColumn(
            "mx", F.max("total_seen").over(Window.partitionBy("user_id"))
        )
        .filter(F.col("total_seen") == F.col("mx"))
        .select("user_id", "event_type", "n", "rk", "total_seen")
    )
    cols = ["user_id", "event_type", "n", "rk", "total_seen"]
    assert _rows(final, cols) == _rows(batch, cols)


def test_stream_incremental_agg_crash_recovery(spark, sf_dir, event_stream_dir, tmp_path):
    """Exactly-once under a mid-flight crash: batch 1's partition is
    WRITTEN but the injected failure prevents both its manifest commit
    and the checkpoint commit — the worst-case double-write window. On
    restart the batch is reprocessed, dynamic partition overwrite
    rewrites the same partition and the commit lands, so the folded
    view still equals the batch aggregate and no batch appears twice."""
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    schema = spark.read.parquet(event_stream_dir).schema
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write_batch_then_crash(batch_df, batch_id):
        streaming.write_batch_partition(
            incremental.partial_agg(batch_df, ["event_type"], "value"),
            state,
            batch_id,
        )
        if batch_id == 1:
            raise RuntimeError("injected crash: partition written, commit pending")
        manifest.commit_batch(spark, state, batch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_stream_dir)
    )
    q = (
        stream.writeStream.foreachBatch(write_batch_then_crash)
        .option("checkpointLocation", ckpt)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination()
    q.stop()
    # batch 1's orphan partition exists before recovery, uncommitted
    assert spark.read.parquet(state).filter(F.col("_batch_id") == 1).count() > 0
    assert manifest.read_manifest(spark, state)["batch_ids"] == [0]

    restart = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_stream_dir)
    )
    streaming.run_stream_incremental_agg(restart, ["event_type"], "value", state, ckpt)

    got = streaming.read_incremental_state(spark, state)
    want = incremental.finalize(
        incremental.partial_agg(
            load_table(spark, sf_dir, "events"), ["event_type"], "value"
        )
    )
    cols = ["event_type", "n_rows", "vmin", "vmax"]
    assert _rows(got, cols) == _rows(want, cols)
    w = {r["event_type"]: r for r in want.collect()}
    for r in got.collect():
        assert abs(r["total"] - w[r["event_type"]]["total"]) < 1e-6
    # every source file became exactly one committed state partition —
    # batch 1 was reprocessed in place, not duplicated
    batch_ids = [
        r["_batch_id"]
        for r in spark.read.parquet(state).select("_batch_id").distinct().collect()
    ]
    assert sorted(batch_ids) == [0, 1, 2, 3]
    assert manifest.read_manifest(spark, state)["batch_ids"] == [0, 1, 2, 3]


def test_available_now_trigger_drains_and_stops(spark, sf_dir, event_stream_dir, tmp_path):
    """Trigger.AvailableNow — the cron-style incremental pattern: the
    query processes everything available in bounded batches, commits the
    checkpoint, and terminates ON ITS OWN (no processAllAvailable babysitting).
    A second invocation finds no new data and writes nothing."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(event_stream_dir).schema

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(event_stream_dir)
        )
        counts = stream.groupBy("event_type").agg(F.count("*").alias("n"))
        q = (
            counts.writeStream.format("memory")
            .queryName("avail_now")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow must self-terminate"
        return sum(p["numInputRows"] for p in (q.recentProgress or []))

    n_first = run_once()
    got = {r["event_type"]: r["n"] for r in spark.table("avail_now").collect()}
    want = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
    assert n_first == sum(want.values())
    # second invocation: offsets committed, nothing new to read
    assert run_once() == 0


def test_watermark_late_data_semantics_append_mode(spark, tmp_path):
    """Pin the engine's watermark semantics end-to-end (file source,
    append mode, 1 h watermark), which matter for any late-data SLA:

    - a window is emitted AT MOST ONCE, when the (previous-batch)
      watermark passes its end;
    - a late row whose window is STILL IN STATE is folded in before
      emission (Spark's effective allowed-lateness runs until eviction,
      which uses the pre-batch watermark — one batch of grace);
    - a late row whose window is GONE is dropped, counted in
      numRowsDroppedByWatermark, and never re-opens the window;
    - still-open windows are not emitted when the bounded stream drains.
    """
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "wm_stream")
    os.makedirs(d)

    def write(name, hours, mtime):
        tbl = pa.table(
            {
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, h, 30) for h in hours],
                    type=pa.timestamp("us"),
                )
            }
        )
        path = f"{d}/{name}"
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    t0 = 1_700_000_000
    write("a.parquet", [10, 10, 10], t0)  # hour-10 window opens
    write("b.parquet", [20], t0 + 100)    # watermark -> 19:30 after this batch
    write("c.parquet", [10, 2], t0 + 200)  # two stragglers: in-state vs evicted-window

    stream = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    q = (
        streaming.windowed_counts(stream, "1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("wm_semantics")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    q.stop()

    rows = {r["w_start"]: r["n_events"] for r in spark.table("wm_semantics").collect()}
    # hour-10 emitted exactly once, WITH the in-state straggler folded in;
    # the hour-2 straggler dropped (window long past); hour-20 still open
    assert rows == {dt.datetime(2024, 1, 1, 10, 0): 4}, rows
    assert dropped == 1


def test_top_types_processor_eviction_order_with_fake_state(spark):
    """State-size cap (VERDICT r04 item 6): with max_types set, the
    processor must evict surplus MapState entries smallest-first in
    deterministic (count asc, type desc) order — the kept set is exactly
    the top max_types by the snapshot's own (count desc, type asc)
    ranking — and an evicted type that reappears restarts from zero (the
    documented top-k-cache trade for unbounded category domains)."""
    import pandas as pd

    class FakeMapState:
        def __init__(self):
            self.d = {}

        def getValue(self, key):
            return self.d.get(key)

        def updateValue(self, key, value):
            self.d[key] = value

        def removeKey(self, key):
            self.d.pop(key, None)

        def iterator(self):
            return iter(list(self.d.items()))

    class FakeHandle:
        def __init__(self):
            self.state = FakeMapState()

        def getMapState(self, name, key_schema, value_schema, ttlDurationMs=None):
            return self.state

    proc = streaming.TopTypesProcessor(2, "user_id", "event_type", max_types=3)
    handle = FakeHandle()
    proc.init(handle)

    def batch(types):
        return pd.DataFrame({"event_type": types})

    # batch 1: a=3, b=2, c=1, d=1 -> cap 3 keeps a,b,c (ties on count 1
    # evict DESC by type: d out, c kept)
    list(proc.handleInputRows((1,), iter([batch(["a"] * 3 + ["b"] * 2 + ["c", "d"])]), None))
    assert handle.state.d == {("a",): (3,), ("b",): (2,), ("c",): (1,)}

    # batch 2: d reappears with 2 (restarts from zero, not 1+2) and e
    # arrives with 1 -> counts a=3, b=2, d=2, c=1, e=1; evict smallest
    # first by (count asc, type desc): e (1), then c (1) -> keep a, b, d
    out = list(proc.handleInputRows((1,), iter([batch(["d", "d", "e"])]), None))[0]
    assert handle.state.d == {("a",): (3,), ("b",): (2,), ("d",): (2,)}

    # snapshot ranks over the POST-eviction state, top-2 by (n desc, type asc)
    assert list(out["event_type"]) == ["a", "b"]
    assert list(out["n"]) == [3, 2]
    assert list(out["total_seen"]) == [7]*2  # a=3 + b=2 + d=2


def _write_committed(spark, state, frames):
    """Land each partial-state frame as its own batch and commit it, the
    way the streaming runners publish a micro-batch."""
    from bigdata_googleplaystore_spark.streaming import manifest

    for i, f in enumerate(frames):
        streaming.write_batch_partition(f, state, i)
        manifest.commit_batch(spark, state, i)


def test_runner_refuses_uncommitted_partitions_without_manifest(spark, tmp_path):
    """A state table holding batch partitions but no manifest (written
    before tables carried one) is refused by the runner: committing only
    the new batch would hide the older ones from every reader."""
    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    state = str(tmp_path / "legacy_state")
    src = tmp_path / "legacy_src"
    for b in range(2):
        streaming.write_batch_partition(
            incremental.partial_agg(
                spark.createDataFrame([("a", float(b))], "grp STRING, v DOUBLE"),
                ["grp"],
                "v",
            ),
            state,
            b,
        )
    spark.createDataFrame([("a", 9.0)], "grp STRING, v DOUBLE").write.parquet(
        str(src / "p0")
    )
    stream = spark.readStream.schema("grp STRING, v DOUBLE").parquet(str(src / "p0"))
    with pytest.raises(Exception, match="uncommitted batch partitions"):
        streaming.run_stream_incremental_agg(
            stream, ["grp"], "v", state, str(tmp_path / "legacy_ckpt")
        )
    assert manifest.latest_version(spark, state) is None
    assert streaming.list_batch_partitions(spark, state) == [0, 1]


def test_pinned_version_is_exact_until_vacuum_then_raises(spark, tmp_path):
    """A version read from before a compaction folds exactly that
    version's batches, also after the compaction, and once
    vacuum(keep_versions=1) retires the version the same read raises
    instead of answering from the compacted snapshot. Null values go
    through the compacted base: they count as rows but never become a
    total, min or max."""
    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    state = str(tmp_path / "pinned_state")
    batches = [
        [("a", 1.0), ("b", 2.0), ("c", None)],
        [("a", 3.0), ("b", None)],
        [("b", 4.0)],
        [("a", 5.0)],
    ]
    _write_committed(
        spark,
        state,
        [
            incremental.partial_agg(
                spark.createDataFrame(b, "grp STRING, v DOUBLE"), ["grp"], "v"
            )
            for b in batches
        ],
    )

    def snap(version=None):
        return sorted(
            (r["grp"], r["n_rows"], r["total"], r["vmin"], r["vmax"])
            for r in streaming.read_incremental_state(spark, state, version).collect()
        )

    # batches 0-1 only
    v1 = [("a", 2, 4.0, 1.0, 3.0), ("b", 2, 2.0, 2.0, 2.0), ("c", 1, None, None, None)]
    assert snap(1) == v1
    latest = snap()
    assert latest == [
        ("a", 3, 9.0, 1.0, 5.0),
        ("b", 3, 6.0, 2.0, 4.0),
        ("c", 1, None, None, None),
    ]
    manifest.compact_snapshot(spark, state, upto_batch=2)
    assert snap(1) == v1
    assert snap() == latest
    manifest.vacuum(spark, state, keep_versions=1)
    with pytest.raises(FileNotFoundError):
        streaming.read_incremental_state(spark, state, version=1)
    assert snap() == latest


def test_compact_state_partials_multiset_dispatch(spark, tmp_path):
    """compact_snapshot must dispatch on the _cnt column and merge
    MULTISET state with merge_multisets: after compaction the min/max
    read is unchanged, including a runner-up max produced by a
    retraction whose -1 landed in a different batch than its +1."""
    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    state = str(tmp_path / "ms_state")
    b0 = spark.createDataFrame(
        [("x", 9.0, 1), ("x", 7.0, 1), ("y", 2.0, 1)],
        "grp STRING, v DOUBLE, _mult INT",
    )
    b1 = spark.createDataFrame([("x", 9.0, -1)], "grp STRING, v DOUBLE, _mult INT")
    b2 = spark.createDataFrame([("y", 3.0, 1)], "grp STRING, v DOUBLE, _mult INT")
    _write_committed(
        spark,
        state,
        [incremental.multiset_state(b, ["grp"], "v", "_mult") for b in [b0, b1, b2]],
    )
    v = manifest.compact_snapshot(spark, state, upto_batch=1)
    # batches 0 and 1 subsumed into the -2 base
    assert manifest.read_manifest(spark, state, v)["batch_ids"] == [-2, 2]
    out = {
        r["grp"]: (r["n_rows"], r["vmin"], r["vmax"])
        for r in streaming.read_multiset_minmax(spark, state, "v").collect()
    }
    # x's 9.0 was retracted across batches -> max falls back to 7.0
    assert out == {"x": (1, 7.0, 7.0), "y": (2, 2.0, 3.0)}


@HEAVY
def test_compaction_invariant_under_random_batches_and_horizon(spark, tmp_path):
    """Property (hypothesis): for ANY random sequence of signed batches
    over a small key/value domain and ANY compaction horizon, the signed
    fold over the compacted state must equal the fold over the original
    per-batch state — compaction is pure merge-associativity, so no
    (batches, horizon) choice may change the view. Uses the SIGNED
    scalar schema (the dispatch branch the two example-based tests
    don't cover)."""
    import shutil

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    row = st.tuples(
        st.sampled_from(["a", "b"]),
        st.sampled_from([1.0, 2.0, None]),
        st.sampled_from([1, 1, 1, -1]),  # inserts dominate: valid-ish CDC
    )
    batch = st.lists(row, min_size=1, max_size=5)

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(batches=st.lists(batch, min_size=2, max_size=5), data=st.data())
    def check(batches, data):
        horizon = data.draw(
            st.integers(min_value=0, max_value=len(batches) - 1)
        )
        state = str(tmp_path / "prop_state")
        shutil.rmtree(state, ignore_errors=True)
        _write_committed(
            spark,
            state,
            [
                incremental.partial_agg_signed(
                    spark.createDataFrame(b, "grp STRING, v DOUBLE, _mult INT"),
                    ["grp"],
                    "v",
                )
                for b in batches
            ],
        )

        def snap():
            return sorted(
                (r["grp"], r["n_rows"], r["total"], r["vavg"])
                for r in streaming.read_signed_state(spark, state).collect()
            )

        before = snap()
        v = manifest.compact_snapshot(spark, state, horizon)
        # partitions 0..horizon subsumed into the base
        assert manifest.read_manifest(spark, state, v)["batch_ids"] == [
            streaming.compact_base_id(horizon),
            *range(horizon + 1, len(batches)),
        ]
        assert snap() == before

    check()


def test_compacted_base_survives_batch_replay(spark, tmp_path):
    """The replay-collision hazard compact_base_id exists for: a
    micro-batch whose id was already folded into the compacted base
    gets replayed (checkpoint lost — a violation of the compact-only-
    behind-the-committed-offset contract). Because the base lives at a
    reserved NEGATIVE id, the replay overwrites only its own directory
    and commits its own id: the merged history must survive intact,
    with the replayed batch double-counted (the documented worst case) —
    never the pre-compaction batches silently destroyed, which is what
    storing the base at _batch_id=horizon allowed."""
    from bigdata_googleplaystore_spark.operators import incremental
    from bigdata_googleplaystore_spark.streaming import manifest

    state = str(tmp_path / "replay_state")
    batches = [
        [("a", 1.0), ("b", 2.0)],   # batch 0
        [("a", 3.0)],               # batch 1
        [("b", 4.0)],               # batch 2 (the one we replay)
    ]
    frames = [
        incremental.partial_agg(
            spark.createDataFrame(b, "grp STRING, v DOUBLE"), ["grp"], "v"
        )
        for b in batches
    ]
    _write_committed(spark, state, frames)
    manifest.compact_snapshot(spark, state, upto_batch=2)
    assert manifest.read_manifest(spark, state)["batch_ids"] == [-3]

    # replay batch 2: the runner writes its partition under the SAME id
    # and commits it — it must land at _batch_id=2, not over the base
    streaming.write_batch_partition(frames[2], state, 2)
    manifest.commit_batch(spark, state, 2)
    assert manifest.read_manifest(spark, state)["batch_ids"] == [-3, 2]

    got = {
        r["grp"]: (r["n_rows"], r["total"])
        for r in streaming.read_incremental_state(spark, state).collect()
    }
    # history intact; batch 2 double-counted (b gains one extra 4.0 row)
    assert got == {"a": (2, 4.0), "b": (3, 10.0)}


def test_stateful_gates_rerun_to_the_same_rows(spark, sf_dir):
    """A gate that commits to a manifest table, checkpoints a stream or
    drains into a file sink starts from `fresh_dirs`, so running it
    twice in one session gives the same rows. Without the reset the
    streaming view re-reads the rewritten source into the old state and
    the compaction gate commits its batches over the old ones: both
    double-count."""
    from collections import Counter

    from bigdata_googleplaystore_spark.catalog.registry import QUERIES

    for name in (
        "stream_incremental_agg_view",
        "mv_state_compaction",
        "stream_cdf_from_manifest",
    ):
        fn = QUERIES[name].fn
        first = Counter(map(tuple, fn(spark, sf_dir).collect()))
        second = Counter(map(tuple, fn(spark, sf_dir).collect()))
        assert first and first == second, name
