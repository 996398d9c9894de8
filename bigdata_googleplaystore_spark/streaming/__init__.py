"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.7: no streaming); this module is
the engine's extension surface for the `events`-shaped stream: windowed
aggregations with watermarked late-data handling, and session windows.

Design: every transformation here is expressed so the SAME function works
on a batch DataFrame and a streaming DataFrame (Structured Streaming's
unified model) — tests assert batch/stream result equality on the events
table, and the batch forms are oracle-checked in the catalog.

At scale: streaming aggs keep per-key state in the state store; the
watermark bounds state size (keys older than watermark are evicted), and
`spark.sql.shuffle.partitions` fixes state-store parallelism for the life
of the checkpoint — size it up front on a real deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources import manifest_log
from ..sources.manifest_log import compact_base_id  # noqa: F401  (public name)
from ..sources.storage import HadoopBackend
from . import manifest


def read_event_stream(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """File-source stream over a directory of parquet event files."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling/sliding window counts; batch- and stream-compatible.

    With `watermark` set (streaming), state for windows older than the
    watermark is finalized and evicted — bounded state at any scale.
    """
    df = events
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        df.groupBy(win.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )


def sessionized(
    events: DataFrame,
    gap: str = "10 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows (gap-based): one row per (key, session) with start,
    last-event time and event count. Works in batch and streaming."""
    df = events
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    win = F.session_window(F.col(ts_col), gap)
    gap_interval = F.expr(f"INTERVAL {gap}")
    return (
        df.groupBy(F.col(key_col), win.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            # session_window.end = last event + gap; subtract it back so the
            # output is phrased in observable event times
            (F.col("w.end") - gap_interval).alias("last_event"),
            "n_events",
        )
    )


def errors_with_recent_clicks(
    errors: DataFrame,
    clicks: DataFrame,
    gap: str = "15 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Stream-stream (or batch-batch) inner join: each error event paired
    with every click by the same user in the `gap` window before it.

    In streaming mode both sides need a watermark plus the time-range
    join condition — that pair is what lets the engine expire buffered
    state (a click older than error-watermark - gap can never match
    again). Without the range bound a stream-stream join's state grows
    forever. The identical function body works in batch (withWatermark is
    a no-op there), and tests assert batch ≡ stream."""
    e = errors.select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    c = clicks.select(
        F.col("user_id").alias("click_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if watermark:
        e = e.withWatermark("error_ts", watermark)
        c = c.withWatermark("click_ts", watermark)
    cond = (
        (e["user_id"] == c["click_user"])
        & (c["click_ts"] <= e["error_ts"])
        & (c["click_ts"] >= e["error_ts"] - F.expr(f"INTERVAL {gap}"))
    )
    return e.join(c, cond).select(
        "user_id", "error_id", "error_ts", "click_id", "click_ts"
    )


def dedup_events(
    events: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str | None = None,
) -> DataFrame:
    """Exact dedup on `keys`, batch- and stream-compatible.

    Batch (no watermark): plain dropDuplicates. Streaming: requires a
    watermark and uses dropDuplicatesWithinWatermark, so per-key dedup
    state is evicted once the key's event time falls behind the watermark —
    bounded state, the only deploy-safe form of streaming dedup for an
    unbounded key space (ingestion-time duplicate suppression for
    at-least-once sources)."""
    keys = keys or ["event_id"]
    if watermark:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def user_running_totals_batch(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Batch form of the stateful per-key totals: plain groupBy/agg."""
    return events.groupBy(key_col).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(value_col), 6).alias("total_value"),
    )


def user_running_totals_stream(
    events: DataFrame, key_col: str = "user_id", value_col: str = "value"
) -> DataFrame:
    """Custom stateful streaming operator via `applyInPandasWithState`:
    per-key running (count, sum) carried in the state store across
    micro-batches, one updated row emitted per key per batch.

    The Arrow-batched state function is the sanctioned pattern for
    operators Structured Streaming lacks natively (custom counters,
    sketches, ML feature state). State size is O(keys); pair with a
    TTL-style timeout in deployments where the key space is unbounded.
    After the stream drains, the latest row per key equals
    `user_running_totals_batch` — asserted in tests/test_streaming.py."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = f"{key_col} {key_type}, n_events long, total_value double"
    state_schema = "n long, total double"

    def fn(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def write_batch_partition(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """THE idempotent per-batch write protocol every batch-partitioned
    sink and state table here shares: the batch's rows land in their own
    `_batch_id=<id>` partition via dynamic partition overwrite, so a
    replayed batch rewrites the same directory instead of appending
    duplicates; readers see it once a manifest commit publishes it.
    Single definition so the streaming writers, the batch backfill path
    and compaction cannot drift from each other."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_dir)
    )


def _run_stream_to_batch_partitions(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> None:
    """THE foreachBatch runner every batch-partitioned sink here shares:
    each micro-batch (optionally passed through `transform(batch_df)`
    first — the partial-state builders plug in there) lands in its own
    idempotent `_batch_id` partition, then manifest.commit_batch
    publishes it, so readers only ever see whole batches. A replay
    before the commit rewrites the partition and commits; a replay
    after it is harmless (the commit is a set union). An empty
    micro-batch writes and commits nothing. A table with other batch
    partitions but no manifest (written by write_batch_partition alone)
    is refused: committing only the new batch would hide the older ones
    from every reader."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        spark = batch_df.sparkSession
        if manifest.latest_version(spark, out_dir) is None and any(
            b != batch_id for b in list_batch_partitions(spark, out_dir)
        ):
            raise ValueError(
                f"{out_dir} holds uncommitted batch partitions and no "
                "manifest; commit them with manifest.commit_batch first"
            )
        write_batch_partition(batch_df, out_dir, batch_id)
        if manifest._batch_written(spark, out_dir, batch_id):
            manifest.commit_batch(spark, out_dir, batch_id)

    q = (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def run_stream_foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Exactly-once-per-batch parquet sink: the shared runner with no
    transform (idempotent writes + atomic publish + checkpointed offsets
    = end-to-end exactly-once for deterministic transformations). Plain
    `spark.read.parquet(out_dir)` still reads every batch: Spark's file
    listing hides the `_manifests/` directory."""
    _run_stream_to_batch_partitions(stream_df, out_dir, checkpoint_dir)


def run_stream_incremental_agg(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming materialized-view maintenance: each micro-batch writes
    its MERGEABLE partial aggregate (operators/incremental.py state:
    count/sum/min/max per key) into its own `_batch_id` partition and
    commits it to the state table's manifest.

    History is never re-read: each batch shuffles only its own |keys|
    rows. Readers call `read_incremental_state` to fold the committed
    partials; manifest.compact_snapshot merges old partials into a base
    with the same merge operator, without changing what readers see."""
    from ..operators import incremental

    _run_stream_to_batch_partitions(
        stream_df,
        state_dir,
        checkpoint_dir,
        transform=lambda b: incremental.partial_agg(b, keys, value_col),
    )


def read_incremental_state(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame:
    """Fold the committed per-batch partials into the aggregate view: the
    latest snapshot, or the one committed as manifest `version`.

    A pinned version scans exactly the partitions its manifest lists,
    O(partials in that version), and stays exact until vacuum retires
    it; after that the read raises."""
    from ..operators import incremental

    return incremental.finalize(
        incremental.merge_partials(
            manifest.snapshot_partials(spark, state_dir, version)
        )
    )


def run_stream_signed_agg(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    mult_col: str = "_mult",
) -> None:
    """Streaming CDC materialized view: run_stream_incremental_agg's
    per-batch protocol over a SIGNED change feed (`mult_col`
    +1 insert / -1 delete — the Z-set encoding a Debezium-style CDC
    topic delivers). Each micro-batch writes and commits its signed
    partial (operators/incremental.partial_agg_signed: count/sum
    weighted by multiplicity); retractions need no special handling
    anywhere in the streaming machinery because the signed state
    absorbs them by the same addition that absorbs inserts — deletes
    arriving in a DIFFERENT micro-batch than the insert they cancel
    fold correctly because the algebra is split-invariant. History is
    never re-read; each batch shuffles its own |keys| rows."""
    from ..operators import incremental

    _run_stream_to_batch_partitions(
        stream_df,
        state_dir,
        checkpoint_dir,
        transform=lambda b: incremental.partial_agg_signed(
            b, keys, value_col, mult_col
        ),
    )


def read_signed_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the committed SIGNED partials of the latest snapshot into
    the view: counts and sums add across batches, groups retracted to
    zero disappear (operators/incremental.finalize_signed)."""
    from ..operators import incremental

    return incremental.finalize_signed(
        incremental.merge_partials_signed(
            manifest.snapshot_partials(spark, state_dir)
        )
    )


def run_stream_multiset_agg(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    mult_col: str = "_mult",
) -> None:
    """Streaming CDC materialized view for the MULTISET-state aggregate
    tier (min/max, count-distinct, top-n — the aggregates signed scalar
    state cannot maintain because a deleted extremum has no inverse):
    each micro-batch of the Z-weighted change feed writes and commits
    its per-(key, value) net counts (operators/incremental.
    multiset_state), exactly the protocol the scalar
    run_stream_signed_agg uses. Retractions again need no special
    machinery — the multiset algebra is split-invariant, so a -1
    landing batches after its +1 nets out in the read-side fold.
    Per-batch state written is |distinct (key, value) in the batch|
    rows; history is never re-read."""
    from ..operators import incremental

    _run_stream_to_batch_partitions(
        stream_df,
        state_dir,
        checkpoint_dir,
        transform=lambda b: incremental.multiset_state(
            b, keys, value_col, mult_col
        ),
    )


def read_multiset_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold the committed multiset partials of the latest snapshot into
    the net (keys..., value, _cnt) state: counts add across batches,
    rows netted to zero drop out. This ONE
    folded frame serves every multiset reader — finalize_minmax,
    finalize_distinct, finalize_topn — so a stream maintains all the
    non-invertible aggregates with a single state table."""
    from ..operators import incremental

    return incremental.merge_multisets(manifest.snapshot_partials(spark, state_dir))


def read_multiset_minmax(
    spark: SparkSession, state_dir: str, value_col: str
) -> DataFrame:
    """(n_rows, vmin, vmax) per key over the folded multiset state's
    SURVIVING values — fully-retracted groups disappear
    (operators/incremental.finalize_minmax)."""
    from ..operators import incremental

    return incremental.finalize_minmax(
        read_multiset_state(spark, state_dir), value_col
    )


def list_batch_partitions(spark: SparkSession, state_dir: str) -> list[int]:
    """The `_batch_id=<n>` partition directories on disk, committed or
    not, sorted, via the session's Hadoop FileSystem (works on
    hdfs:// and s3a:// paths). Readers never use it — they plan from the
    manifest; the runner's no-manifest check and the gates use it to see
    what a writer or vacuum left on disk."""
    return manifest_log.list_batch_ids(HadoopBackend(spark), state_dir)


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain a (file-bounded) stream into an in-memory table and return a
    batch DataFrame over it. Test/debug utility — real deployments write
    to kafka/parquet sinks with checkpointing."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.table(name)


def run_stream_to_parquet(
    stream_df: DataFrame, sink: str, checkpoint: str
) -> DataFrame:
    """Drain a bounded stream through Spark's checkpointed parquet file
    sink (append mode) and return a batch read of the sink. The sink's
    `_spark_metadata` log lists only committed files, so the read sees
    each micro-batch exactly once."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.read.parquet(sink)


def enrich_stream_static(
    events_stream: DataFrame,
    dim: DataFrame,
    key: str,
    dim_cols: list[str],
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    a *batch* dimension table — the standard pattern for decorating an
    event stream with slowly-changing reference data (user profile, device
    registry). The static side is re-planned per micro-batch (so dimension
    updates are picked up) and is explicitly broadcast: stateless,
    watermark-free, and the stream side never shuffles. Left join keeps
    events whose key is missing from the dimension (late-arriving dims)."""
    cols = [F.col(key)] + [F.col(c) for c in dim_cols]
    return events_stream.join(F.broadcast(dim.select(*cols)), key, "left")


try:  # transformWithState ships with pyspark; subclassing needs no extras
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
except ImportError:  # pragma: no cover - pyspark always has it; belt-and-braces
    StatefulProcessor = object  # type: ignore[assignment,misc]
    StatefulProcessorHandle = object  # type: ignore[assignment,misc]


class TopTypesProcessor(StatefulProcessor):
    """State-API-v2 processor: per-key MapState of category -> count,
    emitting the refreshed top-k snapshot each micro-batch. Logic is
    plain pandas over the state primitives, so it is unit-testable with
    a fake handle (no streaming runtime needed).

    `max_types` caps the per-key MapState at that many entries: after
    each batch's updates, surplus entries are EVICTED smallest-first in
    deterministic (count asc, type desc) order — i.e. the kept set is
    exactly the top `max_types` by the same (count desc, type asc)
    ordering the snapshot ranks by. Unbounded category domains (URLs,
    user agents, free-text types) otherwise grow per-key state without
    limit at 100 TB; the cap makes this a space-saving sketch (counts
    for evicted types restart if they reappear — the standard
    top-k-cache trade, documented so consumers treat tail counts as
    lower bounds). Default None keeps exact semantics for bounded
    domains like event_type."""

    def __init__(
        self, k: int, key_col: str, type_col: str, max_types: int | None = None
    ) -> None:
        self._k = k
        self._key_col = key_col
        self._type_col = type_col
        self._max_types = max_types

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState("type_counts", "t string", "c bigint")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        for pdf in rows:
            for t, c in pdf[self._type_col].dropna().value_counts().items():
                cur = self._counts.getValue((t,))
                self._counts.updateValue((t,), (int(c) + (cur[0] if cur else 0),))
        if self._max_types is not None:
            items = sorted(
                ((kk[0], vv[0]) for kk, vv in self._counts.iterator()),
                key=lambda x: (-x[1], x[0]),
            )
            for t, _ in items[self._max_types :]:
                self._counts.removeKey((t,))
        items = sorted(
            ((kk[0], vv[0]) for kk, vv in self._counts.iterator()),
            key=lambda x: (-x[1], x[0]),
        )
        total = sum(c for _, c in items)
        top = items[: self._k]
        yield pd.DataFrame(
            {
                self._key_col: [key[0]] * len(top),
                self._type_col: [t for t, _ in top],
                "n": [c for _, c in top],
                "rk": list(range(1, len(top) + 1)),
                "total_seen": [total] * len(top),
            }
        )

    def close(self) -> None:
        pass


def user_top_types_batch(
    events: DataFrame, k: int = 3, key_col: str = "user_id", type_col: str = "event_type"
) -> DataFrame:
    """Batch form of the per-key top-k categorical counts: group-by +
    window rank + per-key totals."""
    ev = events.filter(F.col(key_col).isNotNull() & F.col(type_col).isNotNull())
    counts = ev.groupBy(key_col, type_col).agg(F.count("*").alias("n"))
    totals = ev.groupBy(key_col).agg(F.count("*").alias("total_seen"))
    w = Window.partitionBy(key_col).orderBy(F.desc("n"), F.asc(type_col))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .join(totals, key_col)
        .select(key_col, type_col, "n", F.col("rk").cast("int").alias("rk"), "total_seen")
    )


def user_top_types_stream_v1(
    events: DataFrame, k: int = 3, key_col: str = "user_id", type_col: str = "event_type"
) -> DataFrame:
    """Per-key top-k categorical counts via `applyInPandasWithState` —
    the SAME output contract as `user_top_types_stream` below, expressed
    in the v1 arbitrary-state API so the operator has a live
    micro-batch end-to-end path with NO extra dependencies (the v2
    `transformWithStateInPandas` needs the protobuf package for its
    state-server wire protocol; this form speaks the Arrow state format
    the v1 API has always used).

    State is the per-key category->count map carried as parallel
    (types[], counts[]) arrays in the opaque v1 state tuple — the v1
    API offers no typed MapState, so each batch deserializes and
    rewrites the whole per-key blob; that is exactly the granularity
    cost the v2 form avoids, kept here as the dependency-free fallback.
    Each batch emits the key's refreshed top-k snapshot plus
    `total_seen`, so the latest snapshot per key (highest total_seen)
    equals `user_top_types_batch` — asserted live in
    tests/test_streaming.py without any skip gate."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, {type_col} string, n bigint, rk int, total_seen bigint"
    )
    state_schema = "types array<string>, counts array<bigint>"

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            types, counts = state.get
            m = dict(zip(types, counts))
        else:
            m = {}
        for pdf in pdfs:
            for t, c in pdf[type_col].value_counts().items():
                m[t] = m.get(t, 0) + int(c)
        state.update((list(m.keys()), [int(v) for v in m.values()]))
        total = sum(m.values())
        top = sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        yield pd.DataFrame(
            {
                key_col: pd.Series([key[0]] * len(top)),
                type_col: [t for t, _ in top],
                "n": pd.Series([c for _, c in top], dtype="int64"),
                "rk": pd.Series(range(1, len(top) + 1), dtype="int32"),
                "total_seen": pd.Series([total] * len(top), dtype="int64"),
            }
        )

    ev = events.filter(F.col(key_col).isNotNull() & F.col(type_col).isNotNull())
    return ev.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def user_top_types_stream(
    events: DataFrame, k: int = 3, key_col: str = "user_id", type_col: str = "event_type"
) -> DataFrame:
    """Per-key top-k categorical counts via `transformWithStateInPandas` —
    the Spark 4 arbitrary-state API (state API v2): a typed MapState per
    key carries the per-category counts across micro-batches, and each
    batch emits the key's refreshed top-k snapshot (plus `total_seen`, so
    downstream consumers — and the batch-equivalence test — can keep the
    latest snapshot per key).

    vs `applyInPandasWithState` (user_running_totals_stream above): the
    v2 API gives *composable typed state primitives* (Value/List/Map
    state, TTL, timers) instead of one opaque state tuple — MapState here
    updates only the touched categories per batch rather than
    deserializing the whole per-key blob. State size is O(keys x
    categories); pass a `ttlDurationMs` on the state for unbounded key
    spaces.

    Environment gates: transformWithState needs (a) the RocksDB state
    store provider (`spark.sql.streaming.stateStore.providerClass = org.
    apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
    — also the provider you want at scale: incremental checkpoints,
    state larger than heap) and (b) the `protobuf` package for its
    state-server wire protocol. The processor logic itself is
    dependency-free and unit-tested against a fake state handle
    (tests/test_streaming.py); the end-to-end stream test skips where
    protobuf is absent."""
    key_type = events.schema[key_col].dataType.simpleString()
    out_schema = (
        f"{key_col} {key_type}, {type_col} string, n bigint, rk int, total_seen bigint"
    )
    ev = events.filter(F.col(key_col).isNotNull() & F.col(type_col).isNotNull())
    return ev.groupBy(key_col).transformWithStateInPandas(
        TopTypesProcessor(k, key_col, type_col), out_schema, "Update", "None"
    )
