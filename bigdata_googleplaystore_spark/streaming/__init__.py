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
    duplicates — exactly-once without transactions. Single definition so
    the streaming writers, the batch backfill path, and any future
    compaction job cannot drift from each other."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(out_dir)
    )


def _read_state_partials(
    spark: SparkSession, state_dir: str, as_of_batch: int | None = None
) -> DataFrame:
    """Per-batch partial-state rows, optionally pinned to a version
    (_batch_id <= as_of_batch), with the partition column dropped —
    the single read path under every latest/as-of/signed state fold."""
    partials = spark.read.parquet(state_dir)
    if as_of_batch is not None:
        partials = partials.filter(F.col("_batch_id") <= as_of_batch)
    return partials.drop("_batch_id")


def _run_stream_to_batch_partitions(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    transform=None,
) -> None:
    """THE foreachBatch runner every batch-partitioned sink here shares:
    each micro-batch (optionally passed through `transform(batch_df)`
    first — the partial-state builders plug in there) lands in its own
    idempotent `_batch_id` partition via write_batch_partition, then the
    bounded stream drains and stops. One definition, so runner-level
    changes (trigger options, error handling) cannot drift across the
    raw-sink, scalar-, signed-, and multiset-state writers."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        write_batch_partition(batch_df, out_dir, batch_id)

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
    """Exactly-once-per-batch parquet sink via foreachBatch: each
    micro-batch overwrites its own `_batch_id=<id>` partition, so a batch
    replayed after a failure rewrites the same directory instead of
    appending duplicates (idempotent writes + checkpointed offsets =
    end-to-end exactly-once for deterministic transformations). The
    pattern generalizes to JDBC upserts / MERGE sinks — foreachBatch is
    the extension point Structured Streaming gives you for any sink with
    transactional or idempotent semantics."""
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
    count/sum/min/max per key) into its own `_batch_id` partition with
    dynamic partition overwrite.

    Replayed batches rewrite their own partition — idempotent, so the
    state table is exactly-once without transactions. History is never
    re-read: each batch shuffles only its own |keys| rows. Readers call
    `read_incremental_state` to fold the partials; a compaction job can
    merge old partitions into a base the same way (same merge operator)
    without changing reader semantics."""
    from ..operators import incremental

    _run_stream_to_batch_partitions(
        stream_df,
        state_dir,
        checkpoint_dir,
        transform=lambda b: incremental.partial_agg(b, keys, value_col),
    )


def read_incremental_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Fold all per-batch partials into the current aggregate view."""
    from ..operators import incremental

    partials = _read_state_partials(spark, state_dir)
    return incremental.finalize(incremental.merge_partials(partials))


def read_incremental_state_asof(
    spark: SparkSession, state_dir: str, as_of_batch: int
) -> DataFrame:
    """TIME-TRAVEL read: the aggregate view exactly as it stood after
    `as_of_batch` was committed — fold only partials with
    _batch_id <= as_of_batch. Because every batch owns its own
    immutable partition, any historical version stays reconstructible
    after later batches land; pinning a training run to a version
    makes the dataset REPRODUCIBLE (the lineage primitive a
    transactional table format gives you, recovered here from plain
    partitioned parquet).

    Scale posture: _batch_id is a PARTITION column, so the as-of
    predicate prunes newer partitions at the scan — a version read
    costs O(partials up to that version), never O(all history), and
    the fold is the same |keys|-row shuffle as the latest-read path.

    After compaction (compact_state_partials), versions below the
    compaction horizon are gone; their as-of reads FLOOR to the
    horizon version, because the merged base's reserved negative
    _batch_id passes every as-of filter."""
    from ..operators import incremental

    partials = _read_state_partials(spark, state_dir, as_of_batch)
    return incremental.finalize(incremental.merge_partials(partials))


def run_stream_signed_agg(
    stream_df: DataFrame,
    keys: list[str],
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    mult_col: str = "_mult",
) -> None:
    """Streaming CDC materialized view: run_stream_incremental_agg's
    per-batch-partition protocol over a SIGNED change feed (`mult_col`
    +1 insert / -1 delete — the Z-set encoding a Debezium-style CDC
    topic delivers). Each micro-batch writes its signed partial
    (operators/incremental.partial_agg_signed: count/sum weighted by
    multiplicity) into its own idempotent `_batch_id` partition;
    retractions need no special handling anywhere in the streaming
    machinery because the signed state absorbs them by the same
    addition that absorbs inserts — deletes arriving in a DIFFERENT
    micro-batch than the insert they cancel fold correctly because
    the algebra is split-invariant. History is never re-read; each
    batch shuffles its own |keys| rows."""
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
    """Fold all per-batch SIGNED partials into the current view: counts
    and sums add across batches, groups retracted to zero disappear
    (operators/incremental.finalize_signed)."""
    from ..operators import incremental

    partials = _read_state_partials(spark, state_dir)
    return incremental.finalize_signed(
        incremental.merge_partials_signed(partials)
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
    each micro-batch of the Z-weighted change feed writes its per-
    (key, value) net counts (operators/incremental.multiset_state) into
    its own idempotent `_batch_id` partition, exactly the protocol the
    scalar run_stream_signed_agg uses. Retractions again need no
    special machinery — the multiset algebra is split-invariant, so a
    -1 landing batches after its +1 nets out in the read-side fold.
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
    """Fold all per-batch multiset partials into the current net
    (keys..., value, _cnt) state: counts add across batches, rows
    netted to zero drop out. This ONE folded frame serves every
    multiset reader — finalize_minmax, finalize_distinct,
    finalize_topn — so a stream maintains all the non-invertible
    aggregates with a single state table."""
    from ..operators import incremental

    return incremental.merge_multisets(_read_state_partials(spark, state_dir))


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
    """The `_batch_id=<n>` partition ids present in a state table,
    sorted, via the session's Hadoop FileSystem (works on hdfs://s3a:
    paths). Single definition shared by compaction and its gate so the
    listing route cannot drift from the operator it verifies."""
    return manifest_log.list_batch_ids(HadoopBackend(spark), state_dir)


def compact_state_partials(
    spark: SparkSession, state_dir: str, upto_batch: int
) -> int:
    """State-table COMPACTION: merge every `_batch_id <= upto_batch`
    partial partition (including any earlier compacted base) into ONE
    base partition stored at the RESERVED id `compact_base_id(
    upto_batch)` — negative, outside the id space streams write, so a
    micro-batch replayed after compaction overwrites its own directory
    and never the base — then delete the now-redundant older
    partitions. Readers are untouched — the fold operators are
    associative, so (merged base) ⊕ (newer partials) equals the
    original chain; `read_incremental_state` and friends work unchanged
    on the compacted table. Works on any of the three state schemas
    (merge_state_partials).

    Replay contract: compact only behind the stream's COMMITTED
    checkpoint offset. A replay of an id <= the horizon (possible only
    when that contract is violated) adds a duplicate partial next to
    the base that already folded it — double-counting that one batch —
    rather than destroying history; ids > the horizon replay
    idempotently as always.

    The TRADE, stated plainly: as-of reads BELOW `upto_batch` are no
    longer reconstructible — compaction is the retention boundary
    (exactly a transactional format's VACUUM horizon). Because the
    base's negative id passes every `_batch_id <= v` as-of filter, an
    as-of read below the horizon FLOORS to the horizon version (the
    nearest surviving one) instead of returning empty. Pick
    `upto_batch` behind every version any consumer still pins.

    Scale posture: a state table accumulating one partition per
    micro-batch forever pays O(batches) files and footers per read;
    compaction caps the read fan-in at O(1) base + O(recent batches)
    while each compaction itself shuffles only |keys| (or |distinct
    (key, value)|) rows — never raw history. Partition removal goes
    through the Hadoop FileSystem API, so the table may live on
    hdfs:// or s3a:// paths, not only local disk.

    Measured (COVERAGE.md, sf0.1 orders, 64 batches
    compacted to 1 base + 7 recent): file fan-in 64 -> 8 and the
    latest-view fold 0.515s -> 0.273s with the folded values asserted
    identical; the 0.96s compaction amortizes over every future read.
    At a batch-per-minute cadence an uncompacted month is ~43k
    partitions — listing/footer overhead dominates reads long before
    data volume does.

    Returns the number of old partitions removed."""
    base_id = compact_base_id(upto_batch)
    listed = list_batch_partitions(spark, state_dir)
    # an existing base at horizon H (id -(H+1)) folded batches through
    # H, so "compacting" to an earlier upto would relabel version-H data
    # as an older version
    check_horizon(
        "compact_state_partials",
        upto_batch,
        max((manifest_log.effective_seq(b) for b in listed if b < 0), default=None),
    )
    # every partition the merged base subsumes: ids <= upto_batch,
    # including any earlier (more-negative-than-new) compacted base
    old_ids = [b for b in listed if b <= upto_batch and b != base_id]
    # Swap protocol (WRITE-BEFORE-DELETE): write the merged base INTO
    # the table at its reserved negative id, and only then delete the
    # subsumed partitions. The swap is still not atomic, but every crash
    # window now errs toward DUPLICATION, never loss: a crash before the
    # base write leaves the table untouched (re-run recomputes the merge
    # from the intact partials); a crash after the base write but
    # mid-delete leaves base + some subsumed partials coexisting — reads
    # double-count those batches (detectable) until the re-run below
    # notices the base partition already exists, SKIPS the merge
    # (re-merging partials that include the base would fold it twice),
    # and finishes the deletes. A production deployment wraps this in a
    # manifest commit (streaming/manifest.compact_snapshot); the
    # operator keeps the merge / retention semantics and the FS
    # mechanics, which is what the gate checks.
    if base_id not in listed:
        write_compacted_base(
            spark,
            merge_state_partials(_read_state_partials(spark, state_dir, upto_batch)),
            state_dir,
            base_id,
        )
    # base is durable in-table; the deletes are idempotent from here
    for b in old_ids:
        _delete_path(spark, manifest_log.batch_path(state_dir, b))
    return len(old_ids)


def check_horizon(op: str, upto_batch: int, horizon: int | None) -> None:
    """A compaction's horizon only moves forward: refuse `upto_batch`
    behind the table's current `horizon` (None: never compacted)."""
    if horizon is not None and upto_batch < horizon:
        raise ValueError(
            f"{op}: upto_batch={upto_batch} is behind the compaction "
            f"horizon {horizon} — the horizon only moves forward"
        )


def merge_state_partials(partials: DataFrame) -> DataFrame:
    """Fold partial-state rows of any of the three state schemas,
    dispatching on the columns: multiset partials (`_cnt`) with
    merge_multisets, scalar partials (`_min`/`_max`) with
    merge_partials, signed partials with merge_partials_signed."""
    from ..operators import incremental

    if "_cnt" in partials.columns:
        return incremental.merge_multisets(partials)
    if "_min" in partials.columns:
        return incremental.merge_partials(partials)
    return incremental.merge_partials_signed(partials)


def write_compacted_base(
    spark: SparkSession, base: DataFrame, table_dir: str, base_id: int
) -> None:
    """Land a compaction's merged `base` at its reserved partition. The
    merge plan reads the very partitions the base subsumes, so it is
    materialized OUTSIDE the table first (`<table>__compact_tmp`) and
    only then written in; the staging copy is removed afterwards."""
    tmp = table_dir.rstrip("/") + "__compact_tmp"
    base.write.mode("overwrite").parquet(tmp)
    write_batch_partition(spark.read.parquet(tmp), table_dir, base_id)
    _delete_path(spark, tmp)


def _delete_path(spark: SparkSession, path: str) -> None:
    """Recursive delete through the session's Hadoop FileSystem (works
    on hdfs:// and s3a:// paths, not only local disk)."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).delete(
        jpath, True
    )


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
