"""Sources & sinks (SURVEY.md §2.1, rows S1-S7).

The reference's IO surface is: header CSV with schema inference in
(challenge.scala:16-22), `§`-delimited header CSV out + read-back
(challenge.scala:104-112), gzip parquet out + read-back
(challenge.scala:186-196, 219-229). This module re-expresses that surface
idiomatically and adds the defaults a 100 TB deployment needs:

- Explicit `StructType` schemas are the default; `infer_schema=True` is an
  opt-in *compatibility* mode (schema inference is an extra full scan of the
  input and is non-reproducible on dirty data -- SURVEY.md §1.2).
- `permissive_strings` mode reads every CSV column as string (what inference
  yields on the reference's dirty file) so the cleaning operators own all
  coercion via `try_cast`-style expressions.
- Parquet is the engine's at-rest format. Readers take column/filter
  arguments only implicitly -- callers express projections/filters on the
  returned DataFrame and Catalyst pushes them into the scan (verified via
  `plans.scan_report`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# --- CSV ------------------------------------------------------------------


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    *,
    header: bool = True,
    sep: str = ",",
    infer_schema: bool = False,
    permissive_strings: bool = False,
    corrupt_record_col: str | None = None,
    mode: str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """CSV scan (S1/S2/S4).

    ``permissive_strings=True`` reproduces the reference's effective behavior
    on dirty data (every column lands as string; SURVEY.md §1.2) without the
    inference scan: pass the column names via ``schema`` (a StructType whose
    fields are ignored except for names, or a list-like DDL string) and all
    fields are read as nullable strings.

    ``corrupt_record_col`` opts into tracking unparseable rows
    (PERMISSIVE-mode `_corrupt_record`, absent from the reference).

    ``mode`` selects malformed-row policy: PERMISSIVE (default — nulls +
    optional corrupt-record capture), DROPMALFORMED (silently skip), or
    FAILFAST (abort the read). ``multiline=True`` allows quoted fields to
    span physical lines (kills input-split parallelism per file — use
    only on sources that genuinely need it).
    """
    reader = spark.read.option("header", header).option("sep", sep)
    if mode:
        reader = reader.option("mode", mode)
    if multiline:
        reader = reader.option("multiLine", True)
    if corrupt_record_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_record_col)
    if permissive_strings:
        if schema is None:
            raise ValueError("permissive_strings requires column names via schema")
        if isinstance(schema, StructType):
            names = [f.name for f in schema.fields]
        else:
            # parse DDL properly — naive comma-splitting invents phantom
            # columns for types with commas (DECIMAL(10,2), STRUCT<...>)
            names = [f.name for f in StructType.fromDDL(str(schema)).fields]
        ddl = ", ".join(f"`{n}` STRING" for n in names)
        if corrupt_record_col:
            ddl += f", `{corrupt_record_col}` STRING"
        reader = reader.schema(ddl)
    elif schema is not None:
        if corrupt_record_col:
            # the tracking column must exist in the read schema, or Spark
            # silently drops the corrupt-row payload
            if isinstance(schema, StructType):
                from pyspark.sql.types import StringType, StructField

                schema = StructType(
                    [*schema.fields, StructField(corrupt_record_col, StringType())]
                )
            else:
                schema = f"{schema}, `{corrupt_record_col}` STRING"
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


# --- JSON (lines) ---------------------------------------------------------


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    *,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines scan. Pass an explicit schema at scale: inference scans
    the whole input once before the real read. For JSON *columns* inside a
    table (e.g. events.props), prefer `F.get_json_object`/`from_json` on
    the string column — no extra source needed."""
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per row; splittable, schema-on-read)."""
    df.write.mode(mode).json(path)


# --- ORC ------------------------------------------------------------------


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Plain-text source: one row per line, single `value` string column
    (`spark.read.text`). The raw-ingest floor beneath CSV/JSON — web
    dumps, logs before any schema. Splittable like any text source, so
    the scan parallelizes by byte range at 100 TB."""
    return spark.read.text(path)


def write_text(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Plain-text sink: writes the single string column one value per
    line (`df.write.text`). Values must be newline-free — the format
    has no quoting, so embedded newlines change the line count on
    read-back (the round-trip query strips them first and the oracle
    re-derives from the stripped form, pinning exactly that contract)."""
    df.write.mode(mode).text(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan. Same pushdown story as parquet (projection + predicate
    reach the scan); ORC is the interchange format Hive-era warehouses
    hand over, so a migration off the reference needs both readers."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    compression: str = "zlib",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink (zlib default mirrors the ORC ecosystem default)."""
    writer = df.write.option("compression", compression).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


# --- Parquet --------------------------------------------------------------


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S6). Projection & predicates pushed down by Catalyst."""
    return spark.read.parquet(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Parquet sink (S5; reference writes gzip, challenge.scala:186-190).

    Writes with the session codec (`spark.sql.parquet.compression.codec`,
    zstd under get_spark) and page format (`parquet.writer.version`, v2).

    At scale, prefer ``partition_by`` on low-cardinality pruning columns
    (date, region) and ``bucket_by`` on high-cardinality join keys so
    downstream equi-joins and group-bys on those keys skip the shuffle
    (bucketed writes require a table name -- saveAsTable).
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if not table_name:
            raise ValueError("bucket_by requires table_name (saveAsTable)")
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(table_name)
        return
    writer.parquet(path)


def scratch_dir(tag: str, key: str) -> str:
    """Deterministic scratch directory keyed by (tag, key): repeated
    gate/bench invocations re-write the SAME path (mode=overwrite)
    instead of leaking a fresh mkdtemp per run. Shared by every query
    that needs a derived on-disk table (stream sources, state tables,
    partitioned copies, CDC snapshots). A table that is appended to,
    committed to or checkpointed must start empty: take it from
    `fresh_dirs` instead."""
    import hashlib
    import os
    import tempfile

    digest = hashlib.md5(key.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), "spark_graft_scratch")
    path = os.path.join(root, f"{tag}_{digest}")
    os.makedirs(path, exist_ok=True)
    return path


def fresh_dirs(sf_dir: str, *tags: str) -> list[str]:
    """The `scratch_dir(tag, sf_dir)` paths for `tags`, each removed, so
    the path is absent until a writer creates it. Every manifest table,
    checkpoint and streaming sink a gate builds starts here: a stale
    checkpoint against a rewritten source marks every file as already
    committed (the stream reads nothing), and a leftover manifest,
    batch partition or compaction horizon double-counts the re-run."""
    import shutil

    paths = [scratch_dir(tag, sf_dir) for tag in tags]
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)
    return paths


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~target-sized files and return the output file count.

    Streaming sinks and fine-grained partition writes accumulate small
    files, and at 100 TB the scan's task count (and NameNode/liststore
    pressure) follows the file count, not the byte count. Sizing uses the
    on-disk byte sum via the Hadoop FileSystem API (cheap file-status
    scan, no data read, and correct for hdfs://, s3a://, file:// alike —
    a local pathlib walk would silently report 0 bytes for remote URIs
    and compact everything into one file). `repartition` (round-robin)
    gives even output sizes. Compact into a NEW directory and swap —
    rewriting in place would race readers.

    The return value is the ACTUAL post-write output file count (the
    same FileSystem listing run against out_path), not the requested
    repartition count — a writer that splits a partition into multiple
    files (size-capped rolls, speculative retries) would otherwise pass
    a files-reduced gate undetected."""
    _, n_bytes = parquet_file_stats(spark, path)
    n_files = max(1, -(-n_bytes // target_file_bytes))  # ceil
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(
        out_path
    )
    n_actual, _ = parquet_file_stats(spark, out_path)
    return n_actual


def parquet_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(file_count, byte_sum) of the .parquet files under `path`, via the
    Hadoop FileSystem recursive iterator — a footer-free file-status
    scan that works for hdfs://, s3a://, and file:// alike. Used for
    compaction sizing, post-compaction verification, and layout-pruning
    gates; never reads data."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    n_files = 0
    n_bytes = 0
    it = fs.listFiles(hpath, True)  # recursive remote iterator
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            n_files += 1
            n_bytes += status.getLen()
    return n_files, n_bytes


# --- testdata loaders -----------------------------------------------------

# Schema memo for the static testdata tables — METADATA only, the role a
# metastore/manifest plays at scale (guide §6: re-listing/re-inferring per
# read is pure driver overhead). A bare `spark.read.parquet(path)` runs
# parquet schema inference inside ResolveDataSource on EVERY call
# (~95 ms/table here; a 6-table query paid ~0.6 s of its bench row just
# re-deriving schemas it had already derived). The memo is keyed on
# (path, mtime, size) so a rewritten file re-infers, and it stores only
# the StructType: every query still builds a fresh scan over the parquet
# input — no rows, plans, or results are reused across invocations.
_SCHEMA_MEMO: dict[tuple[str, int, int], StructType] = {}


def _parquet_with_schema_memo(spark: SparkSession, path: str) -> DataFrame:
    import os

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    sch = _SCHEMA_MEMO.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


# Resolved-DataFrame memo, one step up from the schema memo: even with
# the schema supplied, every load_table call paid ~24 py4j round-trips /
# ~65 ms re-building the reader, re-resolving the DataSource relation
# and re-applying the NTZ fixup for an immutable testdata file — a
# 6-table query re-derived six table references it had already derived.
# The memo returns the SAME lazy DataFrame (an analyzed
# plan — a table reference, exactly what `spark.table()` returns against
# a metastore after the first resolution). METADATA only: a DataFrame
# holds no rows, every action on it re-plans and re-scans the parquet
# files, `clearCache()` is unaffected (nothing here is persisted), and a
# rewritten file (mtime/size key) or a new session (applicationId key)
# re-resolves from scratch.
_TABLE_MEMO: dict[tuple[str, str, int, int], DataFrame] = {}


def _session_key(spark: SparkSession) -> str:
    key = getattr(spark, "_bgps_app_id", None)
    if key is None:
        key = spark.sparkContext.applicationId
        spark._bgps_app_id = key
    return key


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md).

    Pins the session timezone to UTC ONCE PER SESSION (first call for a
    given applicationId): every catalog query flows through here, and
    window/date-part/collected-timestamp results are session-TZ-dependent
    — a non-UTC driver session would shift them against the
    timezone-naive DuckDB oracles (engine sessions already default to
    UTC; this covers externally-built sessions). The pin is deliberately
    NOT re-verified per call (a conf.get is a py4j round-trip and this is
    the hottest driver-side path): user code that re-sets
    spark.sql.session.timeZone after the first catalog query takes
    responsibility for the UTC contract itself.

    `events.parquet` stores ts as parquet TIMESTAMP(NANOS), which Spark 4
    rejects ([PARQUET_TYPE_ILLEGAL]) unless the legacy nanosAsLong read is
    enabled; we enable it per-read and truncate nanos -> microsecond
    TimestampType JVM-side (integer `div`, matching DuckDB's ns->us
    truncation), so downstream operators see a normal timestamp column.

    Timezone-naive parquet timestamps (isAdjustedToUTC=false, the format
    round-2 testdata uses) come back as TIMESTAMP_NTZ under Spark 4's
    default inferTimestampNTZ — a type `unix_micros`, watermarks, and
    other time operators reject. `_ntz_to_utc_timestamp` casts those
    columns to session-TZ TimestampType; with the UTC pin above the cast
    relabels the same wall-clock instant, matching how DuckDB reads the
    identical file, so oracle comparisons are unchanged.
    """
    import os

    skey = _session_key(spark)
    if getattr(spark, "_bgps_tz_pinned", None) != skey:
        # once per session: every later call would re-set the same value
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark._bgps_tz_pinned = skey
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    memo_key = (skey, path, st.st_mtime_ns, st.st_size)
    memoized = _TABLE_MEMO.get(memo_key)
    if memoized is not None:
        return memoized
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_MEMO[memo_key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """First-resolution path of load_table (see its docstring)."""
    if name == "events":
        # Scope the legacy-nanos conf to this read: leaking it
        # session-wide would make OTHER parquet reads silently accept
        # TIMESTAMP(NANOS) columns as raw longs without this fixup.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = _parquet_with_schema_memo(spark, f"{sf_dir}/{name}.parquet")
            df.schema  # force analysis while the conf is active
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ntz_to_utc_timestamp(df)
    return _ntz_to_utc_timestamp(
        _parquet_with_schema_memo(spark, f"{sf_dir}/{name}.parquet")
    )


def _ntz_to_utc_timestamp(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TimestampType. Callers pin the
    session timezone to UTC first, so the cast preserves the stored
    wall-clock values exactly (no instant shift) — it only restores the
    type the rest of the engine (unix_micros, watermarks, window()) was
    built against."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Register testdata tables as temp views for the SQL surface."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
