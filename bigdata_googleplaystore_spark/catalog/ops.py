"""Operator-level queries: one per SURVEY.md §2 inventory row.

Each query isolates one operator family from the reference's surface
(projections/filters P1-P12, scalar functions F1-F7, aggregations A1-A7,
joins J1+extensions, sorts/limits O1-O2, plus the set/window/rollup
extensions listed in §2.7) on the driver's testdata, with a DuckDB oracle.

Determinism: see registry docstring. Money/measure sums go through exact
decimals (`_util`); top-k uses total tiebreak orders; arrays are sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import fresh_dirs, load_table, manifest_log, scratch_dir
from ..sources.storage import HadoopBackend
from ._util import (
    REVENUE_DEC_SQL,
    dec2,
    file_stream,
    money_sum,
    money_sum_sql,
    revenue_dec,
)
from .registry import register


def _save_confs(spark: SparkSession, keys) -> dict[str, str | None]:
    """Snapshot session confs with true isSet semantics: a key the user
    never set maps to None (restore = unset), NOT the engine-default
    string `spark.conf.get()` would serve — pinning a default as an
    explicit value would mask later default changes and convert
    previously-unset confs into set ones. Uses
    SQLConf.contains, which consults only the explicitly-set settings
    map, never the registered defaults."""
    sqlconf = spark._jsparkSession.sessionState().conf()
    return {k: (spark.conf.get(k) if sqlconf.contains(k) else None) for k in keys}


def _restore_confs(spark: SparkSession, saved: dict[str, str | None]) -> None:
    """Inverse of _save_confs: unset keys that were unset, restore the rest."""
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


# --------------------------------------------------------------------------
# P: projections / filters / predicates (SURVEY §2.2)
# --------------------------------------------------------------------------


@register(
    "scan_project_prune",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
    tags=("scan", "projection"),
)
def scan_project_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: projection + filter; Catalyst prunes the scan to 4 of 11 columns
    and pushes the predicate into the parquet reader (reference analogue:
    final selects at challenge.scala:87,167)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "partitioned_scan_prune",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE year(l_shipdate) = 1996
    GROUP BY l_returnflag
    """,
    tags=("scan", "partitioning", "layout"),
)
def partitioned_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side STATIC partition pruning end-to-end: lineitem is
    written out hive-partitioned by a derived
    ship_year column (sources.write_parquet partition_by — the at-rest
    layout a 100 TB fact table would use), re-read, and filtered on the
    partition column. Catalyst turns the filter into a PartitionFilters
    entry on the scan, so only the ship_year=1996 directory is listed
    and read — the other ~6/7ths of the table contributes zero I/O
    (tests/test_plans.py asserts both the plan shape and that
    inputFiles() contains only the pruned directory). The oracle
    recomputes the same aggregate from the unpartitioned source, so the
    partitioned write -> prune -> read round-trip is value-checked, not
    just plan-checked. Scratch copy goes to a deterministic overwrite
    path (sources.scratch_dir), one copy per SF on disk."""
    from ..sources import write_parquet

    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate")
    )
    path = scratch_dir("lineitem_by_year", sf_dir)
    write_parquet(l, path, partition_by=["ship_year"])
    part = spark.read.parquet(path).filter(F.col("ship_year") == 1996)
    return part.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        money_sum(revenue_dec()).alias("revenue"),
    )


@register(
    "json_sink_scan_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("source", "json"),
)
def json_sink_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink -> scan round trip, value-checked end-to-end: the
    orders table (bigints, doubles, timestamps, strings) is written as
    JSON-lines (sources.write_json), re-read with the ORIGINAL schema
    (sources.read_json — schema-on-read, no inference pass), and
    aggregated; the oracle recomputes the same aggregate from the
    untouched parquet source, so any fidelity loss in the text round
    trip — double shortest-repr parsing, timestamp/zone formatting,
    priority strings — breaks the hash, not just a row count. Money is
    summed under the _util decimal scheme (cast the clean-2-decimal
    double to DECIMAL before summing) so the comparison tests the JSON
    codec, not float accumulation order.

    Scale: JSON-lines is splittable, so the scan parallelizes like any
    text source; the aggregate is one map-side-combinable shuffle on
    5 keys. At 100 TB you'd pay the parse once and convert to
    parquet/ORC (the other queries' layout), but log INGEST is
    JSON-shaped and this is that path. Explicit-schema read is the
    scale posture: inference would scan the input twice."""
    from ..sources import read_json, write_json

    o = load_table(spark, sf_dir, "orders")
    path = scratch_dir("orders_json", sf_dir)
    write_json(o, path)
    back = read_json(spark, path, schema=o.schema)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        money_sum(dec2(F.col("o_totalprice"))).alias("total_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register(
    "orc_sink_scan_roundtrip",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_quantity < 25
    GROUP BY l_returnflag
    """,
    tags=("source", "orc"),
)
def orc_sink_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink -> scan round trip with predicate pushdown, value-checked:
    lineitem is written to ORC (zlib — sources.write_orc), re-read, and
    aggregated under a date-range + quantity filter; the oracle
    recomputes from the untouched parquet source. ORC is the Hive-era
    interchange format a migration off the reference's warehouse hands
    over, so the reader needs the same first-class evidence as parquet:
    the filters reach the ORC scan as PushedFilters (asserted in
    tests/test_plans.py) and ORC's min/max stripe statistics skip
    non-matching stripes at scale — same pushdown story as the parquet
    S5/S6 rows, different at-rest format."""
    from ..sources import read_orc, write_orc

    l = load_table(spark, sf_dir, "lineitem")
    path = scratch_dir("lineitem_orc", sf_dir)
    write_orc(l, path)
    back = read_orc(spark, path)
    return (
        back.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_quantity") < 25)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            money_sum(revenue_dec()).alias("revenue"),
        )
    )


@register(
    "text_sink_scan_roundtrip",
    oracle=r"""
    WITH stripped AS (
      SELECT regexp_replace(text, '[\r\n]+', ' ', 'g') AS line
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(length(line)) AS BIGINT) AS sum_chars,
           min(line) AS min_line,
           max(line) AS max_line
    FROM stripped
    """,
    tags=("source", "text"),
)
def text_sink_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text sink -> scan round trip, value-checked: every non-null
    document is written one-per-line (newlines stripped first — the
    format has no quoting, and this query pins exactly that contract),
    re-read with `spark.read.text`, and aggregated; the oracle
    re-derives line count, total characters, and lexicographic bounds
    from the stripped source column. This is the raw-ingest floor
    beneath CSV/JSON — web dumps and log files before any schema — and
    the bounds check means a truncated line, an encoding slip, or a
    partial file surfaces as a hash mismatch, not a plausible count."""
    from ..sources import read_text, write_text

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    lines = d.select(
        F.regexp_replace("text", r"[\r\n]+", " ").alias("value")
    )
    path = scratch_dir("documents_text", sf_dir)
    write_text(lines, path)
    back = read_text(spark, path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).alias("sum_chars"),
        F.min("value").alias("min_line"),
        F.max("value").alias("max_line"),
    )


@register(
    "observed_scan_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
             AS n_returned,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_qty,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    """,
    tags=("observe", "metrics", "quality"),
)
def observed_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight metrics via `DataFrame.observe` (the Observation API),
    value-checked: data-quality counters (row count, returned-flag
    count, exact-decimal quantity sum, ship-date bounds) are attached
    to the lineitem scan as observed metrics and harvested from the
    listener AFTER a single noop-write pass — the metrics ride the SAME
    job as the real work, costing zero extra scans. That is the
    production shape for pipeline observability at 100 TB: a separate
    metrics query would re-read the table; `observe` piggybacks on the
    write you were doing anyway (exactly how a foreachBatch sink
    publishes per-batch quality counters). The harvested values come
    back as a 1-row DataFrame and the oracle recomputes them with plain
    SQL, so the listener channel itself — not just the aggregate
    expressions — is what the hash gates.

    The returned frame is driver-constructed from the observation's
    result dict (5 scalars — model-sized by construction, like the
    k-means centroid collects). The ship-date bounds travel the driver
    hop as `date_format`ted STRINGS and are cast back to timestamp with
    `to_timestamp` on the reconstructed frame: both conversions run
    JVM-side under the session timezone pin, whereas round-tripping raw
    datetimes through createDataFrame's TimestampType would interpret
    them in the driver's LOCAL timezone (a DST-nonexistent local time
    on a non-UTC host would silently shift the value)."""
    from pyspark.sql import Observation
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    l = load_table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        money_sum(dec2(F.col("l_quantity"))).alias("total_qty"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "first_ship"
        ),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "last_ship"
        ),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    schema = StructType(
        [
            StructField("n_rows", LongType(), False),
            StructField("n_returned", LongType(), False),
            StructField("total_qty", DoubleType(), False),
            StructField("first_ship", StringType(), False),
            StructField("last_ship", StringType(), False),
        ]
    )
    row = (
        m["n_rows"],
        m["n_returned"],
        float(m["total_qty"]),
        m["first_ship"],
        m["last_ship"],
    )
    out = spark.createDataFrame([row], schema)
    return out.withColumn(
        "first_ship", F.to_timestamp("first_ship")
    ).withColumn("last_ship", F.to_timestamp("last_ship"))


@register(
    "pydatasource_scan_agg",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 5000)) AS i),
    h AS (SELECT i, md5('docgen:' || CAST(i AS VARCHAR)) AS hx FROM ids),
    rows_ AS (
      SELECT i AS id,
             concat_ws(' ', substr(hx,1,4), substr(hx,5,4), substr(hx,9,4),
                       substr(hx,13,4), substr(hx,17,4), substr(hx,21,4),
                       substr(hx,25,4), substr(hx,29,4)) AS text,
             CAST(CAST('0x' || substr(hx,1,8) AS UBIGINT) % 1000 AS BIGINT)
               AS score
      FROM h
    )
    SELECT score % 10 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(score) AS BIGINT) AS sum_score,
           min(text) AS min_text,
           max(text) AS max_text
    FROM rows_ GROUP BY bucket
    """,
    tags=("source", "pydatasource", "connector"),
)
def pydatasource_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource scan, value-checked end-to-end: the
    docgen connector (sources/pydatasource.py — Spark 4
    `pyspark.sql.datasource` API with an explicit partitions() plan so
    the scan parallelizes across executors) generates 5,000 rows over 8
    partitions, aggregated by score bucket. Rows are a pure function of
    the row id (md5-derived), so DuckDB re-derives the ENTIRE table
    from `range()` + `md5()` and the oracle hash-checks the connector's
    schema declaration, option handling, partition planning, and row
    generation — a disagreement in any partition boundary (dropped or
    doubled ids at the range seams) changes n_rows/sum_score and
    hash-fails. min/max text pin the string content, not just the
    numeric aggregates.

    This is the template for a bespoke-system connector at 100 TB: the
    partitions() plan is what keeps a custom source from funneling
    through one python worker; determinism per id is what makes
    retries and repartitioned re-reads agree."""
    from ..sources import pydatasource

    pydatasource.register(spark)
    df = (
        spark.read.format("docgen")
        .option("rows", 5000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy((F.col("score") % 10).alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum("score").alias("sum_score"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


@register(
    "pydatasource_stream_scan_agg",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 3000)) AS i),
    h AS (SELECT i, md5('docgen:' || CAST(i AS VARCHAR)) AS hx FROM ids),
    rows_ AS (
      SELECT i AS id,
             concat_ws(' ', substr(hx,1,4), substr(hx,5,4), substr(hx,9,4),
                       substr(hx,13,4), substr(hx,17,4), substr(hx,21,4),
                       substr(hx,25,4), substr(hx,29,4)) AS text,
             CAST(CAST('0x' || substr(hx,1,8) AS UBIGINT) % 1000 AS BIGINT)
               AS score
      FROM h
    )
    SELECT score % 7 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(score) AS BIGINT) AS sum_score,
           min(text) AS min_text,
           max(text) AS max_text
    FROM rows_ GROUP BY bucket
    """,
    tags=("source", "pydatasource", "streaming", "connector"),
)
def pydatasource_stream_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING half of the custom Python DataSource, value-checked
    end-to-end: the docgen connector's SimpleDataSourceStreamReader
    (sources/pydatasource.py) replays 3,000 rows in micro-batches of
    173 ids (a non-divisor, so the engine crosses 17 uneven offset
    seams plus a short final batch), drains to a memory sink in append
    mode, and the result aggregates by score bucket. Rows are the same
    pure function of id as the batch reader, so DuckDB re-derives the
    whole table from range()+md5() and the hash check gates the offset
    protocol itself: a dropped, replayed, or double-read micro-batch
    (initialOffset/read/readBetweenOffsets disagreeing at any seam)
    changes n_rows/sum_score and fails.

    Scale posture: offsets are engine-checkpointed dicts, so a bespoke
    100 TB ingest connector written this way inherits Structured
    Streaming's exactly-once offset tracking — restart resumes at the
    committed seam, and replays are idempotent because content is a
    pure function of id."""
    from .. import streaming
    from ..sources import pydatasource

    pydatasource.register(spark)
    stream = (
        spark.readStream.format("docgen")
        .option("rows", 3000)
        .option("batchRows", 173)
        .load()
    )
    drained = streaming.run_stream_to_memory(
        stream, "cat_pydatasource_stream", output_mode="append"
    )
    return drained.groupBy((F.col("score") % 7).alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum("score").alias("sum_score"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


@register(
    "pydatasource_writer_roundtrip",
    oracle="""
    WITH ids AS (SELECT unnest(range(0, 2000)) AS i),
    h AS (SELECT i, md5('docgen:' || CAST(i AS VARCHAR)) AS hx FROM ids),
    rows_ AS (
      SELECT i AS id,
             concat_ws(' ', substr(hx,1,4), substr(hx,5,4), substr(hx,9,4),
                       substr(hx,13,4), substr(hx,17,4), substr(hx,21,4),
                       substr(hx,25,4), substr(hx,29,4)) AS text,
             CAST(CAST('0x' || substr(hx,1,8) AS UBIGINT) % 1000 AS BIGINT)
               AS score
      FROM h
    )
    SELECT score % 5 AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(score) AS BIGINT) AS sum_score,
           CAST(sum(id) AS BIGINT) AS sum_id,
           min(text) AS min_text,
           max(text) AS max_text
    FROM rows_ GROUP BY bucket
    """,
    tags=("source", "pydatasource", "sink", "connector"),
)
def pydatasource_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITER half of the custom Python DataSource, value-checked through
    a full round trip: 2,000 docgen rows over 6 partitions are written
    through the connector's DataSourceWriter (sources/pydatasource.py
    JsonlWriter — per-task temp file + driver-side commit rename, the
    two-phase commit every sane distributed sink uses), read back with
    spark.read.json, and aggregated by score bucket with an id checksum.
    DuckDB re-derives the table from range()+md5(), so the hash check
    gates the commit protocol end-to-end: a lost task file, a leaked
    temp file read back as data, or a double-committed partition
    changes n_rows/sum_id and fails.

    Scale posture: task outputs become visible only via the driver's
    atomic renames at commit — task retries overwrite their own temp
    file and abort() removes stragglers, so speculative execution and
    failure replay never produce torn or duplicate output."""
    from ..sources import pydatasource

    pydatasource.register(spark)
    # the sink appends: a re-run must not read a previous run's files
    [out] = fresh_dirs(sf_dir, "pydsw")
    src = (
        spark.read.format("docgen")
        .option("rows", 2000)
        .option("partitions", 6)
        .load()
    )
    src.write.format("docgen").option("path", out).mode("append").save()
    back = spark.read.json(out).select(
        F.col("id").cast("long"),
        F.col("text").cast("string"),
        F.col("score").cast("long"),
    )
    return back.groupBy((F.col("score") % 5).alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.sum("score").alias("sum_score"),
        F.sum("id").alias("sum_id"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


@register(
    "bucketed_join_no_shuffle",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "layout", "scale"),
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join, value-checked end-to-end: orders and
    lineitem are written bucketed+sorted on the join key (8 buckets,
    sources.write_parquet bucket_by -> saveAsTable), then joined and
    aggregated; the oracle recomputes the same aggregate from the
    unbucketed source, so the bucketed write -> metastore read -> join
    round trip is value-checked, not just plan-checked. The plan
    property that makes this the 100 TB posture — the sort-merge join
    consumes both tables' bucket layout directly, with NO Exchange
    under the join (the only shuffle left is the 5-key aggregate) — is
    asserted in tests/test_plans.py on this registered query, and on
    raw paths in test_scale.py. This is how a fact-fact join that would
    otherwise shuffle 100 TB per run amortizes ONE bucketed write
    across every subsequent join on that key.

    Table names are keyed by SF (same convention as scratch_dir) so one
    session can gate multiple SFs without cross-reads; mode=overwrite
    makes the query re-runnable."""
    import hashlib

    from ..sources import write_parquet

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ot, lt = f"b_orders_{key}", f"b_lineitem_{key}"
    write_parquet(
        o.select("o_orderkey", "o_orderpriority"),
        scratch_dir("bucketed_orders", sf_dir),
        bucket_by=(8, ["o_orderkey"]),
        table_name=ot,
    )
    write_parquet(
        l.select("l_orderkey", "l_extendedprice", "l_discount"),
        scratch_dir("bucketed_lineitem", sf_dir),
        bucket_by=(8, ["l_orderkey"]),
        table_name=lt,
    )
    bo, bl = spark.table(ot), spark.table(lt)
    return (
        bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            money_sum(revenue_dec()).alias("revenue"),
        )
    )


@register(
    "schema_evolution_merge",
    oracle="""
    WITH evolved AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority,
             CASE WHEN o_orderkey % 2 = 1 THEN year(o_orderdate) END AS o_year
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(o_year) AS BIGINT) AS n_evolved,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           CAST(min(o_year) AS INT) AS min_year
    FROM evolved
    GROUP BY o_orderpriority
    """,
    tags=("source", "schema-evolution", "scale"),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches, value-checked end-to-end:
    batch 1 (even order keys) is written with the ORIGINAL 4-column
    schema, batch 2 (odd keys) with an evolved schema that adds an
    o_year column, into the same directory; the read unifies them with
    `mergeSchema` so old-batch rows surface typed nulls for the new
    column. The aggregate counts evolved rows per priority and min's
    the new column, and the oracle re-derives the union from the
    untouched source — so a mis-unified schema (dropped column, wrong
    null backfill, type clash) hash-fails rather than passing as
    plumbing.

    Scale posture: additive column evolution is THE long-lived-table
    operation at 100 TB (rewriting history is off the table).
    `mergeSchema` on read costs a footer-schema union, not a data scan;
    steady-state production pins the merged schema in a metastore
    rather than re-deriving it per query — the read path here is the
    same either way. Footer-only merge also means the per-file reader
    projects absent columns as nulls, which is what the n_evolved /
    min_year pair verifies."""
    o = load_table(spark, sf_dir, "orders")
    base_cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    path = scratch_dir("orders_evolving", sf_dir)
    o.filter(F.col("o_orderkey") % 2 == 0).select(*base_cols).write.mode(
        "overwrite"
    ).parquet(path)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        *base_cols, F.year("o_orderdate").alias("o_year")
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", True).parquet(path)
    return merged.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.count("o_year").alias("n_evolved"),
        money_sum(dec2(F.col("o_totalprice"))).alias("total_price"),
        F.min("o_year").cast("int").alias("min_year"),
    )


@register(
    "compaction_fidelity",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue,
           true AS files_reduced
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("layout", "compaction", "scale"),
)
def compaction_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round trip (sources.compact_parquet),
    value-checked: lineitem is deliberately fragmented into 64 small
    files (the streaming-sink / fine-partition pathology), compacted
    into ~8 MiB-target files via the Hadoop FileSystem byte-sum sizing,
    and re-read; the aggregate must match the untouched source exactly
    (compaction must be a pure layout change — row-identical, no loss,
    no dup) and files_reduced pins that the rewrite actually shrank the
    file count — gated on the ACTUAL post-write on-disk file count
    (sources.parquet_file_stats over out_path), not the requested
    repartition count, so a writer that rolls extra files would fail
    the gate rather than pass undetected. At 100 TB the scan's task count and liststore pressure
    follow file count, not byte count — compaction is the maintenance
    op that keeps a streaming-fed table scannable; fidelity is the
    property that makes it safe to run automatically."""
    from ..sources import compact_parquet

    l = load_table(spark, sf_dir, "lineitem")
    frag = scratch_dir("lineitem_fragmented", sf_dir)
    l.repartition(64).write.mode("overwrite").parquet(frag)
    out = scratch_dir("lineitem_compacted", sf_dir)
    n_after = compact_parquet(
        spark, frag, out, target_file_bytes=8 * 1024 * 1024
    )
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        money_sum(revenue_dec()).alias("revenue"),
        F.lit(n_after < 64).alias("files_reduced"),
    )


def _fact_scan_metric(qe, path_fragment: str, key: str) -> int:
    """Sum metric `key` over executed-plan scan nodes whose description
    mentions `path_fragment` (to pick the partitioned-fact scan, not the
    dim's scan of the raw table). Call AFTER an execution so runtime
    metrics (e.g. the dynamically-pruned partition count) are populated;
    caller must have planned with AQE off — AdaptiveSparkPlanExec hides
    its final plan from children() traversal."""
    total = 0

    def walk(node):
        nonlocal total
        if "Scan" in node.nodeName() and path_fragment in node.toString():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == key:
                    total += kv._2().value()
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(qe.executedPlan())
    return total


@register(
    "dpp_partition_pruned_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type FROM events WHERE length(event_type) >= 6
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST((SELECT count(*) FROM dim) AS BIGINT) AS n_partitions_read,
           CAST((SELECT count(DISTINCT event_type) FROM events)
                AS BIGINT) AS n_partitions_total,
           true AS dpp_active
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("join", "dpp", "scale"),
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning, value-checked end-to-end: events are
    written PARTITIONED on the join key, then joined with a selectively
    filtered dim (event types of length >= 6 — 2 of the 5 types). The
    optimizer must inject the dim's surviving keys as a runtime
    partition filter on the fact scan (DynamicPruningExpression reusing
    the broadcast), so only those partitions' files are read. The
    n_partitions_read column is the fact scan's post-execution
    `numPartitions` metric — the ACTUAL partitions touched — and the
    oracle recomputes it as the dim's surviving-key count from the raw
    table, so a DPP regression (all 5 partitions read) hash-fails the
    row rather than just slowing down. dpp_active pins that the
    executed plan really contained the dynamic-pruning subquery, and
    the per-type aggregate value-checks the join itself.

    At 100 TB this is THE mechanism that turns "join the week's
    partitions against a filtered dim" into reading those partitions
    only — static pruning can't see the dim filter, and without DPP the
    fact scan is a full-table read. AQE is disabled for the probe
    execution only (its wrapper hides the final plan from metric
    traversal); the pruning itself works under either setting. The
    returned frame is driver-constructed from the probe's 2 collected
    rows (re-executing build() under session conf would double the
    gate's cost for identical values)."""
    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir("events_by_type_dpp", sf_dir)
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    def build():
        fact = spark.read.parquet(path)
        dim = (
            ev.select("event_type")
            .distinct()
            .filter(F.length("event_type") >= 6)
        )
        return fact.join(F.broadcast(dim), "event_type").groupBy(
            "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )

    saved_aqe = _save_confs(spark, ["spark.sql.adaptive.enabled"])
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        probe = build()
        # Execute via collect(), NOT a noop write: DataFrameWriter plans a
        # fresh QueryExecution for the write command, leaving THIS
        # instance's scan metrics untouched; collect() runs the cached
        # plan whose metrics we harvest below (result is 2 tiny rows).
        rows = probe.collect()
        qe = probe._jdf.queryExecution()
        active = "dynamicpruning" in qe.executedPlan().toString().lower()
        n_read = _fact_scan_metric(qe, "events_by_type_dpp", "numPartitions")
    finally:
        _restore_confs(spark, saved_aqe)

    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    n_total = sum(
        1
        for st in fs.listStatus(hpath)
        if st.isDirectory() and st.getPath().getName().startswith("event_type=")
    )
    # The join executed ONCE above (the probe); its 2 aggregate rows are
    # already on the driver, so build the result frame from them instead
    # of re-planning/re-executing the join under the session conf.
    return spark.createDataFrame(rows, schema=probe.schema).select(
        "event_type",
        "n_events",
        "n_users",
        F.lit(int(n_read)).cast("long").alias("n_partitions_read"),
        F.lit(int(n_total)).cast("long").alias("n_partitions_total"),
        F.lit(bool(active)).alias("dpp_active"),
    )


@register(
    "bloom_join_pruning",
    oracle=f"""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(round(sum({REVENUE_DEC_SQL}), 2) AS DOUBLE) AS revenue,
           true AS bloom_active
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#23'
    GROUP BY p_brand
    """,
    tags=("join", "bloom", "scale"),
)
def bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning, value-checked: lineitem joins a
    selectively filtered part dim under the shuffle-join regime
    (broadcast disabled — the 1000-executor large-dim shape), with the
    runtime bloom filter enabled. The optimizer builds a bloom filter
    from the filtered dim's join keys and injects a `might_contain`
    probe on the fact side, discarding non-joining lineitem rows BEFORE
    the shuffle — the map-side analogue of dynamic partition pruning
    for non-partition join keys; at 100 TB it is the difference between
    shuffling the whole fact table and shuffling the ~matching rows.

    bloom_active is computed from the materialized optimized plan
    (might_contain / bloom-filter aggregate present) and value-checked
    via the oracle's `true` literal, so losing the rewrite hash-fails
    the gate; the aggregate value-checks that the filter is a pure
    pruning (no row falsely dropped: bloom false positives cost work,
    never correctness). The physical plan is forced while the probe
    confs are set (Dataset caches its QueryExecution), then the session
    conf is restored with isSet semantics (_save_confs: keys that were
    unset before the probe are restored by UNSETTING, not by pinning
    the captured default string); the application-side size threshold
    is lowered because the default is sized for real clusters, not
    sf0.01 testdata."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = _save_confs(spark, confs)
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        l = load_table(spark, sf_dir, "lineitem")
        p = load_table(spark, sf_dir, "part").filter(
            F.col("p_brand") == "Brand#23"
        )
        j = (
            l.join(p, l["l_partkey"] == p["p_partkey"])
            .groupBy("p_brand")
            .agg(
                F.count("*").alias("n_items"),
                money_sum(revenue_dec()).alias("revenue"),
            )
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString().lower()
        active = "might_contain" in optimized or "bloomfilter" in optimized
        out = j.withColumn("bloom_active", F.lit(bool(active)))
        out._jdf.queryExecution().executedPlan()  # pin plan under probe conf
    finally:
        _restore_confs(spark, saved)
    return out


@register(
    "zorder_pruning_payoff",
    oracle="""
    WITH stats AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS lo1,
             CAST(max(o_custkey) AS DOUBLE) AS hi1,
             CAST(min(o_totalprice) AS DOUBLE) AS lo2,
             CAST(max(o_totalprice) AS DOUBLE) AS hi2
      FROM orders
    ),
    box AS (
      SELECT lo1 + 0.40 * (hi1 - lo1) AS blo1, lo1 + 0.55 * (hi1 - lo1) AS bhi1,
             lo2 + 0.40 * (hi2 - lo2) AS blo2, lo2 + 0.55 * (hi2 - lo2) AS bhi2
      FROM stats
    ),
    sel AS (
      SELECT o_totalprice FROM orders CROSS JOIN box
      WHERE o_custkey BETWEEN blo1 AND bhi1
        AND o_totalprice BETWEEN blo2 AND bhi2
    ),
    b AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
        CASE WHEN hi1 = lo1 THEN 0
             ELSE least(255, CAST(floor((o_custkey - lo1) / (hi1 - lo1) * 256)
                                  AS BIGINT)) END AS b1,
        CASE WHEN hi2 = lo2 THEN 0
             ELSE least(255, CAST(floor((o_totalprice - lo2) / (hi2 - lo2) * 256)
                                  AS BIGINT)) END AS b2
      FROM orders CROSS JOIN stats
    ),
    z AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ((((b1 >> 0) & 1) << 0)  | (((b2 >> 0) & 1) << 1) |
              (((b1 >> 1) & 1) << 2)  | (((b2 >> 1) & 1) << 3) |
              (((b1 >> 2) & 1) << 4)  | (((b2 >> 2) & 1) << 5) |
              (((b1 >> 3) & 1) << 6)  | (((b2 >> 3) & 1) << 7) |
              (((b1 >> 4) & 1) << 8)  | (((b2 >> 4) & 1) << 9) |
              (((b1 >> 5) & 1) << 10) | (((b2 >> 5) & 1) << 11) |
              (((b1 >> 6) & 1) << 12) | (((b2 >> 6) & 1) << 13) |
              (((b1 >> 7) & 1) << 14) | (((b2 >> 7) & 1) << 15)) >> 12
               AS seg
      FROM b
    ),
    zsegs AS (
      SELECT seg, min(o_custkey) AS mn1, max(o_custkey) AS mx1,
             min(o_totalprice) AS mn2, max(o_totalprice) AS mx2
      FROM z GROUP BY seg
    ),
    nsegs AS (
      SELECT o_orderkey % 16 AS seg,
             min(o_custkey) AS mn1, max(o_custkey) AS mx1,
             min(o_totalprice) AS mn2, max(o_totalprice) AS mx2
      FROM orders GROUP BY seg
    ),
    needed AS (
      SELECT
        (SELECT count(*) FROM zsegs CROSS JOIN box
         WHERE mx1 >= blo1 AND mn1 <= bhi1
           AND mx2 >= blo2 AND mn2 <= bhi2) AS nz,
        (SELECT count(*) FROM nsegs CROSS JOIN box
         WHERE mx1 >= blo1 AND mn1 <= bhi1
           AND mx2 >= blo2 AND mn2 <= bhi2) AS nn
    )
    SELECT CAST((SELECT count(*) FROM sel) AS BIGINT) AS n_rows_selected,
           CAST(round((SELECT sum(CAST(o_totalprice AS DECIMAL(12,2)))
                       FROM sel), 2) AS DOUBLE) AS total_price_selected,
           CAST((SELECT count(*) FROM zsegs) AS BIGINT) AS n_segs_zorder,
           CAST(nz AS BIGINT) AS n_segs_needed_zorder,
           CAST(nn AS BIGINT) AS n_segs_needed_naive,
           nz < nn AS zorder_prunes
    FROM needed
    """,
    tags=("layout", "zorder", "scale"),
)
def zorder_pruning_payoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering's PRUNING PAYOFF, measured from the physical
    layout and value-checked: orders is written twice into 16 segments —
    Z-ordered (segment = top-4 bits of the Morton curve position over
    (o_custkey, o_totalprice), same bit math the hash-green
    zorder_bucket_histogram pins against SQL) and naive (segment =
    o_orderkey % 16, the round-robin-equivalent layout that scatters
    both filter dimensions everywhere). A 2-D selective box (the middle
    [40%,55%] of each dimension's range — ~2% of the area) then needs
    only the segments whose parquet FOOTER min/max intersect the box:
    those counts are read from the actual on-disk footers with pyarrow
    (exactly the stats a scan planner or row-group filter consults),
    while the oracle re-derives them from the raw data — so a broken
    sort, wrong bucket math, or stats-less write hash-fails the counts.
    The naive layout needs (essentially) all 16 segments; the Z layout
    a small minority — `zorder_prunes` pins the payoff direction and
    the count columns pin its size. n_rows_selected/total_price come
    from READING the Z layout with the box predicate, so layout
    fidelity (no row lost or duplicated by the rewrite) is
    value-checked too.

    At 100 TB this is the lakehouse data-layout contract (Delta/Iceberg
    OPTIMIZE ZORDER): partitioning handles one low-cardinality
    dimension; the curve handles 2+ numeric ones, turning a selective
    scan from O(files) to O(files touching the box). The per-dir footer
    read here is driver-side over 32 local files — the gate-scale stand-
    in for the manifest/stats layer a table format maintains. The
    segment assignment is pure deterministic arithmetic (partitionBy on
    the derived segment — no repartitionByRange sampling), which is
    what makes the counts SQL-derivable."""
    import pyarrow.parquet as papq

    from ..operators import layout

    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice"]
    keyed = layout.zorder_key(o, cols, bits=8)
    zpath = scratch_dir("orders_zorder_payoff", sf_dir)
    npath = scratch_dir("orders_naive_payoff", sf_dir)
    (
        keyed.withColumn("z_seg", F.shiftright(F.col("_zvalue"), 12))
        .drop("_zvalue")
        .repartition("z_seg")
        .write.mode("overwrite")
        .partitionBy("z_seg")
        .parquet(zpath)
    )
    (
        o.withColumn("n_seg", F.col("o_orderkey") % 16)
        .repartition("n_seg")
        .write.mode("overwrite")
        .partitionBy("n_seg")
        .parquet(npath)
    )

    st = o.agg(
        F.min("o_custkey").cast("double"),
        F.max("o_custkey").cast("double"),
        F.min("o_totalprice").cast("double"),
        F.max("o_totalprice").cast("double"),
    ).collect()[0]
    lo1, hi1, lo2, hi2 = st
    blo1, bhi1 = lo1 + 0.40 * (hi1 - lo1), lo1 + 0.55 * (hi1 - lo1)
    blo2, bhi2 = lo2 + 0.40 * (hi2 - lo2), lo2 + 0.55 * (hi2 - lo2)

    def segs_needed(root: str, prefix: str) -> tuple[int, int]:
        """(present, intersecting-box) segment-dir counts from footers.

        Files are enumerated via the Hadoop FileSystem API (the same
        route parquet_file_stats uses — correct for hdfs://, s3a://,
        file:// alike); the footer read itself is pyarrow,
        which needs a LOCAL path, so a remote scratch root fails loudly
        here instead of silently listing 0 segments."""
        jvm = spark.sparkContext._jvm
        hroot = jvm.org.apache.hadoop.fs.Path(root)
        hfs = hroot.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        seg_files: dict[str, list[str]] = {}
        it = hfs.listFiles(hroot, True)
        while it.hasNext():
            p = it.next().getPath()
            if not p.getName().endswith(".parquet"):
                continue
            seg = p.getParent().getName()
            if not seg.startswith(prefix):
                continue
            uri = p.toUri()
            if uri.getScheme() not in (None, "file"):
                raise ValueError(
                    f"zorder_pruning_payoff reads parquet footers with "
                    f"pyarrow and requires a local scratch dir; got "
                    f"scheme {uri.getScheme()!r} for {p.toString()}"
                )
            seg_files.setdefault(seg, []).append(uri.getPath())

        present = needed = 0
        for _seg, files in sorted(seg_files.items()):
            mins: dict[str, float] = {}
            maxs: dict[str, float] = {}
            for fn in sorted(files):
                md = papq.ParquetFile(fn).metadata
                for rg in range(md.num_row_groups):
                    row = md.row_group(rg)
                    for ci in range(row.num_columns):
                        col = row.column(ci)
                        name = col.path_in_schema
                        if name not in cols or col.statistics is None:
                            continue
                        s = col.statistics
                        mins[name] = min(mins.get(name, s.min), s.min)
                        maxs[name] = max(maxs.get(name, s.max), s.max)
            if not mins:
                continue
            present += 1
            if (
                maxs["o_custkey"] >= blo1
                and mins["o_custkey"] <= bhi1
                and maxs["o_totalprice"] >= blo2
                and mins["o_totalprice"] <= bhi2
            ):
                needed += 1
        return present, needed

    n_segs_z, needed_z = segs_needed(zpath, "z_seg=")
    _, needed_n = segs_needed(npath, "n_seg=")

    vals = (
        spark.read.parquet(zpath)
        .filter(
            F.col("o_custkey").between(blo1, bhi1)
            & F.col("o_totalprice").between(blo2, bhi2)
        )
        .agg(
            F.count("*").alias("n_rows_selected"),
            money_sum(dec2(F.col("o_totalprice"))).alias(
                "total_price_selected"
            ),
        )
    )
    return vals.select(
        "n_rows_selected",
        "total_price_selected",
        F.lit(int(n_segs_z)).cast("long").alias("n_segs_zorder"),
        F.lit(int(needed_z)).cast("long").alias("n_segs_needed_zorder"),
        F.lit(int(needed_n)).cast("long").alias("n_segs_needed_naive"),
        F.lit(bool(needed_z < needed_n)).alias("zorder_prunes"),
    )


@register(
    "filter_null_nan_threshold",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 50.0
    """,
    tags=("filter",),
)
def filter_null_nan_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P7: the reference's Part-2 predicate conjunction (isNotNull &&
    !isNaN && >= threshold, challenge.scala:102) on a genuinely-double col."""
    e = load_table(spark, sf_dir, "events")
    return e.filter(
        F.col("value").isNotNull() & ~F.isnan("value") & (F.col("value") >= 50.0)
    ).select("event_id", "user_id", "value")


@register(
    "case_when_buckets",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount > 0.05 THEN 'HIGH'
                WHEN l_discount = 0.0 THEN 'ZERO'
                ELSE NULL END AS disc_bucket
    FROM lineitem
    """,
    tags=("projection", "conditional"),
)
def case_when_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P11/P12: nested when/otherwise with a null default
    (challenge.scala:141-149's Size/Price coercers are this shape)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") > 0.05, F.lit("HIGH"))
        .when(F.col("l_discount") == 0.0, F.lit("ZERO"))
        .otherwise(F.lit(None))
        .alias("disc_bucket"),
    )


@register(
    "string_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE suffix(p_name, 'bolt') AND contains(p_type, 'ECO')
    """,
    tags=("filter", "string"),
)
def string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/P10: endsWith + contains predicates (challenge.scala:144-147)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").endswith("bolt") & F.col("p_type").contains("ECO")
    ).select("p_partkey", "p_name", "p_type")


# --------------------------------------------------------------------------
# F: scalar functions (SURVEY §2.3)
# --------------------------------------------------------------------------


@register(
    "regexp_extract_number",
    oracle="""
    SELECT p_partkey, p_brand,
           CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS BIGINT) AS brand_num
    FROM part
    """,
    tags=("string", "regexp"),
)
def regexp_extract_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: regexp_extract of a numeric capture group (the reference's
    size/price parsers, challenge.scala:144-147)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_brand",
        F.regexp_extract(F.col("p_brand"), r"#(\d+)", 1)
        .try_cast("long")  # ANSI-safe: unmatched pattern -> '' -> null, not CAST_INVALID_INPUT
        .alias("brand_num"),
    )


@register(
    "split_explode_tokens",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part)
    GROUP BY tok
    """,
    tags=("string", "explode", "agg"),
)
def split_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2+F7+A1/A5: split -> explode -> group-count (the reference's
    Genres split at challenge.scala:151 + explode at :213)."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_name"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )


@register(
    "cast_and_date_parts",
    oracle="""
    SELECT CAST(o_orderdate AS DATE) AS order_day,
           year(o_orderdate) AS order_year,
           count(*) AS n_orders
    FROM orders
    GROUP BY order_day, order_year
    """,
    tags=("cast", "date", "agg"),
)
def cast_and_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4: timestamp->date cast + date-part extraction, grouped
    (challenge.scala:150's to_date analogue on typed data)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_orderdate").cast("date").alias("order_day"),
            F.year("o_orderdate").alias("order_year"),
        )
        .groupBy("order_day", "order_year")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "round_currency_conversion",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(0.9 AS DECIMAL(2,1)), 2) AS DOUBLE) AS eur_price
    FROM lineitem
    """,
    tags=("arithmetic", "round"),
)
def round_currency_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F6: the reference's $->EUR conversion (price * 0.9, round 2;
    challenge.scala:147) as exact decimal arithmetic per row."""
    l = load_table(spark, sf_dir, "lineitem")
    eur = (
        dec2(F.col("l_extendedprice"))
        * dec2(F.lit(1) - F.col("l_discount"), 4)
        * F.lit(0.9).cast("decimal(2,1)")
    )
    return l.select(
        "l_orderkey",
        "l_linenumber",
        F.round(eur, 2).cast("double").alias("eur_price"),
    )


@register(
    "json_extract_field",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    tags=("json",),
)
def json_extract_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: JSON field extraction from the events.props payload
    column (absent from the reference; table stakes for event pipelines).
    get_json_object stays JVM-side — no Python in the row path."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )


@register(
    "json_corrupt_record_permissive",
    oracle="""
    WITH payload AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN '{]' || props
                  ELSE props END AS raw,
             event_id % 7 = 0 AS is_corrupt
      FROM events
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE is_corrupt) AS BIGINT) AS n_corrupt,
           CAST(count(*) FILTER (WHERE NOT is_corrupt) AS BIGINT) AS n_parsed,
           CAST(sum(CASE WHEN NOT is_corrupt
                         THEN CAST(json_extract_string(raw, '$.k') AS BIGINT)
                         END) AS BIGINT) AS k_total
    FROM payload GROUP BY event_type
    """,
    tags=("json", "quality", "error-handling"),
)
def json_corrupt_record_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode malformed-JSON handling for from_json — the
    dirty-data contract every event pipeline needs (the CSV twin lives
    in sources/__init__.py's PERMISSIVE/DROPMALFORMED/FAILFAST reader):
    every 7th event's props payload is prefixed with '{]' — GUARANTEED
    invalid JSON for any suffix, since ']' can never follow '{' (a
    truncation would be corrupt only by coincidence of the generator's
    payload shape) — and
    parsed with from_json under PERMISSIVE mode with a declared
    _corrupt_record column. The contract, all three clauses
    value-checked: a malformed row is NOT dropped (PERMISSIVE ≠
    DROPMALFORMED — per-type totals include it), its data fields come
    back NULL, and the raw unparsed text is preserved verbatim in
    _corrupt_record for quarantine/repair; well-formed rows parse with
    _corrupt_record NULL, so classifying on that column splits the
    feed exactly as the oracle's planted modulus does, and the parsed
    rows' k-sum proves values weren't nulled collaterally. FAILFAST's
    raise-on-first-corruption is unit-tested (tests/test_ops_extra.py)
    — an exception is not oracle-expressible.

    Scale posture: from_json is a JVM codegen expression — corruption
    handling costs nothing extra, stays map-side, and quarantining
    becomes a partitioned write on `_corrupt_record IS NOT NULL` with
    no second parse pass."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.concat(F.lit("{]"), F.col("props"))
        ).otherwise(F.col("props")).alias("raw"),
    )
    parsed = e.select(
        "event_type",
        "raw",
        F.from_json(
            "raw",
            "k LONG, _corrupt_record STRING",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("j"),
    )
    # the three-way contract: corrupt rows keep their raw text in
    # _corrupt_record (verbatim — checked by equality with the input),
    # parsed rows have it null and k populated
    flagged = parsed.select(
        "event_type",
        (F.col("j._corrupt_record").isNotNull()
         & (F.col("j._corrupt_record") == F.col("raw"))).alias("is_corrupt"),
        F.col("j.k").alias("k"),
    )
    return flagged.groupBy("event_type").agg(
        F.count_if(F.col("is_corrupt")).alias("n_corrupt"),
        F.count_if(~F.col("is_corrupt")).alias("n_parsed"),
        F.sum(F.when(~F.col("is_corrupt"), F.col("k"))).alias("k_total"),
    )


@register(
    "null_safe_join_grouping",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS k,
             n_chars
      FROM documents
    ),
    dim AS (
      SELECT k, CAST(count(*) AS BIGINT) AS grp_size
      FROM keyed GROUP BY k
    )
    SELECT d.doc_id, m.grp_size
    FROM keyed d JOIN dim m ON d.k IS NOT DISTINCT FROM m.k
    """,
    tags=("join", "null-semantics", "sql"),
)
def null_safe_join_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM): every 7th
    document's language key is nulled, a per-key dimension (including
    the NULL group) is derived, and the join uses eqNullSafe so the
    NULL-keyed documents MATCH the NULL dimension row — under an
    ordinary equality join those rows silently vanish (NULL = NULL is
    NULL), which is the classic lost-rows bug in pipelines that join on
    nullable enrichment keys. The oracle joins with ANSI IS NOT
    DISTINCT FROM; a plain-equality implementation rows-fails (the
    doc_id%7 rows disappear), and a coalesce-to-sentinel shortcut that
    collides NULL with a real value changes group sizes and hash-fails.

    Scale posture: Spark plans eqNullSafe as a HASH join (the key is
    hashable null-safely: EqualNullSafe is a valid equi-join condition,
    not a nested-loop residual), so the null-safe form keeps the same
    shuffle/broadcast shapes as plain equality — asserted for this gate
    in tests/test_ops_extra.py."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("lang")
        ).alias("k"),
    )
    dim = d.groupBy("k").agg(F.count("*").alias("grp_size"))
    return d.join(dim, d["k"].eqNullSafe(dim["k"])).select(
        "doc_id", "grp_size"
    )


@register(
    "array_l2_norm",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                              x -> x * x))), 4) AS l2_norm
    FROM embeddings
    """,
    tags=("array", "higher-order"),
)
def array_l2_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: higher-order array functions (transform + aggregate) —
    the JVM-side path for vector math, no UDF."""
    e = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        F.transform(F.col("embedding").cast("array<double>"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select("vec_id", F.round(F.sqrt(sq_sum), 4).alias("l2_norm"))


# --------------------------------------------------------------------------
# A: aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------


@register(
    "groupby_stats",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                 / count(c_acctbal), 6) AS avg_bal,
           min(c_acctbal) AS min_bal,
           max(c_acctbal) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("agg",),
)
def groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3/A5: hash group-by with avg/min/max/count (the reference's
    Part-1/Part-5 aggregate shapes, challenge.scala:82-85, 214-218)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        # decimal-sum / count (order-independent), not double avg
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
            / F.count("c_acctbal"), 6
        ).alias("avg_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "max_string_and_date",
    oracle="""
    SELECT o_orderpriority,
           max(o_orderstatus) AS max_status,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "string"),
)
def max_string_and_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: max over string (lexicographic) and timestamp columns — the
    reference leans on string-max for 11 columns (challenge.scala:155-165)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.max("o_orderstatus").alias("max_status"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n"),
    )


@register(
    "collect_list_sorted",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(c_mktsegment)), '|') AS segments,
           count(*) AS n
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("agg", "array"),
)
def collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: collect_list (challenge.scala:154) normalized with sort_array —
    collect order is partition-nondeterministic at scale, so deterministic
    consumers must sort (SURVEY §4 conclusion (b))."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        # Joined to a string so the driver's pandas value-hasher (which
        # cannot hash list cells) can compare it; the sort already made
        # the order deterministic.
        F.array_join(F.sort_array(F.collect_list("c_mktsegment")), "|").alias(
            "segments"
        ),
        F.count("*").alias("n"),
    )


@register(
    "na_fill_zero",
    oracle="""
    SELECT event_id,
           CASE WHEN v IS NULL OR isnan(v) THEN 0.0 ELSE v END AS value_filled
    FROM (SELECT event_id,
                 CASE WHEN value < 50.0 THEN NULL ELSE value END AS v
          FROM events)
    """,
    tags=("null-handling",),
)
def na_fill_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: na.fill(0) fills null AND NaN (the reference's Rating trap,
    challenge.scala:86,143; SURVEY §2.4 A6). Nulls are manufactured first
    so the fill path is genuinely exercised."""
    e = load_table(spark, sf_dir, "events")
    with_nulls = e.select(
        "event_id",
        F.when(F.col("value") < 50.0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value_filled"),
    )
    return with_nulls.na.fill({"value_filled": 0.0})


@register(
    "dedup_keep_min",
    oracle="""
    SELECT o_custkey, min(o_orderkey) AS first_orderkey, count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    """,
    tags=("dedup", "agg"),
)
def dedup_keep_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: deterministic dropDuplicates-by-key. `dropDuplicates(subset)`
    keeps an arbitrary row (challenge.scala:166 relies on it being a no-op);
    the scale-safe deterministic form is group-by + min/argmin."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min("o_orderkey").alias("first_orderkey"),
        F.count("*").alias("n_orders"),
    )


@register(
    "distinct_projection",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
    tags=("dedup",),
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 variant: full-row distinct on a projection — deterministic
    (equivalent to dropDuplicates() on those columns)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


@register(
    "distinct_count_agg",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def distinct_count_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 extension: distinct aggregation (expand + two-phase agg in
    Spark; fine at scale because the distinct key set per group is small
    relative to the fact table)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count("*").alias("n_items"),
    )


@register(
    "rollup_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 extension: rollup (hierarchical subtotals + grand total)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# J: joins (SURVEY §2.5 + §2.7 variants)
# --------------------------------------------------------------------------


@register(
    "left_join_null_path",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) big
      ON c_custkey = o_custkey
    """,
    tags=("join",),
)
def left_join_null_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left outer equi-join with a genuinely-exercised null side
    (challenge.scala:184-185). The build side is filtered first so many
    probe rows miss."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return c.join(big, F.col("c_custkey") == F.col("o_custkey"), "left").select(
        "c_custkey", "o_orderkey", "o_totalprice"
    )


@register(
    "semi_join_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    tags=("join", "semi"),
)
def semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: left-semi join (EXISTS) — probe side only, no row duplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "anti_join_not_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("join", "anti"),
)
def anti_join_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: left-anti join (NOT EXISTS)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "cross_join_dims",
    oracle="""
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    """,
    tags=("join", "cross"),
)
def cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: cross join — only ever sane between broadcast-small dims."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register(
    "full_outer_join",
    oracle="""
    SELECT n.n_nationkey AS nationkey_n, s.s_suppkey, n.n_name
    FROM nation n
    FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
    """,
    tags=("join", "outer"),
)
def full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: full outer join (both null paths live if any nation lacks
    suppliers)."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return n.join(s, F.col("n_nationkey") == F.col("s_nationkey"), "full_outer").select(
        F.col("n_nationkey").alias("nationkey_n"), "s_suppkey", "n_name"
    )


# --------------------------------------------------------------------------
# O: sorts / limits (SURVEY §2.6) + set ops (§2.7)
# --------------------------------------------------------------------------


@register(
    "orderby_desc_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    tags=("sort", "limit"),
)
def orderby_desc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+limit: global sort descending with a total tiebreak order, top-k.
    Spark plans orderBy+limit as TakeOrderedAndProject: per-partition heap
    top-k + single-driver merge — no full range-partition sort shuffle, the
    scale-correct top-k."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


@register(
    "set_union_all",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: UNION ALL (bag semantics, no shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_orderstatus"
    )
    return a.unionByName(b)


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: INTERSECT (distinct set semantics)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    tags=("setop",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: EXCEPT (customers with no 1-URGENT order).

    Operand choice: the previous pair —
    nation keys minus supplier nation keys — was EMPTY at sf>=0.01
    (every nation has a supplier), so the green driver row was
    vacuous: an over-filtering bug would still have matched the 0-row
    oracle. This testdata's every customer has SOME order, but probing
    showed 18/203/1986 customers without an urgent one at
    sf0.001/0.01/0.1 — a non-empty, SF-scaling difference, so an
    over- or under-filtering EXCEPT is actually caught."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    # subtract() IS SQL EXCEPT (distinct); exceptAll().distinct() differs
    # when the left side holds duplicates of a right-side row
    return c.subtract(o)


# --------------------------------------------------------------------------
# Window functions (§2.7 extension)
# --------------------------------------------------------------------------


@register(
    "window_rank_per_group",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           row_number() OVER w AS rn,
           rank() OVER w AS rnk
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    QUALIFY rn <= 3
    """,
    tags=("window",),
)
def window_rank_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: per-group top-3 via row_number/rank with total tiebreak.
    At scale this is the one-shuffle (hash by partition key) top-k pattern."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        c.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_delta",
    oracle="""
    SELECT event_id, user_id, value,
           lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_value
    FROM events
    """,
    tags=("window",),
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: lag over an event-time order (sessionization building block)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id", "value", F.lag("value").over(w).alias("prev_value")
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(14,3))) OVER
                (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS running_value
    FROM events
    """,
    tags=("window",),
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window: running sum over event time. Decimal accumulation — window
    frame evaluation order differs between engines (DuckDB uses segment
    trees), so float running sums would drift."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(14,3)")).over(w).cast("double").alias(
            "running_value"
        ),
    )


# --------------------------------------------------------------------------
# Time windows (batch analogue of the streaming surface; §2.7)
# --------------------------------------------------------------------------


@register(
    "time_window_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS w_start,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(14,3))), 3) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY w_start
    """,
    tags=("time-window", "agg"),
)
def time_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window tumbling 1h aggregation (batch form of the streaming
    windowed agg; watermarked streaming version in streaming/)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(14,3)")), 3)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "sum_value")
    )


@register(
    "time_window_sliding",
    oracle="""
    SELECT w_start, count(*) AS n_events
    FROM (SELECT unnest([date_trunc('hour', ts),
                         date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS w_start
          FROM events)
    GROUP BY w_start
    """,
    tags=("time-window", "agg"),
)
def time_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.window sliding (2h window, 1h slide): each event lands in two
    windows; the oracle materializes both membership rows explicitly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "n_events")
    )


@register(
    "session_window_gap",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS last_event,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("time-window", "session", "agg"),
)
def session_window_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window (10-minute gap) in batch form — the oracle is the
    classic gaps-and-islands rewrite. The same streaming/ helper runs this
    on a watermarked stream (tests/test_streaming.py asserts equality)."""
    from ..streaming import sessionized

    e = load_table(spark, sf_dir, "events")
    return sessionized(e, gap="10 minutes")


@register(
    "stream_session_counts",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) AS last_event,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "session", "watermark"),
)
def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows inside the correctness gate: the events
    table replays as a bounded file stream, gap-sessionizes with a
    watermark (streaming.sessionized — per-key session state merged
    incrementally, closed sessions emitted in append mode as the
    watermark passes them), and the drained output must equal the batch
    gaps-and-islands SQL the oracle runs. This is the stateful-streaming
    counterpart of session_window_gap (same helper, same semantics,
    different execution mode) — the unified-model guarantee made
    checkable by the driver."""
    from .. import streaming

    batch = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    stream = file_stream(spark, batch, "sess", sf_dir)
    sessions = streaming.sessionized(stream, "10 minutes", watermark="1 hour")
    return streaming.run_stream_to_memory(sessions, "cat_stream_sessions")


# --------------------------------------------------------------------------
# Approximate aggregation + SQL interface (SURVEY §2.7 extensions)
# --------------------------------------------------------------------------


@register(
    "asof_join_last_click",
    oracle="""
    WITH errors AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    clicks AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
               FROM events WHERE event_type = 'click')
    SELECT e.event_id, e.user_id, c.click_id,
           CAST(round(CAST(c.click_value AS DECIMAL(12,2)), 2) AS DOUBLE) AS click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    tags=("join", "asof", "time", "bench"),
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each error event picks up the most
    recent click of the same user at or before it — point-in-time-correct
    lookup, oracle'd against DuckDB's native ASOF JOIN. Union-marker +
    window implementation: one shuffle per side, no pair blowup."""
    from ..operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    joined = asof_join(
        errors, clicks, key="user_id", ts="ts",
        right_value_cols=["click_id", "click_value"], tiebreak="event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "click_id",
        F.round(dec2(F.col("click_value")), 2).cast("double").alias("click_value"),
    )


@register(
    "interval_join_sessions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    tagged AS (
      SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, sid, min(ts) AS session_start, max(ts) AS last_event,
             count(*) AS n_events
      FROM tagged GROUP BY user_id, sid
    )
    SELECT e.event_id, e.user_id, s.session_start, s.n_events
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    JOIN sessions s ON e.user_id = s.user_id
                   AND e.ts >= s.session_start AND e.ts <= s.last_event
    """,
    tags=("join", "range", "time", "session"),
)
def interval_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (operators/rangejoin.py): error events matched into
    the user session [start, last_event] that contains them. Sessions come
    from Spark's session_window; the oracle re-derives them independently
    via SQL gaps-and-islands and joins with BETWEEN — two implementations,
    one answer."""
    from ..operators.rangejoin import interval_join
    from ..streaming import sessionized

    e = load_table(spark, sf_dir, "events")
    sessions = sessionized(e, gap="10 minutes")
    errors = e.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    return interval_join(
        errors,
        sessions,
        point_col="ts",
        start_col="session_start",
        end_col="last_event",
        equi_keys=["user_id"],
    ).select("event_id", "user_id", "session_start", "n_events")


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count per returnflag, oracle-bound the
    same way as hll_distinct_accuracy: the query emits the exact count
    plus a boolean asserting |approx - exact| <= ceil(3*rsd * exact)
    (three standard errors at rsd=0.023 — a ~99.7% bound the sketch
    meets deterministically on this data), so DuckDB can verify the
    sketch path without reproducing HLL++ internals. The approximate
    aggregate itself is the 100 TB path: constant-size mergeable state,
    no per-group value multiset on any single task."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.023).alias("approx_orders"),
            F.count_distinct("l_orderkey").alias("exact_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= F.ceil(F.lit(3 * 0.023) * F.col("exact_orders"))
            ).alias("within_bound"),
        )
    )


@register(
    "sql_interface_revenue",
    oracle="""
    SELECT o_orderpriority,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("sql", "agg"),
)
def sql_interface_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL string surface (free via temp views +
    spark.sql; the reference never calls spark.sql, SURVEY §2.7): the
    same ANSI SQL text runs on Spark and the DuckDB oracle."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
                 AS total_price,
               count(*) AS n_orders
        FROM orders GROUP BY o_orderpriority
        """
    )


@register(
    "sql_pipe_syntax_agg",
    oracle=f"""
    SELECT l_returnflag,
           count(*) AS n_items,
           {money_sum_sql(REVENUE_DEC_SQL)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-06-01' AND l_shipdate < DATE '1995-09-01'
    GROUP BY l_returnflag
    """,
    tags=("sql", "pipe-syntax", "agg"),
)
def sql_pipe_syntax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0 `|>` operator chaining — FROM ... |>
    WHERE ... |> EXTEND ... |> AGGREGATE ... GROUP BY): the linear,
    top-to-bottom form of a filter -> derive -> aggregate query, parsed
    by Spark into exactly the plan the nested ANSI form produces (same
    pushdown, same single shuffle). The oracle runs the equivalent
    nested ANSI SQL on DuckDB with the repo's exact-decimal revenue
    scheme, so this gates that the pipe-syntax parse is
    semantics-preserving, not just accepted."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(
        f"""
        FROM lineitem
        |> WHERE l_shipdate >= DATE '1995-06-01'
                 AND l_shipdate < DATE '1995-09-01'
        |> EXTEND {REVENUE_DEC_SQL} AS disc_price
        |> AGGREGATE count(*) AS n_items,
                     CAST(round(sum(disc_price), 2) AS DOUBLE) AS revenue
           GROUP BY l_returnflag
        """
    )


@register(
    "sql_session_vars_params",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderpriority = '3-MEDIUM' AND o_totalprice >= 50000.0
    GROUP BY o_orderstatus
    """,
    tags=("sql", "variables", "parameterized"),
)
def sql_session_vars_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session state + safe parameter binding, all three
    mechanisms in one flow: a session variable is DECLAREd and then
    mutated with SET VAR (the value the query must see), and the final
    statement runs through EXECUTE IMMEDIATE with a positional USING
    parameter for the price threshold — the injection-safe way to
    template SQL (values bound as literals by the engine, never string-
    spliced). The oracle inlines both values as constants, so a stale
    variable read (DEFAULT instead of the SET value) or a mis-bound
    parameter changes every group and hash-fails."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("orders",))
    spark.sql("DECLARE OR REPLACE VARIABLE sel_priority STRING DEFAULT '1-URGENT'")
    spark.sql("SET VAR sel_priority = '3-MEDIUM'")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderstatus,
                  count(*) AS n_orders,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                       AS DOUBLE) AS total_price
           FROM orders
           WHERE o_orderpriority = sel_priority AND o_totalprice >= ?
           GROUP BY o_orderstatus'
          USING 50000.0
        """
    )


@register(
    "sql_named_params_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderpriority IN ('2-HIGH', '5-LOW') AND o_totalprice >= 100000.0
    GROUP BY ALL
    """,
    tags=("sql", "parameterized", "group-by-all"),
)
def sql_named_params_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Client-side parameterized SQL — the `spark.sql(query, args={...})`
    named-marker API — plus GROUP BY ALL / ORDER BY ALL resolution.
    This is the surface EXECUTE IMMEDIATE ... USING
    (sql_session_vars_params) does NOT cover: parameters bound by the
    Python client as typed literals before parsing (`:prio1` string,
    `:cut` double — injection-safe templating for application code,
    vs the SQL-script flow), and the analyzer inferring the grouping
    set from the non-aggregate select list. The oracle inlines the
    same constants and grouping columns explicitly, so a mis-bound or
    type-coerced parameter, or GROUP BY ALL resolving to the wrong
    column set, changes the groups and hash-fails. ORDER BY ALL is
    exercised for parse/execution coverage; row order itself is not
    hashed (the driver compare is order-insensitive)."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderpriority IN (:prio1, :prio2) AND o_totalprice >= :cut
        GROUP BY ALL
        ORDER BY ALL
        """,
        args={"prio1": "2-HIGH", "prio2": "5-LOW", "cut": 100000.0},
    )


@register(
    "json_variant_extract",
    oracle="""
    WITH j AS (
      SELECT to_json(struct_pack(
               doc_id := doc_id,
               meta   := struct_pack(lang := lang, n_chars := n_chars),
               arr    := [n_chars, doc_id])) AS js
      FROM documents
    )
    SELECT json_extract_string(js, '$.meta.lang') AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(round(avg(CAST(json_extract(js, '$.arr[0]') AS BIGINT)), 4)
                AS DOUBLE) AS avg_chars,
           CAST(max(CAST(json_extract(js, '$.doc_id') AS BIGINT))
                AS BIGINT) AS max_doc_id,
           CAST(count(json_extract_string(js, '$.missing'))
                AS BIGINT) AS n_missing,
           'OBJECT<arr: ARRAY<BIGINT>, doc_id: BIGINT, meta: OBJECT<lang: STRING, n_chars: BIGINT>>'
             AS variant_schema
    FROM j GROUP BY 1
    """,
    tags=("json", "variant", "semi-structured", "sql"),
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT end-to-end: JSON text -> parse_json (binary
    VARIANT encoding) -> path extraction with variant_get (nested
    object path `$.meta.lang`, array index `$.arr[0]`, top-level
    `$.doc_id`), try_variant_get on an absent path (must be NULL for
    every row — counted, so a non-NULL leak hash-fails), and
    schema_of_variant pinned to the exact inferred type string. The
    JSON is built from the documents table's own columns with to_json,
    so the gate is a full round trip (typed -> JSON text -> VARIANT ->
    typed) and the DuckDB oracle replays the SAME round trip through
    its native JSON functions — Spark's VARIANT path semantics must
    agree with DuckDB's JSON path semantics on every group.

    100 TB posture: this is the semi-structured metadata-sidecar shape
    of a training-data pipeline (per-doc provenance JSON riding next to
    the text). parse_json and variant_get are JVM-side codegen
    expressions — the JSON never leaves the executors, no Python, no
    UDF — and VARIANT's binary encoding makes repeated path extraction
    O(field) rather than re-tokenizing text per access; the only
    shuffle is the final 5-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("doc_id"),
                    F.struct("lang", "n_chars").alias("meta"),
                    F.array("n_chars", "doc_id").alias("arr"),
                )
            )
        ).alias("v")
    )
    return v.groupBy(
        F.variant_get("v", "$.meta.lang", "string").alias("lang")
    ).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(F.variant_get("v", "$.arr[0]", "long")), 4)
        .cast("double")
        .alias("avg_chars"),
        F.max(F.variant_get("v", "$.doc_id", "long")).alias("max_doc_id"),
        F.count(F.try_variant_get("v", "$.missing", "string")).alias(
            "n_missing"
        ),
        F.max(F.schema_of_variant("v")).alias("variant_schema"),
    )


@register(
    "analyze_table_stats",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS row_count,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price,
           CAST(count(*) - count(o_totalprice) AS BIGINT) AS null_count_price,
           CAST(min(o_custkey) AS BIGINT) AS min_custkey,
           CAST(max(o_custkey) AS BIGINT) AS max_custkey,
           true AS stats_visible_to_optimizer
    FROM orders
    """,
    tags=("catalog", "statistics", "cbo", "scale"),
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table/column statistics end-to-end, value-checked: orders is
    saved as a catalog table, `ANALYZE TABLE ... COMPUTE STATISTICS FOR
    COLUMNS` runs, and the output row is built from what the catalog
    now SERVES — per-column min/max/null-count parsed from `DESCRIBE
    EXTENDED <table> <column>` and the table row count read from the
    optimizer's own view (`optimizedPlan().stats().rowCount` under
    spark.sql.cbo.enabled, so stats_visible_to_optimizer pins that the
    cost-based optimizer actually SEES the analyzed stats rather than
    falling back to size-only estimates). The oracle recomputes every
    value from the raw table, so a stale, missing, or wrong statistic
    hash-fails. distinct_count is deliberately NOT gated: ANALYZE
    computes it with HyperLogLog (approximate by design), so pinning it
    to the exact count would be asserting a coincidence.

    100 TB posture: column stats are what turn CBO on — join-order
    search, filter-selectivity estimation, and broadcast decisions on
    FILTERED cardinalities (not raw file sizes) all read exactly the
    numbers this gate checks. ANALYZE itself is one linear scan that
    reduces to a few bytes of metadata per column; the harvested values
    are model-sized driver state, never data rows."""
    import hashlib

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tname = f"stats_orders_{key}"
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )
    path = scratch_dir("analyze_stats_orders", sf_dir)
    o.write.mode("overwrite").option("path", path).saveAsTable(tname)
    spark.sql(
        f"ANALYZE TABLE {tname} COMPUTE STATISTICS FOR COLUMNS "
        "o_totalprice, o_custkey"
    )

    def col_stats(col: str) -> dict[str, str]:
        rows = spark.sql(f"DESCRIBE EXTENDED {tname} {col}").collect()
        return {r["info_name"]: r["info_value"] for r in rows}

    price, cust = col_stats("o_totalprice"), col_stats("o_custkey")

    saved_cbo = _save_confs(spark, ["spark.sql.cbo.enabled"])
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try:
        rc_opt = (
            spark.table(tname)
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .rowCount()
        )
        visible = bool(rc_opt.isDefined())
        row_count = int(str(rc_opt.get())) if visible else -1
    finally:
        _restore_confs(spark, saved_cbo)

    # Every statistic is harvested; drop the scratch catalog entry so
    # repeated gate runs don't accumulate one metastore table per sf_dir
    # (a later scratch-dir cleanup would otherwise leave a
    # dangling external-table entry). The parquet data under scratch_dir
    # is unaffected (external table: DROP removes metadata only).
    spark.sql(f"DROP TABLE IF EXISTS {tname}")

    return spark.range(1).select(
        F.lit(row_count).cast("long").alias("row_count"),
        F.lit(float(price["min"])).cast("double").alias("min_price"),
        F.lit(float(price["max"])).cast("double").alias("max_price"),
        F.lit(int(price["num_nulls"])).cast("long").alias("null_count_price"),
        F.lit(int(cust["min"])).cast("long").alias("min_custkey"),
        F.lit(int(cust["max"])).cast("long").alias("max_custkey"),
        F.lit(visible).alias("stats_visible_to_optimizer"),
    )


@register(
    "cube_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 extension: cube — all 2^k grouping-set combinations in one
    pass (Spark expands to a single shuffle over the union of grouping
    sets, not k separate jobs)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        money_sum(dec2(F.col("o_totalprice"))).alias("total"),
    )


@register(
    "nested_struct_map",
    oracle="""
    SELECT o_orderpriority AS prio,
           count(*) AS n_orders,
           CAST(round(min(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS min_price,
           CAST(round(max(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("struct", "map", "nested"),
)
def nested_struct_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type support (absent from the reference, SURVEY §1.3): pack
    rows into structs and a map, aggregate over *extracted fields*, then
    flatten back to scalars — proving struct/map construction, field
    access, and map_from/element_at round-trip losslessly. Output is flat
    so the oracle comparison stays engine-portable."""
    o = load_table(spark, sf_dir, "orders")
    nested = o.select(
        F.struct(
            F.col("o_orderkey").alias("key"),
            F.struct(
                F.col("o_totalprice").alias("price"),
                F.col("o_orderpriority").alias("prio"),
            ).alias("meta"),
        ).alias("order_s"),
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("prio"), F.col("o_orderpriority"),
        ).alias("tags"),
    )
    return (
        nested.select(
            F.element_at(F.col("tags"), "prio").alias("prio"),
            F.col("order_s.meta.price").alias("price"),
        )
        .groupBy("prio")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min(dec2(F.col("price"))), 2).cast("double").alias("min_price"),
            F.round(F.max(dec2(F.col("price"))), 2).cast("double").alias("max_price"),
        )
    )


@register(
    "time_bounded_self_join",
    oracle="""
    SELECT e.user_id,
           e.event_id AS error_id,
           c.event_id AS click_id
    FROM events e
    JOIN events c
      ON e.user_id = c.user_id
     AND c.ts <= e.ts
     AND c.ts >= e.ts - INTERVAL 15 MINUTE
    WHERE e.event_type = 'error' AND c.event_type = 'click'
    """,
    tags=("join", "time", "streaming"),
)
def time_bounded_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-stream join (streaming.
    errors_with_recent_clicks): errors paired with same-user clicks in the
    15 minutes before them. The identical function body runs as a
    watermarked stream-stream join — asserted in tests/test_streaming.py."""
    from ..streaming import errors_with_recent_clicks

    e = load_table(spark, sf_dir, "events")
    return errors_with_recent_clicks(
        e.filter(F.col("event_type") == "error"),
        e.filter(F.col("event_type") == "click"),
        gap="15 minutes",
    ).select("user_id", "error_id", "click_id")


@register(
    "pivot_status_counts",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'F') AS F,
           count(*) FILTER (o_orderstatus = 'O') AS O,
           count(*) FILTER (o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "pivot"),
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long->wide with an explicit value list (never let pivot
    infer values at scale — that's an extra distinct scan and a
    nondeterministic column order)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
    )


@register(
    "unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
    tags=("unpivot", "setop"),
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide->long without re-reading the table per
    measure — one scan, Expand node, vs the oracle's 3-scan UNION ALL."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey AS k FROM orders
    EXCEPT ALL
    SELECT c_custkey FROM customer
    """,
    tags=("setop", "multiset"),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference, duplicates preserved): every
    order-custkey occurrence minus one per customer row."""
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return o.exceptAll(c)


@register(
    "percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           round(quantile_cont(l_discount, 0.99), 6) AS p99_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark `percentile` and
    DuckDB `quantile_cont` share the definition). The exact form sorts
    per group; at 100 TB switch to approx_percentile (t-digest sketch,
    mergeable map-side) — same API shape, bounded error."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 6).alias("p90_price"),
        F.round(F.percentile("l_discount", F.lit(0.99)), 6).alias("p99_disc"),
    )


@register(
    "window_range_frame_sum",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                        RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
             AS nearby_total
    FROM orders
    """,
    tags=("window", "frame", "bench"),
)
def window_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per customer, the sum of
    order totals within $1000 below the current order's price — peers and
    near-peers aggregate together regardless of row count, which a ROWS
    frame cannot express."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice"))
        .rangeBetween(-1000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.round(F.sum(dec2(F.col("o_totalprice"))).over(w), 2)
        .cast("double")
        .alias("nearby_total"),
    )


@register(
    "window_ntile_percent_rank",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "rank"),
)
def window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile bucketing, percent_rank,
    cume_dist per priority class — (price, orderkey) is a total order so
    every rank value is deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@register(
    "array_set_functions",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             string_split(p_name, ' ') AS words,
             string_split(lower(p_type), ' ') AS type_words
      FROM part
    )
    SELECT p_partkey,
           coalesce(array_to_string(list_sort(list_distinct(words || type_words)), '|'), '') AS all_words,
           coalesce(array_to_string(list_sort(array_intersect(words, type_words)), '|'), '') AS shared_words,
           len(list_filter(words, w -> len(w) > 4)) AS long_words
    FROM t
    """,
    tags=("array", "setop", "higher-order"),
)
def array_set_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array algebra: union/intersect/filter on word arrays, sorted so the
    result is order-insensitive across engines."""
    p = load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    type_words = F.split(F.lower(F.col("p_type")), " ")
    return p.select(
        "p_partkey",
        # String-joined (not raw arrays): the driver's value-hasher cannot
        # hash list cells, and the sort makes the join order-stable.
        F.array_join(F.array_sort(F.array_union(words, type_words)), "|").alias(
            "all_words"
        ),
        F.array_join(F.array_sort(F.array_intersect(words, type_words)), "|").alias(
            "shared_words"
        ),
        F.size(F.filter(words, lambda w: F.length(w) > 4)).alias("long_words"),
    )


@register(
    "string_function_suite",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(p_name) AS rev_name,
           translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
           levenshtein(p_name, p_type) AS name_type_dist,
           instr(p_name, ' ') AS first_space,
           repeat(left(p_brand, 5), 2) AS brand_twice
    FROM part
    """,
    tags=("string", "functions"),
)
def string_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth in one row-wise pass: padding, reverse,
    translate, edit distance (levenshtein — the scalar fuzzy-match
    primitive), substring position, repeat/left — all JVM-side with
    byte-identical DuckDB equivalents."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse(F.col("p_name")).alias("rev_name"),
        F.translate(F.col("p_name"), "aeiou", "AEIOU").alias("vowels_up"),
        F.levenshtein(F.col("p_name"), F.col("p_type")).alias("name_type_dist"),
        F.instr(F.col("p_name"), " ").alias("first_space"),
        F.repeat(F.substring(F.col("p_brand"), 1, 5), 2).alias("brand_twice"),
    )


@register(
    "grouping_sets_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
             AS gid,
           count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg", "grouping-sets"),
)
def grouping_sets_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize)
    plus grouping_id() to disambiguate which set produced each row —
    without it, a genuinely-null key is indistinguishable from a
    subtotal row. Spark expands the sets into one Expand + single
    shuffle, not one job per set."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
    )


@register(
    "window_first_last_nth",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey) OVER w_full AS priciest_key,
           nth_value(o_orderkey, 2) OVER w_full AS second_cheapest_key
    FROM orders
    WINDOW
      w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
      w_full AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window", "navigation"),
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions: first/last/nth value per priority
    class. last_value and nth_value use an explicit unbounded frame —
    with the default RANGE-to-current frame they would degenerate to
    'current row' / nulls, the classic window-frame trap (same in
    DuckDB, so the oracle pins the correct frames)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w_full).alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_cheapest_key"),
    )


@register(
    "posexplode_ordinality",
    oracle="""
    WITH t AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
    SELECT p_partkey,
           CAST(i - 1 AS INTEGER) AS pos,
           words[i] AS word
    FROM t, unnest(range(1, len(words) + 1)) AS u(i)
    """,
    tags=("generator", "array"),
)
def posexplode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: generator with ordinality (element position), the
    order-preserving fan-out plain explode loses. 0-based in Spark; the
    oracle reconstructs it from DuckDB's 1-based list indexing."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    )


@register(
    "incremental_agg_merge",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(l_quantity) AS DOUBLE) AS total,
           min(l_quantity) AS vmin,
           max(l_quantity) AS vmax,
           round(sum(l_quantity) / count(l_quantity), 6) AS vavg
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "incremental", "scale"),
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-aggregation contract, driver-checked: split the fact
    table into three 'daily partitions', keep only mergeable partial
    state per split (count/sum/min/max — operators/incremental.py), fold
    the partials together, finalize — and the result must equal a direct
    aggregate over the full table (the oracle). This is the maintenance
    primitive for incremental materialized views: history is never
    re-scanned, each refresh shuffles |keys| rows.

    l_quantity is integer-valued (TPC-H 1..50), so its double sum is
    exact under any accumulation order — no decimal staging needed."""
    from ..operators import incremental

    li = load_table(spark, sf_dir, "lineitem")
    parts = [li.filter(F.col("l_orderkey") % 3 == i) for i in range(3)]
    merged = incremental.merge_partials(
        *[incremental.partial_agg(p, ["l_returnflag"], "l_quantity") for p in parts]
    )
    out = incremental.finalize(merged)
    return out.select(
        "l_returnflag",
        "n_rows",
        F.col("total").cast("double").alias("total"),
        "vmin",
        "vmax",
        F.round("vavg", 6).alias("vavg"),
    )


@register(
    "incremental_join_view_maintenance",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(l.l_quantity) AS DOUBLE) AS total_qty,
           min(l.l_quantity) AS min_qty,
           max(l.l_quantity) AS max_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("incremental", "join", "scale", "bench"),
)
def incremental_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance, driver-checked end-to-end: a
    per-priority quantity rollup over orders ⋈ lineitem is maintained
    under a simultaneous ingest batch on BOTH sides — every 7th order
    (ΔO) and every line number ≥ 5 (ΔL, deliberately not aligned with
    ΔO so all three delta terms are non-empty) arrive as new data. The
    maintained result folds the OLD view's partial state with the
    partial aggregate of just the delta rows from
    operators/incremental.delta_join (ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL — the
    bilinear delta rule), and must equal the oracle's full recompute
    over the merged tables. A missing, doubled, or mis-scoped delta
    term (the classic IVM bugs: forgetting ΔA⋈ΔB, or joining ΔA
    against B_new instead of B_old and double-counting) changes
    n_items/total_qty and hash-fails.

    Scale posture: the view refresh never re-joins history — each delta
    term is a broadcast of the batch against one base table, and the
    fold shuffles |keys| partial rows (operators/incremental.py's
    merge contract). l_quantity is integer-valued, so partial double
    sums are exact under any grouping/order."""
    from ..operators import incremental

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    is_new_o = F.col("o_orderkey") % 7 == 0
    is_new_l = F.col("l_linenumber") >= 5
    o_old, o_new = o.filter(~is_new_o), o.filter(is_new_o)
    l_old = li.filter(~is_new_l).drop("l_linenumber")
    l_new = li.filter(is_new_l).drop("l_linenumber")

    keys = ["o_orderpriority"]
    old_view_state = incremental.partial_agg(
        o_old.join(l_old, "o_orderkey"), keys, "l_quantity"
    )
    delta_rows = incremental.delta_join(o_old, o_new, l_old, l_new, "o_orderkey")
    maintained = incremental.finalize(
        incremental.merge_partials(
            old_view_state, incremental.partial_agg(delta_rows, keys, "l_quantity")
        )
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_items"),
        F.col("total").cast("double").alias("total_qty"),
        F.col("vmin").alias("min_qty"),
        F.col("vmax").alias("max_qty"),
    )


@register(
    "incremental_join_view_retractions",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(sum(CASE WHEN l.l_linenumber = 4
                         THEN l.l_quantity + 10
                         ELSE l.l_quantity END) AS DOUBLE) AS total_qty,
           CAST(round(avg(CASE WHEN l.l_linenumber = 4
                               THEN l.l_quantity + 10
                               ELSE l.l_quantity END), 6) AS DOUBLE) AS avg_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey % 13 <> 0
    GROUP BY o.o_orderpriority
    """,
    tags=("incremental", "join", "retraction", "scale"),
)
def incremental_join_view_retractions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retraction-capable join-view maintenance (delta_join is
    insert-only), driver-checked end-to-end: the
    per-priority quantity rollup over orders ⋈ lineitem absorbs a CDC
    batch containing DELETES on one side and UPDATES on the other —
    every 13th order is deleted (ΔO = those rows at multiplicity -1)
    and every lineitem with l_linenumber = 4 has its quantity raised by
    10 (ΔL = the old row at -1 plus the new row at +1, the Z-set
    encoding of an update). The maintained result folds the old view's
    partial state with partial_agg_signed over
    operators/incremental.delta_join_signed's three bilinear terms
    (multiplicities multiplying across the join), and must equal the
    oracle's full recompute over the post-change tables. The classic
    retraction bugs all hash-fail: dropping the ΔO ⋈ ΔL cross term
    double-subtracts the deleted-order × updated-line pairs ((-1)·(-1)
    must contribute +1); applying updates as bare inserts doubles
    n_items; keeping min/max-style monoid state silently serves stale
    extrema — which is why the signed path exposes only the
    group-invertible aggregates (count/sum/avg).

    Scale posture: identical to the insert-only gate — history is only
    ever the probe side of a broadcast join against a batch-sized
    delta (no history shuffle, verified structurally by
    COVERAGE.md), the cross term is batch × batch, and
    the fold shuffles |keys| signed partial rows. l_quantity is
    integer-valued so signed double sums are exact under any
    accumulation order; avg is derived sum/count, rounded identically
    on both sides."""
    from ..operators import incremental

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    # ΔO: CDC deletes — every 13th order leaves the orders side.
    delta_o = o.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "_mult", F.lit(-1)
    )
    # ΔL: CDC updates — linenumber-4 rows get quantity + 10, encoded as
    # retract(old) + insert(new).
    upd = li.filter(F.col("l_linenumber") == 4).drop("l_linenumber")
    delta_l = (
        upd.withColumn("_mult", F.lit(-1))
        .unionByName(
            upd.withColumn("l_quantity", F.col("l_quantity") + 10).withColumn(
                "_mult", F.lit(1)
            )
        )
    )
    l_old = li.drop("l_linenumber")

    keys = ["o_orderpriority"]
    old_view_state = incremental.partial_agg(
        o.join(l_old, "o_orderkey"), keys, "l_quantity"
    )
    delta_rows = incremental.delta_join_signed(
        o, delta_o, l_old, delta_l, "o_orderkey"
    )
    maintained = incremental.finalize_signed(
        incremental.merge_partials_signed(
            old_view_state,
            incremental.partial_agg_signed(delta_rows, keys, "l_quantity"),
        )
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_items"),
        F.col("total").cast("double").alias("total_qty"),
        F.round("vavg", 6).cast("double").alias("avg_qty"),
    )


@register(
    "incremental_minmax_view_retractions",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           min(l.l_quantity) AS min_qty,
           max(l.l_quantity) AS max_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_quantity < 49
    GROUP BY o.o_orderpriority
    """,
    tags=("incremental", "join", "retraction", "scale"),
)
def incremental_minmax_view_retractions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MIN/MAX under retractions via multiset state — the aggregate
    family the signed-scalar path deliberately excludes (a deleted
    extremum cannot be undone from (min, max) alone), maintained here
    with operators/incremental.multiset_state: per-(priority, quantity)
    value counts fold signed CDC batches by pure addition, zero-count
    values drop out, and min/max are re-derived over surviving values.
    The batch deletes every lineitem with l_quantity >= 49 — removing
    the CURRENT MAXIMUM (50.0, and its runner-up 49.0) from every
    priority group — so the maintained max must fall back to 48.0,
    which is exactly the answer scalar state cannot produce; the
    oracle recomputes over the post-delete tables, so serving the
    stale max (the classic monoid-state bug this construction forces)
    hash-fails, as does a count drift. The delta flows through
    delta_join_signed with an empty order-side batch (the one-sided
    CDC case: multiplicities ride A_old ⋈ ΔB; the insert-and-delete
    two-sided case is incremental_join_view_retractions' gate).

    Scale posture: the multiset state is |distinct (key, value)| rows
    — here at most 5 priorities x 50 quantities = 250 rows regardless
    of fact count (the value-domain bound that makes MIN/MAX IVM
    viable); the fold shuffles state rows plus batch-bounded
    (key, value) partials, and history again appears only as the
    broadcast-probe side of the delta terms."""
    from ..operators import incremental

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    delta_o = o.filter(F.lit(False)).withColumn("_mult", F.lit(1))
    delta_l = li.filter(F.col("l_quantity") >= 49).withColumn(
        "_mult", F.lit(-1)
    )
    keys = ["o_orderpriority"]
    state = incremental.multiset_state(
        o.join(li, "o_orderkey"), keys, "l_quantity"
    )
    delta_rows = incremental.delta_join_signed(
        o, delta_o, li, delta_l, "o_orderkey"
    )
    maintained = incremental.finalize_minmax(
        incremental.merge_multisets(
            state,
            incremental.multiset_state(delta_rows, keys, "l_quantity", "_mult"),
        ),
        "l_quantity",
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n_rows").alias("n_items"),
        F.col("vmin").alias("min_qty"),
        F.col("vmax").alias("max_qty"),
    )


@register(
    "incremental_distinct_view_retractions",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(count(DISTINCT l.l_quantity) AS BIGINT) AS n_distinct_qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_quantity < 45 AND l.l_linenumber < 6
    GROUP BY o.o_orderpriority
    """,
    tags=("incremental", "join", "retraction", "scale"),
)
def incremental_distinct_view_retractions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact COUNT(DISTINCT) under retractions — the third aggregate
    face of the maintained multiset (operators/incremental.
    finalize_distinct), completing the IVM taxonomy alongside the
    group aggregates (count/sum/avg, incremental_join_view_retractions)
    and the monoid extrema (min/max, incremental_minmax_view_
    retractions). The CDC batch deletes every lineitem with
    l_quantity >= 45 (values 45–50 vanish ENTIRELY — distinct count
    must fall) and every lineitem with l_linenumber >= 6 (those rows'
    quantities survive on other linenumbers — distinct count must
    NOT fall for them). That split is the IVM content: a distinct-value
    SET without per-value counts cannot tell the two apart — on a
    partial delete it either wrongly evicts the value (undercounts) or
    never evicts (overcounts after full removals); only the net
    value-count distinguishes last-surviving-row deletes, and the
    oracle's full recompute over the post-delete tables hash-fails
    either bug. Deltas flow through delta_join_signed with an empty
    order-side batch, multiplicities folding by pure addition.

    Scale posture: identical to the min/max gate — ONE maintained
    multiset of |distinct (key, value)| rows (<= 5 priorities x 44
    surviving quantities here, value-domain-bounded regardless of
    fact count) now serves min, max, and count-distinct; the fold
    shuffles state rows plus batch-bounded (key, value) partials, and
    history appears only as the broadcast-probe side of the delta
    terms. The unbounded-domain companion is the HLL sketch tier
    (incremental_hll_distinct_view)."""
    from ..operators import incremental

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    # CDC deletes: full-value removals (quantity >= 45) plus partial
    # removals (linenumber >= 6) whose values survive on other rows.
    delta_l = (
        li.filter((F.col("l_quantity") >= 45) | (F.col("l_linenumber") >= 6))
        .drop("l_linenumber")
        .withColumn("_mult", F.lit(-1))
    )
    l_old = li.drop("l_linenumber")
    delta_o = o.filter(F.lit(False)).withColumn("_mult", F.lit(1))

    keys = ["o_orderpriority"]
    state = incremental.multiset_state(
        o.join(l_old, "o_orderkey"), keys, "l_quantity"
    )
    delta_rows = incremental.delta_join_signed(
        o, delta_o, l_old, delta_l, "o_orderkey"
    )
    maintained = incremental.finalize_distinct(
        incremental.merge_multisets(
            state,
            incremental.multiset_state(delta_rows, keys, "l_quantity", "_mult"),
        ),
        "l_quantity",
    )
    return maintained.select(
        "o_orderpriority",
        F.col("n_rows").cast("bigint").alias("n_items"),
        F.col("n_distinct").cast("bigint").alias("n_distinct_qty"),
    )


@register(
    "incremental_topn_view_retractions",
    oracle="""
    WITH survivors AS (
      SELECT o.o_orderpriority, l.l_quantity AS qty,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE l.l_quantity < 48 AND l.l_linenumber < 6
      GROUP BY o.o_orderpriority, l.l_quantity
    ),
    ranked AS (
      SELECT o_orderpriority, qty, n_rows,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY qty DESC) AS BIGINT) AS rnk
      FROM survivors
    )
    SELECT o_orderpriority, rnk, qty, n_rows FROM ranked WHERE rnk <= 3
    """,
    tags=("incremental", "join", "retraction", "topn", "scale"),
)
def incremental_topn_view_retractions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-N per group under retractions — the fourth aggregate face of
    the maintained multiset (operators/incremental.finalize_topn),
    completing the IVM taxonomy: group aggregates (count/sum/avg,
    incremental_join_view_retractions), extrema (min/max,
    incremental_minmax_view_retractions), distinct count
    (incremental_distinct_view_retractions), and now ORDER BY value
    DESC LIMIT 3 per priority. The CDC batch deletes every lineitem
    with l_quantity >= 48 — evicting the ENTIRE current top-3 value
    set {48, 49, 50} from every priority group, so the maintained
    ranking must surface {47, 46, 45}, three values scalar top-n state
    never retained — and every lineitem with l_linenumber >= 6, whose
    quantities survive on other rows, so the surviving values' emitted
    multiplicities must also shift. A stale cached ranking, a
    set-without-counts eviction bug, or a count drift on the survivors
    all diverge from the oracle's full recompute over the post-delete
    tables and hash-fail. Deltas flow through delta_join_signed with an
    empty order-side batch; ranking over distinct values makes
    row_number tie-free and the output deterministic.

    Scale posture: same as the sibling gates — ONE multiset of
    |distinct (key, value)| rows (value-domain-bounded: <= 5 priorities
    x 47 surviving quantities here, regardless of fact count) serves
    min, max, count-distinct AND top-n; the rank window runs over that
    state, never over raw history, and history appears only as the
    broadcast-probe side of the delta terms."""
    from ..operators import incremental

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    # CDC deletes: the whole current top-3 value band (quantity >= 48)
    # plus partial removals (linenumber >= 6) that only shift counts.
    delta_l = (
        li.filter((F.col("l_quantity") >= 48) | (F.col("l_linenumber") >= 6))
        .drop("l_linenumber")
        .withColumn("_mult", F.lit(-1))
    )
    l_old = li.drop("l_linenumber")
    delta_o = o.filter(F.lit(False)).withColumn("_mult", F.lit(1))

    keys = ["o_orderpriority"]
    state = incremental.multiset_state(
        o.join(l_old, "o_orderkey"), keys, "l_quantity"
    )
    delta_rows = incremental.delta_join_signed(
        o, delta_o, l_old, delta_l, "o_orderkey"
    )
    maintained = incremental.finalize_topn(
        incremental.merge_multisets(
            state,
            incremental.multiset_state(delta_rows, keys, "l_quantity", "_mult"),
        ),
        "l_quantity",
        n=3,
    )
    return maintained.select(
        "o_orderpriority",
        F.col("rnk").cast("bigint").alias("rnk"),
        F.col("l_quantity").alias("qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


@register(
    "incremental_hll_distinct_view",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           true AS merge_consistent,
           true AS within_tolerance
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("incremental", "sketch", "scale"),
)
def incremental_hll_distinct_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct-count materialized view via mergeable HLL
    sketch state (Spark 3.5+ Datasketches integration: hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate) — the unbounded-domain
    companion to the exact multiset tier: where finalize_distinct keeps
    |distinct (key, value)| rows, the sketch keeps a FIXED <= 2^lgK
    registers per key no matter the cardinality. The view's state is
    one sketch per (key, ingest batch); a refresh folds the new batch's
    sketch in with hll_union_agg and never re-reads history — the
    canonical 100 TB distinct-users-per-segment pattern. The gate
    ingests orders as four disjoint batches (o_orderkey % 4),
    per-batch-sketches each, and checks the invariant an MV refresh
    schedule actually needs — FOLD-PLAN INVARIANCE: the same four
    batch sketches folded in batch order, in reverse order, and as a
    hierarchical re-union of already-unioned state (the compaction
    shape) must estimate EXACTLY the same value, so merge_consistent
    is a strict three-way equality, not a tolerance — a sketch
    double-folded, dropped at a batch boundary, or sensitive to
    refresh order flips it false and hash-fails. (Deliberately NOT
    asserted: union-of-sketches == one single-pass sketch. The
    Datasketches union operator's internal HLL_8 gadget and coupon
    promotion path make that only approximately true — measured
    0.5–1.3% apart on this corpus — and no refresh schedule ever
    compares the two; fold-plan invariance is the identity that makes
    incremental maintenance safe.) within_tolerance separately bounds
    the folded estimate against the exact count (lgK=12 standard
    error ~1.04/sqrt(4096) = 1.6%; gate allows 5%) — insert-only by
    construction (HLL registers are a max-monoid, no inverse;
    retractions need the exact multiset tier).

    Scale posture: per-batch partial sketches are built map-side by
    partial aggregation (the agg buffer IS the sketch); each refresh
    shuffles |keys| sketches of fixed size; estimates derive at read
    time like avg from (sum, count). Oracle supplies the exact counts
    and the two invariants as constants."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_custkey"
    )
    batches = [
        o.filter(F.col("o_orderkey") % 4 == i).groupBy("o_orderpriority").agg(
            F.hll_sketch_agg("o_custkey").alias("_sk")
        )
        for i in range(4)
    ]
    def fold(parts: list[DataFrame], alias: str) -> DataFrame:
        state = parts[0]
        for p in parts[1:]:
            state = state.unionByName(p)
        return state.groupBy("o_orderpriority").agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias(alias)
        )

    folded = fold(batches, "est_folded")
    reversed_fold = fold(batches[::-1], "est_reversed")
    # Compaction shape: re-union sketches that are themselves unions.
    compact = [
        batches[i]
        .unionByName(batches[i + 1])
        .groupBy("o_orderpriority")
        .agg(F.hll_union_agg("_sk").alias("_sk"))
        for i in (0, 2)
    ]
    hierarchical = fold(compact, "est_hierarchical")
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return (
        exact.join(F.broadcast(folded), "o_orderpriority")
        .join(F.broadcast(reversed_fold), "o_orderpriority")
        .join(F.broadcast(hierarchical), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            (
                (F.col("est_folded") == F.col("est_reversed"))
                & (F.col("est_folded") == F.col("est_hierarchical"))
            ).alias("merge_consistent"),
            (
                F.abs(
                    F.col("est_folded") / F.col("n_exact") - F.lit(1.0)
                )
                <= F.lit(0.05)
            ).alias("within_tolerance"),
        )
    )


@register(
    "zorder_bucket_histogram",
    oracle="""
    WITH stats AS (
      SELECT CAST(min(o_custkey) AS DOUBLE) AS lo1,
             CAST(max(o_custkey) AS DOUBLE) AS hi1,
             CAST(min(o_totalprice) AS DOUBLE) AS lo2,
             CAST(max(o_totalprice) AS DOUBLE) AS hi2
      FROM orders
    ),
    b AS (
      SELECT
        CASE WHEN hi1 = lo1 THEN 0
             ELSE least(255, CAST(floor((o_custkey - lo1) / (hi1 - lo1) * 256)
                                  AS BIGINT)) END AS b1,
        CASE WHEN hi2 = lo2 THEN 0
             ELSE least(255, CAST(floor((o_totalprice - lo2) / (hi2 - lo2) * 256)
                                  AS BIGINT)) END AS b2
      FROM orders CROSS JOIN stats
    ),
    z AS (
      SELECT b1, b2,
             (((b1 >> 0) & 1) << 0)  | (((b2 >> 0) & 1) << 1) |
             (((b1 >> 1) & 1) << 2)  | (((b2 >> 1) & 1) << 3) |
             (((b1 >> 2) & 1) << 4)  | (((b2 >> 2) & 1) << 5) |
             (((b1 >> 3) & 1) << 6)  | (((b2 >> 3) & 1) << 7) |
             (((b1 >> 4) & 1) << 8)  | (((b2 >> 4) & 1) << 9) |
             (((b1 >> 5) & 1) << 10) | (((b2 >> 5) & 1) << 11) |
             (((b1 >> 6) & 1) << 12) | (((b2 >> 6) & 1) << 13) |
             (((b1 >> 7) & 1) << 14) | (((b2 >> 7) & 1) << 15) AS zvalue
      FROM b
    )
    SELECT zvalue >> 11 AS z_range, count(*) AS n,
           min(zvalue) AS zmin, max(zvalue) AS zmax
    FROM z GROUP BY z_range
    """,
    tags=("layout", "scale", "zorder"),
)
def zorder_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order curve positions over (o_custkey, o_totalprice), histogrammed
    into 32 contiguous curve ranges (the would-be file assignment of
    zorder_write_parquet at n_files=32) — checked bit-for-bit against a
    SQL re-derivation of the Morton interleave. Proves the layout
    operator's curve math, min/max bucketing, and guard rails (constant
    column → bucket 0) match an independent implementation."""
    from ..operators import layout

    o = load_table(spark, sf_dir, "orders")
    keyed = layout.zorder_key(o, ["o_custkey", "o_totalprice"], bits=8)
    return keyed.groupBy(
        F.shiftright(F.col("_zvalue"), 11).alias("z_range")
    ).agg(
        F.count("*").alias("n"),
        F.min("_zvalue").alias("zmin"),
        F.max("_zvalue").alias("zmax"),
    )


@register(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    ),
    activity AS (
      SELECT e.user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01', f.cohort_day) / 7)
                  AS INTEGER) AS cohort_week,
             CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) / 7)
                  AS INTEGER) AS weeks_since
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, weeks_since,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM activity GROUP BY cohort_week, weeks_since
    """,
    tags=("analytics", "cohort", "window"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the canonical product-analytics rollup:
    users bucketed by first-seen week, counted distinct in each
    subsequent week of activity. The firsts frame is |users| rows —
    potentially 10^8+ at a 100 TB event log, so it is NOT broadcast:
    the activity join shuffles both sides on user_id (firsts is already
    partitioned by user_id from its groupBy, so only the event side
    moves), and AQE is free to downgrade to broadcast when |users| is
    actually small. Week indices are day arithmetic from a fixed epoch
    (engine-portable, unlike WEEK() semantics)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    firsts = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    epoch = F.lit("2024-01-01").cast("date")
    activity = e.join(firsts, "user_id").select(
        "user_id",
        F.floor(F.datediff(F.col("cohort_day"), epoch) / 7)
        .cast("int")
        .alias("cohort_week"),
        F.floor(F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7)
        .cast("int")
        .alias("weeks_since"),
    )
    return activity.groupBy("cohort_week", "weeks_since").agg(
        F.count_distinct("user_id").alias("n_users")
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, v.t1, min(e.ts) AS t2
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id, v.t1
    ),
    p AS (
      SELECT e.user_id, c.t1, min(e.ts) AS t3
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id, c.t1
    )
    SELECT * FROM (
      SELECT 1 AS stage, 'view' AS event_type,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(NULL AS DOUBLE) AS avg_seconds_from_view
      FROM v
      UNION ALL
      SELECT 2, 'click', CAST(count(*) AS BIGINT),
             round(avg(date_diff('microseconds', t1, t2)) / 1e6, 6)
      FROM c
      UNION ALL
      SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
             round(avg(date_diff('microseconds', t1, t3)) / 1e6, 6)
      FROM p
    )
    """,
    tags=("analytics", "funnel", "sequence"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase: each stage counts users
    whose qualifying event strictly follows their previous stage's first
    event, plus mean seconds from first view. The standard
    event-sequence workload, shaped as staged per-user min-aggregates +
    joins on the shrinking user frame. That frame is |users| rows —
    too large to force-broadcast at a 100 TB event log — so the stage
    joins are plain equi-joins on user_id: each stage's groupBy output
    is already hash-partitioned by user_id, the filtered event slice
    shuffles once to meet it, and AQE downgrades to broadcast on its
    own when the user frame measures small. The event log is scanned
    per stage but never self-joined row-to-row, so the shuffles stay
    bounded by the user count.
    Second diffs are exact microsecond integers before the one
    averaging division (sums < 2^53 — engine-portable)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.select("user_id", "t1", "t2"), "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )
    micros = lambda a, b: F.unix_micros(F.col(b)) - F.unix_micros(F.col(a))
    stage = lambda df, n, name, dt: df.agg(
        F.lit(n).alias("stage"),
        F.lit(name).alias("event_type"),
        F.count("*").alias("n_users"),
        (F.round(F.avg(dt) / 1e6, 6) if dt is not None else F.lit(None).cast("double")).alias(
            "avg_seconds_from_view"
        ),
    )
    s1 = v.agg(
        F.lit(1).alias("stage"),
        F.lit("view").alias("event_type"),
        F.count("*").alias("n_users"),
        F.lit(None).cast("double").alias("avg_seconds_from_view"),
    )
    s2 = stage(c, 2, "click", micros("t1", "t2"))
    s3 = stage(p, 3, "purchase", micros("t1", "t3"))
    return s1.unionByName(s2).unionByName(s3)


@register(
    "percentiles_approx",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS p25_ok, TRUE AS p50_ok, TRUE AS p90_ok
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("agg", "approx", "percentile", "sketch"),
)
def percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch) of order totals per
    status — the 100 TB form of the exact-percentile query: the sketch
    is a constant-size mergeable summary computed map-side, so the
    shuffle carries sketches instead of every value (exact percentile
    must materialize each group's full value multiset on one task).

    Oracle-bound via GK's own guarantee (the hll_distinct_accuracy
    pattern): accuracy=10000 bounds the RANK error of each reported
    value at n/10000, so a second pass computes each group's true rank
    interval for the sketch value — [count(x < v), count(x <= v)] —
    and asserts it covers q*n within the n/10000 slack. The booleans
    hold for ANY valid GK merge order (the guarantee is worst-case),
    so the oracle is deterministic even though the estimate itself may
    shift with partitioning. Estimates themselves are rows-only by
    nature; tests/test_ops_extra.py additionally checks them against
    percentiles_exact."""
    o = load_table(spark, sf_dir, "orders")
    appr = o.groupBy("o_orderstatus").agg(
        F.percentile_approx(
            "o_totalprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9)), 10000
        ).alias("pcts")
    ).select(
        "o_orderstatus",
        F.col("pcts")[0].alias("p25"),
        F.col("pcts")[1].alias("p50"),
        F.col("pcts")[2].alias("p90"),
    )
    joined = o.join(F.broadcast(appr), "o_orderstatus")
    eps = 1.0 / 10000

    def rank_cols(q: float, col: str):
        below = F.sum((F.col("o_totalprice") < F.col(col)).cast("long"))
        atmost = F.sum((F.col("o_totalprice") <= F.col(col)).cast("long"))
        n = F.count("*")
        qn = F.lit(q) * n
        # +1 rank absorbs the discrete target-rank definition offset
        # (ceil vs floor of q*n); the epsilon*n term is the GK bound and
        # dominates at scale (1e6 ranks at n=1e10)
        slack = F.lit(eps) * n + F.lit(1.0)
        return ((below <= qn + slack) & (atmost >= qn - slack)).alias(f"{col}_ok")

    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        rank_cols(0.25, "p25"),
        rank_cols(0.5, "p50"),
        rank_cols(0.9, "p90"),
    )


@register(
    "timeseries_gapfill_ffill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(*) AS n,
             CAST(round(sum(CAST(value AS DECIMAL(14,2))), 2) AS DOUBLE)
               AS day_value
      FROM events WHERE event_type IS NOT NULL
      GROUP BY event_type, day
    ),
    bounds AS (
      SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily
      GROUP BY event_type
    ),
    spine AS (
      SELECT b.event_type, CAST(u.d AS DATE) AS day
      FROM bounds b, unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS u(d)
    ),
    joined AS (
      SELECT s.event_type, s.day,
             coalesce(d.n, 0) AS n,
             d.day_value
      FROM spine s LEFT JOIN daily d USING (event_type, day)
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           coalesce(day_value, 0.0) AS day_value,
           last_value(day_value IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS day_value_ffill
    FROM joined
    """,
    tags=("analytics", "timeseries", "gapfill", "window"),
)
def timeseries_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification: build each event type's full daily
    calendar spine with F.sequence (gap days appear as zero-count rows),
    then forward-fill the last observed daily value across gaps with
    last(..., ignorenulls) over an ordered window — the standard
    gap-fill + LOCF pair every metrics store needs.

    The spine is generated from a per-type (min, max) aggregate — |types|
    rows exploded to |types| x days, never a driver-side loop — and the
    left join back to the daily aggregate is broadcastable (the daily
    frame is already aggregated). The ffill window partitions by
    event_type: bounded state, parallel across types."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n"),
            # value is a clean 2-decimal double: decimal-accumulate so the
            # sum is exact and order-independent (the _util.py scheme)
            F.round(F.sum(F.col("value").cast("decimal(14,2)")), 2)
            .cast("double")
            .alias("day_value"),
        )
    )
    bounds = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = spine.join(F.broadcast(daily), ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("day_value"), F.lit(0.0)).alias("day_value"),
        F.last("day_value", ignorenulls=True).over(w).alias("day_value_ffill"),
    )


@register(
    "variant_shred_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_long,
           CAST(json_extract(props, '$.k') AS DOUBLE) AS k_double,
           json_extract_string(props, '$.missing') AS missing_field
    FROM events WHERE props IS NOT NULL
    """,
    tags=("json", "variant", "semi-structured"),
)
def variant_shred_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through Spark 4's VARIANT type:
    parse_json once into the binary variant encoding, then typed
    variant_get extractions (long, double, and an absent path -> null).
    VARIANT is the at-scale answer to schemaless columns — parsed once,
    stored shredded/binary, typed access without per-query string
    re-parsing (get_json_object re-parses the text on every extraction;
    compare json_extract_field). Oracle = DuckDB's JSON extraction of
    the same paths."""
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    v = e.select("event_id", F.parse_json("props").alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.k", "long").alias("k_long"),
        F.variant_get("v", "$.k", "double").alias("k_double"),
        F.variant_get("v", "$.missing", "string").alias("missing_field"),
    )


@register(
    "map_functions_suite",
    oracle=r"""
    WITH t AS (
      SELECT p_partkey, string_split(p_name, ' ') AS words FROM part
    ),
    kv AS (
      -- DuckDB re-derives the same key->value association from the raw
      -- lists (last-wins on duplicate keys, matching map_from_arrays):
      -- distinct keys in first-appearance order, value = length of the
      -- LAST occurrence (all occurrences of an equal word have equal
      -- length, so last-wins == any-wins here).
      SELECT p_partkey, list_distinct(words) AS ks,
             list_transform(list_distinct(words), w -> length(w)) AS vs
      FROM t
    )
    SELECT p_partkey,
           CAST(len(ks) AS INTEGER) AS n_keys,
           CAST(len(list_filter(vs, v -> v > 4)) AS INTEGER) AS n_long,
           CAST(list_sum(list_transform(vs, v -> v * 2)) AS BIGINT)
             AS doubled_total,
           array_to_string(
             list_transform(list_sort(ks), k -> k || '=' ||
               CAST(2 * length(k) AS VARCHAR)), ',') AS doubled_entries
    FROM kv
    """,
    tags=("map", "higher-order", "functions"),
)
def map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed higher-order functions over a per-row word->length map:
    map_from_arrays (last-wins on dup keys), map_filter,
    transform_values, map_keys/map_values, and a deterministic
    serialization (sorted 'k=v' entries) so the driver hashes scalars.
    DuckDB has no MAP lambda suite, so the oracle re-derives identical
    results from the underlying lists — the check pins map SEMANTICS
    (dedup, filter, transform), not engine representation. All per-row
    JVM expression work: no shuffle, fused into the scan."""
    p = load_table(spark, sf_dir, "part")
    t = p.select("p_partkey", F.split("p_name", " ").alias("words"))
    staged = t.select(
        "p_partkey",
        F.map_from_arrays(
            "words", F.transform("words", F.length)
        ).alias("m"),
    )
    doubled = F.transform_values("m", lambda k, v: v * 2)
    entries = F.transform(
        F.array_sort(F.map_keys("m")),
        lambda k: F.concat_ws(
            "=", k, F.element_at(doubled, k).cast("string")
        ),
    )
    return staged.select(
        "p_partkey",
        F.size(F.map_keys("m")).alias("n_keys"),
        F.size(F.map_filter("m", lambda k, v: v > 4)).alias("n_long"),
        F.aggregate(
            F.map_values(doubled),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("doubled_total"),
        F.array_join(entries, ",").alias("doubled_entries"),
    )


@register(
    "corr_covar_exact",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                 / (n - 1), 4) AS covar_samp,
           round((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
                 / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                        * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
                 6) AS corr_qty_price
    FROM s
    """,
    tags=("agg", "statistics"),
)
def corr_covar_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance and Pearson correlation of quantity vs price per
    return flag — computed from EXACT decimal moment sums (Σx, Σy, Σxy,
    Σx², Σy² over 2-decimal inputs are exact and associative), with the
    float division/sqrt happening once on identical doubles in both
    engines. The built-in corr()/covar_samp() stream doubles through an
    order-dependent accumulator — same statistics, but not
    cross-engine-hashable; this decomposition is, and it is also the
    map-side-combinable form you'd use at 100 TB anyway (five mergeable
    sums per group, one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    cov_num = sxy - sx * sy / n
    return s.select(
        "l_returnflag",
        n,
        F.round(cov_num / (n - 1), 4).alias("covar_samp"),
        F.round(
            cov_num / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), 6
        ).alias("corr_qty_price"),
    )


@register(
    "window_time_range_rolling",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(*) OVER w AS BIGINT) AS n_events_1h,
           CAST(round(sum(CAST(value AS DECIMAL(14,2))) OVER w, 2) AS DOUBLE)
             AS value_1h
    FROM events
    WHERE user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "time", "range-frame", "analytics"),
)
def window_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour-window metrics per user: for every event, the count
    and decimal-exact value sum of that user's events in the preceding
    hour — the sliding-lookback feature every fraud/engagement pipeline
    computes. Expressed as a RANGE frame over epoch microseconds
    (portable across engines, unlike interval-typed frames) partitioned
    by user: state per partition is one in-flight hour of events, and
    users parallelize. The value sum rides the catalog's decimal scheme
    so frame sums are accumulation-order-independent."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("n_events_1h"),
        F.round(F.sum(F.col("value").cast("decimal(14,2)")).over(w), 2)
        .cast("double")
        .alias("value_1h"),
    )


@register(
    "try_arithmetic_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0.0 THEN NULL
                ELSE round(l_extendedprice / l_discount, 4) END AS price_per_disc,
           CASE WHEN l_tax = 0.0 THEN NULL
                ELSE CAST(CAST(l_quantity AS BIGINT) % CAST(l_tax * 100 AS BIGINT)
                          AS BIGINT) END AS qty_mod_taxpts,
           round(l_extendedprice + l_tax * 1000, 4) AS shifted,
           CAST(NULL AS BIGINT) AS overflow_sum
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-11-01'
    """,
    tags=("arithmetic", "ansi", "null-safety"),
)
def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic via the try_ family: this engine keeps
    PySpark 4's ANSI mode ON (errors on overflow / division by zero
    instead of silently wrapping), so dirty-data arithmetic goes through
    try_divide / try_mod / try_add — null on failure, never a crashed
    100 TB job three hours in. The oracle mirrors each failure case with
    explicit CASE guards (DuckDB raises on div-by-zero too);
    try_add(BIGINT_MAX, qty) pins the overflow->null contract."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-11-01").cast("timestamp")
    )
    max_long = F.lit(9223372036854775807).cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide(F.col("l_extendedprice"), F.col("l_discount")), 4)
        .alias("price_per_disc"),
        F.try_mod(
            F.col("l_quantity").cast("long"),
            (F.col("l_tax") * 100).cast("long"),
        ).alias("qty_mod_taxpts"),
        F.round(F.try_add(F.col("l_extendedprice"), F.col("l_tax") * 1000), 4)
        .alias("shifted"),
        F.try_add(max_long, F.col("l_quantity").cast("long")).alias("overflow_sum"),
    )


@register(
    "regexp_extract_all_tokens",
    oracle=r"""
    -- DuckDB's regexp_extract_all yields NULL (not []) on zero matches;
    -- Spark yields [] -> join '' — coalesce to align
    SELECT p_partkey,
           CAST(coalesce(len(regexp_extract_all(p_name, '[a-z]{5,}')), 0)
                AS INTEGER) AS n_long_words,
           coalesce(array_to_string(regexp_extract_all(p_name, '[a-z]{5,}'), '|'),
                    '') AS long_words
    FROM part
    """,
    tags=("regexp", "string", "functions"),
)
def regexp_extract_all_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: every >=5-letter word per part name (the
    multi-match sibling of regexp_extract, F1). Serialized with a join
    for the hasher plus the raw count; the array column itself is
    stringified because the driver's pandas hasher cannot hash lists
    (round-1 lesson, collect_list_sorted)."""
    p = load_table(spark, sf_dir, "part")
    # Spark's regexp_extract_all defaults to capture-group 1 — the
    # pattern needs an explicit group (DuckDB's returns the full match)
    words = F.regexp_extract_all(F.col("p_name"), F.lit("([a-z]{5,})"))
    return p.select(
        "p_partkey",
        F.size(words).alias("n_long_words"),
        F.array_join(words, "|").alias("long_words"),
    )


@register(
    "sessionize_gap_cumsum",
    oracle="""
    WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
    flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS spend
    FROM sess GROUP BY user_id, session_seq
    """,
    tags=("analytics", "sessionize", "window"),
)
def sessionize_gap_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, the batch window-function formulation
    (complement of session_window_gap's F.session_window): a 30-minute
    silence starts a new session; session id = running sum of new-session
    flags per user. One shuffle on user_id serves both window passes and
    the final agg (same partitioning, Catalyst reuses the exchange).
    Timestamps compare in exact microseconds (unix_micros/epoch_us) and
    spend sums in exact decimal, so both engines agree bit-for-bit."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0).alias(
            "is_new"
        ),
    )
    sess = flagged.withColumn(
        "session_seq",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
        money_sum(dec2(F.col("value"))).alias("spend"),
    )


@register(
    "listagg_distinct_sources",
    oracle="""
    WITH ds AS (
      SELECT DISTINCT lang, source FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL
    )
    SELECT lang,
           string_agg(source, ',' ORDER BY source) AS sources_csv,
           CAST(count(*) AS BIGINT) AS n_sources
    FROM ds GROUP BY lang
    """,
    tags=("aggregation", "listagg", "sql"),
)
def listagg_distinct_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """listagg WITHIN GROUP (Spark 4's ordered string_agg): the ordered
    concatenation is deterministic by contract — unlike collect_list,
    whose order is partitioning-dependent — so it is safe to hash. The
    DISTINCT pre-projection keeps the aggregated state vocabulary-sized
    regardless of corpus row count."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        """
        WITH ds AS (
          SELECT DISTINCT lang, source FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL
        )
        SELECT lang,
               listagg(source, ',') WITHIN GROUP (ORDER BY source) AS sources_csv,
               count(*) AS n_sources
        FROM ds GROUP BY lang
        """
    )


@register(
    "hll_distinct_accuracy",
    oracle="""
    WITH per AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    ),
    g_all AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events WHERE event_type IS NOT NULL
    )
    SELECT event_type, exact_users, TRUE AS within_5pct FROM per
    UNION ALL
    SELECT 'ALL', exact_users, TRUE FROM g_all
    """,
    tags=("aggregation", "sketch", "approx"),
)
def hll_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches HLL, the 100 TB distinct-count pattern: per-group
    sketches are built in one pass (hll_sketch_agg), and the GLOBAL
    distinct count comes from MERGING those sketches (hll_union_agg) —
    no second scan, no giant exact-distinct shuffle. The query returns
    the exact counts plus a boolean asserting the estimate landed within
    5% (HLL lgK=12 gives ~1.6% rse), so the oracle can check the sketch
    path without DuckDB having to reproduce the sketch internals."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(
        """
        WITH s AS (
          SELECT event_type,
                 hll_sketch_agg(user_id) AS sk,
                 count(DISTINCT user_id) AS exact_users
          FROM events WHERE event_type IS NOT NULL GROUP BY event_type
        )
        SELECT event_type, exact_users,
               abs(hll_sketch_estimate(sk) - exact_users)
                 <= ceil(0.05 * exact_users) AS within_5pct
        FROM s
        UNION ALL
        SELECT 'ALL' AS event_type,
               max(g.exact_users) AS exact_users,
               abs(hll_sketch_estimate(hll_union_agg(s.sk)) - max(g.exact_users))
                 <= ceil(0.05 * max(g.exact_users)) AS within_5pct
        FROM s CROSS JOIN (
          SELECT count(DISTINCT user_id) AS exact_users
          FROM events WHERE event_type IS NOT NULL
        ) g
        """
    )


@register(
    "bitmap_distinct_rollup",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      GROUP BY event_type, d
    ),
    total AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS total_users
      FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      GROUP BY event_type
    )
    SELECT daily.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           min(n_users) AS min_daily_users,
           max(n_users) AS max_daily_users,
           CAST(sum(n_users) AS BIGINT) AS sum_daily_users,
           max(total_users) AS total_users
    FROM daily JOIN total USING (event_type)
    GROUP BY daily.event_type
    """,
    tags=("aggregation", "bitmap", "incremental", "scale"),
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact re-aggregable distinct counts via RoaringBitmap-style aggs
    (bitmap_construct_agg / bitmap_or_agg): daily per-type bitmaps are
    built in one scan, daily actives read off them, and the per-type
    TOTAL distinct comes from OR-merging the daily bitmaps — never a
    second scan, never a giant exact-distinct shuffle. This is the
    incremental distinct-count pattern for 100 TB event logs: persist
    the daily bitmaps and any rollup (week, month, all-time) is a merge
    of kilobyte-sized state. The oracle recomputes both levels with
    plain count(DISTINCT) — the bitmap path must agree exactly."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("events",))
    return spark.sql(
        """
        WITH b AS (
          SELECT event_type, CAST(date_trunc('DAY', ts) AS DATE) AS d,
                 bitmap_bucket_number(user_id) AS bkt,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
          FROM events
          WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          GROUP BY event_type, CAST(date_trunc('DAY', ts) AS DATE),
                   bitmap_bucket_number(user_id)
        ),
        daily AS (
          SELECT event_type, d, CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_users
          FROM b GROUP BY event_type, d
        ),
        merged AS (
          SELECT event_type, bkt, bitmap_or_agg(bm) AS bm
          FROM b GROUP BY event_type, bkt
        ),
        total AS (
          SELECT event_type, CAST(sum(bitmap_count(bm)) AS BIGINT) AS total_users
          FROM merged GROUP BY event_type
        )
        SELECT daily.event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               min(n_users) AS min_daily_users,
               max(n_users) AS max_daily_users,
               CAST(sum(n_users) AS BIGINT) AS sum_daily_users,
               max(total_users) AS total_users
        FROM daily JOIN total USING (event_type)
        GROUP BY daily.event_type
        """
    )


@register(
    "fuzzy_name_match_blocked",
    oracle="""
    WITH names AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n
      FROM part WHERE p_name IS NOT NULL GROUP BY p_name
    ),
    nm AS (
      SELECT p_name, n, arr[len(arr)] AS lastw
      FROM (SELECT p_name, n, string_split(p_name, ' ') AS arr FROM names)
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
           a.n AS n_parts_a, b.n AS n_parts_b
    FROM nm a JOIN nm b
      ON a.lastw = b.lastw AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    tags=("join", "fuzzy", "entity-resolution"),
)
def fuzzy_name_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution done the scalable way: dedup to DISTINCT
    names first (vocabulary-sized, not row-sized), generate candidate
    pairs only within a blocking key (the name's last token), score with
    exact Levenshtein, then join counts back. The quadratic step runs on
    the vocabulary inside each block — sum(block^2), never N^2 over the
    table (operators/dedup.blocked_fuzzy_pairs)."""
    from ..operators.dedup import blocked_fuzzy_pairs

    p = load_table(spark, sf_dir, "part")
    names = (
        p.filter(F.col("p_name").isNotNull())
        .groupBy("p_name")
        .agg(F.count("*").alias("n"))
    )
    nm = names.withColumn("_last", F.element_at(F.split("p_name", " "), -1))
    pairs = blocked_fuzzy_pairs(nm, "p_name", "_last", max_dist=3)
    cnt = F.broadcast(names)
    return (
        pairs.join(cnt.withColumnRenamed("p_name", "name_a"), "name_a")
        .withColumnRenamed("n", "n_parts_a")
        .join(
            cnt.withColumnRenamed("p_name", "name_b").withColumnRenamed(
                "n", "n_parts_b"
            ),
            "name_b",
        )
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


@register(
    "pandas_group_gap_stats",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus, event_id
      FROM events WHERE user_id IS NOT NULL
    ),
    w AS (
      SELECT user_id, tus,
             tus - lag(tus) OVER (
               PARTITION BY user_id ORDER BY tus, event_id
             ) AS gap
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           median(gap) AS median_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us,
           CAST(max(tus) - min(tus) AS BIGINT) AS span_us
    FROM w GROUP BY user_id HAVING count(gap) >= 1
    """,
    tags=("pandas-udf", "grouped-map", "analytics"),
)
def pandas_group_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas path (applyInPandas): per-user inter-event gap
    stats computed in pandas over Arrow-shipped per-user batches — the
    escape hatch for per-group logic SQL can't express. Kept exact for
    the oracle by doing ALL arithmetic on integer microseconds (pandas
    int64 diff/max are exact; the even-count median averages two ints,
    which both engines represent identically in float64). One shuffle on
    user_id; group state is one user's events, bounded at any scale."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id", F.unix_micros("ts").alias("tus"), "event_id")
    )

    def gap_stats(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "user_id": pd.Series(dtype="int64"),
                    "n_events": pd.Series(dtype="int64"),
                    "median_gap_us": pd.Series(dtype="float64"),
                    "max_gap_us": pd.Series(dtype="int64"),
                    "span_us": pd.Series(dtype="int64"),
                }
            )
        pdf = pdf.sort_values(["tus", "event_id"])
        gaps = pdf["tus"].diff().dropna()
        return pd.DataFrame(
            [
                {
                    "user_id": int(pdf["user_id"].iloc[0]),
                    "n_events": len(pdf),
                    "median_gap_us": float(gaps.median()),
                    "max_gap_us": int(gaps.max()),
                    "span_us": int(pdf["tus"].iloc[-1] - pdf["tus"].iloc[0]),
                }
            ]
        )

    return e.groupBy("user_id").applyInPandas(
        gap_stats,
        "user_id long, n_events long, median_gap_us double, "
        "max_gap_us long, span_us long",
    )


@register(
    "udtf_word_bigrams",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      FROM documents WHERE text IS NOT NULL AND doc_id % 20 = 3
    ),
    pairs AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM d, unnest(range(1, len(ws))) AS u(i)
    )
    SELECT doc_id, w1, w2, CAST(count(*) AS INTEGER) AS n
    FROM pairs GROUP BY doc_id, w1, w2
    """,
    tags=("udtf", "generator", "text"),
)
def udtf_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: a LATERAL-joined generator
    that fans each document out into its distinct word bigrams with
    counts. Tokenization mirrors functions.text.tokens (trim+lower+\\s+)
    so the DuckDB oracle reproduces it with string_split_regex. UDTFs
    are the row-python slow path — the query runs on a 1-in-20 document
    sample and the docstring exists to say: use explode()+groupBy for
    this in production; the UDTF form is API-surface coverage."""
    from collections import Counter

    from pyspark.sql.functions import udtf

    @udtf(returnType="w1 string, w2 string, n int")
    class WordBigrams:
        def eval(self, text):
            if text is None:
                return
            toks = text.strip().lower().split()
            for (w1, w2), n in Counter(zip(toks, toks[1:])).items():
                yield w1, w2, n

    spark.udtf.register("word_bigrams", WordBigrams)
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        """
        SELECT d.doc_id, s.w1, s.w2, s.n
        FROM documents d, LATERAL word_bigrams(d.text) s
        WHERE d.text IS NOT NULL AND d.doc_id % 20 = 3
        """
    )


@register(
    "udtf_table_argument",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
    tags=("udtf", "sql", "table-function"),
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic table function: a Python UDTF consuming a TABLE
    argument with PARTITION BY (`FROM summarize(TABLE(documents)
    PARTITION BY lang)`) — the SQL-standard PTF surface Spark added for
    exactly the custom-per-group-operator niche applyInPandas serves on
    the DataFrame side. Each partition's rows stream through eval() and
    terminate() emits one summary row, so the gate value-checks the
    whole contract against a plain GROUP BY oracle: partition routing
    (a row delivered to the wrong group shifts two groups' counts),
    per-partition state isolation (leaked state across partitions
    inflates later groups), and the terminate-once protocol (a double
    emit duplicates a group and rows-fails).

    Scale posture: PARTITION BY shuffles once on the key and each
    partition streams through the UDTF row-python — the row-at-a-time
    slow path, priced exactly like udtf_word_bigrams: for an aggregate
    this simple use groupBy/agg (JVM, combinable); the PTF form is for
    genuinely custom per-group logic (sequence models, sessionizers)
    and this gate is its API-surface coverage."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="lang string, n_docs bigint, total_chars bigint, max_chars bigint")
    class LangStats:
        def __init__(self):
            self.lang = None
            self.n = 0
            self.total = 0
            self.mx = None

        def eval(self, row):
            self.lang = row["lang"]
            self.n += 1
            nc = row["n_chars"]
            self.total += nc
            self.mx = nc if self.mx is None else max(self.mx, nc)

        def terminate(self):
            yield self.lang, self.n, self.total, self.mx

    spark.udtf.register("lang_stats", LangStats)
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        "SELECT * FROM lang_stats(TABLE(documents) PARTITION BY lang)"
    )


@register(
    "sql_identifier_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("sql", "identifier", "injection-safe"),
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTIFIER() clause: table AND column names bound from
    parameters as identifiers, not string-spliced SQL — the
    injection-safe way to write the "same rollup over N tables/columns"
    template every metadata-driven pipeline contains (the value
    companion to sql_session_vars_params, which binds VALUES via
    EXECUTE IMMEDIATE USING; identifiers need IDENTIFIER() because a
    bound value parameter cannot name a table). A malicious
    'orders; DROP ...' string fails to parse as an identifier here
    instead of executing. JVM-side and optimizer-transparent: after
    binding, the plan is byte-identical to the literal query — pushdown
    and pruning see a normal column reference."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp) AS o_orderpriority,
               count(*) AS n_orders,
               CAST(round(sum(CAST(IDENTIFIER(:val) AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total_price
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"grp": "o_orderpriority", "val": "o_totalprice", "tbl": "orders"},
    )


@register(
    "sql_scripting_control_flow",
    oracle="""
    WITH ks AS (SELECT k FROM range(0, 60) t(k)),
    cnt AS (
      SELECT k,
             (SELECT count(*) FROM orders
              WHERE CAST(o_totalprice AS DOUBLE) > 20000.0 * power(2, k)) AS n
      FROM ks
    )
    SELECT CAST(20000.0 * power(2, k) AS DOUBLE) AS threshold,
           CAST(n AS BIGINT) AS n_above,
           CAST(k AS INT) AS n_doublings
    FROM cnt WHERE n < 100 ORDER BY k LIMIT 1
    """,
    tags=("sql", "scripting", "control-flow"),
)
def sql_scripting_control_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (the Spark 4 BEGIN...END procedural batch: local
    DECLARE variables, scalar-subquery assignment, and a
    DATA-DEPENDENT WHILE loop — the last §2.7 SQL-interface surface
    the registry didn't exercise): an exponential threshold search
    doubles a price cutoff until fewer than 100 orders exceed it. The
    loop count is decided by the DATA, not the script text, so the
    gate pins the whole control-flow contract: variable scoping, each
    iteration's re-evaluated scalar subquery, the loop exit condition,
    and the final SELECT's visibility of the mutated variables. The
    oracle re-derives the same fixpoint CLOSED-FORM (smallest k with
    count(price > start*2^k) < 100) — a wrong number of iterations,
    a stale variable read, or an off-by-one exit shifts threshold/
    n_above/n_doublings and hash-fails. Doubling a DOUBLE by 2 is
    exact binary arithmetic, so script and closed-form agree
    bit-for-bit.

    Scale posture: scripting runs ON the driver as a statement
    sequencer — each iteration's subquery is a normal distributed
    Catalyst plan (pushdown and codegen intact); the script adds no
    row-path cost. The pattern (iterate-until-a-distributed-predicate-
    converges) is exactly the k-means/BPE driver-loop shape, here
    expressed in pure SQL."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("orders",))
    saved = _save_confs(spark, ["spark.sql.scripting.enabled"])
    try:
        spark.conf.set("spark.sql.scripting.enabled", "true")
        out = spark.sql(
            """
            BEGIN
              DECLARE threshold DOUBLE DEFAULT 20000.0;
              DECLARE n BIGINT DEFAULT 0;
              DECLARE doublings INT DEFAULT 0;
              SET n = (SELECT count(*) FROM orders
                       WHERE CAST(o_totalprice AS DOUBLE) > threshold);
              WHILE n >= 100 DO
                SET threshold = threshold * 2;
                SET doublings = doublings + 1;
                SET n = (SELECT count(*) FROM orders
                         WHERE CAST(o_totalprice AS DOUBLE) > threshold);
              END WHILE;
              SELECT threshold AS threshold, n AS n_above,
                     doublings AS n_doublings;
            END
            """
        )
        # scripts execute statement-by-statement on the driver; pin the
        # 1-row result before the conf restore so the returned frame
        # cannot depend on session state the finally block rewinds
        rows = out.collect()
        return spark.createDataFrame(
            rows, "threshold DOUBLE, n_above BIGINT, n_doublings INT"
        )
    finally:
        _restore_confs(spark, saved)


@register(
    "data_quality_audit",
    oracle="""
    SELECT check_name, n_bad, n_total, n_bad = 0 AS ok FROM (
    WITH ev AS (SELECT count(*) AS t FROM events),
         doc AS (SELECT count(*) AS t FROM documents),
         ord AS (SELECT count(*) AS t FROM orders WHERE o_custkey IS NOT NULL),
         li AS (SELECT count(*) AS t FROM lineitem WHERE l_orderkey IS NOT NULL)
    SELECT 'events.user_id_not_null' AS check_name,
           CAST((SELECT count(*) FROM events WHERE user_id IS NULL) AS BIGINT) AS n_bad,
           CAST((SELECT t FROM ev) AS BIGINT) AS n_total
    UNION ALL
    SELECT 'events.value_non_negative',
           CAST((SELECT count(*) FROM events WHERE value < 0) AS BIGINT),
           CAST((SELECT t FROM ev) AS BIGINT)
    UNION ALL
    SELECT 'documents.text_not_null',
           CAST((SELECT count(*) FROM documents WHERE text IS NULL) AS BIGINT),
           CAST((SELECT t FROM doc) AS BIGINT)
    UNION ALL
    SELECT 'documents.n_chars_matches_text',
           CAST((SELECT count(*) FROM documents
                 WHERE text IS NOT NULL AND n_chars <> length(text)) AS BIGINT),
           CAST((SELECT t FROM doc) AS BIGINT)
    UNION ALL
    SELECT 'orders.custkey_fk',
           CAST((SELECT count(*) FROM orders o ANTI JOIN customer c
                 ON o.o_custkey = c.c_custkey
                 WHERE o.o_custkey IS NOT NULL) AS BIGINT),
           CAST((SELECT t FROM ord) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.orderkey_fk',
           CAST((SELECT count(*) FROM lineitem l ANTI JOIN orders o
                 ON l.l_orderkey = o.o_orderkey
                 WHERE l.l_orderkey IS NOT NULL) AS BIGINT),
           CAST((SELECT t FROM li) AS BIGINT)
    )
    """,
    tags=("quality", "validation", "pipeline"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-promotion data-quality gate (operators/quality.py): null and
    range expectations fuse into ONE conditional-sum aggregate per table
    (never a scan per check), and referential integrity runs as left-anti
    orphan probes on the FK key. The whole audit is a lazy union — one
    job, no driver-side loops — and emits (check, n_bad, n_total, ok)
    rows a pipeline can alert on."""
    from ..operators import quality

    ev = load_table(spark, sf_dir, "events")
    doc = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    ev_checks = quality.expect_agg(
        ev,
        {
            "events.user_id_not_null": F.col("user_id").isNull(),
            "events.value_non_negative": F.col("value") < 0,
        },
    )
    doc_checks = quality.expect_agg(
        doc,
        {
            "documents.text_not_null": F.col("text").isNull(),
            "documents.n_chars_matches_text": F.col("text").isNotNull()
            & (F.col("n_chars") != F.length("text")),
        },
    )
    fk1 = quality.expect_fk(orders, "o_custkey", customer, "c_custkey", "orders.custkey_fk")
    fk2 = quality.expect_fk(lineitem, "l_orderkey", orders, "o_orderkey", "lineitem.orderkey_fk")
    return ev_checks.unionAll(doc_checks).unionAll(fk1).unionAll(fk2)


@register(
    "cogroup_order_reconciliation",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 = 7
    ),
    l AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey % 10 = 7 GROUP BY l_orderkey
    )
    SELECT o.o_orderkey,
           coalesce(l.n_lines, CAST(0 AS BIGINT)) AS n_lines,
           coalesce(l.sum_qty, CAST(0 AS DOUBLE)) AS sum_qty,
           o.o_totalprice
    FROM o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
    """,
    tags=("pandas-udf", "cogroup", "join"),
)
def cogroup_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map Pandas path (groupBy().cogroup().applyInPandas):
    each order's header batch and its lineitem batch arrive together in
    pandas — the escape hatch for per-key reconciliation logic that is
    not a plain join (imperative matching, per-key validation). Exact
    for the oracle: l_quantity is integer-valued so its float sum is
    order-independent. Orders without lines emit zeros; orphan lineitem
    groups (no header) emit nothing. Runs on a 1-in-10 orderkey sample —
    the per-group python invocation is the slow path; the docstring says
    use a join when the logic IS a join."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 7)
        .select("o_orderkey", "o_totalprice")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 7)
        .select("l_orderkey", "l_quantity")
    )

    def reconcile(key, opdf, lpdf):
        import pandas as pd

        if len(opdf) == 0:  # orphan lineitems: surfaced by data_quality_audit
            return pd.DataFrame(
                {
                    "o_orderkey": pd.Series(dtype="int64"),
                    "n_lines": pd.Series(dtype="int64"),
                    "sum_qty": pd.Series(dtype="float64"),
                    "o_totalprice": pd.Series(dtype="float64"),
                }
            )
        return pd.DataFrame(
            [
                {
                    "o_orderkey": int(key[0]),
                    "n_lines": len(lpdf),
                    "sum_qty": float(lpdf["l_quantity"].sum()) if len(lpdf) else 0.0,
                    "o_totalprice": float(opdf["o_totalprice"].iloc[0]),
                }
            ]
        )

    return (
        o.groupBy("o_orderkey")
        .cogroup(l.groupBy("l_orderkey"))
        .applyInPandas(
            reconcile,
            "o_orderkey long, n_lines long, sum_qty double, o_totalprice double",
        )
    )


@register(
    "global_row_number_shards",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY source, doc_id) AS BIGINT) AS rn,
           CAST((row_number() OVER (ORDER BY source, doc_id) - 1) % 8 AS BIGINT)
             AS shard_id
    FROM documents WHERE source IS NOT NULL
    """,
    tags=("layout", "ordering", "scale"),
)
def global_row_number_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global ordinals + shard assignment for training-data
    sharding (operators/layout.global_row_numbers): 1..N by a total order
    WITHOUT the single-task `row_number() OVER (ORDER BY ...)` trap —
    range-repartition, per-partition counts (only |partitions| longs hit
    the driver), then an Arrow mapInPandas pass adds the partition offset.
    The oracle is the very window function the operator refuses to run
    globally: results must be identical, produced with full parallelism."""
    from ..operators.layout import global_row_numbers

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .select("doc_id", "source")
    )
    out = global_row_numbers(d, ["source", "doc_id"], out_col="rn")
    return out.select(
        "doc_id", "rn", ((F.col("rn") - 1) % 8).cast("long").alias("shard_id")
    )


@register(
    "pagerank_event_transitions",
    oracle="""
    WITH RECURSIVE steps AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             event_type AS dst
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    edges AS (
      SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
      FROM steps WHERE src IS NOT NULL GROUP BY src, dst
    ),
    outw AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
    ),
    trans AS (
      -- real transition probabilities, plus a zero-weight self-loop per
      -- node so the recursive join carries every node (incl. ones with
      -- no in-contributions) through each iteration without a second
      -- reference to the recursive table
      SELECT e.src, e.dst, e.w / o.out_w AS p FROM edges e JOIN outw o USING (src)
      UNION ALL
      SELECT node, node, 0.0 FROM nodes
    ),
    r AS (
      SELECT 0 AS iter, node, CAST(1.0 AS DOUBLE) AS rank FROM nodes
      UNION ALL
      SELECT r.iter + 1, t.dst AS node,
             0.15 + 0.85 * sum(r.rank * t.p) AS rank
      FROM r JOIN trans t ON r.node = t.src
      WHERE r.iter < 10
      GROUP BY r.iter, t.dst
    )
    SELECT node, round(rank, 9) AS rank FROM r WHERE iter = 10 ORDER BY node
    """,
    tags=("graph", "iterative"),
)
def pagerank_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (operators/graph.py) over the event-type
    transition graph: edges are consecutive (prev_type -> type) steps in
    each user's timeline, weighted by transition count. The operator is
    the driver-iterated join-agg loop with lineage checkpointing — the
    DataFrame-native form of iterative graph algorithms; its numerics
    are verified against a hand-rolled reference implementation in
    tests/test_graph.py.

    Oracle: the event-type graph
    is model-sized, so the 10-step damped fixpoint IS SQL-expressible as
    a recursive CTE — each recursive step is the same join-aggregate the
    Spark loop runs, with zero-weight self-loops standing in for the
    nodes-frame outer join (a recursive CTE may reference its own table
    only once). Output rounded to 9 decimals absorbs float-sum ordering
    across partitions/engines, same contract as before."""
    from ..operators.graph import pagerank

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst")
    ).filter(F.col("src").isNotNull())
    edges = steps.groupBy("src", "dst").agg(F.count("*").cast("double").alias("w"))
    ranks = pagerank(edges, iterations=10, weight="w")
    return ranks.select("node", F.round("rank", 9).alias("rank")).orderBy("node")


@register(
    "graph_triangle_count",
    oracle="""
    WITH steps AS (
      SELECT lag(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id)
               AS pu,
             user_id AS cu
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    edges AS (
      SELECT DISTINCT least(pu, cu) AS a, greatest(pu, cu) AS b
      FROM steps WHERE pu IS NOT NULL AND pu <> cu
    ),
    nodes AS (
      SELECT DISTINCT x FROM
        (SELECT a AS x FROM edges UNION ALL SELECT b FROM edges)
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           (SELECT n_triangles FROM tri) AS n_triangles
    """,
    tags=("graph", "join", "scale", "bench"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count (operators/graph.triangle_count) over the
    user co-activity graph: an undirected edge links two users who
    appear consecutively in the same event_type's timeline (ordered by
    ts, event_id — the same deterministic step derivation as the
    PageRank query, keyed by type instead of user). The operator runs
    the degree-ordered EDGE-ITERATOR: orient edges toward the
    (degree, id)-larger endpoint (caps every out-degree at
    O(sqrt(|E|)), taming hubs), build out-neighbor lists, and sum
    |N+(s) ∩ N+(d)| per edge — the Σ out-deg² wedge intermediate is
    never shuffled (see the operator docstring for the measured
    comparison vs the wedge-join form).

    Oracle: triangle count is algorithm-invariant, so DuckDB counts
    via the naive a<b<c three-way self-join on the same canonical edge
    set; the counts must agree exactly — a three-way cross-derivation
    once tests are included (edge-iterator here, naive join in the
    oracle, wedge join pinned equal in tests/test_graph.py), which is
    what gates the orientation/adjacency logic: any double- or
    zero-counting hash-fails."""
    from ..operators.graph import triangle_count

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    steps = e.select(
        F.lag("user_id").over(w).alias("pu"), F.col("user_id").alias("cu")
    ).filter(F.col("pu").isNotNull() & (F.col("pu") != F.col("cu")))
    edges = steps.select(F.col("pu").alias("a"), F.col("cu").alias("b"))
    return triangle_count(edges)


@register(
    "merge_upsert_orders",
    oracle="""
    WITH upd AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(CAST(o_totalprice AS DECIMAL(14,2))
                        + CAST(1.00 AS DECIMAL(14,2)), 2) AS DOUBLE) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 17 = 0
    ),
    merged AS (
      SELECT * FROM orders o
      WHERE o.o_orderkey % 17 <> 0
      UNION ALL
      SELECT * FROM upd
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
    tags=("incremental", "merge", "upsert"),
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot upsert (operators/incremental.merge_upsert): a derived
    update batch (every 17th order gets +1.00 on its total) merges into
    the orders snapshot — matched keys replaced, everything else kept —
    then the merged table is audited per status with exact decimal sums.
    The update-key anti-join is broadcast, so at 100 TB the snapshot is
    filtered map-side; only the final audit aggregates shuffle."""
    from ..operators.incremental import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 17 == 0).withColumn(
        "o_totalprice",
        F.round(dec2(F.col("o_totalprice")) + dec2(F.lit(1.00)), 2).cast("double"),
    )
    merged = merge_upsert(orders, updates, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        money_sum(dec2(F.col("o_totalprice"))).alias("total_price"),
    )


@register(
    "scd2_type_intervals",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                    OR lag(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
      SELECT user_id, event_type, ts,
             CAST(sum(chg) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS run_seq
      FROM flagged
    ),
    iv AS (
      SELECT user_id, run_seq, min(event_type) AS event_type,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, run_seq
    )
    SELECT user_id, run_seq, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run_seq)
             AS valid_to,
           n_events
    FROM iv
    """,
    tags=("analytics", "scd2", "gaps-islands", "window"),
)
def scd2_type_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) intervals from a change log —
    the gaps-and-islands pattern: consecutive per-user runs of the same
    event_type collapse into one row with [valid_from, valid_to) validity
    (valid_to = next run's start, NULL while current). Change flag via
    lag, run id via running sum, interval end via lead — all three window
    passes and the run aggregation share ONE user_id shuffle. This is
    how a dimension snapshot with history is maintained declaratively at
    any scale; the 'current' view is just valid_to IS NULL."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    flagged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(prev.isNull() | (prev != F.col("event_type")), 1)
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("run_seq"),
    )
    iv = runs.groupBy("user_id", "run_seq").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_seq")
    return iv.select(
        "user_id",
        "run_seq",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


@register(
    "recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE anc AS (
      SELECT doc_id AS start_id, doc_id AS node, 0 AS depth FROM documents
      UNION ALL
      SELECT start_id, node // 2 AS node, depth + 1 FROM anc WHERE node > 1
    )
    SELECT start_id,
           CAST(max(depth) AS BIGINT) AS depth_to_root,
           CAST(sum(node) AS BIGINT) AS path_sum
    FROM anc GROUP BY start_id
    """,
    tags=("sql", "recursive-cte", "hierarchy"),
)
def recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): ancestor-chain traversal
    over the implicit binary-tree hierarchy parent(n) = n DIV 2 — the
    org-chart / BOM-explosion query shape SQL engines historically needed
    recursion for. Each iteration is one distributed self-union step;
    depth is O(log max_id), so the recursion terminates in ~17 rounds
    regardless of row count. DuckDB runs the same recursion (// integer
    division) as the oracle."""
    from ..sources import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        """
        WITH RECURSIVE anc(start_id, node, depth) AS (
          SELECT doc_id, doc_id, 0 FROM documents
          UNION ALL
          SELECT start_id, node DIV 2, depth + 1 FROM anc WHERE node > 1
        )
        SELECT start_id,
               CAST(max(depth) AS BIGINT) AS depth_to_root,
               CAST(sum(node) AS BIGINT) AS path_sum
        FROM anc GROUP BY start_id
        """
    )


@register(
    "xml_parse_extract",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(14,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderkey % 4 = 1
    GROUP BY o_orderstatus
    """,
    tags=("xml", "semi-structured", "functions"),
)
def xml_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (from_xml, Spark 4): each order is serialized
    to an XML fragment and parsed back through a typed schema, and the
    aggregate runs on the PARSED struct fields — so the oracle (which
    aggregates the original columns) proves the round trip is lossless.
    Java's shortest-repr double formatting guarantees value-exact
    double -> string -> double. The parse is a JVM expression: no UDF,
    codegen-compatible, the shape for ingesting XML feeds at scale."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 1)
    xml = F.concat(
        F.lit("<order><key>"),
        F.col("o_orderkey"),
        F.lit("</key><status>"),
        F.col("o_orderstatus"),
        F.lit("</status><price>"),
        F.col("o_totalprice"),
        F.lit("</price></order>"),
    )
    parsed = o.select(
        F.from_xml(xml, "key BIGINT, status STRING, price DOUBLE").alias("x")
    )
    return (
        parsed.select(
            F.col("x.status").alias("o_orderstatus"), F.col("x.price").alias("p")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            money_sum(dec2(F.col("p"))).alias("total_price"),
        )
    )


@register(
    "collation_case_insensitive",
    oracle="""
    WITH d AS (
      SELECT lang,
             CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END AS src
      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
    )
    SELECT lang,
           CAST(count(DISTINCT src) AS BIGINT) AS n_binary_distinct,
           CAST(count(DISTINCT lower(src)) AS BIGINT) AS n_ci_distinct
    FROM d GROUP BY lang
    """,
    tags=("collation", "string", "sql"),
)
def collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collations (Spark 4): the same distinct-count under binary
    vs UTF8_LCASE collation — case variants (half the rows upper-cased
    here) collapse under the case-insensitive collation but not under
    binary. Collation is an expression-level property, so the distinct
    agg runs fully JVM-side; the oracle models UTF8_LCASE with lower(),
    which coincides with it on this ASCII corpus."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull() & F.col("source").isNotNull())
        .select(
            "lang",
            F.when(F.col("doc_id") % 2 == 0, F.upper("source"))
            .otherwise(F.col("source"))
            .alias("src"),
        )
    )
    return d.groupBy("lang").agg(
        F.countDistinct("src").alias("n_binary_distinct"),
        F.countDistinct(F.collate(F.col("src"), "UTF8_LCASE")).alias(
            "n_ci_distinct"
        ),
    )


@register(
    "date_function_suite",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           last_day(o_orderdate) AS month_end,
           CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2m,
           CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS INTEGER)
             AS days_to_ref
    FROM orders WHERE o_orderkey % 5 = 2
    """,
    tags=("functions", "date", "suite"),
)
def date_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function family in one pass: month truncation, quarter,
    day-of-week (Spark's 1=Sunday convention — the oracle shifts DuckDB's
    0-based dow), month-end, month arithmetic (both engines clamp
    Jan 30 + 1m -> Feb 28/29 identically — verified), and day deltas to a
    fixed reference. All JVM expressions on the scan, no shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 2)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        "o_orderdate",
        F.trunc(d, "MM").alias("month_start"),
        F.quarter(d).alias("q"),
        F.dayofweek(d).alias("dow"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 2).alias("plus_2m"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_ref"),
    )


@register(
    "pandas_udf_digit_sum",
    oracle="""
    SELECT o_orderkey,
           CAST(list_sum(list_transform(
             string_split(CAST(o_orderkey AS VARCHAR), ''),
             x -> CAST(x AS INT))) AS INTEGER) AS digit_sum
    FROM orders WHERE o_orderkey % 5 = 3
    """,
    tags=("pandas-udf", "scalar", "vectorized"),
)
def pandas_udf_digit_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF surface (Arrow-vectorized Series -> Series): a
    digit-sum computed with pure numpy integer arithmetic — no per-row
    python — showing the right way to write the 'escape hatch' when an
    expression genuinely can't be built from built-ins
    (functions/pandas_udfs.py). Integer ops are exact, so the DuckDB
    oracle (char-split + list_sum) must agree bit-for-bit."""
    from ..functions.pandas_udfs import digit_sum

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 3)
    return o.select("o_orderkey", digit_sum(F.col("o_orderkey")).alias("digit_sum"))


@register(
    "salted_two_stage_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_value
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
    tags=("skew", "aggregation", "scale"),
)
def salted_two_stage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual salt-and-merge aggregation for hot keys: stage 1 groups by
    (key, salt) so a pathological key spreads over 16 reducers; stage 2
    merges the 16 partials per key. The salt is derived from event_id
    (pmod — deterministic, not rand()), partial sums stay in exact
    decimal until the final round, so the result equals the plain
    one-stage aggregate bit-for-bit (the oracle). Spark's map-side
    partial agg usually makes this unnecessary for count/sum — the
    pattern matters for high-cardinality state per key (collect_set,
    exact distinct) where the partial state itself skews."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type").isNotNull())
    salted = e.groupBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(16)).alias("_salt")
    ).agg(
        F.count("*").alias("_n"),
        F.sum(dec2(F.col("value"))).alias("_v"),
    )
    return salted.groupBy("event_type").agg(
        F.sum("_n").cast("long").alias("n_events"),
        F.round(F.sum("_v"), 2).cast("double").alias("total_value"),
    )


@register(
    "skew_salted_join",
    oracle="""
    WITH totals AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS user_total
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(t.user_total) AS BIGINT) AS sum_user_totals,
           CAST(max(t.user_total) AS BIGINT) AS max_user_total
    FROM events e JOIN totals t USING (user_id)
    WHERE e.event_type IS NOT NULL
    GROUP BY e.event_type
    """,
    tags=("skew", "join", "scale"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join for a skewed fact key — the manual form of what
    AQE's skewJoin does, for engines/planners that can't: the dim side
    (per-user totals) is replicated once per salt bucket (R=8, an
    explode of a literal array — 8x a |users|-row frame, cheap), the
    fact side derives a DETERMINISTIC salt from event_id (pmod of
    xxhash64 — not rand(), so retries/speculative tasks agree), and the
    join key becomes (user_id, salt): a hot user's rows now spread over
    8 reducers instead of melting one. Equality with the unsalted join
    is exact (the oracle IS the plain join) because salting only
    re-partitions work. All-integer outputs — no float drift.

    At 100 TB: salting beats AQE skew-split when the skew is in the
    JOIN-BUILD state (AQE splits oversized shuffle FILES, not oversized
    hash tables), and composes with it otherwise. R trades dim
    duplication for fan-out; pick R ~ (hot-key rows / target partition
    rows)."""
    R = 8
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    totals = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    dim = totals.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(R)]))
    )
    fact = e.withColumn("_salt", F.pmod(F.xxhash64("event_id"), F.lit(R)).cast("int"))
    # shuffle_hash hint: salting only exists for the shuffle-join regime
    # (a broadcastable dim has no skew problem — Spark would broadcast
    # the small test-SF dim and the salted exchange this query
    # demonstrates would never plan). Hash over sort-merge because the
    # replicated dim is still small per bucket.
    joined = fact.join(dim.hint("shuffle_hash"), ["user_id", "_salt"])
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_total").alias("sum_user_totals"),
        F.max("user_total").alias("max_user_total"),
    )


@register(
    "argmax_deterministic",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang ORDER BY n_chars DESC, doc_id DESC
             ) AS rn
      FROM documents WHERE lang IS NOT NULL
    )
    SELECT lang, doc_id AS top_doc, CAST(n_chars AS BIGINT) AS top_chars
    FROM ranked WHERE rn = 1
    """,
    tags=("aggregation", "argmax", "determinism"),
)
def argmax_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic argmax WITHOUT a window: max over a (measure, key)
    struct is a single hash aggregate — lexicographic struct ordering
    makes the unique doc_id the tiebreak, so ties can't produce
    run-to-run flapping the way bare max_by(x, measure) can. One
    map-side-combinable agg vs the oracle's sort-based row_number — same
    rows, cheaper plan at scale (no per-group sort)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    top = d.groupBy("lang").agg(
        F.max(F.struct("n_chars", "doc_id")).alias("m")
    )
    return top.select(
        "lang",
        F.col("m.doc_id").alias("top_doc"),
        F.col("m.n_chars").alias("top_chars"),
    )


@register(
    "stream_tumbling_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY date_trunc('hour', ts)
    """,
    tags=("streaming", "window", "watermark"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run inside the correctness gate: the
    events table is re-read as a bounded file stream, aggregated with
    watermarked 1-hour tumbling windows (streaming.windowed_counts —
    state evicted behind the watermark), drained through a memory sink,
    and the drained result must equal the plain batch SQL the oracle
    runs. Spark's unified model makes this an executable guarantee, not
    a slogan: the same windowed_counts plan is what tests run in batch.
    The 10-year watermark keeps every window open to the end of the
    bounded drain, so complete-mode output == the batch aggregate."""
    from .. import streaming

    stream = file_stream(
        spark, load_table(spark, sf_dir, "events"), "tumbling", sf_dir
    )
    counts = streaming.windowed_counts(stream, "1 hour", watermark="87600 hours")
    drained = streaming.run_stream_to_memory(
        counts, "cat_stream_tumbling", "complete"
    )
    return drained.select(
        F.col("w_start").alias("window_start"), "n_events"
    )


@register(
    "stream_state_store_read",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "state", "observability"),
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATE-STORE READER (`spark.read.format("statestore")`, Spark
    4's state data source): a streaming groupBy-count drains over the
    events table into an HDFS-backed state store, the query stops, and
    the gate then reads the CHECKPOINT ITSELF back as a batch
    DataFrame — no sink, no memory table; the keyed state that
    survives on disk is the evidence. Every (event_type, running
    count) state row must equal the oracle's plain batch aggregate:
    a state row lost to a partition that never committed, a double-
    applied micro-batch, or a key written to the wrong state-store
    partition changes some count and hash-fails. This is the
    observability contract streaming operations rest on — debugging
    a stateful query at 3am means inspecting exactly this surface,
    and it is also the recovery path for state surgery (read, fix,
    re-seed).

    Scale posture: the reader exposes state-store partitions as scan
    partitions (one per shuffle partition of the stateful operator),
    so inspection parallelizes like any other scan and never replays
    the stream; cost is O(|distinct keys|), not O(events)."""
    batch = load_table(spark, sf_dir, "events").select("event_type")
    [ckpt] = fresh_dirs(sf_dir, "statestore_ckpt")
    counts = (
        file_stream(spark, batch, "statestore_src", sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        counts.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    state = spark.read.format("statestore").load(ckpt)
    # the value struct carries the INTERNAL agg-buffer schema (field
    # `count`), not the query's output aliases — part of what this
    # surface teaches
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
    )


@register(
    "stream_watermark_late_drop",
    oracle="""
    WITH cutoff AS (
      SELECT date_trunc('day', min(ts)) + INTERVAL 1 DAY AS c FROM events
    )
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           TRUE AS straggler_dropped
    FROM events, cutoff
    WHERE ts < cutoff.c
    GROUP BY date_trunc('hour', ts)
    """,
    tags=("streaming", "watermark", "late-data"),
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics inside the correctness gate (the
    append-mode contract every late-data SLA rests on; previously pinned
    only by tests/test_streaming.py): the events table's first day plus
    the single newest event stream as micro-batch 1 of an append-mode
    1-hour-windowed count with a 1-hour watermark; once the watermark
    has advanced to (newest - 1h), micro-batch 2 delivers ONE straggler
    — the earliest second-day event, now ~29 days behind the watermark,
    whose window was long since finalized and evicted. The straggler
    must be DROPPED (counted in numRowsDroppedByWatermark, surfaced as
    the oracle-checked `straggler_dropped` flag): if it instead opened
    a new window or re-opened the old one, an extra second-day row
    appears and the gate rows-fails. The drained sink must then hold
    exactly the day-one hourly windows with FULL counts — each window
    emitted at most once, after the watermark passed its end — while
    the newest event's own window, still open when the bounded stream
    drains (its end always exceeds newest - 1h), must NOT be emitted:
    append mode emits only finalized windows. Batch boundaries are
    imposed by sequential file writes with processAllAvailable between
    them — no mtime ordering, no single-file races.

    Scale posture: the watermark is the mechanism that makes unbounded
    streaming aggregation viable at all — state for closed windows is
    evicted instead of accumulating forever, and arbitrarily-late data
    costs O(1) (a counter bump) instead of a state rebuild. The gate
    pins that eviction is REAL (the straggler finds no state to rejoin)
    and exact-once emission holds across watermark advances."""
    from .. import streaming

    e = load_table(spark, sf_dir, "events").select("ts")
    row = e.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"), F.max("ts").alias("mx")
    ).collect()[0]
    import datetime as dt

    cutoff, mx = row["d0"] + dt.timedelta(days=1), row["mx"]

    # DATA-ASSUMPTION GUARD: the gate's constant-TRUE oracle
    # presumes (a) a second-day straggler exists and (b) its 1-hour
    # window is already finalized at the batch-1 watermark (mx - 1h) so
    # the drop is forced. If a scale factor ever violates either, fail
    # LOUDLY here — a silent dropped==0 would read as an engine bug when
    # it is a data-shape artifact.
    straggler = (
        e.filter(F.col("ts") >= F.lit(cutoff)).agg(F.min("ts")).collect()[0][0]
    )
    if straggler is None:
        raise AssertionError(
            "stream_watermark_late_drop: events spans <2 days at this "
            "scale factor — no straggler exists to drop; the gate's data "
            "assumption is violated (not an engine bug)"
        )
    straggler_window_end = straggler.replace(
        minute=0, second=0, microsecond=0
    ) + dt.timedelta(hours=1)
    if straggler_window_end > mx - dt.timedelta(hours=1):
        raise AssertionError(
            "stream_watermark_late_drop: the earliest second-day event's "
            "window is not yet finalized at watermark max(ts)-1h — the "
            "straggler would legitimately be accepted; the gate's data "
            "assumption is violated (not an engine bug)"
        )

    [src] = fresh_dirs(sf_dir, "wmlate")
    # micro-batch 1: day-one events + the newest event (advances the
    # watermark to mx - 1h once the batch commits)
    e.filter((F.col("ts") < F.lit(cutoff)) | (F.col("ts") == F.lit(mx))).write.parquet(
        src
    )
    schema = spark.read.parquet(src).schema
    counts = streaming.windowed_counts(
        spark.readStream.schema(schema).parquet(src),
        "1 hour",
        watermark="1 hour",
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("cat_stream_wmlate")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # micro-batch 2: ONE straggler from day two — the guarded-above
    # earliest second-day event, far behind the watermark
    e.filter(F.col("ts") == F.lit(straggler)).limit(1).write.mode(
        "append"
    ).parquet(src)
    q.processAllAvailable()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in (q.recentProgress or [])
        for so in p["stateOperators"]
    )
    q.stop()
    return spark.table("cat_stream_wmlate").select(
        F.col("w_start").alias("window_start"),
        "n_events",
        F.lit(dropped == 1).alias("straggler_dropped"),
    )


@register(
    "pivot_multi_agg",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
             AS click_n,
           CAST(round(sum(CAST(value AS DECIMAL(12,2)))
                 FILTER (WHERE event_type = 'click'), 2) AS DOUBLE) AS click_v,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
             AS purchase_n,
           CAST(round(sum(CAST(value AS DECIMAL(12,2)))
                 FILTER (WHERE event_type = 'purchase'), 2) AS DOUBLE)
             AS purchase_v
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id
    """,
    tags=("pivot", "aggregation"),
)
def pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivoted value (count + decimal
    sum per event type): Spark suffixes each agg alias per pivot column,
    compiled into one conditional-aggregation pass — exactly the
    FILTER-clause form the oracle writes by hand. Explicit values list
    keeps the plan static (no dictionary-discovery job at scale)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    p = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(dec2(F.col("value"))), 2).cast("double").alias("v"),
        )
    )
    return p.select(
        "user_id",
        F.coalesce(F.col("click_n"), F.lit(0)).cast("long").alias("click_n"),
        F.col("click_v"),
        F.coalesce(F.col("purchase_n"), F.lit(0)).cast("long").alias("purchase_n"),
        F.col("purchase_v"),
    )


@register(
    "generator_null_semantics",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  WHEN doc_id % 10 = 1 THEN []
                  ELSE string_split(substr(text, 1, 30), ' ') END AS arr
      FROM documents WHERE text IS NOT NULL
    ),
    inner_rows AS (
      SELECT doc_id, unnest(arr) AS tok FROM d
    ),
    outer_rows AS (
      SELECT d.doc_id,
             CASE WHEN len(d.arr) IS NULL OR len(d.arr) = 0 THEN NULL
                  ELSE u.tok END AS tok
      FROM d LEFT JOIN inner_rows u USING (doc_id)
      WHERE u.doc_id IS NOT NULL OR len(d.arr) IS NULL OR len(d.arr) = 0
    )
    SELECT 'inner' AS mode, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM inner_rows
    UNION ALL
    SELECT 'outer', CAST(count(*) AS BIGINT), CAST(count(tok) AS BIGINT),
           CAST(count(DISTINCT doc_id) AS BIGINT)
    FROM outer_rows
    """,
    tags=("generator", "null-semantics"),
)
def generator_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode vs explode_outer on a column that is NULL for some rows
    and [] for others: plain explode DROPS both (inner-join semantics —
    silent row loss in pipelines), explode_outer keeps one null-token
    row per dropped document. The oracle rebuilds both semantics from
    unnest + left join. Summarized as per-mode row/token/doc counts."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 == 0, F.lit(None))
            .when(F.col("doc_id") % 10 == 1, F.array().cast("array<string>"))
            .otherwise(F.split(F.substring("text", 1, 30), " "))
            .alias("arr"),
        )
    )
    inner = d.select("doc_id", F.explode("arr").alias("tok"))
    outer = d.select("doc_id", F.explode_outer("arr").alias("tok"))

    def summarize(df, mode):
        return df.agg(
            F.lit(mode).alias("mode"),
            F.count("*").alias("n_rows"),
            F.count("tok").alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        ).select("mode", "n_rows", "n_tokens", "n_docs")

    return summarize(inner, "inner").unionAll(summarize(outer, "outer"))


@register(
    "histogram_fixed_buckets",
    oracle="""
    WITH b AS (
      SELECT least(CAST(floor(o_totalprice / 25000.0) AS BIGINT), 9) AS bucket
      FROM orders WHERE o_totalprice >= 0
    )
    SELECT bucket,
           CAST(bucket * 25000.0 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 25000.0 AS DOUBLE) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
    tags=("analytics", "histogram"),
)
def histogram_fixed_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as pure arithmetic (floor-divide + clamp) —
    one map-side-combinable aggregate over the scan; both engines
    evaluate the identical float expression so boundaries can't drift.
    The last bucket absorbs the tail (least(…, 9)), the standard
    open-topped histogram."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 0)
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 25000.0).cast("long"), F.lit(9).cast("long")
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 25000.0).alias("lo"),
            ((F.col("bucket") + 1) * 25000.0).alias("hi"),
            "n",
        )
    )


@register(
    "graph_bipartite_projection",
    oracle="""
    WITH ue AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    deg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
      FROM ue GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_common,
           round(CAST(p.n_common AS DOUBLE)
                 / (da.n_users + db.n_users - p.n_common), 6) AS jaccard
    FROM pairs p
    JOIN deg da ON da.event_type = p.type_a
    JOIN deg db ON db.event_type = p.type_b
    """,
    tags=("graph", "join"),
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-graph projection: project the user<->event_type bipartite
    graph onto event types, weighting each type pair by co-occurring
    users and normalizing to Jaccard over the types' user sets — the
    standard item-item co-occurrence/similarity building block.

    Shape for scale: the per-user self-join fans out k^2/2 pairs for a
    user with k distinct types, and k is bounded by the (small) type
    domain, so the join is linear in users. One shuffle on user_id for
    the pair fan-out, one agg shuffle on the pair key; the per-type
    degree table is dimension-sized and broadcast, so the big pair frame
    never reshuffles for the normalization. For unbounded item domains
    (e.g. SKUs) the standard guard is a per-user degree cap before the
    self-join — the domain here makes it unnecessary."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ue = e.select("user_id", "event_type").distinct()
    deg = ue.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = ue.select("user_id", F.col("event_type").alias("type_a"))
    b = ue.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    da = deg.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("na"))
    db = deg.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("nb"))
    return (
        pairs.join(F.broadcast(da), "type_a")
        .join(F.broadcast(db), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "mad_robust_stats",
    oracle="""
    WITH cents AS (
      SELECT o_orderstatus AS s,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    med AS (SELECT s, median(c) AS m FROM cents GROUP BY s)
    SELECT c.s AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(min(m.m) / 100.0, 4) AS median_price,
           round(median(abs(c.c - m.m)) / 100.0, 4) AS mad_price
    FROM cents c JOIN med m ON c.s = m.s
    GROUP BY c.s
    """,
    tags=("analytics", "robust", "agg"),
)
def mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    statistic (outlier-insensitive, unlike stddev): a two-phase nested
    median, i.e. median(|x - median(x)|).

    Exactness scheme: prices become integer cents through DECIMAL (both
    engines produce the identical integer), so the interpolated medians
    are exact half-integer doubles no matter how each engine phrases
    (a+b)/2 — no float-accumulation or rounding-boundary hazard anywhere.

    Scale shape: two shuffles on the group key (one per median — exact
    medians need a per-group sort or quantile pass by nature) plus a
    broadcast of the group-median dimension back onto the fact rows; for
    100 TB relaxations, approx_percentile gives a one-pass mergeable
    sketch at bounded error (see percentiles_approx)."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderstatus").alias("s"),
        (dec2(F.col("o_totalprice")) * 100).cast("long").alias("c"),
    )
    med = cents.groupBy("s").agg(F.median("c").alias("m"))
    return (
        cents.join(F.broadcast(med), "s")
        .groupBy("s")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("m") / 100.0, 4).alias("median_price"),
            F.round(F.median(F.abs(F.col("c") - F.col("m"))) / 100.0, 4).alias(
                "mad_price"
            ),
        )
        .select(F.col("s").alias("o_orderstatus"), "n", "median_price", "mad_price")
    )


@register(
    "sliding_distinct_users",
    oracle="""
    SELECT w_start, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM (
      SELECT user_id,
             unnest(list_transform(range(0, 4),
                    i -> time_bucket(INTERVAL 15 MINUTE, ts)
                         - i * INTERVAL 15 MINUTE)) AS w_start
      FROM events WHERE user_id IS NOT NULL
    )
    GROUP BY w_start
    """,
    tags=("time-window", "distinct", "agg"),
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per sliding window (1 h window, 15 min slide) — the
    live-audience metric. DISTINCT inside overlapping windows is the
    expensive version of sliding counts: each event fans into
    window/slide = 4 membership rows and the per-window distinct forces
    a (window, user) dedup shuffle before the count. Spark's exact
    count_distinct rewrites to exactly that two-phase expand+dedup plan;
    at 100 TB swap in approx_count_distinct (HLL, mergeable, no second
    shuffle) once ±2% error is acceptable — see agg_approx_distinct for
    the error-bound harness."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("w_start"), "n_users")
    )


@register(
    "markov_transition_matrix",
    oracle="""
    WITH steps AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             event_type AS dst
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    edges AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n
      FROM steps WHERE src IS NOT NULL GROUP BY src, dst
    ),
    deg AS (SELECT src, CAST(sum(n) AS BIGINT) AS out_n FROM edges GROUP BY src)
    SELECT e.src, e.dst, e.n,
           round(CAST(e.n AS DOUBLE) / d.out_n, 9) AS p
    FROM edges e JOIN deg d ON d.src = e.src
    """,
    tags=("graph", "ml", "agg"),
)
def markov_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event timelines
    (the same consecutive-step edges pagerank_event_transitions walks,
    here as the estimated transition probabilities): row-normalized
    counts P(dst | src) = n(src,dst) / n(src,*).

    Exactness: counts are integers; each probability is ONE double
    division (no float accumulation), so the driver hash is stable.
    Scale: lag() shuffles once on user_id; the edge aggregation is
    map-side combinable to a |types|^2 frame; normalization joins the
    |types|-row degree dim broadcast — the fact table never reshuffles."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst")
    ).filter(F.col("src").isNotNull())
    edges = steps.groupBy("src", "dst").agg(F.count("*").alias("n"))
    deg = edges.groupBy("src").agg(F.sum("n").alias("out_n"))
    return edges.join(F.broadcast(deg), "src").select(
        "src",
        "dst",
        "n",
        F.round(F.col("n").cast("double") / F.col("out_n"), 9).alias("p"),
    )


@register(
    "chi2_contingency_assoc",
    oracle="""
    WITH obs AS (
      SELECT event_type AS a,
             CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS b,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    ra AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM obs GROUP BY a),
    rb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM obs GROUP BY b),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
    cells AS (
      SELECT o.a, o.b, o.n,
             CAST(ra.na AS DOUBLE) * rb.nb / tot.nt AS expected
      FROM obs o
      JOIN ra ON ra.a = o.a
      JOIN rb ON rb.b = o.b
      CROSS JOIN tot
    )
    SELECT a AS event_type, b AS value_band, n,
           round(expected, 6) AS expected,
           round((n - expected) * (n - expected) / expected, 6) AS chi2_term
    FROM cells
    """,
    tags=("analytics", "stats", "agg"),
)
def chi2_contingency_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency cells for event_type x value-band — the
    feature/label association screen (sum of chi2_term over cells is the
    X² statistic; large terms flag the associated cells).

    All inputs to each cell are exact integer marginals (one
    map-side-combinable group-by; the |types|- and 2-row marginal dims
    broadcast back), and each output is a fixed double expression of
    those integers — no float accumulation, stable hash. At 100 TB the
    contingency table itself is types x bands cells regardless of row
    count; only the first group-by touches the fact table."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    obs = (
        e.select(
            F.col("event_type").alias("a"),
            F.when(F.col("value") >= 50, "high").otherwise("low").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
    )
    ra = obs.groupBy("a").agg(F.sum("n").alias("na"))
    rb = obs.groupBy("b").agg(F.sum("n").alias("nb"))
    tot = obs.agg(F.sum("n").alias("nt"))
    expected = F.col("na").cast("double") * F.col("nb") / F.col("nt")
    return (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("a").alias("event_type"),
            F.col("b").alias("value_band"),
            "n",
            F.round(expected, 6).alias("expected"),
            F.round(
                (F.col("n") - expected) * (F.col("n") - expected) / expected, 6
            ).alias("chi2_term"),
        )
    )


@register(
    "percentiles_disc",
    oracle="""
    WITH cents AS (
      SELECT o_orderstatus AS s,
             CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
      FROM orders
    )
    SELECT s AS o_orderstatus,
           CAST(quantile_disc(c, 0.5) AS BIGINT) AS p50_cents,
           CAST(quantile_disc(c, 0.9) AS BIGINT) AS p90_cents,
           CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_cents
    FROM cents GROUP BY s
    """,
    tags=("agg", "percentile"),
)
def percentiles_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles — the ACTUAL-ELEMENT quantile (smallest value
    whose cumulative distribution reaches q; Spark `percentile_disc` and
    DuckDB `quantile_disc` share the definition, verified here on exact
    integer cents so no interpolation arithmetic exists to drift).
    Complements percentiles_exact (interpolated) and percentiles_approx
    (t-digest sketch): disc is what you want when the answer must be a
    value that occurred (a real latency, a real price)."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderstatus").alias("s"),
        (dec2(F.col("o_totalprice")) * 100).cast("long").alias("c"),
    )
    cents.createOrReplaceTempView("_cents_disc")
    return spark.sql(
        """
        SELECT s AS o_orderstatus,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS BIGINT)
                 AS p50_cents,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY c) AS BIGINT)
                 AS p90_cents,
               CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY c) AS BIGINT)
                 AS p99_cents
        FROM _cents_disc GROUP BY s
        """
    )


@register(
    "running_distinct_types",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS is_first
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    )
    SELECT user_id, ts, event_id,
           CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_distinct_types_so_far
    FROM flagged
    """,
    tags=("window", "distinct"),
)
def running_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) — not expressible as a native window
    aggregate (no engine supports DISTINCT in a running frame) — via the
    first-occurrence-flag decomposition: rank within (user, type) marks
    each type's first sighting, then a plain running SUM of the flags
    counts distinct types seen so far.

    Shuffle discipline: left alone, Catalyst inserts hash(user, type)
    for the rank and a SECOND hash(user) exchange for the running sum.
    An explicit user_id repartition satisfies BOTH windows' clustering
    requirements (hash(user) ⊆ both key sets), so the whole pipeline
    runs in ONE exchange — plan-asserted. Exact integers throughout."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .repartition(
            spark.sparkContext.defaultParallelism, "user_id"
        )
    )
    w_first = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        (F.row_number().over(w_first) == 1).cast("int").alias("is_first"),
    )
    return flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("is_first").over(w_run).alias("n_distinct_types_so_far"),
    )


@register(
    "grouped_agg_pandas_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                          * CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100.0,
                 6) AS wavg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "pandas-udf"),
)
def grouped_agg_pandas_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per returnflag via a GROUPED_AGG
    pandas UDF — the series-to-scalar eval type that plugs a vectorized
    numpy reduction straight into groupBy().agg() (and into window
    frames), completing the repo's UDF taxonomy next to scalar
    pandas_udf, applyInPandas, mapInPandas/mapInArrow, cogroup, and UDTF.

    Determinism inside the UDF: prices quantize to exact integer cents
    and the weighted dot is an int64 numpy sum — no float accumulation,
    so partition/batch order can't move the hash (same contract as the
    JVM-side decimal scheme in catalog/_util.py). GROUPED_AGG ships each
    group's full series to one worker: fine for bounded groups; for
    unbounded keys prefer the map-side-combinable decimal aggregates the
    TPC-H queries use."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _wavg_fn(price, qty):
        import numpy as np

        cents = np.round(price.to_numpy(dtype=np.float64) * 100).astype(np.int64)
        q = qty.to_numpy(dtype=np.int64)
        return float(np.round((cents * q).sum() / q.sum() / 100.0, 6))

    def _count_fn(price):
        return len(price)

    wavg = pandas_udf(_wavg_fn, "double", PandasUDFType.GROUPED_AGG)
    # grouped-agg UDFs can't mix with JVM aggregates in one agg() —
    # count rides as a second pandas aggregate
    pcount = pandas_udf(_count_fn, "long", PandasUDFType.GROUPED_AGG)

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        F.col("l_quantity").cast("long").alias("l_qty"),
    )
    return l.groupBy("l_returnflag").agg(
        pcount(F.col("l_extendedprice")).alias("n"),
        wavg(F.col("l_extendedprice"), F.col("l_qty")).alias("wavg_price"),
    )


@register(
    "sql_lateral_topk",
    oracle="""
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r,
    LATERAL (
      SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_customers
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY n_customers DESC, n_name
      LIMIT 2
    ) t
    """,
    tags=("sql", "join", "lateral"),
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-native
    top-N-per-group formulation (both engines run the identical text).
    Catalyst decorrelates the lateral into a join + per-group rank
    rather than re-executing the subquery per outer row — the same
    physical shape as the window-function form (window_rank_per_group),
    reached from the other SQL surface. Deterministic via the
    (count desc, name) total order."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_customers
        FROM region r,
        LATERAL (
          SELECT n.n_name, count(c.c_custkey) AS n_customers
          FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_customers DESC, n_name
          LIMIT 2
        ) t
        """
    )


@register(
    "pagerank_invariants",
    oracle="""
    WITH steps AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS src,
             event_type AS dst
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    edges AS (SELECT src, dst FROM steps WHERE src IS NOT NULL),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    )
    SELECT node, TRUE AS rank_ok FROM nodes
    UNION ALL
    SELECT 'ALL', TRUE
    """,
    tags=("graph", "iterative", "eval"),
)
def pagerank_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed invariants for the iterative PageRank operator —
    the checkable face of a fixpoint no single SQL query can express:
    - the rank vector's SUPPORT is exactly the transition graph's node
      set (the oracle re-derives that set with the same lag construction
      in SQL);
    - every rank is positive (damping guarantees >= 1-d in the
      sum-to-N convention this operator uses);
    - total mass sums to N (one unit per node — the classic PageRank
      normalization) within 1e-6*N (the 'ALL' row) — the conserved
      quantity a broken dangling-node or normalization step destroys.
    The per-rank VALUES stay rows-only (pagerank_event_transitions),
    numerically verified against a reference implementation in
    tests/test_graph.py."""
    from ..operators.graph import pagerank

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        F.lag("event_type").over(w).alias("src"), F.col("event_type").alias("dst")
    ).filter(F.col("src").isNotNull())
    edges = steps.groupBy("src", "dst").agg(F.count("*").cast("double").alias("w"))
    ranks = pagerank(edges, iterations=10, weight="w")
    per_node = ranks.select("node", (F.col("rank") > 0).alias("rank_ok"))
    mass = ranks.agg(
        F.lit("ALL").alias("node"),
        (F.abs(F.sum("rank") - F.count("*")) <= F.lit(1e-6) * F.count("*")).alias(
            "rank_ok"
        ),
    )
    return per_node.unionByName(mass)


@register(
    "anomaly_rolling_zscore",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id, CAST(value AS DECIMAL(12,2)) AS dv, value
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    roll AS (
      SELECT user_id, event_id, value,
             count(dv) OVER w AS n,
             sum(dv)   OVER w AS s,
             sum(dv*dv) OVER w AS s2
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
      SELECT user_id, event_id, value,
             CAST(s AS DOUBLE) / n AS mean,
             (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
               / (n - 1) AS var
      FROM roll WHERE n >= 10
    )
    SELECT user_id, event_id, value,
           round((value - mean) / sqrt(var), 4) AS zscore
    FROM scored
    WHERE var > 1e-12 AND abs((value - mean) / sqrt(var)) > 3.0
    """,
    tags=("window", "anomaly", "analytics"),
)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: each event's `value` is scored
    against the mean/stddev of that user's 20 PRECEDING events (frame
    excludes the current row — the score is out-of-sample), and events
    with |z| > 3 are flagged. The streaming-monitoring shape (per-entity
    online outlier detection) expressed as one batch window.

    Determinism across engines: rolling mean/variance are derived from
    exact-decimal rolling sums (sum(v), sum(v*v) over the frame —
    `value` is a clean 2-decimal column), so the frame aggregation is
    exact and associative in both engines; DuckDB's segment-tree frame
    evaluation and Spark's per-frame re-scan then produce bit-identical
    doubles for mean/var, and z rounds identically at 4dp. A
    double-typed rolling sum would NOT survive this comparison
    (accumulation-order drift near the |z|=3 boundary).

    Scale shape: one shuffle (hash by user_id), then a linear sliding
    frame per partition — no self-join, no driver state; at 100 TB the
    cost is the one exchange every per-entity window query pays. Skewed
    users are bounded by the 20-row frame (state is O(1) per row)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    dv = dec2(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(-20, -1)
    )
    roll = e.select(
        "user_id",
        "event_id",
        "value",
        F.count(dv).over(w).alias("n"),
        F.sum(dv).over(w).alias("s"),
        F.sum(dv * dv).over(w).alias("s2"),
    ).filter(F.col("n") >= 10)
    mean = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    scored = roll.select(
        "user_id", "event_id", "value", mean.alias("mean"), var.alias("var")
    )
    z = (F.col("value") - F.col("mean")) / F.sqrt(F.col("var"))
    return scored.filter(
        (F.col("var") > 1e-12) & (F.abs(z) > 3.0)
    ).select(
        "user_id", "event_id", "value", F.round(z, 4).alias("zscore")
    )


@register(
    "cdc_apply_changes",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS key, 1 AS version, 'U' AS op,
             CAST(round(CAST(o_totalprice AS DECIMAL(12,2))
                        * CAST(0.9 AS DECIMAL(4,2)), 2) AS DOUBLE) AS new_price,
             NULL AS new_status
      FROM orders WHERE o_orderkey % 100 IN (1, 2)
      UNION ALL
      SELECT o_orderkey, 2, 'U',
             CAST(round(CAST(o_totalprice AS DECIMAL(12,2))
                        * CAST(0.8 AS DECIMAL(4,2)), 2) AS DOUBLE),
             NULL
      FROM orders WHERE o_orderkey % 100 IN (1, 2)
      UNION ALL
      SELECT o_orderkey, 1, 'D', NULL, NULL
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey + 1000000000, 1, 'I',
             CAST(o_totalprice AS DOUBLE), o_orderstatus
      FROM orders WHERE o_orderkey % 100 = 3
    ),
    winners AS (
      SELECT key, op, new_price, new_status
      FROM (SELECT *, row_number() OVER (PARTITION BY key
                                         ORDER BY version DESC) AS rk
            FROM log)
      WHERE rk = 1
    ),
    applied AS (
      SELECT o.o_orderstatus,
             CASE WHEN w.op = 'U' THEN w.new_price
                  ELSE CAST(o.o_totalprice AS DOUBLE) END AS price
      FROM orders o LEFT JOIN winners w ON o.o_orderkey = w.key
      WHERE w.key IS NULL OR w.op <> 'D'
      UNION ALL
      SELECT new_status, new_price FROM winners WHERE op = 'I'
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(price AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM applied GROUP BY o_orderstatus
    """,
    tags=("cdc", "merge", "analytics"),
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: fold an insert/update/delete change log into a
    snapshot with last-writer-wins semantics (highest version per key),
    then report per-status row counts and exact-decimal totals. The log
    here is synthesized deterministically from the snapshot (two
    conflicting updates per mod-1/2 key — exercising the
    version-ordered dedup — deletes for mod-0 keys, and inserts of NEW
    keys derived from mod-3 rows) so the oracle can rebuild the
    identical log in SQL.

    Scale shape: winners = one window over the CHANGE LOG (log-sized,
    not snapshot-sized); apply = one keyed left join + filter against
    the snapshot, plus a union of the insert winners — the standard
    streaming-merge batch form. No snapshot re-sort, no second scan."""
    o = load_table(spark, sf_dir, "orders")
    price = dec2(F.col("o_totalprice"))
    upd_keys = o.filter((F.col("o_orderkey") % 100).isin(1, 2))
    null_status = F.lit(None).cast("string").alias("new_status")
    log = (
        upd_keys.select(
            F.col("o_orderkey").alias("key"),
            F.lit(1).alias("version"),
            F.lit("U").alias("op"),
            F.round(price * dec2(F.lit(0.9), 4), 2).cast("double").alias("new_price"),
            null_status,
        )
        .unionByName(
            upd_keys.select(
                F.col("o_orderkey").alias("key"),
                F.lit(2).alias("version"),
                F.lit("U").alias("op"),
                F.round(price * dec2(F.lit(0.8), 4), 2)
                .cast("double")
                .alias("new_price"),
                null_status,
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 100 == 0).select(
                F.col("o_orderkey").alias("key"),
                F.lit(1).alias("version"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("new_price"),
                null_status,
            )
        )
        .unionByName(
            # inserts: NEW keys (offset past any snapshot key), carrying
            # the full row payload the apply must surface
            o.filter(F.col("o_orderkey") % 100 == 3).select(
                (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("key"),
                F.lit(1).alias("version"),
                F.lit("I").alias("op"),
                F.col("o_totalprice").cast("double").alias("new_price"),
                F.col("o_orderstatus").alias("new_status"),
            )
        )
    )
    w = Window.partitionBy("key").orderBy(F.desc("version"))
    winners = (
        log.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("key", "op", "new_price", "new_status")
    )
    applied = (
        o.join(winners, o["o_orderkey"] == winners["key"], "left")
        .filter(F.col("key").isNull() | (F.col("op") != "D"))
        .select(
            "o_orderstatus",
            F.when(F.col("op") == "U", F.col("new_price"))
            .otherwise(F.col("o_totalprice").cast("double"))
            .alias("price"),
        )
        .unionByName(
            winners.filter(F.col("op") == "I").select(
                F.col("new_status").alias("o_orderstatus"),
                F.col("new_price").alias("price"),
            )
        )
    )
    return applied.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"),
        money_sum(dec2(F.col("price"))).alias("total_price"),
    )


@register(
    "stream_dedup_counts",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup inside the correctness gate: the events table is
    written out DUPLICATED (each event twice — an at-least-once source),
    re-read as a bounded file stream, deduplicated on event_id with
    dropDuplicatesWithinWatermark (bounded state — keys evicted behind
    the watermark), then aggregated per type. The drained counts must
    equal the batch COUNT(DISTINCT event_id) — which equals the
    ORIGINAL per-type counts, so a dedup that silently passed
    duplicates through would show 2x counts and hash-fail, and one that
    dropped too much would undercount. The 10-year watermark keeps all
    dedup state live to the end of the bounded drain."""
    from .. import streaming

    batch = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    stream = file_stream(spark, batch.unionByName(batch), "dedup", sf_dir)
    dd = streaming.dedup_events(stream, ["event_id"], watermark="87600 hours")
    counts = dd.groupBy("event_type").agg(F.count("*").alias("n_events"))
    drained = streaming.run_stream_to_memory(
        counts, "cat_stream_dedup", "complete"
    )
    return drained.select("event_type", "n_events")


@register(
    "stream_stateful_topk_types",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM ev GROUP BY user_id, event_type
    ),
    t AS (
      SELECT user_id, count(*) AS total_seen FROM ev GROUP BY user_id
    ),
    r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (
               PARTITION BY user_id ORDER BY n DESC, event_type ASC
             ) AS rk
      FROM c
    )
    SELECT r.user_id,
           r.event_type,
           CAST(r.n AS BIGINT) AS n,
           CAST(r.rk AS INTEGER) AS rk,
           CAST(t.total_seen AS BIGINT) AS total_seen
    FROM r JOIN t ON r.user_id = t.user_id
    WHERE r.rk <= 3
    """,
    tags=("streaming", "stateful", "topk"),
)
def stream_stateful_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator inside the correctness gate:
    per-user top-3 event types via applyInPandasWithState
    (streaming.user_top_types_stream_v1 — arbitrary per-key state the
    built-in windowed aggregations cannot express: a category->count
    map folded across micro-batches, re-ranked per batch). The events
    table replays as a bounded file stream in SINGLE-FILE micro-batches
    (4-file source, maxFilesPerTrigger=1), so per-key state genuinely
    survives and accumulates across >= 4 batches; each batch emits the
    key's refreshed top-k snapshot in update mode, and the gate keeps
    each key's LATEST snapshot (max total_seen — strictly increasing on
    every appearance) — which must hash-match the oracle's batch
    top-3-per-user over the raw table (count desc, type asc tiebreak on
    both sides). Stale state (a batch's counts dropped), double-applied
    batches (counts doubled), or a tiebreak drift all change n/rk and
    hash-fail. This registers the v2-equivalent semantics through the
    dependency-free v1 state API; the v2 transformWithStateInPandas
    form of the same operator (typed MapState + eviction cap) is
    unit-tested in tests/test_streaming.py.

    Scale posture: state is O(keys x categories) map entries sharded by
    the stream's key hash — the same layout the state store keeps at
    1000 executors; snapshots are emitted only for keys PRESENT in a
    batch (update mode), so per-batch output is batch-bounded, not
    keyspace-bounded. Arrow-batched Python (the state fn sees pandas
    frames); value_counts folds each batch vectorized."""
    from .. import streaming

    batch = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    stream = file_stream(spark, batch, "topk", sf_dir, max_files_per_trigger=1)
    snaps = streaming.user_top_types_stream_v1(stream, k=3)
    drained = streaming.run_stream_to_memory(
        snaps, "cat_stream_topk", "update"
    )
    latest = Window.partitionBy("user_id")
    return (
        drained.withColumn("_max_seen", F.max("total_seen").over(latest))
        .filter(F.col("total_seen") == F.col("_max_seen"))
        .select("user_id", "event_type", "n", "rk", "total_seen")
    )


@register(
    "stream_incremental_agg_view",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
           CAST(round(min(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS vmin,
           CAST(round(max(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS vmax
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "incremental", "materialized-view"),
)
def stream_incremental_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming materialized view inside the correctness gate: the
    events table replays as a bounded file stream in SINGLE-FILE
    micro-batches (maxFilesPerTrigger=1 over a 4-file source, so the
    per-batch protocol genuinely crosses ≥4 batches), each batch writes
    its MERGEABLE partial aggregate into its own `_batch_id` partition
    via foreachBatch with dynamic partition overwrite and commits it to
    the state table's manifest (streaming.run_stream_incremental_agg —
    idempotent write + atomic publish), and the read path folds the
    committed partials (read_incremental_state). The folded view must
    hash-match the oracle's direct batch aggregate over the raw table: a
    dropped or double-applied batch partition, or a partial/merge
    algebra bug, changes n_rows/total and fails.

    Exactness across the batch boundary is engineered: the value column
    is staged as DECIMAL(12,2) BEFORE the per-batch partial sum, so the
    partial sums and their fold are exact regardless of how rows split
    into micro-batches (double sums would drift with accumulation
    order). History is never re-read: each refresh shuffles |keys| rows
    per batch — the same contract incremental_agg_merge gates in
    batch."""
    from .. import streaming

    batch = load_table(spark, sf_dir, "events").select(
        "event_type", dec2(F.col("value")).alias("v")
    )
    stream = file_stream(spark, batch, "incrview", sf_dir, max_files_per_trigger=1)
    state, ckpt = fresh_dirs(sf_dir, "incrview_state", "incrview_ckpt")
    streaming.run_stream_incremental_agg(stream, ["event_type"], "v", state, ckpt)
    view = streaming.read_incremental_state(spark, state)
    return view.select(
        "event_type",
        "n_rows",
        F.round("total", 2).cast("double").alias("total"),
        F.round("vmin", 2).cast("double").alias("vmin"),
        F.round("vmax", 2).cast("double").alias("vmax"),
    )


@register(
    "mv_time_travel_read",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
           CAST(round(min(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS vmin,
           CAST(round(max(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS vmax
    FROM events
    WHERE event_id % 4 <= 1
    GROUP BY event_type
    """,
    tags=("incremental", "materialized-view", "time-travel", "scale"),
)
def mv_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TRAVEL over the incremental materialized view: four ingest
    batches (event_id % 4 — SQL-derivable batch membership, the daily-
    partition-lands shape) each write their mergeable partial into
    their own immutable `_batch_id` partition and commit it, so
    manifest versions 0–3 are batches 0–3 (the same protocol the
    streaming MV gates exercise). The gate then reads the view AS OF
    VERSION 1 — folding only batches 0–1 via
    streaming.read_incremental_state(version=1) — AFTER all four
    batches have landed. The result must hash-match the oracle's direct
    aggregate over only the first two batches' rows: a reader that
    ignores the version pin folds batches 2–3 and inflates every
    n_rows/total; a writer that let a later batch clobber an earlier
    partition breaks min/max: dataset REPRODUCIBILITY until vacuum
    retires the version.

    Exactness across the version boundary: the value column is staged
    DECIMAL(12,2) before the per-batch partial sum (split-invariant
    fold, same as stream_incremental_agg_view). Scale posture: the
    version read plans its scan from the manifest, so it touches only
    that version's partitions (asserted in tests/test_plans.py) — a
    version read costs O(partials up to v), never O(all history), and
    each backfill batch shuffles only its own |keys| partial rows."""
    from .. import streaming
    from ..operators import incremental
    from ..streaming import manifest

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", dec2(F.col("value")).alias("v")
    )
    [state] = fresh_dirs(sf_dir, "ttravel_state")
    # Backfill: each batch lands its own immutable partition through
    # the SAME writer and commit the streaming MVs use.
    for bid in range(4):
        streaming.write_batch_partition(
            incremental.partial_agg(
                ev.filter(F.col("event_id") % 4 == bid).drop("event_id"),
                ["event_type"],
                "v",
            ),
            state,
            bid,
        )
        manifest.commit_batch(spark, state, bid)
    view = streaming.read_incremental_state(spark, state, version=1)
    return view.select(
        "event_type",
        "n_rows",
        F.round("total", 2).cast("double").alias("total"),
        F.round("vmin", 2).cast("double").alias("vmin"),
        F.round("vmax", 2).cast("double").alias("vmax"),
    )


@register(
    "stream_cdc_signed_agg_view",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total
    FROM events
    WHERE user_id % 5 <> 0 OR user_id IS NULL
    GROUP BY event_type
    """,
    tags=("streaming", "incremental", "retraction", "cdc"),
)
def stream_cdc_signed_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialized view with RETRACTIONS inside the
    correctness gate: the change feed is the events table's inserts
    PLUS a delete record for every event whose user_id % 5 == 0 (the
    Z-set form a CDC topic delivers), replayed as a bounded file
    stream in single-file micro-batches (maxFilesPerTrigger=1 over a
    4-file source) through streaming.run_stream_signed_agg — each
    batch writes its SIGNED partial into an idempotent `_batch_id`
    partition and commits it, and the read path folds the committed
    partials (read_signed_state). The folded view must hash-match the
    oracle's direct aggregate over the NET rows (deletes applied;
    null-user events never retracted). The repartition(4) shuffles
    inserts and their cancelling deletes into ARBITRARY different
    micro-batches, so the gate pins exactly what makes signed streaming
    state correct: the fold is split-invariant (a -1 landing two batches
    after its +1 nets out in the merge, not in the batch), values are
    DECIMAL-staged so partial sums are exact under any batch boundary,
    and a dropped or double-applied batch partition changes n_rows/total
    and fails.

    At 100 TB this is the streaming face of the delta-rule IVM family
    (incremental_join_view_retractions gates the batch face): CDC
    feeds are the norm, not append-only streams, and the signed state
    means retractions cost the same |keys|-row shuffle per batch as
    inserts — no compensating reprocessing, no history re-read."""
    from .. import streaming

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", dec2(F.col("value")).alias("v")
    )
    inserts = events.withColumn("_mult", F.lit(1))
    deletes = events.filter(F.col("user_id") % 5 == 0).withColumn(
        "_mult", F.lit(-1)
    )
    feed = inserts.unionByName(deletes).drop("user_id")
    stream = file_stream(spark, feed, "cdcview", sf_dir, max_files_per_trigger=1)
    state, ckpt = fresh_dirs(sf_dir, "cdcview_state", "cdcview_ckpt")
    streaming.run_stream_signed_agg(stream, ["event_type"], "v", state, ckpt)
    view = streaming.read_signed_state(spark, state)
    return view.select(
        "event_type",
        "n_rows",
        F.round("total", 2).cast("double").alias("total"),
    )


@register(
    "stream_cdc_minmax_view",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(value) AS vmin,
           max(value) AS vmax,
           CAST(count(DISTINCT value) AS BIGINT) AS n_distinct_vals
    FROM events
    WHERE value IS NULL OR value < 100
    GROUP BY event_type
    """,
    tags=("streaming", "incremental", "retraction", "scale"),
)
def stream_cdc_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialized view for the MULTISET aggregate tier:
    stream_cdc_signed_agg_view gates the scalar (count/sum) face of
    streaming retractions; this gate streams the SAME kind of Z-set
    feed — every event inserted, every event with value >= 100 also
    deleted, removing each type's entire top value band (maxima fall
    from ~300-560 down below 100) — through
    streaming.run_stream_multiset_agg: each micro-batch (single-file
    triggers over a repartition(4) source, so inserts and their
    cancelling deletes land in ARBITRARY different batches) writes its
    per-(type, value) net counts into an idempotent `_batch_id`
    partition and commits it, and read_multiset_state folds the
    committed partials. The maintained min/max/count must hash-match the
    oracle's recompute over the net rows: serving a stale pre-delete
    maximum (the scalar-state bug the multiset tier exists to fix),
    losing a batch partition, or folding a delete as an insert all
    diverge. Split-invariance is the load- bearing property — a -1
    arriving batches after its +1 nets out in the read-side merge, not
    inside any single batch.

    One state, two read faces checked here: the SAME folded multiset
    (streaming.read_multiset_state, one stream run, one state table)
    serves both finalize_minmax AND finalize_distinct — the gate emits
    min/max/count and the exact distinct-value count side by side, and
    the oracle recomputes both from the net rows, pinning that a
    single maintained multiset really does serve the whole
    non-invertible aggregate family in streaming (top-n is the same
    frame through finalize_topn, property-tested in
    tests/test_ops_extra.py).

    At 100 TB: per-batch state written is |distinct (key, value) in
    the batch| rows and the fold shuffles state rows only (the
    batch-face siblings: incremental_minmax/distinct/topn_view_
    retractions)."""
    from .. import streaming

    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    inserts = events.withColumn("_mult", F.lit(1))
    deletes = events.filter(F.col("value") >= 100).withColumn(
        "_mult", F.lit(-1)
    )
    feed = inserts.unionByName(deletes)
    stream = file_stream(spark, feed, "cdcminmax", sf_dir, max_files_per_trigger=1)
    state, ckpt = fresh_dirs(sf_dir, "cdcminmax_state", "cdcminmax_ckpt")
    streaming.run_stream_multiset_agg(
        stream, ["event_type"], "value", state, ckpt
    )
    from ..operators import incremental

    # localCheckpoint: ONE parquet scan + merge shuffle of the state,
    # shared by both read faces (uncached, each finalize would re-read
    # and re-fold the whole table — advisor-grade waste on every run)
    folded = streaming.read_multiset_state(spark, state).localCheckpoint()
    minmax = incremental.finalize_minmax(folded, "value")
    distinct = incremental.finalize_distinct(folded, "value").select(
        "event_type", F.col("n_distinct").alias("n_distinct_vals")
    )
    return minmax.join(distinct, "event_type").select(
        "event_type",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("vmin").alias("vmin"),
        F.col("vmax").alias("vmax"),
        F.col("n_distinct_vals").cast("bigint").alias("n_distinct_vals"),
    )


@register(
    "mv_state_compaction",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS partitions_pruned
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("incremental", "compaction", "scale"),
)
def mv_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-table compaction closing the incremental-MV lifecycle
    (write → read → time-travel → COMPACT): four backfill batches
    (orders split by o_orderkey % 4) land as committed per-batch
    partial-state partitions, then manifest.compact_snapshot merges
    partitions 0..2 into one base stored at the RESERVED id
    `_batch_id=-3` (streaming.compact_base_id(2) — negative, outside
    the id space micro-batches write, so a post-compaction batch replay
    can never overwrite the merged history) and swaps it in with one
    manifest commit; vacuum(keep_versions=1) then deletes the three
    subsumed directories. The read path is UNCHANGED —
    read_incremental_state folds (base ⊕ batch 3) by the same
    associative merge — and must still hash-match the oracle's direct
    aggregate over all of orders; the `partitions_pruned` flag
    additionally pins the physical outcome (exactly 3 directories
    removed by vacuum, exactly {-3, 3} remaining on disk), so a
    compaction that silently dropped or double-counted a batch fails
    twice over. The trade: versions before the compaction are readable
    until vacuum retires them, and a read of a retired version raises
    (mv_time_travel_read gates the pre-compaction capability) — the
    same retention boundary a transactional format's VACUUM draws.

    At 100 TB: a per-micro-batch state table accumulates files without
    bound; compaction caps read fan-in at O(1 base + recent batches)
    while itself shuffling only |keys| partial rows, never raw
    history."""
    from .. import streaming
    from ..operators import incremental
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [state] = fresh_dirs(sf_dir, "compactstate")
    for b in range(4):
        batch = o.filter(F.col("o_orderkey") % 4 == b).drop("o_orderkey")
        streaming.write_batch_partition(
            incremental.partial_agg(batch, ["o_orderpriority"], "v"), state, b
        )
        manifest.commit_batch(spark, state, b)
    manifest.compact_snapshot(spark, state, upto_batch=2)
    removed, _ = manifest.vacuum(spark, state, keep_versions=1)
    remaining = streaming.list_batch_partitions(spark, state)
    ok = removed == 3 and remaining == [streaming.compact_base_id(2), 3]

    view = streaming.read_incremental_state(spark, state)
    return view.select(
        "o_orderpriority",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round("total", 2).cast("double").alias("total_price"),
        F.lit(ok).alias("partitions_pruned"),
    )


@register(
    "stream_static_enrich_counts",
    oracle="""
    WITH enriched AS (
      SELECT e.user_id,
             CASE WHEN e.user_id % 2 = 0 THEN
               CASE WHEN e.user_id % 4 = 0 THEN 'gold' ELSE 'basic' END
             END AS tier
      FROM events e
    )
    SELECT tier,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM enriched GROUP BY tier
    """,
    tags=("streaming", "join", "stream-static"),
)
def stream_static_enrich_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment inside the correctness gate: the events
    file stream left-joins a BATCH dimension (per-user tier, present
    only for even user ids — streaming.enrich_stream_static: the static
    side broadcast and re-planned per micro-batch, the stream side
    never shuffled), drains in append mode, and aggregates per tier.
    The oracle inlines the dimension's defining CASE, so the gate
    value-checks the join itself: a dropped unmatched event (inner
    instead of left), a duplicated match, or a stale static snapshot
    changes n_events per tier — including the NULL-tier group that
    holds the dimension-missing events — and hash-fails."""
    from .. import streaming

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    dim = (
        e.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 4 == 0, "gold").otherwise("basic"),
        )
    )
    stream = file_stream(spark, e, "enrich", sf_dir)
    enriched = streaming.enrich_stream_static(stream, dim, "user_id", ["tier"])
    drained = streaming.run_stream_to_memory(
        enriched, "cat_stream_enrich", "append"
    )
    return drained.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "table_checksum_orders",
    oracle="""
    WITH canon AS (
      SELECT o_orderstatus,
             concat_ws('|',
               CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR),
               o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
               CAST(o_orderdate AS VARCHAR),
               o_orderpriority) AS row_str
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5(row_str), 1, 8))::UBIGINT) AS BIGINT)
             AS checksum
    FROM canon GROUP BY o_orderstatus
    """,
    tags=("integrity", "checksum", "analytics"),
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum: each row canonicalizes to a
    '|'-joined string (ints verbatim, money through DECIMAL(12,2) so
    the text form is engine-stable, timestamps in ISO seconds), hashes
    to a 32-bit md5 prefix, and the per-group SUM of hashes is the
    fingerprint — commutative, so partitioning/order never changes it,
    and any single-row difference shifts the sum. The cross-system
    reconciliation primitive for migrations and replica audits: two
    engines that disagree on ANY cell disagree on the checksum, as this
    oracle demonstrates by reproducing it in DuckDB bit-for-bit.

    Scale shape: pure map + one combinable sum — the cheapest possible
    full-table audit (one scan, constant-size state per group). At 60k
    rows the 32-bit-hash sum stays far under 2^63 (overflow needs
    ~2^31 rows per group; use the 16-hex-char prefix and DECIMAL sums
    beyond that)."""
    o = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        dec2(F.col("o_totalprice")).cast("string"),
        F.col("o_orderdate").cast("string"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 8), 16, 10).cast("long")
    return (
        o.select("o_orderstatus", h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_rows"), F.sum("h").alias("checksum"))
    )


@register(
    "stream_stream_join_counts",
    oracle="""
    WITH e AS (SELECT user_id, event_id AS error_id, ts AS error_ts
               FROM events WHERE event_type = 'error'),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    pairs AS (
      SELECT e.user_id, e.error_id, c.click_id
      FROM e JOIN c ON e.user_id = c.user_id
       AND c.click_ts <= e.error_ts
       AND c.click_ts >= e.error_ts - INTERVAL 15 MINUTE
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT error_id) AS BIGINT) AS n_errors
    FROM pairs GROUP BY user_id
    """,
    tags=("streaming", "join", "watermark"),
)
def stream_stream_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join inside the correctness gate: errors
    and clicks are re-read as two bounded file streams, joined per user
    with the 15-minute time-range condition + watermarks (the pair that
    bounds join state — a click behind error-watermark minus gap can
    never match again and is evicted), drained in append mode, then the
    drained pairs aggregate per user. Must equal the batch interval
    join the oracle runs — Spark's unified model as an executable
    contract, same function body as the batch/test path
    (streaming.errors_with_recent_clicks)."""
    from .. import streaming

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    src = scratch_dir("ssj", sf_dir)
    ev.repartition(4).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def typed_stream(t: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == t)
        )

    pairs = streaming.errors_with_recent_clicks(
        typed_stream("error"), typed_stream("click"),
        gap="15 minutes", watermark="87600 hours",
    )
    drained = streaming.run_stream_to_memory(pairs, "cat_stream_ssj", "append")
    return drained.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.count_distinct("error_id").alias("n_errors"),
    )


@register(
    "rfm_customer_segments",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', CAST(max(o_orderdate) AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS monetary
      FROM orders WHERE o_custkey IS NOT NULL
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
             ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
             ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score,
             monetary
      FROM per_cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(monetary), 2) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY r_score, f_score, m_score
    """,
    tags=("analytics", "window", "segmentation"),
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation, the classic CRM rollup: per customer compute
    Recency (days since last order, against the corpus max date),
    Frequency (order count) and Monetary (exact-decimal spend), quartile
    each with ntile, and report segment sizes and spend. Every ntile
    rides a TOTAL order (metric + custkey tiebreak) — ntile over ties
    is otherwise engine-dependent and would hash-flip.

    Scale shape: one fact aggregation to customer grain, then three
    windows over the CUSTOMER table (dimension-sized). The global max
    date is a broadcast 1-row aggregate, not a driver round trip. The
    known ceiling: unpartitioned ntile globally sorts the customer
    frame — fine for a dimension; a 10^9-customer segmentation would
    switch to approx-percentile bucket boundaries (percentiles_approx
    pattern) instead of exact quartiles."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    max_date = o.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("corpus_max")
    )
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count("*").alias("frequency"),
            F.sum(dec2(F.col("o_totalprice"))).alias("monetary"),
        )
        .crossJoin(F.broadcast(max_date))
        .select(
            "o_custkey",
            F.datediff(F.col("corpus_max"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary",
        )
    )
    r_w = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    f_w = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    scored = per_cust.select(
        F.ntile(4).over(r_w).alias("r_score"),
        F.ntile(4).over(f_w).alias("f_score"),
        F.ntile(4).over(m_w).alias("m_score"),
        "monetary",
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        money_sum(F.col("monetary")).alias("total_monetary"),
    )


@register(
    "basket_part_affinity",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS c_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
    ),
    marg AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM baskets
      GROUP BY l_partkey
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM baskets),
    scored AS (
      SELECT p.part_a, p.part_b, p.c_ab,
             round(CAST(p.c_ab AS DOUBLE) * n.n_orders / (ma.c * mb.c), 6)
               AS lift
      FROM pairs p
      JOIN marg ma ON ma.l_partkey = p.part_a
      JOIN marg mb ON mb.l_partkey = p.part_b
      CROSS JOIN n
      WHERE p.c_ab >= 2
    )
    SELECT part_a, part_b, c_ab, lift
    FROM scored
    ORDER BY lift DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
    tags=("analytics", "basket", "join"),
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: top-20 co-purchased part pairs by lift
    P(a,b)/(P(a)P(b)) with a min-support floor. Lift is the raw
    probability ratio c_ab*N/(c_a*c_b) — exact-integer doubles round
    identically across engines (same log-free trick as
    collocation_pmi_topk).

    Scale shape: the pair generation is a SELF-JOIN WITHIN ORDER —
    fan-out is items-per-basket squared (TPC-H: ~7² per order), linear
    in orders, never corpus-quadratic; marginals and N aggregate the
    basket table; top-20 is TakeOrdered. Hot products skew the pair
    AGGREGATION keys, not the join (the join key is the orderkey), so
    AQE's skew handling covers the worst case."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = baskets.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("c_ab"))
    )
    marg = baskets.groupBy("l_partkey").agg(F.count("*").alias("c"))
    n = baskets.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    scored = (
        pairs.filter(F.col("c_ab") >= 2)
        .join(marg.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a")), "part_a")
        .join(marg.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b")), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            F.round(
                F.col("c_ab").cast("double") * F.col("n_orders")
                / (F.col("c_a") * F.col("c_b")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


@register(
    "path_3gram_topk",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT event_type AS step1, t2 AS step2, t3 AS step3,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY step1, step2, step3
    )
    SELECT step1, step2, step3, n
    FROM paths
    ORDER BY n DESC, step1 ASC, step2 ASC, step3 ASC
    LIMIT 10
    """,
    tags=("analytics", "window", "journey"),
)
def path_3gram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey mining: the 10 most common 3-step event-type paths
    across all users (sliding trigrams over each user's time-ordered
    stream, via two leads — the free-form complement of the FIXED
    funnel in funnel_conversion). Total tiebreak order on the top-k.

    Scale shape: one user_id shuffle shared by both lead windows (same
    partitioning and ordering), then a count aggregate over the
    |types|³-bounded path domain and a TakeOrdered top-10."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    paths = seq.groupBy("step1", "step2", "step3").agg(F.count("*").alias("n"))
    return paths.orderBy(
        F.desc("n"), F.asc("step1"), F.asc("step2"), F.asc("step3")
    ).limit(10)


@register(
    "monthly_revenue_moving_avg",
    oracle="""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT month,
             CAST(round(rev, 2) AS DOUBLE) AS revenue,
             CAST(round(sum(rev) OVER (ORDER BY month
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
                  AS DOUBLE) AS rev3_sum,
             count(*) OVER (ORDER BY month
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3
      FROM monthly
    )
    SELECT strftime(month, '%Y-%m') AS month, revenue,
           round(rev3_sum / n3, 2) AS moving_avg_3m
    FROM win
    """,
    tags=("analytics", "window", "timeseries"),
)
def monthly_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with a 3-month trailing moving average — the BI
    staple, exactness-engineered: monthly revenue is an exact decimal
    sum, the 3-row frame sums decimals (exact, order-free), and the
    average divides two engine-identical numbers before one final 2dp
    round. Month is an explicit 'yyyy-MM' string (engines
    render truncated timestamps differently). One aggregation shuffle + one tiny month-level window."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(F.sum(dec2(F.col("o_totalprice"))).alias("rev"))
    )
    w = Window.orderBy("month").rowsBetween(-2, 0)
    win = monthly.select(
        "month",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(F.sum("rev").over(w), 2).cast("double").alias("rev3_sum"),
        F.count("*").over(w).alias("n3"),
    )
    return win.select(
        F.date_format("month", "yyyy-MM").alias("month"),
        "revenue",
        F.round(F.col("rev3_sum") / F.col("n3"), 2).alias("moving_avg_3m"),
    )


@register(
    "value_band_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('micro', 0.0, 25.0), ('small', 25.0, 75.0),
             ('mid', 75.0, 150.0), ('large', 150.0, 1e18)
    )
    SELECT b.band,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_value
    FROM events e JOIN bands b
      ON e.value >= b.lo AND e.value < b.hi
    WHERE e.value IS NOT NULL
    GROUP BY b.band
    """,
    tags=("join", "nonequi", "analytics"),
)
def value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding join: classify every event into a value tier by joining a
    tiny band-dimension on a BETWEEN condition — the non-equi lookup
    join (rate cards, tax brackets, SLA tiers) that has no equi-key.

    Scale shape: the band table broadcasts and the join is a
    BroadcastNestedLoopJoin — for a dim of a few rows this is the RIGHT
    plan, each fact row tests 4 ranges map-side and the fact never
    shuffles for the join (only the final band rollup aggregates).
    half-open [lo, hi) bands make the classification total and
    unambiguous at boundaries."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bands = spark.createDataFrame(
        [("micro", 0.0, 25.0), ("small", 25.0, 75.0),
         ("mid", 75.0, 150.0), ("large", 150.0, 1e18)],
        "band string, lo double, hi double",
    )
    j = e.join(
        F.broadcast(bands),
        (e["value"] >= bands["lo"]) & (e["value"] < bands["hi"]),
    )
    return j.groupBy("band").agg(
        F.count("*").alias("n_events"),
        money_sum(dec2(F.col("value"))).alias("total_value"),
    )


@register(
    "range_join_bucket_decomposed",
    oracle="""
    WITH bounds AS (
      SELECT CAST(floor(max(value) / 10) AS BIGINT) AS mi
      FROM events WHERE value IS NOT NULL
    ),
    iv AS (
      SELECT CAST(unnest(generate_series(0, mi)) AS BIGINT) AS interval_id
      FROM bounds
    ),
    intervals AS (
      SELECT interval_id,
             CAST(10 * interval_id AS DOUBLE) AS lo,
             CAST(10 * interval_id + 25 AS DOUBLE) AS hi
      FROM iv
    )
    SELECT i.interval_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_value
    FROM events e JOIN intervals i
      ON e.value >= i.lo AND e.value < i.hi
    WHERE e.value IS NOT NULL
    GROUP BY i.interval_id
    """,
    tags=("join", "range", "bucket", "scale"),
)
def range_join_bucket_decomposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join (NO equi key) via bucket decomposition, driver-
    checked end-to-end: every event value is matched into OVERLAPPING
    half-open intervals [10i, 10i + 25) — each point lands in 1-3
    intervals, so the join is genuinely many-to-many — through
    operators/rangejoin.interval_join's bucket path: points map to one
    width-25 bucket, intervals explode to every bucket they overlap,
    the engine equi-joins on bucket, and the exact range predicate
    filters residuals. The oracle runs the naive BETWEEN join (DuckDB
    plans its own IEJoin), so any decomposition bug — a point matched
    in a neighbor bucket, an interval's bucket span off by one at
    either boundary, the exclusive end admitting hi itself — changes
    per-interval counts/sums and hash-fails. The interval set derives
    from max(value), keeping the gate SF-invariant.

    Scale posture: a bare `p BETWEEN lo AND hi` join with no equi key
    is a BroadcastNestedLoopJoin — O(|points| x |intervals|), the plan
    that dies first at 100 TB (value_band_join keeps it deliberately
    for a 4-row dim; asserted NLJ-free for THIS query in
    tests/test_rangejoin.py). The decomposition replaces it with an
    equi-join on the bucket id: cost O(|points| + |intervals| x
    spanned_buckets + |true matches|), shuffle-partitionable on bucket
    like any hash join, with bucket_width ~ interval length bounding
    the explode factor at O(1). Here the interval side is tiny (a few
    hundred rows off one max(value) scan) so Catalyst broadcasts the
    bucket join's build side; with millions of intervals the same plan
    degrades gracefully to a shuffled hash join on bucket — the point
    of the pattern. The events scan reads only [value].

    Measured (COVERAGE.md, sf0.1, 100k points, interval
    count swept 512→2048→8192, median-of-3, equal match counts
    asserted): the naive NLJ goes 0.43s → 1.17s → 29.6s while the
    decomposed join goes 0.28s → 0.50s → 2.9s — the speedup widens
    1.5× → 2.4× → 10.2× as the interval side grows, with the bucket
    path tracking the match count (the O(|P| + |I| + matches) bound)
    and the NLJ tracking |P| x |I|."""
    from ..operators.rangejoin import interval_join

    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("value")
    )
    mi = e.agg(F.floor(F.max("value") / 10).cast("long").alias("mi"))
    intervals = mi.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("mi"))).alias(
            "interval_id"
        )
    ).select(
        "interval_id",
        (F.col("interval_id") * 10).cast("double").alias("lo"),
        (F.col("interval_id") * 10 + 25).cast("double").alias("hi"),
    )
    j = interval_join(
        e,
        intervals,
        point_col="value",
        start_col="lo",
        end_col="hi",
        bucket_width=25.0,
        end_inclusive=False,
    )
    return j.groupBy("interval_id").agg(
        F.count("*").alias("n_events"),
        money_sum(dec2(F.col("value"))).alias("total_value"),
    )


@register(
    "nation_revenue_share",
    oracle=f"""
    WITH per_nation AS (
      SELECT n.n_name AS nation,
             sum({REVENUE_DEC_SQL}) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
             AS share
    FROM per_nation
    """,
    tags=("window", "analytics", "share"),
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total: each nation's revenue share of the global sum
    via an empty-frame window (sum OVER ()) — the ratio_to_report
    shape. Revenue accumulates in exact decimals on BOTH levels (the
    per-nation sum and the windowed grand total), so the final division
    is one double op on engine-identical inputs, rounded at 6dp.

    Scale shape: one fact aggregation to nation grain (25 rows), dims
    broadcast; the OVER () window runs on the nation-sized frame — the
    single-partition window is over 25 rows, not the fact table."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_nation = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(revenue_dec()).alias("rev"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "nation",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(w).cast("double"), 6
        ).alias("share"),
    )


@register(
    "attribution_last_touch",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(value AS DECIMAL(12,2)) AS dv,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    )
    SELECT coalesce(channel, 'direct') AS channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(round(sum(dv), 2) AS DOUBLE) AS attributed_value
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY coalesce(channel, 'direct')
    """,
    tags=("window", "analytics", "attribution"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase's value is credited to
    the user's most recent PRECEDING non-purchase event type (their
    'channel'); purchases with no prior touch credit 'direct'. The
    look-back is last_value(... IGNORE NULLS) over an
    unbounded-to-1-preceding frame — the marketing-attribution staple,
    exact-decimal value sums.

    Scale shape: one user_id shuffle for the window, then a channel
    rollup over the purchase subset. The frame carries O(1) state per
    row (running last non-null)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    seq = e.select(
        "event_type",
        dec2(F.col("value")).alias("dv"),
        F.coalesce(touch, F.lit("direct")).alias("channel"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count("*").alias("n_purchases"),
            money_sum(F.col("dv")).alias("attributed_value"),
        )
    )


@register(
    "segment_repeat_rate",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY segment, o.o_custkey
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(count(*) FILTER (n_orders >= 2) AS BIGINT) AS n_repeat,
           round(CAST(count(*) FILTER (n_orders >= 2) AS DOUBLE)
                 / count(*), 6) AS repeat_rate,
           round(CAST(sum(n_orders) AS DOUBLE) / count(*), 6)
             AS avg_orders_per_customer
    FROM per_cust GROUP BY segment
    """,
    tags=("analytics", "aggregation"),
)
def segment_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate per market segment: the two-level aggregate
    (fact -> customer grain -> segment rollup) behind every retention
    dashboard. All ratios are divisions of exact integers, rounded once
    at 6dp — engine-identical.

    Scale shape: one fact shuffle to customer grain (the segment rides
    along from a broadcast dim join), then a segment-sized rollup."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return per_cust.groupBy("segment").agg(
        F.count("*").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).alias("n_repeat"),
        F.round(
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("repeat_rate"),
        F.round(F.sum("n_orders").cast("double") / F.count("*"), 6).alias(
            "avg_orders_per_customer"
        ),
    )


@register(
    "hourly_seasonal_baseline",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             dayofweek(ts) AS dow,
             hour(ts) AS hod,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT h, dow, hod, n,
             sum(n) OVER w AS base_sum,
             count(*) OVER w AS base_n
      FROM hourly
      WINDOW w AS (PARTITION BY dow, hod ORDER BY h
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(h AS VARCHAR) AS hour_ts, n,
           CAST(base_sum AS BIGINT) AS baseline_sum,
           CAST(base_n AS BIGINT) AS baseline_weeks,
           round(CAST(n AS DOUBLE) * base_n / base_sum, 6) AS load_ratio
    FROM base
    WHERE base_n = 3 AND base_sum > 0
      AND (CAST(n AS DOUBLE) * base_n / base_sum >= 2.0
           OR CAST(n AS DOUBLE) * base_n / base_sum <= 0.5)
    """,
    tags=("analytics", "window", "timeseries"),
)
def hourly_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline load monitoring: each hour's event count is
    compared against the SAME hour-of-week's three preceding weeks
    (partition by (dow, hour-of-day), 3-preceding frame) and hours at
    >=2x or <=0.5x their seasonal baseline are flagged — the
    ops-monitoring complement of the value-based rolling z-score. The
    ratio is a division of exact integers rounded once; the threshold
    compares the unrounded rational identically in both engines.

    Scale shape: the event log collapses to hour grain first (one
    aggregation — the only fact-sized shuffle), and the window runs on
    the hour-grain frame partitioned 168 ways."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hod"),
        )
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("dow", "hod")
        .orderBy("h")
        .rowsBetween(-3, -1)
    )
    base = hourly.select(
        "h",
        "n",
        F.sum("n").over(w).alias("base_sum"),
        F.count("*").over(w).alias("base_n"),
    )
    ratio = F.col("n").cast("double") * F.col("base_n") / F.col("base_sum")
    return (
        base.filter(
            (F.col("base_n") == 3)
            & (F.col("base_sum") > 0)
            & ((ratio >= 2.0) | (ratio <= 0.5))
        )
        .select(
            F.col("h").cast("string").alias("hour_ts"),
            "n",
            F.col("base_sum").alias("baseline_sum"),
            F.col("base_n").alias("baseline_weeks"),
            F.round(ratio, 6).alias("load_ratio"),
        )
    )


@register(
    "mv_manifest_snapshot_read",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS snapshot_isolated
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("incremental", "compaction", "manifest", "scale"),
)
def mv_manifest_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST-COMMITTED snapshots (streaming/manifest.py), the same
    public design as Delta's _delta_log / Iceberg's metadata tree:
    readers plan their file set from an immutable manifest JSON and the
    snapshot advances by one atomic rename, so compaction has NO
    double-count window and a torn writer's partition is invisible
    until committed.

    The gate runs the full lifecycle on orders partials: four committed
    backfill batches (manifest v0..v3); a TORN WRITER plants a complete
    duplicate partial partition (_batch_id=99) that is never committed —
    the pre-compaction snapshot read must ignore it or every count
    doubles; compact_snapshot(upto=1) atomically swaps partials {0,1}
    for the reserved base (v4) while v3 stays readable; vacuum(keep=1)
    then reclaims exactly the three unreferenced dirs (0, 1, and the
    orphan 99) and the four aged manifests. `snapshot_isolated` pins the
    whole physical protocol: version numbers, deletion counts, the
    surviving {base,2,3} directory set, and pre==post aggregate
    equality; the hash gate pins the values against the direct oracle.

    At 100 TB: manifest planning costs O(|snapshot|), not O(|directory|)
    — a 100k-partition table plans from one small JSON; concurrent
    committers resolve by rename-wins optimistic concurrency; GC is
    safe-by-construction because retention is defined over manifests,
    not mtimes."""
    from .. import streaming
    from ..operators import incremental
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "manifeststate")
    for b in range(4):
        batch = o.filter(F.col("o_orderkey") % 4 == b).drop("o_orderkey")
        streaming.write_batch_partition(
            incremental.partial_agg(batch, ["o_orderpriority"], "v"), table, b
        )
        manifest.commit_batch(spark, table, b)
    # torn writer: a full duplicate of the table, never committed
    streaming.write_batch_partition(
        incremental.partial_agg(o.drop("o_orderkey"), ["o_orderpriority"], "v"),
        table,
        99,
    )
    # materialize BEFORE compaction/vacuum delete the dirs it reads
    pre = (
        streaming.read_incremental_state(spark, table)
        .select(
            "o_orderpriority",
            F.col("n_rows").alias("n1"),
            F.col("total").alias("t1"),
        )
        .localCheckpoint()
    )
    v = manifest.compact_snapshot(spark, table, upto_batch=1)
    dirs_deleted, mans_deleted = manifest.vacuum(spark, table, keep_versions=1)
    remaining = streaming.list_batch_partitions(spark, table)
    post = streaming.read_incremental_state(spark, table).localCheckpoint()
    mismatches = (
        pre.join(
            post.select(
                "o_orderpriority",
                F.col("n_rows").alias("n2"),
                F.col("total").alias("t2"),
            ),
            "o_orderpriority",
            "full",
        )
        .where(
            F.col("n1").isNull()
            | F.col("n2").isNull()
            | (F.col("n1") != F.col("n2"))
            | (F.col("t1") != F.col("t2"))
        )
        .count()
    )
    ok = (
        v == 4
        and dirs_deleted == 3
        and mans_deleted == 4
        and remaining == [streaming.compact_base_id(1), 2, 3]
        and manifest.list_versions(spark, table) == [4]
        and mismatches == 0
    )
    return post.select(
        "o_orderpriority",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round("total", 2).cast("double").alias("total_price"),
        F.lit(ok).alias("snapshot_isolated"),
    )


@register(
    "stream_manifest_exactly_once",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           CAST(round(sum(CAST(value AS DECIMAL(12,2))), 2) AS DOUBLE) AS total,
           TRUE AS published_atomically
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "incremental", "manifest", "materialized-view"),
)
def stream_manifest_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming with TRANSACTIONAL publishing
    (streaming.run_stream_incremental_agg): the events table
    replays as a bounded file stream in single-file micro-batches; each
    batch lands its mergeable partial in its own `_batch_id` partition
    (idempotent) and then COMMITS a manifest version — idempotent-write
    + atomic-publish, so a downstream reader polling the table mid-run
    only ever sees whole batches. After the stream drains, a torn
    writer plants an UNCOMMITTED duplicate partition; the
    manifest-planned snapshot read must ignore it (a directory-listing
    reader would double every count and hash-fail). The
    `published_atomically` flag pins the protocol: one manifest version
    per micro-batch, each version's id set a strict superset of the
    previous (monotone publish order), and the orphan visible to the
    directory listing but absent from the snapshot."""
    from .. import streaming
    from ..operators import incremental
    from ..streaming import manifest

    batch = load_table(spark, sf_dir, "events").select(
        "event_type", dec2(F.col("value")).alias("v")
    )
    stream = file_stream(
        spark, batch, "manifeststream", sf_dir, max_files_per_trigger=1
    )
    table, ckpt = fresh_dirs(
        sf_dir, "manifeststream_state", "manifeststream_ckpt"
    )
    streaming.run_stream_incremental_agg(stream, ["event_type"], "v", table, ckpt)
    versions = manifest.list_versions(spark, table)
    committed = manifest.read_manifest(spark, table)["batch_ids"]
    # monotone publish: each version adds exactly its batch id
    chains_ok = all(
        set(manifest.read_manifest(spark, table, v)["batch_ids"])
        < set(manifest.read_manifest(spark, table, w)["batch_ids"])
        for v, w in zip(versions, versions[1:])
    )
    # torn writer after the stream: never committed, must stay invisible
    streaming.write_batch_partition(
        incremental.partial_agg(batch, ["event_type"], "v"), table, 99
    )
    listed = streaming.list_batch_partitions(spark, table)
    ok = (
        len(versions) >= 4
        and len(versions) == len(committed)
        and chains_ok
        and 99 in listed
        and 99 not in committed
    )
    view = streaming.read_incremental_state(spark, table)
    return view.select(
        "event_type",
        "n_rows",
        F.round("total", 2).cast("double").alias("total"),
        F.lit(ok).alias("published_atomically"),
    )


@register(
    "mv_manifest_row_deletes",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS deletes_applied
    FROM orders
    WHERE o_orderkey % 10 <> 3
    GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "merge-on-read", "scale"),
)
def mv_manifest_row_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ row-level deletes over a manifest-committed ROW
    table (streaming/manifest.commit_deletes — the Iceberg-v2
    equality-delete design, public): DELETE is a metadata-plus-keys
    operation, O(|deleted keys|), touching no data partition; readers
    apply the committed delete files as a broadcast anti-join at scan
    time; compact_rows_apply_deletes later rewrites the old batches
    with deletes folded in (copy-on-write catch-up) behind one atomic
    manifest swap.

    Lifecycle under the gate: three committed row batches of orders;
    one committed delete file (every o_orderkey ending in 3 — ~10% of
    the table); the merge-on-read snapshot aggregate must hash-match
    the oracle's WHERE-filtered aggregate. `deletes_applied` pins the
    physical story: the raw data partitions still CONTAIN the deleted
    rows (the delete rewrote nothing), the snapshot read masks them,
    and after compaction the rewritten base holds zero deleted keys
    while the aggregate is unchanged.

    At 100 TB this is the difference between deleting a user's rows by
    rewriting a petabyte table and landing a kilobyte key file — with
    the anti-join cost bounded by periodic copy-on-write catch-up."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "mordeletes")
    for b in range(3):
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    # the delete: a key file, not a table rewrite
    del_keys = o.filter(F.col("o_orderkey") % 10 == 3).select("o_orderkey")
    manifest.commit_deletes(spark, table, del_keys, delete_id=0)

    snap = manifest.read_snapshot_rows(spark, table)
    pre = (
        snap.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n1"), F.sum("v").alias("t1"))
        .localCheckpoint()
    )
    # data partitions untouched by the delete: raw union still has them
    raw_rows = spark.read.parquet(
        *[manifest_log.batch_path(table, b) for b in range(3)]
    ).count()
    masked_rows = pre.agg(F.sum("n1")).collect()[0][0]
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=1)
    post = manifest.read_snapshot_rows(spark, table)
    agg = post.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"), F.sum("v").alias("total")
    )
    # the rewritten base physically dropped the deleted keys
    base = spark.read.parquet(
        manifest_log.batch_path(table, manifest_log.compact_base_id(1))
    )
    leaked = base.filter(F.col("o_orderkey") % 10 == 3).count()
    mismatches = (
        pre.join(
            agg.select(
                "o_orderpriority",
                F.col("n_rows").alias("n2"),
                F.col("total").alias("t2"),
            ),
            "o_orderpriority",
            "full",
        )
        .where(
            F.col("n1").isNull()
            | F.col("n2").isNull()
            | (F.col("n1") != F.col("n2"))
            | (F.col("t1") != F.col("t2"))
        )
        .count()
    )
    ok = raw_rows > masked_rows and leaked == 0 and mismatches == 0
    return agg.select(
        "o_orderpriority",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round("total", 2).cast("double").alias("total_price"),
        F.lit(ok).alias("deletes_applied"),
    )


@register(
    "mv_manifest_change_feed",
    oracle="""
    WITH ch AS (
      SELECT 'insert' AS _change_type, o_orderpriority
      FROM orders WHERE o_orderkey % 3 = 2 AND o_orderkey % 10 <> 7
      UNION ALL
      SELECT 'delete', o_orderpriority
      FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 10 = 7
    )
    SELECT _change_type, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_changes
    FROM ch GROUP BY _change_type, o_orderpriority
    """,
    tags=("incremental", "manifest", "cdc", "scale"),
)
def mv_manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED between manifest versions
    (streaming/manifest.snapshot_diff): the manifest IS the change log,
    so the diff plans only the partitions and delete files added
    between the two versions — O(delta), never a full-table diff (at
    100 TB, diffing two plain parquet snapshots is a petabyte join;
    this is a metadata walk plus delta-sized scans).

    Lifecycle under the gate: orders batches {0,1} committed (the
    `from` version), then batch 2 committed AND a delete file for every
    o_orderkey ending in 7; the feed from v1 to the head must contain
    exactly batch 2's surviving rows as 'insert' (an in-window insert
    masked by an in-window delete never became visible — the feed must
    NOT emit it) and the previously-visible rows matching the delete
    keys as 'delete' (keys that matched nothing emit nothing). The
    oracle re-derives both change sets from the defining predicates;
    any leakage across the version boundary — a batch-0/1 row as
    insert, a batch-2 row as delete, a masked insert surfacing —
    changes a group count and hash-fails."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    [table] = fresh_dirs(sf_dir, "changefeed")
    for b in range(2):
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    v_from = manifest.latest_version(spark, table)
    streaming.write_batch_partition(
        o.filter(F.col("o_orderkey") % 3 == 2), table, 2
    )
    manifest.commit_batch(spark, table, 2)
    manifest.commit_deletes(
        spark,
        table,
        o.filter(F.col("o_orderkey") % 10 == 7).select("o_orderkey"),
        delete_id=0,
    )
    v_to = manifest.latest_version(spark, table)
    feed = manifest.snapshot_diff(spark, table, v_from, v_to)
    return feed.groupBy("_change_type", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_changes")
    )


@register(
    "mv_manifest_zone_skip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS zone_pruned
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1999-02-01 00:00:00'
                          AND TIMESTAMP '2000-01-31 00:00:00'
    GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "data-skipping", "scale"),
)
def mv_manifest_zone_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONE-MAP DATA SKIPPING from manifest metadata
    (streaming/manifest.write_and_commit_batch + prune_snapshot_batches):
    each committed batch records its [min, max] per stats column in the
    manifest, so a range read decides which batches to SKIP from the
    manifest JSON alone — before a single directory is listed or a
    parquet footer opened (the Delta/Iceberg file-skipping design, one
    level above parquet's own row-group stats, which still require
    opening every footer).

    The gate commits orders as four date-range batches (stats on
    o_orderdate, stored as ISO strings — lexicographic order equals
    temporal order; the testdata's order dates span 1995-01-01 to
    2001-08-01), reads BETWEEN 1999-02-01 AND 2000-01-31 (a range
    strictly inside batch 2's [1999-01-01, 2000-06-30] zone), and pins
    in `zone_pruned` that the prune decision selected EXACTLY batch 2
    — a pruner that keeps extra batches (wasted I/O) or drops a
    boundary-overlapping one (lost rows, which the hash would also
    catch) fails the flag. A batch without stats is always kept:
    skipping is an optimization, never a filter.

    At 100 TB: a year-partitioned-by-arrival table answers a one-month
    query by opening 1/48th of its batches, decided in O(|manifest|)
    driver time."""
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "zoneskip")
    bounds = ["1997-01-01", "1999-01-01", "2000-07-01"]
    conds = [
        F.col("o_orderdate") < bounds[0],
        (F.col("o_orderdate") >= bounds[0]) & (F.col("o_orderdate") < bounds[1]),
        (F.col("o_orderdate") >= bounds[1]) & (F.col("o_orderdate") < bounds[2]),
        F.col("o_orderdate") >= bounds[2],
    ]
    for b, cond in enumerate(conds):
        manifest.write_and_commit_batch(
            spark, o.filter(cond), table, b, stats_cols=["o_orderdate"]
        )
    m = manifest.read_manifest(spark, table)
    lo, hi = "1999-02-01", "2000-01-31"
    pruned = manifest.prune_snapshot_batches(m, "o_orderdate", lo, hi)
    ok = pruned == [2] and len(m["batch_ids"]) == 4
    rows = manifest.read_snapshot_rows(
        spark, table, where_between=("o_orderdate", lo, hi)
    )
    return rows.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.lit(ok).alias("zone_pruned"),
    )


@register(
    "mv_manifest_upsert",
    oracle="""
    WITH t AS (
      SELECT CASE WHEN o_orderkey % 8 = 1 THEN '9-UPSERTED'
                  ELSE o_orderpriority END AS o_orderpriority,
             CASE WHEN o_orderkey % 8 = 1
                  THEN CAST(o_totalprice AS DECIMAL(12,2)) + 100000
                  ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS v
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(v), 2) AS DOUBLE) AS total_price,
           TRUE AS upsert_atomic
    FROM t GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "merge", "scale"),
)
def mv_manifest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / UPSERT as ONE atomic manifest commit
    (streaming/manifest.commit_upsert): the updated rows land as a new
    batch AND an equality-delete file for their keys publishes in a
    SINGLE manifest version — a reader sees the table before the merge
    or after it, never a torn middle. The delete file carries a
    sequence CUTOFF pinned below the new batch (the Iceberg
    sequence-number rule), so it masks every old row with a matching
    key without eating the new rows committed beside it — the failure
    mode a cutoff-less equality delete cannot avoid.

    The gate merges a new priority + price for every 8th order key
    over a 2-batch orders table and hash-checks the snapshot aggregate
    against the oracle's CASE re-derivation (an upsert that loses the
    old row, keeps both versions, or eats its own insert shifts a
    group); `upsert_atomic` pins version advance == exactly 1 and
    row count preserved, and the pre-upsert version must still
    aggregate to the UNMODIFIED table (version isolation).

    At 100 TB: MERGE costs O(|updates|) writes + one metadata rename;
    matched rows mask at read and drop physically at the next
    copy-on-write catch-up — vs rewriting every file containing a
    matched key."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "morupsert")
    for b in range(2):
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    v_before = manifest.latest_version(spark, table)
    pre_total = (
        manifest.read_snapshot_rows(spark, table)
        .agg(F.sum("v").alias("t"))
        .collect()[0]["t"]
    )
    updates = o.filter(F.col("o_orderkey") % 8 == 1).select(
        "o_orderkey",
        F.lit("9-UPSERTED").alias("o_orderpriority"),
        (F.col("v") + 100000).cast("decimal(12,2)").alias("v"),
    )
    manifest.commit_upsert(spark, table, updates, ["o_orderkey"], 2, 0)
    v_after = manifest.latest_version(spark, table)
    snap = manifest.read_snapshot_rows(spark, table)
    n_total = snap.count()
    # version isolation: the pre-upsert snapshot still sums to the
    # unmodified table
    old_total = (
        manifest.read_snapshot_rows(spark, table, version=v_before)
        .agg(F.sum("v").alias("t"))
        .collect()[0]["t"]
    )
    ok = (
        v_after == v_before + 1
        and n_total == o.count()
        and old_total == pre_total
    )
    return snap.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.lit(ok).alias("upsert_atomic"),
    )


@register(
    "mv_manifest_bloom_lookup",
    oracle="""
    WITH target AS (
      SELECT min(o_orderkey) AS k FROM orders WHERE o_orderkey % 8 = 3
    )
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(round(CAST(o.o_totalprice AS DECIMAL(12,2)), 2) AS DOUBLE)
             AS total_price,
           TRUE AS bloom_pruned
    FROM orders o CROSS JOIN target t
    WHERE o.o_orderkey = t.k
    """,
    tags=("incremental", "manifest", "data-skipping", "bloom", "scale"),
)
def mv_manifest_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER point-lookup skipping over a manifest row table
    (streaming/manifest.write_and_commit_batch(bloom_col=...) /
    read_point_lookup): zone maps answer RANGE predicates, but a point
    lookup on a high-cardinality key scattered across hash batches has
    no useful [min, max] — the second skipping axis is a per-batch
    BLOOM sidecar (md5-derived positions, ~10 bits/key, FP ~1.7%),
    referenced from the manifest and published in the same atomic
    commit as the batch.

    The gate commits orders as 8 HASH batches (o_orderkey % 8 — every
    batch's key range spans the whole table, so zone maps are useless
    here by construction), looks up one planted key, and pins in
    `bloom_pruned` that the plan (a) contains the key's true batch and
    (b) skipped most of the others (<= 3 of 8 planned — determinstic
    given the data and hash; expected ~1.12). Values hash against the
    oracle's direct WHERE. A bloom that hashes differently on the
    build and probe side returns zero rows and fails both checks.

    At 100 TB: the needle query reads O(matching batches) with the
    decision made from kilobyte sidecars — no data I/O at all for the
    skipped 87.5%."""
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "bloomlookup")
    for b in range(8):
        manifest.write_and_commit_batch(
            spark,
            o.filter(F.col("o_orderkey") % 8 == b),
            table,
            b,
            bloom_col="o_orderkey",
        )
    key = (
        o.filter(F.col("o_orderkey") % 8 == 3)
        .agg(F.min("o_orderkey"))
        .collect()[0][0]
    )
    m = manifest.read_manifest(spark, table)
    planned = manifest.plan_point_lookup(spark, table, m, "o_orderkey", key)
    ok = 3 in planned and len(planned) <= 3
    rows = manifest.read_point_lookup(spark, table, "o_orderkey", key)
    return rows.select(
        "o_orderkey",
        "o_orderpriority",
        F.round("v", 2).cast("double").alias("total_price"),
        F.lit(ok).alias("bloom_pruned"),
    )


@register(
    "mv_manifest_metadata_count",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS metadata_exact
    FROM orders
    """,
    tags=("incremental", "manifest", "metadata", "scale"),
)
def mv_manifest_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown to METADATA (streaming/manifest.
    snapshot_row_count): COUNT(*) answered from the per-batch row
    counts the manifest recorded at commit time — zero data I/O,
    O(|manifest|) driver time, the trick every table format plays for
    the most common query in every dashboard. The honesty contract is
    the point: after a delete file lands, the metadata path DECLINES
    (returns inexact) instead of approximating, and only a
    copy-on-write compaction — which folds the deletes into a
    recounted base — restores metadata-exactness.

    The gate runs that full arc on orders: 4 committed batches
    (metadata count exact, must equal the oracle), a delete file for
    keys ending in 9 (metadata path must decline), compaction (the
    base recounted exactly; kept batches sit above every delete
    cutoff... here the plain delete has cutoff None, so the path
    still declines — pinned), then a second table built via UPSERT
    whose delete cutoff sits below the horizon after compaction, where
    the metadata count must return EXACT again and equal the
    post-upsert truth. `metadata_exact` folds all four phase checks;
    n_rows is phase-1's metadata answer against the oracle's real
    count."""
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "metacount")
    for b in range(4):
        manifest.write_and_commit_batch(
            spark, o.filter(F.col("o_orderkey") % 4 == b), table, b
        )
    n_meta, exact1 = manifest.snapshot_row_count(spark, table)
    # a plain delete (cutoff None) must make the metadata path decline
    manifest.commit_deletes(
        spark,
        table,
        o.filter(F.col("o_orderkey") % 10 == 9).select("o_orderkey"),
        delete_id=0,
    )
    declined, exact2 = manifest.snapshot_row_count(spark, table)
    # plain deletes mask past AND future — even compaction can't make
    # a cutoff-None delete metadata-safe; the path must keep declining
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=3)
    still_declined, exact3 = manifest.snapshot_row_count(spark, table)

    # second table: the UPSERT path (finite cutoff) + compaction DOES
    # restore metadata-exactness
    [table2] = fresh_dirs(sf_dir, "metacount2")
    for b in range(2):
        manifest.write_and_commit_batch(
            spark, o.filter(F.col("o_orderkey") % 2 == b), table2, b
        )
    updates = o.filter(F.col("o_orderkey") % 10 == 9).withColumn(
        "o_orderpriority", F.lit("9-UPSERTED")
    )
    manifest.commit_upsert(spark, table2, updates, ["o_orderkey"], 2, 0)
    mid, exact4 = manifest.snapshot_row_count(spark, table2)  # declines
    manifest.compact_rows_apply_deletes(spark, table2, upto_batch=2)
    n2, exact5 = manifest.snapshot_row_count(spark, table2)
    true2 = manifest.read_snapshot_rows(spark, table2).count()

    n_total = o.count()
    ok = (
        exact1
        and n_meta == n_total
        and not exact2
        and declined is None
        and not exact3
        and still_declined is None
        and not exact4
        and mid is None
        and exact5
        and n2 == true2 == n_total
    )
    return spark.createDataFrame(
        [(int(n_meta), bool(ok))], "n_rows bigint, metadata_exact boolean"
    )


@register(
    "mv_manifest_rollback",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS restored_atomically
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "rollback", "scale"),
)
def mv_manifest_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE / rollback (streaming/manifest.rollback — the Delta
    RESTORE semantics, public): a bad commit is undone by committing a
    NEW version whose content equals the last good version's — one
    atomic rename, history never rewritten, the bad version still
    readable for forensics until vacuum ages it out.

    The gate commits orders as two batches, lands a BAD delete (every
    key ending in 1 — the fat-finger incident), rolls back to the
    pre-delete version, and the restored snapshot aggregate must
    hash-match the untouched-table oracle. `restored_atomically` pins
    the protocol: the restore is exactly one version ahead of the bad
    commit, the bad version still reads with the rows missing
    (forensics), and `manifest.history` labels the four versions
    append/append/delete/rollback.

    At 100 TB: recovery from a bad MERGE/DELETE is one metadata
    commit, not a restore-from-backup — the operational property that
    justifies the manifest layer's existence on the worst day."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "rollback")
    for b in range(2):
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 2 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    good_v = manifest.latest_version(spark, table)
    manifest.commit_deletes(
        spark,
        table,
        o.filter(F.col("o_orderkey") % 10 == 1).select("o_orderkey"),
        delete_id=0,
    )
    bad_count = manifest.read_snapshot_rows(spark, table).count()
    v = manifest.rollback(spark, table, good_v)
    forensic = manifest.read_snapshot_rows(
        spark, table, version=good_v + 1
    ).count()
    labels = [h["change"] for h in manifest.history(spark, table)]
    n_total = o.count()
    ok = (
        v == good_v + 2
        and bad_count < n_total
        and forensic == bad_count
        and labels == ["append", "append", "delete", "rollback"]
    )
    snap = manifest.read_snapshot_rows(spark, table)
    return snap.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.lit(ok).alias("restored_atomically"),
    )


@register(
    "mv_manifest_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(NULL AS VARCHAR) AS o_channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 4 = 1 THEN 'web' ELSE 'store' END
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT coalesce(o_channel, 'unknown') AS channel,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           TRUE AS schema_merged
    FROM unioned GROUP BY channel
    """,
    tags=("incremental", "manifest", "schema-evolution"),
)
def mv_manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION on a manifest row table: batch 0 lands
    with the original columns, batch 1 arrives with a NEW `o_channel`
    column (the upstream-added-a-field day every long-lived pipeline
    has); `read_snapshot_rows(merge_schema=True)` unions the footer
    schemas so the new column surfaces table-wide with typed nulls on
    the old rows — without the flag, whichever footer wins the schema
    race silently drops the column (the failure mode this gate
    exists to pin). The oracle re-derives the union with an explicit
    NULL cast on the old half; the null-channel rows aggregate under
    'unknown', so a reader that lost the column, lost the old rows'
    nulls, or coerced them to a default all hash-fail.
    `schema_merged` additionally pins the contrast: the non-merged
    read of the same snapshot does NOT see o_channel when batch 0's
    footer wins (or sees it when batch 1's wins) — either way its
    schema is one batch's, not the union."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    [table] = fresh_dirs(sf_dir, "schemaevo")
    streaming.write_batch_partition(
        o.filter(F.col("o_orderkey") % 2 == 0), table, 0
    )
    manifest.commit_batch(spark, table, 0)
    evolved = o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_channel",
        F.when(F.col("o_orderkey") % 4 == 1, "web").otherwise("store"),
    )
    streaming.write_batch_partition(evolved, table, 1)
    manifest.commit_batch(spark, table, 1)
    merged = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    plain = manifest.read_snapshot_rows(spark, table)
    # merged MUST carry the evolved column over every row; the plain
    # read either lost the column (batch 0's footer won the race) or
    # kept it — but never loses rows either way
    ok = "o_channel" in merged.columns and (
        "o_channel" not in plain.columns or plain.count() == merged.count()
    )
    return merged.groupBy(
        F.coalesce("o_channel", F.lit("unknown")).alias("channel")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_priorities"),
        F.lit(ok).alias("schema_merged"),
    )


@register(
    "mv_manifest_forget_keys",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS physically_erased
    FROM orders
    WHERE o_orderkey % 100 <> 42
    GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "merge-on-read", "compliance", "scale"),
)
def mv_manifest_forget_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN as a composition of the manifest layer's
    primitives, with a PHYSICAL-erasure proof — the compliance flow a
    lakehouse runs when deletion must mean deletion, not masking:

      1. `commit_deletes` — the forget request lands as a key file:
         instantly effective for every reader, O(|keys|), but the
         bytes still exist in the data files (merge-on-read masks);
      2. `compact_rows_apply_deletes(upto=max batch)` — full
         copy-on-write catch-up rewrites the data WITHOUT the
         forgotten rows behind one atomic commit;
      3. `vacuum(keep_versions=1)` — the old partitions (which still
         contain the bytes) and the pre-forget manifests are
         physically removed.

    The gate forgets every o_orderkey ending in 42 across a 3-batch
    orders table and then PROVES erasure the hard way: it re-reads
    every parquet directory left on disk RAW (no manifest, no delete
    masking) and asserts zero forgotten keys remain anywhere —
    `physically_erased` also pins that before compaction the raw dirs
    DID still hold the rows (masking ≠ erasure, the distinction
    auditors ask about). Values hash against the WHERE-filtered
    oracle. At 100 TB the flow is: a kilobyte key file now, one
    rewrite of the affected data at the next maintenance window, GC —
    never an emergency full-table rewrite in the request path."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "forget")
    for b in range(3):
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    forget = o.filter(F.col("o_orderkey") % 100 == 42).select("o_orderkey")
    n_forget = forget.count()
    # point-in-time delete (cutoff = highest committed sequence): the
    # request means "forget the rows that exist NOW", so once compaction
    # passes the cutoff the delete file itself is spent — droppable from
    # the manifest and physically erasable. An unbounded delete could
    # never be erased: the KEYS are the PII and it must mask forever.
    manifest.commit_deletes(spark, table, forget, delete_id=0, cutoff=2)

    def raw_forgotten_rows() -> int:
        # erasure audit over EVERYTHING left on disk that can hold the
        # keys: the data partitions AND the delete-key files (the
        # forget request itself is PII — masking semantics aside, the
        # key bytes must not survive the flow either)
        ids = streaming.list_batch_partitions(spark, table)
        raw = spark.read.parquet(
            *[manifest_log.batch_path(table, b) for b in ids]
        )
        n = raw.filter(F.col("o_orderkey") % 100 == 42).count()
        for d in manifest_log.list_delete_ids(HadoopBackend(spark), table):
            keys = spark.read.parquet(manifest_log.delete_path(table, d))
            n += keys.filter(F.col("o_orderkey") % 100 == 42).count()
        return n

    # bytes still on disk: data rows + the delete-key file's own copy
    masked_but_present = raw_forgotten_rows()
    manifest.compact_rows_apply_deletes(spark, table, upto_batch=2)
    manifest.vacuum(spark, table, keep_versions=1)
    still_present = raw_forgotten_rows()  # the erasure proof
    ok = (
        n_forget > 0
        and masked_but_present == 2 * n_forget  # rows + key-file copies
        and still_present == 0
    )
    snap = manifest.read_snapshot_rows(spark, table)
    return snap.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.lit(ok).alias("physically_erased"),
    )


@register(
    "stream_from_manifest_source",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("streaming", "manifest", "connector", "scale"),
)
def stream_from_manifest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SOURCE over a manifest table (the lakehouse read half
    Delta's streaming source provides over `_delta_log`, public
    design): `sources/manifest_stream.py` registers a Python
    DataSource whose stream OFFSETS are manifest versions — planning
    is the metadata-only batch-id diff of two immutable manifest
    JSONs (no directory listing), partitions are per-parquet-file so
    reads run on executors as Arrow RecordBatches, and the first
    trigger emits the current snapshot (initial-snapshot semantics)
    with later triggers tailing the commit log version by version.
    Compaction bases are skipped on the tail (their rows were already
    emitted — append-only survives OPTIMIZE-style maintenance) and a
    version that commits equality deletes is REFUSED unless
    ignoreDeletes=true, because an append-only stream cannot
    represent retractions (the change-feed source manifest_cdf_stream
    is the retraction-capable feed; see stream_cdf_from_manifest).

    The gate builds a 3-batch committed orders table, drains the
    source through a real Structured Streaming query into a parquet
    sink, and aggregates the sink — a dropped batch file, a
    double-emitted partition, or an offset-planning bug changes the
    counts and hash-fails against the plain-orders oracle. Checkpoint
    resumption, compaction-skip on the tail, initial-snapshot-after-
    compaction, retention-loss errors, and the delete refusal are
    unit-gated in tests/test_manifest.py."""
    from .. import streaming
    from ..sources import manifest_stream
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    table, sink, ckpt = fresh_dirs(sf_dir, "msrc", "msrc_sink", "msrc_ckpt")
    for b in range(3):
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)
    manifest_stream.register(spark)
    source = (
        spark.readStream.format("manifest_stream")
        .schema(_ORDERS_LOG_COLS)
        .option("path", table)
        .load()
    )
    return (
        streaming.run_stream_to_parquet(source, sink, ckpt)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        )
    )


# Schema of the orders rows stream_from_manifest_source and
# _commit_orders_change_log commit.
_ORDERS_LOG_COLS = "o_orderkey bigint, o_orderpriority string, v decimal(12,2)"


def _commit_orders_change_log(spark: SparkSession, sf_dir: str, table: str) -> None:
    """Commit the orders change log the change-feed gates read, as
    versions 0-3 of the empty manifest table `table`: batches 0 and 1
    (o_orderkey % 3), then a cutoff-1 delete of every o_orderkey ending
    in 7, which masks only those two batches, then batch 2, which the
    delete must not touch. Rows carry `_ORDERS_LOG_COLS`."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )

    def add_batch(b: int) -> None:
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 3 == b), table, b
        )
        manifest.commit_batch(spark, table, b)

    add_batch(0)
    add_batch(1)
    manifest.commit_deletes(
        spark,
        table,
        o.filter(F.col("o_orderkey") % 10 == 7).select("o_orderkey"),
        delete_id=0,
        cutoff=1,
    )
    add_batch(2)


@register(
    "stream_cdf_from_manifest",
    oracle="""
    SELECT 'insert' AS _change_type,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'delete' AS _change_type,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderkey % 3 <> 2 AND o_orderkey % 10 = 7
    GROUP BY o_orderpriority
    """,
    tags=("streaming", "manifest", "cdf", "connector", "scale"),
)
def stream_cdf_from_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-DATA-FEED STREAMING SOURCE over a manifest table
    (sources/manifest_cdf_stream.py) — the retraction-capable twin of
    `stream_from_manifest_source`, the public Delta readChangeFeed
    streaming design: every drained row carries `_change_type`
    ('insert' | 'delete'); planning composes manifest.snapshot_diff's
    per-version-step semantics from two manifest JSONs per step, with
    delete applicability resolved at PLANNING time (masks are
    batch-level: a cutoff delete masks batches whose ingestion
    sequence is <= the cutoff), so executors only ever see
    (file, key-frame) pairs and rows never funnel through the driver.
    Compaction steps emit nothing and the stream keeps running —
    where the batch snapshot_diff must refuse across a rewrite.

    The gate commits two orders batches, a mid-log cutoff delete of
    every o_orderkey ending in 7 (masking only the first two
    batches), then a third batch the delete must NOT touch; a live
    Structured Streaming query drains the whole log
    (startingVersion=0) through a parquet sink, and the sink
    aggregates by change type — a missed retraction, a delete eating
    the later batch, or a double-emitted step changes the counts and
    hash-fails against the two-branch oracle. Mid-stream delete
    arrival, upsert replay parity with the batch feed, compaction
    skip, and the initial-snapshot mode are unit-gated in
    tests/test_manifest.py."""
    from .. import streaming
    from ..sources import manifest_cdf_stream

    table, sink, ckpt = fresh_dirs(sf_dir, "mcdf", "mcdf_sink", "mcdf_ckpt")
    _commit_orders_change_log(spark, sf_dir, table)
    changes = manifest_cdf_stream.load(
        spark, table, f"{_ORDERS_LOG_COLS}, _change_type string",
        startingVersion=0,
    )
    return (
        streaming.run_stream_to_parquet(changes, sink, ckpt)
        .groupBy("_change_type", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        )
    )


@register(
    "stream_cdf_scd2_dimension",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(o_totalprice AS DECIMAL(12,2)) AS v
        FROM orders WHERE o_orderkey % 3 = 0
    ),
    intervals AS (
        -- batch-0 rows: open at v0; closed at v1 iff upserted there
        SELECT k, v, CAST(0 AS BIGINT) AS valid_from,
               CASE WHEN k % 30 = 0 THEN CAST(1 AS BIGINT) END AS valid_to
        FROM base
        UNION ALL
        -- first upsert (keys %30): open at v1; closed at v2 iff
        -- upserted again (keys %60)
        SELECT k, v + 1, CAST(1 AS BIGINT),
               CASE WHEN k % 60 = 0 THEN CAST(2 AS BIGINT) END
        FROM base WHERE k % 30 = 0
        UNION ALL
        -- second upsert (keys %60): open at v2, never closed
        SELECT k, v + 2, CAST(2 AS BIGINT), NULL
        FROM base WHERE k % 60 = 0
    )
    SELECT valid_from,
           valid_to IS NULL AS is_current,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(v), 2) AS DOUBLE) AS total_value
    FROM intervals
    GROUP BY valid_from, valid_to IS NULL
    """,
    tags=("streaming", "manifest", "cdf", "scd2", "scale"),
)
def stream_cdf_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 DIMENSION maintained off the PAIRED change feed —
    the classic warehouse consumer a CDF exists for: every key's value
    history becomes validity intervals [valid_from, valid_to), the
    current row having valid_to NULL. The manifest table takes a base
    batch and TWO atomic upserts (commit_upsert: keys %30 bump v by 1
    at version 1, keys %60 bump again at version 2); the
    `manifest_cdf_stream` source with `keyColumns` drains the log as
    insert / update_preimage / update_postimage rows, and one
    windowed pass over the drained log builds the intervals:

    - OPEN events (insert, update_postimage) start an interval at
      their `_commit_version`;
    - CLOSE events (update_preimage, delete) end the key's currently
      open interval — `lead(_commit_version)` over each key's event
      log ordered by (version, close-before-open) pairs every open
      with the next close, NULL when none follows.

    ONE shuffle by key for the window; the feed itself ships O(changed
    rows) per version — at 100 TB the alternative reconstructs history
    by diffing full snapshots, O(table) per version. The three-branch
    oracle rebuilds the intervals arithmetically from the
    deterministic bumps; a mispaired image, a lost preimage, or a
    wrong interval boundary shifts a (valid_from, is_current) bucket
    and hash-fails."""
    from .. import streaming
    from ..sources import manifest_cdf_stream
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        dec2(F.col("o_totalprice")).alias("v"),
    )
    table, sink, ckpt = fresh_dirs(sf_dir, "scd2", "scd2_sink", "scd2_ckpt")
    streaming.write_batch_partition(o.filter(F.col("k") % 3 == 0), table, 0)
    manifest.commit_batch(spark, table, 0)
    manifest.commit_upsert(
        spark, table,
        o.filter(F.col("k") % 30 == 0).withColumn("v", dec2(F.col("v") + 1)),
        ["k"], batch_id=1, delete_id=0,
    )
    manifest.commit_upsert(
        spark, table,
        o.filter(F.col("k") % 60 == 0).withColumn("v", dec2(F.col("v") + 2)),
        ["k"], batch_id=2, delete_id=1,
    )
    changes = manifest_cdf_stream.load(
        spark, table,
        "k bigint, v decimal(12,2), _change_type string, _commit_version long",
        startingVersion=0, keyColumns="k",
    )
    log = streaming.run_stream_to_parquet(changes, sink, ckpt).withColumn(
        "is_open",
        F.col("_change_type").isin("insert", "update_postimage"),
    )
    # close-before-open within a version: the upsert's preimage ends
    # the old interval at the same version its postimage opens the new
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
    return scd2.groupBy(
        "valid_from", F.col("valid_to").isNull().alias("is_current")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_value"),
    )


@register(
    "batch_table_changes",
    oracle="""
    SELECT 'delete' AS _change_type,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderkey % 10 = 7 AND o_orderkey % 3 <> 2
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'insert' AS _change_type,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey % 3 = 2
    GROUP BY o_orderpriority
    """,
    tags=("manifest", "cdf", "batch", "connector", "scale"),
)
def batch_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH table_changes (Delta parity): `spark.read.format(
    "manifest_cdf_stream")` with a version range reads the change feed
    as ONE DataFrame — same planner, same executor read paths, same
    per-version attribution as the streaming feed (the batch reader
    wraps the stream reader's partitions()/read(), so the two can
    never drift). The gate slices versions [2, 3] out of a 4-version
    log: version 2's cutoff delete must emit the masked old rows
    (orderkeys ending in 7 from the first two batches only) and
    version 3's append must emit the third batch — rows from versions
    0-1 must NOT appear, which the two-branch oracle hash-pins."""
    from ..sources import manifest_cdf_stream

    [table] = fresh_dirs(sf_dir, "btc")
    _commit_orders_change_log(spark, sf_dir, table)
    changes = manifest_cdf_stream.load(
        spark, table, f"{_ORDERS_LOG_COLS}, _change_type string",
        stream=False, startingVersion=2, endingVersion=3,
    )
    return changes.groupBy("_change_type", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
    )


@register(
    "mv_manifest_timestamp_travel",
    oracle="""
    SELECT 'as_of' AS snapshot,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey % 2 = 0
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'current' AS snapshot,
           o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("manifest", "time-travel", "scale"),
)
def mv_manifest_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestampAsOf TIME TRAVEL (the Delta batch-read parity piece
    next to the existing version-pinned reads): `manifest.
    version_as_of_timestamp` resolves a wall-clock instant to the
    largest version whose manifest mtime <= t by binary search over
    the monotone mtime sequence — O(log versions) metadata probes,
    zero data I/O, the same invariant vacuum's age-based retention
    rests on. The gate commits two batches with a wall-clock instant
    captured between them, then reads BOTH the as-of snapshot (must
    see only batch 0's even orderkeys) and the current one; a
    resolution off by one version moves whole batches between the two
    aggregates and hash-fails the union oracle."""
    import time

    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "tstravel")
    manifest.write_and_commit_batch(
        spark, o.filter(F.col("o_orderkey") % 2 == 0), table, 0
    )
    t_mid = time.time()
    manifest.write_and_commit_batch(
        spark, o.filter(F.col("o_orderkey") % 2 == 1), table, 1
    )
    v_asof = manifest.version_as_of_timestamp(spark, table, t_mid)

    def agg(df, tag):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        ).select(
            F.lit(tag).alias("snapshot"),
            "o_orderpriority",
            "n_rows",
            "total_price",
        )

    asof = manifest.read_snapshot_rows(spark, table, version=v_asof)
    cur = manifest.read_snapshot_rows(spark, table)
    return agg(asof, "as_of").unionAll(agg(cur, "current"))


@register(
    "mv_manifest_conditional_put",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS contention_arbitrated
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "concurrency", "scale"),
)
def mv_manifest_conditional_put(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest protocol end-to-end under the OBJECT-STORE commit
    backend (`manifest.ConditionalPutCommitBackend` + `MockObjectStore`
    — one atomic put-if-generation-zero, the S3 If-None-Match / GCS
    generation-match publish; no temp file, no rename), WITH a real
    arbitration race injected mid-flight: while the third batch's
    commit is between read-latest and PUT, a rival committer lands a
    version through a second handle on the same store. The store must
    refuse the stale put (the 412 analog), `commit_batch`'s optimistic
    retry must re-plan on top of the rival's version, and the final
    snapshot must contain every batch exactly once — which the oracle
    hash-checks (a clobbered rival version, a double-committed batch,
    or a lost retry all change the aggregate or the pinned flag).

    `contention_arbitrated` pins the mechanics: the hook fired once,
    the rival's version bytes survived, the winning commit landed one
    version later, and the store counted exactly one refused put. At
    100 TB this backend is the difference between a commit protocol
    that needs HDFS rename semantics and one that runs on any object
    store with a conditional PUT."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "cput")
    store = manifest.MockObjectStore()
    backend = manifest.ConditionalPutCommitBackend(store)
    rival = manifest.ConditionalPutCommitBackend(store)
    fired = {"n": 0}
    with manifest.default_commit_backend(backend):
        for b in range(2):
            streaming.write_batch_partition(
                o.filter(F.col("o_orderkey") % 3 == b), table, b
            )
            manifest.commit_batch(spark, table, b)
        streaming.write_batch_partition(
            o.filter(F.col("o_orderkey") % 3 == 2), table, 2
        )

        def rival_commits_first(key: str) -> None:
            # one no-op version bump (same id set) through a second
            # handle, injected inside batch 2's publish window
            if fired["n"] == 0 and key.endswith("v000000000002.json"):
                fired["n"] += 1
                store.interpose = None
                try:
                    cur = manifest.read_manifest(spark, table)
                    manifest.commit_version(spark, table, cur, backend=rival)
                finally:
                    store.interpose = rival_commits_first

        store.interpose = rival_commits_first
        v = manifest.commit_batch(spark, table, 2)
        store.interpose = None
    ok = (
        fired["n"] == 1
        and v == 3  # lost v2 to the rival, landed on v3
        and manifest.read_manifest(spark, table, 2)["batch_ids"] == [0, 1]
        and store.puts == 4  # v0, v1, rival v2, retried v3
    )
    snap = manifest.read_snapshot_rows(spark, table)
    return snap.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.lit(ok).alias("contention_arbitrated"),
    )


@register(
    "stream_cdf_mv_maintenance",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS view_matches_snapshot
    FROM orders
    WHERE NOT (o_orderkey % 10 = 7 AND o_orderkey % 3 <> 2)
    GROUP BY o_orderpriority
    """,
    tags=("streaming", "manifest", "cdf", "incremental", "scale"),
)
def stream_cdf_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAKEHOUSE IVM END TO END: a downstream materialized view
    maintained DIRECTLY off the table's change feed — the composition
    the CDF source exists for. The manifest table takes two insert
    batches, a mid-log cutoff delete, and a third batch; the
    `manifest_cdf_stream` source feeds `_change_type` rows mapped to
    Z-weights (+1 insert / -1 delete) into the existing
    signed-aggregate streaming machinery (run_stream_signed_agg):
    per-batch signed partials land in idempotent `_batch_id`
    partitions of a second manifest-committed table, and the read-side
    fold absorbs the deletes by the same addition that absorbs inserts —
    no special retraction handling anywhere, because the Z-set algebra
    is split-invariant — which is also why trigger slicing is immaterial
    here: a fresh stream's first trigger is deliberately uncapped (the
    reader can't see a checkpoint-restored offset, manifest_stream.py),
    so this whole log drains as ONE catch-up batch; per-version slicing
    of the same log is pinned equivalent by
    tests/test_cdf_stream_model.py.

    The folded view must hash-match the oracle's post-delete aggregate
    AND (flag-pinned) equal the source table's own snapshot aggregate
    read directly through the manifest — the invariant that makes a
    CDF-maintained view trustworthy: view(fold of changes) ==
    aggregate(current snapshot), with the change feed costing O(delta)
    per trigger while a snapshot recompute costs O(table). At 100 TB
    that difference is the reason change feeds exist."""
    from .. import streaming
    from ..sources import manifest_cdf_stream
    from ..streaming import manifest

    table, state, ckpt = fresh_dirs(sf_dir, "cdfmv", "cdfmv_state", "cdfmv_ckpt")
    _commit_orders_change_log(spark, sf_dir, table)
    changes = (
        manifest_cdf_stream.load(
            spark, table, f"{_ORDERS_LOG_COLS}, _change_type string",
            startingVersion=0,
        )
        .withColumn(
            "_mult",
            F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(
                F.lit(1)
            ),
        )
        .drop("_change_type")
    )
    streaming.run_stream_signed_agg(
        changes, ["o_orderpriority"], "v", state, ckpt
    )
    view = streaming.read_signed_state(spark, state).select(
        "o_orderpriority",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round(F.col("total"), 2).cast("double").alias("total_price"),
    )
    direct = (
        manifest.read_snapshot_rows(spark, table)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        )
    )
    ok = sorted(map(tuple, view.collect())) == sorted(
        map(tuple, direct.collect())
    )
    return view.withColumn("view_matches_snapshot", F.lit(ok))


@register(
    "stream_cdf_table_replication",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           TRUE AS replica_equals_source
    FROM orders
    WHERE NOT (o_orderkey % 10 = 7 AND o_orderkey % 3 <> 2)
    GROUP BY o_orderpriority
    """,
    tags=("streaming", "manifest", "cdf", "replication", "scale"),
)
def stream_cdf_table_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE REPLICATION off the change feed — the cross-region /
    cross-catalog story a CDF exists to enable: a REPLICA manifest
    table (not an aggregate view) maintained by applying each
    micro-batch's inserts and deletes through the replica's own commit
    protocol. Per SOURCE VERSION (a catch-up trigger spans many — the
    foreachBatch below re-slices by `_commit_version`):

      - 'insert' rows land as a new replica batch via
        write_and_commit_batch (which records zone/row/byte stats, so
        the REPLICA is itself streamable and skippable);
      - 'delete' rows land as an equality-delete KEY file with
        cutoff = the replica's newest batch sequence — masking only
        rows replicated SO FAR, exactly the sequence-aware semantics
        that keep later re-inserts of the same keys visible. The
        replica never rewrites data to apply a delete: O(|keys|) per
        delete, same as the source.

    Correctness is the replication invariant: after the drain, the
    replica's VISIBLE snapshot equals the source's — hash-checked by
    aggregating the replica against the post-delete oracle, and
    flag-pinned by comparing replica rows to the source snapshot read
    directly. At 100 TB the feed ships O(changed rows + delete keys)
    per trigger; the naive alternative ships the table."""
    from ..sources import manifest_cdf_stream
    from ..streaming import manifest

    table, replica, ckpt = fresh_dirs(
        sf_dir, "cdfrep_src", "cdfrep_dst", "cdfrep_ckpt"
    )
    _commit_orders_change_log(spark, sf_dir, table)
    changes = manifest_cdf_stream.load(
        spark, table,
        f"{_ORDERS_LOG_COLS}, _change_type string, _commit_version long",
        startingVersion=0,
    )

    def apply_changes(batch_df, batch_id: int) -> None:
        # a catch-up trigger can span MANY source commits; the feed's
        # _commit_version column (Delta CDF parity) restores the order
        # that makes replication well-defined: apply each source
        # version's inserts and deletes in sequence, reusing the SOURCE
        # version as the replica's batch/delete id (unique + monotone,
        # so the replica's own sequence mirrors the source's) and the
        # previously-applied insert version as the delete cutoff. The
        # localCheckpoint pins the micro-batch before the driver loop
        # re-filters it per version.
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
            dels = step.filter(F.col("_change_type") == "delete").select(
                "o_orderkey"
            )
            if not dels.isEmpty():
                cur = manifest.read_manifest(spark, replica)
                cutoff = max(
                    [b for b in cur["batch_ids"]], default=-1
                )
                manifest.commit_deletes(
                    spark, replica, dels, delete_id=v, cutoff=cutoff
                )
            if not ins.isEmpty():
                manifest.write_and_commit_batch(spark, ins, replica, v)

    q = (
        changes.writeStream.foreachBatch(apply_changes)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rep = manifest.read_snapshot_rows(spark, replica)
    src = manifest.read_snapshot_rows(spark, table)
    ok = sorted(map(tuple, rep.collect())) == sorted(map(tuple, src.collect()))
    return rep.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.lit(ok).alias("replica_equals_source"),
    )


@register(
    "stream_cdf_update_pairing",
    oracle="""
    SELECT 'insert' AS _change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_value
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 'update_preimage' AS _change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_value
    FROM orders WHERE o_orderkey % 30 = 0
    UNION ALL
    SELECT 'update_postimage' AS _change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2)) + 1), 2) AS DOUBLE)
             AS total_value
    FROM orders WHERE o_orderkey % 30 = 0
    """,
    tags=("streaming", "manifest", "cdf", "upsert", "scale"),
)
def stream_cdf_update_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-IMAGE PAIRING on the CDF stream (Delta CDF parity for
    updates): the manifest
    protocol stores a MERGE physically as batch+delete in one commit
    (manifest.commit_upsert), and by default the feed surfaces it as
    delete(old)+insert(new). With `keyColumns`, the source pairs the
    two back into Delta's `update_preimage` / `update_postimage` rows
    — classification happens executor-side per RecordBatch via an
    Acero semi-join against the version's own delete-key frame
    (kilobyte-scale by the protocol's design), so pairing adds no
    shuffle and no driver data path.

    The gate commits a base batch (o_orderkey % 3 = 0), then ONE
    atomic upsert bumping v by 1 for every o_orderkey % 30 = 0 (a
    subset of existing keys); the stream drains the whole log in one
    catch-up trigger (a fresh stream's first trigger is deliberately
    uncapped — manifest_stream.py; per-version slicing of the same
    log is pinned equivalent in tests/test_cdf_stream_model.py). The
    sink aggregate must carry the base rows as 'insert', the OLD
    upserted values as 'update_preimage', and the NEW values (old +
    1) as 'update_postimage' — a mispair, a missed preimage, or a
    postimage carrying the old value all hash-fail against the
    three-branch oracle."""
    from .. import streaming
    from ..sources import manifest_cdf_stream
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", dec2(F.col("o_totalprice")).alias("v")
    )
    table, sink, ckpt = fresh_dirs(sf_dir, "cdfpair", "cdfpair_sink", "cdfpair_ckpt")
    streaming.write_batch_partition(
        o.filter(F.col("o_orderkey") % 3 == 0), table, 0
    )
    manifest.commit_batch(spark, table, 0)
    manifest.commit_upsert(
        spark,
        table,
        o.filter(F.col("o_orderkey") % 30 == 0).withColumn(
            "v", dec2(F.col("v") + 1)
        ),
        ["o_orderkey"],
        batch_id=1,
        delete_id=0,
    )
    changes = manifest_cdf_stream.load(
        spark, table, "o_orderkey bigint, v decimal(12,2), _change_type string",
        startingVersion=0, keyColumns="o_orderkey",
    )
    return (
        streaming.run_stream_to_parquet(changes, sink, ckpt)
        .groupBy("_change_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.round(F.sum("v"), 2).cast("double").alias("total_value"),
        )
    )


@register(
    "mv_manifest_schema_enforcement",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
             AS total_price,
           CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
             AS n_channelled,
           TRUE AS bad_writes_refused
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("incremental", "manifest", "schema", "scale"),
)
def mv_manifest_schema_enforcement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-side SCHEMA ENFORCEMENT on the manifest table (the public
    Delta split: writes VALIDATE against the table, reads MERGE):
    `write_and_commit_batch(enforce_schema=True)` refuses a batch that
    flips a shared column's type or drops a table column BEFORE any
    bytes land — one parquet-footer union over the current snapshot,
    no data scan — while an additive nullable column passes and
    surfaces table-wide through the merged read with typed nulls.

    The gate writes orders in two halves: the second adds an
    `o_channel` column (additive — accepted), then attempts the two
    poison writes (a decimal→string type flip, a dropped column); both
    must refuse with the table's version and partition set UNCHANGED,
    pinned in `bad_writes_refused` alongside the refusal class. The
    merged snapshot's per-priority aggregate (+ the count of rows that
    carry the evolved column) hash-matches the oracle — a guard that
    silently let the flip through would poison every later merged read
    at 100 TB, which is exactly why table formats validate at the
    writer."""
    from .. import streaming
    from ..streaming import manifest

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", dec2(F.col("o_totalprice")).alias("v")
    )
    [table] = fresh_dirs(sf_dir, "schenf")
    manifest.write_and_commit_batch(
        spark, o.filter(F.col("o_orderkey") % 2 == 0), table, 0,
        enforce_schema=True,
    )
    manifest.write_and_commit_batch(
        spark,
        o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
            "o_channel", F.lit("web")
        ),
        table, 1, enforce_schema=True,
    )
    refusals = 0
    try:
        manifest.write_and_commit_batch(
            spark,
            o.withColumn("o_channel", F.lit("x")).withColumn(
                "v", F.col("v").cast("string")
            ),
            table, 2, enforce_schema=True,
        )
    except manifest.SchemaEnforcementError:
        refusals += 1
    try:
        manifest.write_and_commit_batch(
            spark, o, table, 2, enforce_schema=True
        )
    except manifest.SchemaEnforcementError:
        refusals += 1
    ok = (
        refusals == 2
        and manifest.latest_version(spark, table) == 1
        and streaming.list_batch_partitions(spark, table) == [0, 1]
    )
    snap = manifest.read_snapshot_rows(spark, table, merge_schema=True)
    return snap.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("v"), 2).cast("double").alias("total_price"),
        F.count("o_channel").cast("bigint").alias("n_channelled"),
        F.lit(ok).alias("bad_writes_refused"),
    )
