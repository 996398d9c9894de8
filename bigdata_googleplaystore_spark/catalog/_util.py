"""Shared helpers for oracle-checked queries.

Floating-point SUMs are accumulation-order-dependent: Spark's partial/final
aggregation order differs from DuckDB's, so `round(sum(double), 2)` can land
on opposite sides of a cent boundary (observed at sf0.01). Worse, casting a
double *product* to decimal disagrees between engines too: Spark rounds the
double's shortest decimal representation (Java `BigDecimal.valueOf`), DuckDB
rounds the exact binary value — near-midpoint products split.

The robust scheme, used by every money aggregate here:
1. cast SOURCE columns to decimal — testdata money columns are exact
   2-decimal values, so both engines produce the identical decimal;
2. do the arithmetic in decimal (exact, associative in both engines);
3. sum the decimal (exact), then cast to double and round for a stable
   output type.

Factors like (1 - l_discount) are cast to DECIMAL(4,2) *after* the double
subtraction: the result is within 1 ulp of a clean 2-decimal value, far from
any rounding midpoint, so both engines agree.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import scratch_dir

# Unique suffixes for cache-preserving view bindings (see sql_bind).
_BOUND_VIEW_SEQ = itertools.count()


def sql_bind(spark, sql: str, **dfs):
    """`spark.sql` with `{name}` DataFrame bindings that PRESERVES caller
    caches: pyspark's parameter formatter registers each
    bound frame under an auto temp view and DROPS it after parsing, and
    that drop also UNCACHES the frame's plan if it was persisted — so a
    caller's `persist()` of a shared `load_table` frame would silently
    vanish the next time a catalog query bound that table. Cached frames
    are therefore bound by a unique engine-prefixed temp-view name
    instead (catalog view resolution is the standard cached path; the
    view is never dropped — dropTempView would uncache the caller's
    frame, and the leaked catalog entry is a few bytes). Uncached frames
    keep the plain parameter binding."""
    params = {}
    for k, df in dfs.items():
        if df.is_cached:
            name = f"_bgps_bound_{k}_{next(_BOUND_VIEW_SEQ)}"
            df.createOrReplaceTempView(name)
            sql = sql.replace("{%s}" % k, name)
        else:
            params[k] = df
    return spark.sql(sql, **params)


def dec2(expr: Column, precision: int = 12) -> Column:
    """Cast a clean-2-decimal double expression to an exact decimal."""
    return expr.cast(f"decimal({precision},2)")


def money_sum(dec_expr: Column, scale: int = 2) -> Column:
    """Exact decimal sum, rounded IN DECIMAL (half-up, same as DuckDB's
    half-away-from-zero on exact .5), cast to double last. Rounding after a
    double cast would re-introduce shortest-string-vs-binary divergence."""
    return F.round(F.sum(dec_expr), scale).cast("double")


# SQL fragments (DuckDB) mirroring the decimal scheme above.
REVENUE_DEC_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))"
)
CHARGE_DEC_SQL = f"{REVENUE_DEC_SQL} * CAST(1 + l_tax AS DECIMAL(4,2))"


def money_sum_sql(dec_expr_sql: str, scale: int = 2) -> str:
    return f"CAST(round(sum({dec_expr_sql}), {scale}) AS DOUBLE)"


def revenue_dec(ep: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """(extendedprice * (1 - discount)) as exact decimal."""
    return dec2(F.col(ep)) * dec2(F.lit(1) - F.col(disc), 4)


def file_stream(
    spark: SparkSession,
    df: DataFrame,
    tag: str,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """`df` replayed as a bounded parquet file stream: written as 4 files
    to `scratch_dir(tag, sf_dir)` (overwrite), its schema re-read from
    the files, and a `readStream` opened over them. With
    `max_files_per_trigger=1` the stream crosses at least 4
    micro-batches, so per-batch state genuinely accumulates; without it
    one trigger drains the whole source."""
    src = scratch_dir(tag, sf_dir)
    df.repartition(4).write.mode("overwrite").parquet(src)
    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src)
