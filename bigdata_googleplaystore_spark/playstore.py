"""Reference-parity module: the five "Parts" of the reference pipeline as
pure DataFrame -> DataFrame functions plus their sinks.

Reference: /root/reference/src/main/scala/tiago/cebola/challenge.scala
(cited below as C:NN). This is a re-expression of the reference's *query
semantics* in idiomatic ANSI-safe PySpark, not a port: where the reference
leans on Spark 3.x non-ANSI implicit string->double coercion over its
dirty CSV (SURVEY.md §1.2), this module uses explicit `try_cast` so the
same results come out under PySpark 4's default ANSI mode.

Bug-for-bug behaviors deliberately preserved (SURVEY.md §7.0):
- Part 2 sorts Rating as a *string* (lexicographic): the raw CSV schema
  infers all-string, so `desc("Rating")` compares text (C:103).
- Part 3 fills Rating nulls/NaNs to 0.0 — the `.na.fill(0)` at C:143 runs
  while Rating (double) and Reviews (long) are the only numeric columns in
  scope, overriding the "Default null" spec comment at C:125.
- Part 3's `K`-size branch (C:145) is dead on the real dataset (sizes use
  lowercase `k`), and is kept verbatim.

Dropped as a no-op: the reference's `dropDuplicates("App")` after
`groupBy("App")` (C:166) changes no rows, but Spark plans it as a Sort and
two SortAggregates of `first()` over every app, so Part 3 omits it.

Golden oracles: the reference's committed outputs under
/root/reference/src/main/resources/ (best_apps.csv,
googleplaystore_cleaned.gz, googleplaystore_metrics.gz) — diffed in
tests/test_playstore_parity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CSV_DELIMITER = "§"  # C:11 csvWritingProperties

# Inferred-schema memo for read_playstore_csv, keyed on the file identity
# (path, mtime_ns, size) — the load_table schema-memo pattern (r14,
# verdict item 4): CSV schema inference reads the whole file an extra
# time PER CALL, and the inference RESULT is what is load-bearing for
# reference parity (on the real file it yields all-string columns, which
# drives Part 2's lexicographic sort), not the act of re-inferring an
# unchanged file. Reusing the memoized inferred schema is
# parity-preserving by construction — it is exactly the schema inference
# would return for the identical bytes — and removes the per-run
# double-read (the source of the pipeline's residual timing bimodality).
_CSV_SCHEMA_MEMO: dict[tuple[str, int, int], object] = {}


def read_playstore_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a Play-Store-shaped CSV the way the reference does: header on,
    schema inferred (C:10, C:16-18). On the real file inference yields
    all-string columns — load-bearing for Part 2's lexicographic sort.
    The inferred schema is memoized per file identity (see note above)."""
    import os

    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        # globs/directories: fall back to plain per-call inference
        return spark.read.options(header=True, inferSchema=True).csv(path)
    sch = _CSV_SCHEMA_MEMO.get(key)
    if sch is None:
        df = spark.read.options(header=True, inferSchema=True).csv(path)
        _CSV_SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.options(header=True).schema(sch).csv(path)


def _dbl(c: Column) -> Column:
    """ANSI-safe stand-in for the reference's implicit string->double
    coercion: null on garbage instead of CAST_INVALID_INPUT."""
    return c.try_cast("double")


# ---------------------------------------------------------------------------
# Part 1 — averageSentimentPolarityByApp (C:80-88)
# ---------------------------------------------------------------------------


def average_sentiment_polarity_by_app(user_reviews: DataFrame) -> DataFrame:
    """(App, Average_Sentiment_Polarity) with 0.0 for null *and* NaN.

    `avg` ignores nulls but is poisoned by NaN ('nan' strings cast to NaN,
    not null), so groups containing any NaN average to NaN; `na.fill(0)`
    replaces both, which is why the reference's Part1 schema shows
    `nullable = false` (C:86, SURVEY.md §3.4)."""
    return (
        user_reviews.groupBy("App")
        .agg(
            F.avg(_dbl(F.col("Sentiment_Polarity")))
            .cast("double")
            .alias("Average_Sentiment_Polarity")
        )
        .na.fill(0)
        .select("App", "Average_Sentiment_Polarity")
    )


# ---------------------------------------------------------------------------
# Part 2 — generateBestAppsCSV (C:100-113)
# ---------------------------------------------------------------------------


def best_apps(play_store: DataFrame) -> DataFrame:
    """Apps with Rating >= 4.0, sorted descending *lexicographically*.

    The filter replicates the observed physical condition
    `isnotnull(Rating) AND NOT isnan(cast Rating) AND cast(Rating) >= 4.0`
    (C:102); the sort key stays the raw string column (C:103), so e.g. a
    shifted-row Rating of "19" passes the filter but sorts after "4.0"."""
    rating = _dbl(F.col("Rating"))
    return play_store.filter(
        F.col("Rating").isNotNull() & ~F.isnan(rating) & (rating >= 4.0)
    ).orderBy(F.desc("Rating"))


def generate_best_apps_csv(
    spark: SparkSession, play_store: DataFrame, out_dir: str
) -> DataFrame:
    """Part 2 sink + read-back: write `§`-delimited header CSV (overwrite),
    then re-read the directory (C:104-112). The returned frame is *not*
    byte-identical to the input — Spark's CSV writer trims cell whitespace
    and the re-read re-infers a cleaner schema (Rating becomes double)."""
    best_apps(play_store).write.options(header=True, sep=CSV_DELIMITER).mode(
        "overwrite"
    ).csv(out_dir)
    return (
        spark.read.options(header=True, inferSchema=True)
        .option("sep", CSV_DELIMITER)
        .csv(out_dir)
    )


# ---------------------------------------------------------------------------
# Part 3 — groupByAppAndStandardize (C:139-167)
# ---------------------------------------------------------------------------


def parse_rating(c: Column) -> Column:
    """C:141-142: NaN -> null, else double; garbage text -> null. (The
    subsequent na.fill(0) turns all of these into 0.0 — see Part 3.)"""
    d = _dbl(c)
    return F.when(~F.isnan(d), d).otherwise(F.lit(None))


def parse_size_mb(c: Column) -> Column:
    """C:144-146: '19M' -> 19.0; uppercase-'K' branch kept verbatim though
    dead on the real data (sizes use lowercase 'k' -> null)."""
    return (
        F.when(c.endswith("M"), _dbl(F.regexp_extract(c, r"^(\d+(?:\.\d+)?)M", 1)))
        .otherwise(
            F.when(
                c.endswith("K"),
                _dbl(F.regexp_extract(c, r"^(\d+(?:\.\d+)?)K", 1)) / 1024.0,
            ).otherwise(F.lit(None))
        )
    )


def parse_price_eur(c: Column) -> Column:
    """C:147-149: '$4.99' -> round(4.99 * 0.9, 2) euros; bare 0 -> 0.0;
    anything else -> null."""
    return (
        F.when(
            c.contains("$"),
            F.round(_dbl(F.regexp_extract(c, r"^\$(\d+(\.\d+)?)", 1)) * F.lit(0.9), 2),
        )
        .otherwise(F.when(_dbl(c) == 0, _dbl(c)).otherwise(F.lit(None)))
    )


def parse_last_updated(c: Column) -> Column:
    """C:150: to_date with 'MMMM d, yyyy', made total via `try_to_date` —
    unparseable values (shifted rows put version strings here) and
    calendar-invalid dates ('February 31') yield null under ANSI instead
    of raising, matching Spark 3.x non-ANSI `to_date` on this dataset.
    (A month-name regex guard is NOT sufficient: it passes strings whose
    *day* is invalid, which still raise — caught by the hypothesis suite.)"""
    return F.try_to_date(c, "MMMM d, yyyy")


def group_by_app_and_standardize(play_store: DataFrame) -> DataFrame:
    """Part 3: clean/cast the 13 columns, then collapse to one row per App
    (collect_list of categories, lexicographic/numeric max elsewhere).

    Column-op order matters: the `.na.fill(0)` runs immediately after the
    Reviews cast (C:143), when Rating and Reviews are the only numeric
    columns — so Rating's nulls become 0.0 (the committed parquet has
    1,465 Rating zeros and zero nulls; SURVEY.md §2.4 A6)."""
    cleaned = (
        play_store.withColumn("Rating", parse_rating(F.col("Rating")))
        .withColumn("Reviews", F.col("Reviews").try_cast("long"))
        .na.fill(0)
        .withColumn("Size", parse_size_mb(F.col("Size")))
        .withColumn("Price", parse_price_eur(F.col("Price")))
        .withColumn("Last_Updated", parse_last_updated(F.col("Last Updated")))
        .withColumn("Genres", F.split(F.col("Genres"), ";"))
    )
    return (
        cleaned.groupBy("App")
        .agg(
            F.collect_list("Category").alias("Categories"),
            F.max("Rating").alias("Rating"),
            F.max("Reviews").alias("Reviews"),
            F.max("Size").alias("Size"),
            F.max("Installs").alias("Installs"),
            F.max("Type").alias("Type"),
            F.max("Price").alias("Price"),
            F.max("Content Rating").alias("Content_Rating"),
            F.max("Genres").alias("Genres"),
            F.max("Last_Updated").alias("Last_Updated"),
            F.max("Current Ver").alias("Current_Version"),
            F.max("Android Ver").alias("Minimum_Android_Version"),
        )
        # the reference's dropDuplicates("App") here (C:166) is omitted:
        # groupBy("App") already leaves one row per App
        .select(
            "App",
            "Categories",
            "Rating",
            "Reviews",
            "Size",
            "Installs",
            "Type",
            "Price",
            "Content_Rating",
            "Genres",
            "Last_Updated",
            "Current_Version",
            "Minimum_Android_Version",
        )
    )


# ---------------------------------------------------------------------------
# Part 4 — cleanGooglePlayStoreData (C:183-197)
# ---------------------------------------------------------------------------


def clean_google_play_store_data(
    spark: SparkSession, df_1: DataFrame, df_3: DataFrame, out_dir: str
) -> DataFrame:
    """Left-join Part 3 with Part 1 on App (dropping the right-side key by
    Column reference, C:185), sink as gzip parquet, read back. Catalyst
    broadcasts the small build side here; at scale AQE picks SMJ —
    no engine work either way (SURVEY.md §2.5 J1). The read-back takes
    the written frame's schema, so it runs no footer-inference job."""
    joined = df_3.join(df_1, df_1["App"] == df_3["App"], "left").drop(df_1["App"])
    joined.write.option("compression", "gzip").mode("overwrite").parquet(out_dir)
    return spark.read.schema(joined.schema).parquet(out_dir)


# ---------------------------------------------------------------------------
# Part 5 — getGooglePlayStoreMetricsByGenre (C:212-230)
# ---------------------------------------------------------------------------


def metrics_by_genre(df_4: DataFrame) -> DataFrame:
    """Explode Genres -> per-genre app count, average rating, average
    sentiment polarity. Plain `explode` (C:213) drops null/empty Genre
    arrays — Catalyst makes that explicit as a `size(Genres)>0` filter."""
    return (
        df_4.withColumn("Genre", F.explode(F.col("Genres")))
        .groupBy("Genre")
        .agg(
            F.count("*").alias("Count"),
            F.avg("Rating").alias("Average_Rating"),
            F.avg("Average_Sentiment_Polarity").alias("Average_Sentiment_Polarity"),
        )
    )


def get_google_play_store_metrics_by_genre(
    spark: SparkSession, df_4: DataFrame, out_dir: str
) -> DataFrame:
    """Part 5 sink + read-back: gzip parquet (C:219-229), read back with
    the written frame's schema (no footer-inference job)."""
    metrics = metrics_by_genre(df_4)
    metrics.write.option("compression", "gzip").mode("overwrite").parquet(out_dir)
    return spark.read.schema(metrics.schema).parquet(out_dir)
