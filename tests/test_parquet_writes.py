"""What the engine's Parquet writes cost and produce: the session codec
(zstd) and v2 data pages reach every engine writer while the
reference-parity sinks keep gzip, a lakehouse batch commit runs one Spark
job (its stats are observed on the write), and the Part 4/5 read-backs
plan without a footer job."""

from __future__ import annotations

import glob
import itertools

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from bigdata_googleplaystore_spark import playstore
from bigdata_googleplaystore_spark.sources import manifest_log
from bigdata_googleplaystore_spark.streaming import manifest

_GROUPS = itertools.count()


def _files(path: str) -> list[str]:
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert files, f"no parquet files under {path}"
    return files


def _codecs(path: str) -> set[str]:
    """The codec of the first column chunk of every data file under `path`."""
    return {
        pq.ParquetFile(f).metadata.row_group(0).column(0).compression
        for f in _files(path)
    }


def _encodings(path: str, column: str | None = None) -> set[str]:
    """Every encoding in the footers under `path`, of one column or of all."""
    out = set()
    for f in _files(path):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                chunk = md.row_group(g).column(c)
                if column in (None, chunk.path_in_schema):
                    out.update(chunk.encodings)
    return out


# Encodings only the v2 page writer uses: where a dictionary does not pay
# off, the v1 writer falls back to PLAIN instead.
_V2_ONLY = {"DELTA_BINARY_PACKED", "DELTA_LENGTH_BYTE_ARRAY", "DELTA_BYTE_ARRAY"}


def _count_and_sum(spark, path: str, column: str) -> set[tuple[int, int]]:
    """(rows, sum of `column`) as Spark, pyarrow (the change-feed source's
    executors) and DuckDB (the oracles) read `path`: one pair when the
    three agree."""
    t = pq.read_table(path)
    s = spark.read.parquet(path).agg(F.count("*"), F.sum(column)).first()
    d = duckdb.sql(
        f"SELECT count(*), sum({column}) FROM read_parquet('{path}/*.parquet')"
    ).fetchone()
    return {(t.num_rows, pc.sum(t[column]).as_py()), tuple(s), tuple(d)}


def _group_jobs(spark, group: str) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs_of(spark, fn):
    """(fn()'s result, the ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-parquet-writes-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, _group_jobs(spark, group)


def _orders(spark, n=300):
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 90).cast("int"))
        .alias("o_orderdate"),
        F.concat(F.lit("p"), (F.col("id") % 5).cast("string")).alias("prio"),
    )


_PLAY_COLS = [
    "App", "Category", "Rating", "Reviews", "Size", "Installs", "Type",
    "Price", "Content Rating", "Genres", "Last Updated", "Current Ver",
    "Android Ver",
]


def _play_store(spark):
    """A Play-Store-shaped raw frame (all-string, like the inferred CSV):
    one app listed under two categories, one with dirty values."""
    rows = [
        ("A", "GAME", "4.1", "120", "3.0M", "1,000+", "Free", "0",
         "Everyone", "Action;Puzzle", "January 7, 2018", "1.0", "4.0 and up"),
        ("A", "FAMILY", "4.3", "150", "3.0M", "1,000+", "Free", "0",
         "Everyone", "Action;Puzzle", "January 7, 2018", "1.0", "4.0 and up"),
        ("B", "TOOLS", "NaN", "9", "512k", "100+", "Paid", "$1.99",
         "Teen", "Tools", "March 3, 2017", "2.1", "5.0 and up"),
        ("C", "ART", None, "x", "Varies with device", "10+", "Free", "0",
         "Everyone", "Art & Design", "June 1, 2016", "Varies", "Varies"),
    ]
    return spark.createDataFrame(rows, ", ".join(f"`{c}` string" for c in _PLAY_COLS))


def test_engine_parquet_is_zstd_and_parity_sinks_stay_gzip(spark, tmp_path):
    """Every engine writer stores zstd with v2 pages, so the unique
    `o_orderkey` longs are delta-packed rather than PLAIN; Parts 4 and 5
    keep gzip under v2 pages; Spark, pyarrow and DuckDB read them all."""
    table = str(tmp_path / "tbl")
    o = _orders(spark)
    manifest.write_and_commit_batch(spark, o, table, 0)
    manifest.commit_deletes(
        spark, table, o.where("o_orderkey < 10").select("o_orderkey"), delete_id=0
    )
    plain = str(tmp_path / "plain")
    o.write.parquet(plain)
    for path, n, total in (
        (manifest_log.batch_path(table, 0), 300, 299 * 300 // 2),
        (manifest_log.delete_path(table, 0), 10, 9 * 10 // 2),
        (plain, 300, 299 * 300 // 2),
    ):
        assert _codecs(path) == {"ZSTD"}, path
        enc = _encodings(path, "o_orderkey")
        assert "DELTA_BINARY_PACKED" in enc and "PLAIN" not in enc, (path, enc)
        assert _count_and_sum(spark, path, "o_orderkey") == {(n, total)}, path

    df3 = playstore.group_by_app_and_standardize(_play_store(spark))
    df1 = df3.select("App").withColumn("Average_Sentiment_Polarity", F.lit(0.5))
    part4, part5 = str(tmp_path / "cleaned.gz"), str(tmp_path / "metrics.gz")
    df4 = playstore.clean_google_play_store_data(spark, df1, df3, part4)
    df5 = playstore.get_google_play_store_metrics_by_genre(spark, df4, part5)
    for path, df, column in ((part4, df4, "Reviews"), (part5, df5, "Count")):
        assert _codecs(path) == {"GZIP"}, path
        assert _encodings(path) & _V2_ONLY, path
        want = df.agg(F.count("*"), F.sum(column)).first()
        assert _count_and_sum(spark, path, column) == {tuple(want)}, path


def test_v2_pages_reach_a_live_session_and_yield_to_a_write_option(spark, tmp_path):
    """`get_spark` over a session that was created without the engine's
    conf (a caller's own session) switches its writes to v2 pages; a write
    that asks for v1 pages gets them under the v2 default."""
    from bigdata_googleplaystore_spark.session import get_spark

    o = _orders(spark)
    v1, v2, opt = (str(tmp_path / d) for d in ("v1", "v2", "opt"))
    sc = spark.sparkContext
    same_session = dict(
        app_name=sc.appName,
        master=sc.master,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    version = spark.conf.get("parquet.writer.version", None)
    spark.conf.unset("parquet.writer.version")
    try:
        o.write.parquet(v1)
        assert get_spark(**same_session) is spark
        o.write.parquet(v2)
    finally:
        if version is None:
            spark.conf.unset("parquet.writer.version")
        else:
            spark.conf.set("parquet.writer.version", version)
    o.write.option("parquet.writer.version", "v1").parquet(opt)
    assert "PLAIN" in _encodings(v1, "o_orderkey")
    assert "DELTA_BINARY_PACKED" in _encodings(v2, "o_orderkey")
    assert "PLAIN" in _encodings(opt, "o_orderkey")
    assert not _encodings(opt) & _V2_ONLY


def test_batch_commit_runs_one_job_and_records_observed_stats(spark, tmp_path):
    """The batch write is the commit's only job: `_rows` and the zone map
    are observed on it, `_bytes` is a listing, the manifest is a file."""
    table = str(tmp_path / "tbl")
    batch = _orders(spark).where("o_orderkey % 7 != 0")
    _, jobs = _jobs_of(
        spark,
        lambda: manifest.write_and_commit_batch(
            spark, batch, table, 0, stats_cols=["o_orderdate", "prio"]
        ),
    )
    assert len(jobs) == 1
    want = batch.agg(
        F.count("*").alias("n"),
        F.min("o_orderdate").alias("d0"), F.max("o_orderdate").alias("d1"),
        F.min("prio").alias("p0"), F.max("prio").alias("p1"),
    ).first()
    stats = manifest.read_manifest(spark, table)["stats"]["0"]
    assert stats["_rows"] == want["n"]
    assert stats["o_orderdate"] == [str(want["d0"]), str(want["d1"])]
    assert stats["prio"] == [want["p0"], want["p1"]]
    assert stats["_bytes"] == manifest._partition_bytes(spark, table, 0) > 0


def test_batch_stats_observed_inside_foreach_batch(spark, tmp_path):
    """A commit made from a streaming foreachBatch observes its stats on
    the micro-batch write the same way a batch caller's commit does."""
    src, table = str(tmp_path / "src"), str(tmp_path / "tbl")
    _orders(spark, 120).write.parquet(src)

    def commit(batch_df, batch_id):
        manifest.write_and_commit_batch(
            spark, batch_df, table, batch_id, stats_cols=["o_orderkey"]
        )

    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .parquet(src)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    m = manifest.read_manifest(spark, table)
    assert m["batch_ids"] == [0]
    assert m["stats"]["0"]["_rows"] == 120
    assert m["stats"]["0"]["o_orderkey"] == [0, 119]


@pytest.mark.parametrize("part", [4, 5])
def test_part_readback_takes_written_schema_without_a_job(
    spark, tmp_path, monkeypatch, part
):
    """Parts 4 and 5 read their sink back with the written frame's schema:
    the result's schema is what footer inference would give, and building
    the read-back (everything after the sink's write) runs no job."""
    df3 = playstore.group_by_app_and_standardize(_play_store(spark))
    df1 = df3.select("App").withColumn("Average_Sentiment_Polarity", F.lit(0.5))
    out = str(tmp_path / f"part{part}")
    if part == 4:
        run = lambda: playstore.clean_google_play_store_data(spark, df1, df3, out)  # noqa: E731
    else:
        df4 = playstore.clean_google_play_store_data(
            spark, df1, df3, str(tmp_path / "df4")
        )
        run = lambda: playstore.get_google_play_store_metrics_by_genre(  # noqa: E731
            spark, df4, out
        )

    jobs_at_write_end = []
    write_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        write_parquet(self, path, *args, **kwargs)
        if path == out:
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            jobs_at_write_end.extend(_group_jobs(spark, group))

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    got, jobs = _jobs_of(spark, run)
    assert jobs_at_write_end, "the sink write did not run"
    assert sorted(jobs) == sorted(jobs_at_write_end)
    assert got.schema == spark.read.parquet(out).schema
    assert got.count() == spark.read.parquet(out).count()
