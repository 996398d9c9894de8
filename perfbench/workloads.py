"""The benchmark's workloads: each is a list of operations, and one pass
runs every operation once, in order. An operation is one call into a layer
of the engine plus the action that materializes its result; its check
compares that result with an oracle and never runs inside the timed
region.

Operations bracket their driver-side construction and their action with
`ctx.phase("build")` / `ctx.phase("action")`. Untimed runs make those
no-ops; the traced run tags each phase with its own Spark job group.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field

import check
import gen

# Scale factors of the generated tables. etl_small is fixed-cost bound: at
# this size each query's planning, codegen and job scheduling outweigh its
# data work. llm_corpus is data bound: its corpus is large enough that
# shuffles, windows and the Python-worker boundary take most of a warm
# pass (perfbench/NOTES.md, traced run).
ETL_SF = 0.01
LLM_SF = 0.05

ETL_QUERIES = ["q3_shipping_priority"]
LLM_QUERIES = ["dedup_ngram_jaccard", "embedding_covariance"]
# The substring-deduplicated corpus is this pipeline's product: it is
# written out as parquet rather than collected.
CORPUS_QUERY = "dedup_exact_substring"


@dataclass
class Ctx:
    """What operations share within one pass."""

    spark: object
    inputs: dict  # name -> path of the located inputs
    out: str  # fresh directory for this pass's writes
    expected: dict  # op name -> oracle result
    phase: Callable = field(default=lambda name: contextlib.nullcontext())
    state: dict = field(default_factory=dict)


@dataclass
class Op:
    name: str  # "<layer>.<call>"
    run: Callable[[Ctx], object]  # timed
    check: Callable[[Ctx, object], bool]  # untimed


# --------------------------------------------------------------------------
# catalog: registered queries checked against their DuckDB oracle SQL
# --------------------------------------------------------------------------


def _catalog_op(name: str, write: bool = False) -> Op:
    def run(ctx: Ctx):
        from bigdata_googleplaystore_spark.catalog import QUERIES

        with ctx.phase("build"):
            df = QUERIES[name].fn(ctx.spark, ctx.inputs["tables"])
        with ctx.phase("action"):
            if not write:
                return df.toPandas()
            # read back only for the check
            path = os.path.join(ctx.out, name)
            df.write.mode("overwrite").parquet(path)
            return path

    def chk(ctx: Ctx, res) -> bool:
        if write:
            res = ctx.spark.read.parquet(res).toPandas()
        return check.signature(res) == ctx.expected[name]

    return Op(f"catalog.{name}", run, chk)


def catalog_expected(con, tables_dir: str, tables, names: list[str]) -> dict:
    from bigdata_googleplaystore_spark.catalog import oracle_sqls

    sqls = oracle_sqls()
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{t}.parquet')"
        )
    return {n: check.signature(con.execute(sqls[n]).df()) for n in names}


# --------------------------------------------------------------------------
# playstore: the reference pipeline's five Parts on the generated CSV pair
# --------------------------------------------------------------------------


def _ps_read(ctx: Ctx):
    from bigdata_googleplaystore_spark import playstore as ps

    with ctx.phase("build"):
        ctx.state["ps"] = ps.read_playstore_csv(ctx.spark, ctx.inputs["play_csv"])
        ctx.state["rv"] = ps.read_playstore_csv(ctx.spark, ctx.inputs["reviews_csv"])
    return len(ctx.state["ps"].columns), len(ctx.state["rv"].columns)


def _ps_part1(ctx: Ctx):
    from bigdata_googleplaystore_spark import playstore as ps

    with ctx.phase("build"):
        ctx.state["df1"] = ps.average_sentiment_polarity_by_app(ctx.state["rv"])
    with ctx.phase("action"):
        return ctx.state["df1"].toPandas()


def _ps_part2(ctx: Ctx):
    from bigdata_googleplaystore_spark import playstore as ps

    with ctx.phase("build"):
        df2 = ps.generate_best_apps_csv(
            ctx.spark, ctx.state["ps"], os.path.join(ctx.out, "best_apps.csv")
        )
    with ctx.phase("action"):
        return df2.toPandas()


def _ps_part3(ctx: Ctx):
    """As in the reference pipeline, Part 3 is only built here; it runs
    inside Part 4's sink, whose output the Part 3 ground truth checks."""
    from bigdata_googleplaystore_spark import playstore as ps

    with ctx.phase("build"):
        ctx.state["df3"] = ps.group_by_app_and_standardize(ctx.state["ps"])
    return ctx.state["df3"].columns


def _ps_part4(ctx: Ctx):
    from bigdata_googleplaystore_spark import playstore as ps

    with ctx.phase("build"):
        ctx.state["df4"] = ps.clean_google_play_store_data(
            ctx.spark, ctx.state["df1"], ctx.state["df3"],
            os.path.join(ctx.out, "googleplaystore_cleaned.gz"),
        )
    with ctx.phase("action"):
        return ctx.state["df4"].toPandas()


def _ps_part5(ctx: Ctx):
    from bigdata_googleplaystore_spark import playstore as ps

    with ctx.phase("build"):
        df5 = ps.get_google_play_store_metrics_by_genre(
            ctx.spark, ctx.state["df4"],
            os.path.join(ctx.out, "googleplaystore_metrics.gz"),
        )
    with ctx.phase("action"):
        return df5.toPandas()


PART3_COLUMNS = [
    "App", "Categories", "Rating", "Reviews", "Size", "Installs", "Type",
    "Price", "Content_Rating", "Genres", "Last_Updated", "Current_Version",
    "Minimum_Android_Version",
]


def _close(x: float, y: float) -> bool:
    return abs(x - y) <= 1e-9 * max(1.0, abs(y))


def _rows_and_rating(pdf, truth) -> bool:
    return len(pdf) == truth["rows"] and _close(
        float(pdf["Rating"].sum()), truth["rating_sum"]
    )


def _part5_ok(pdf, truth) -> bool:
    got = {
        r.Genre: [int(r.Count), float(r.Average_Rating)]
        for r in pdf.itertuples(index=False)
    }
    return got.keys() == truth.keys() and all(
        got[g][0] == truth[g][0] and _close(got[g][1], truth[g][1]) for g in got
    )


PLAYSTORE_OPS = [
    Op("playstore.read", _ps_read, lambda ctx, r: r == (13, 5)),
    Op("playstore.part1", _ps_part1, lambda ctx, r: (
        len(r) == ctx.expected["playstore"]["part1"]["rows"]
        and _close(float(r["Average_Sentiment_Polarity"].sum()),
                   ctx.expected["playstore"]["part1"]["polarity_sum"]))),
    Op("playstore.part2", _ps_part2, lambda ctx, r: sorted(
        str(a).strip() for a in r["App"]) == ctx.expected["playstore"]["part2"]["apps"]),
    Op("playstore.part3", _ps_part3, lambda ctx, r: r == PART3_COLUMNS),
    Op("playstore.part4", _ps_part4, lambda ctx, r: _rows_and_rating(
        r, ctx.expected["playstore"]["part3"])),
    Op("playstore.part5", _ps_part5, lambda ctx, r: _part5_ok(
        r, ctx.expected["playstore"]["part5"])),
]


# --------------------------------------------------------------------------
# streaming.manifest and sources.manifest_cdf_stream: a table built from
# scratch each pass (writes), then a pruned snapshot read and a change-feed
# drain from version 0 (reads). The drain is the source's batch form
# (`spark.read`), which plans and reads through the same reader as its
# streaming form without a streaming query's start and checkpoint cost.
# --------------------------------------------------------------------------

CDF_SCHEMA = (
    "o_orderkey bigint, o_orderdate timestamp, o_orderpriority string,"
    " o_totalprice double, _change_type string, _commit_version long"
)


def _orders(ctx: Ctx):
    from bigdata_googleplaystore_spark.sources import load_table

    return load_table(ctx.spark, ctx.inputs["tables"], "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )


def _lake_write(ctx: Ctx):
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.streaming import manifest as mf

    table = ctx.state["table"] = os.path.join(ctx.out, "orders_table")
    with ctx.phase("build"):
        o = _orders(ctx)
        early = F.col("o_orderdate") < F.lit(check.SPLIT_DATE)
        deleted = F.col("o_orderkey") % check.DELETE_MOD == check.DELETE_REM
        updated = o.filter(F.col("o_orderkey") % check.UPSERT_MOD == 0)
    with ctx.phase("action"):
        for b, rows in enumerate((o.filter(early), o.filter(~early))):
            mf.write_and_commit_batch(
                ctx.spark, rows, table, b, stats_cols=["o_orderdate"]
            )
        mf.commit_deletes(
            ctx.spark, table, o.filter(deleted).select("o_orderkey"),
            delete_id=0, cutoff=1,
        )
        mf.commit_upsert(
            ctx.spark, table,
            updated.withColumn("o_totalprice", F.col("o_totalprice") + 1),
            ["o_orderkey"], batch_id=2, delete_id=1, stats_cols=["o_orderdate"],
        )
    return mf.latest_version(ctx.spark, table)


def _lake_read(ctx: Ctx):
    from pyspark.sql import functions as F

    from bigdata_googleplaystore_spark.streaming import manifest as mf

    with ctx.phase("build"):
        rows = mf.read_snapshot_rows(
            ctx.spark, ctx.state["table"],
            where_between=("o_orderdate", *check.SNAPSHOT_RANGE),
        )
        agg = rows.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_rows"), F.sum("o_totalprice").alias("total_price")
        )
    with ctx.phase("action"):
        return agg.toPandas()


def _cdf_drain(ctx: Ctx):
    from bigdata_googleplaystore_spark.sources import manifest_cdf_stream

    sink = ctx.state["cdf_sink"] = os.path.join(ctx.out, "cdf_sink")
    with ctx.phase("build"):
        manifest_cdf_stream.register(ctx.spark)
        feed = (
            ctx.spark.read.format("manifest_cdf_stream")
            .schema(CDF_SCHEMA)
            .option("path", ctx.state["table"])
            .option("startingVersion", "0")
            .option("keyColumns", "o_orderkey")
            .load()
        )
    with ctx.phase("action"):
        feed.write.parquet(sink)


def _cdf_feed(ctx: Ctx):
    from pyspark.sql import functions as F

    return ctx.spark.read.parquet(ctx.state["cdf_sink"]).groupBy(
        "_change_type", "_commit_version"
    ).agg(F.count("*").alias("n_rows"), F.sum("o_totalprice").alias("total_price"))


LAKEHOUSE_OPS = [
    Op("manifest.write", _lake_write, lambda ctx, r: r == check.VERSIONS - 1),
    Op("manifest.read", _lake_read, lambda ctx, r: check.frames_close(
        r, ctx.expected["snapshot"], ["o_orderpriority"])),
    Op("cdf.drain", _cdf_drain, lambda ctx, r: check.frames_close(
        _cdf_feed(ctx).toPandas(), ctx.expected["cdf"],
        ["_change_type", "_commit_version"])),
]


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------


@dataclass
class Workload:
    name: str
    sf: float
    tables: tuple[str, ...]  # generated tables
    ops: list[Op]
    queries: list[str]  # catalog queries with DuckDB oracles
    playstore: bool
    lakehouse: bool
    passes: int  # warm passes after the cold pass that make up the job


WORKLOADS = {
    "etl_small": Workload(
        "etl_small", ETL_SF, ("customer", "orders", "lineitem"),
        [_catalog_op(q) for q in ETL_QUERIES] + PLAYSTORE_OPS + LAKEHOUSE_OPS,
        ETL_QUERIES, True, True, 2,
    ),
    "llm_corpus": Workload(
        "llm_corpus", LLM_SF, ("documents", "embeddings"),
        [_catalog_op(q) for q in LLM_QUERIES] + [_catalog_op(CORPUS_QUERY, True)],
        LLM_QUERIES + [CORPUS_QUERY], False, False, 4,
    ),
}


def make_inputs(w: Workload, root: str, seed: int) -> tuple[dict, str]:
    """Generate (or reuse, for an identical seed) the workload's inputs
    under `root`; return their paths and the file holding the oracle
    results."""
    import json

    import duckdb

    done = os.path.join(root, "expected.json")
    tables = os.path.join(root, "tables")
    inputs = {"tables": tables}
    if w.playstore:
        inputs["play_csv"] = os.path.join(root, "playstore", "googleplaystore.csv")
        inputs["reviews_csv"] = os.path.join(
            root, "playstore", "googleplaystore_user_reviews.csv"
        )
    if os.path.exists(done):
        return inputs, done
    gen.write_tables(tables, seed, w.sf, only=w.tables)
    con = duckdb.connect()
    try:
        expected = catalog_expected(con, tables, w.tables, w.queries)
        if w.lakehouse:
            lake = check.lakehouse_expected(con, os.path.join(tables, "orders.parquet"))
            expected.update({k: v.to_dict("list") for k, v in lake.items()})
    finally:
        con.close()
    if w.playstore:
        _, _, expected["playstore"] = gen.write_playstore(
            os.path.join(root, "playstore"), seed
        )
    with open(done + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(done + ".tmp", done)
    return inputs, done


def load_expected(path: str) -> dict:
    """Oracle results as make_inputs stored them: signatures back to
    tuples, lakehouse frames back to pandas."""
    import json

    import pandas as pd

    with open(path) as f:
        expected = json.load(f)
    out = {}
    for k, v in expected.items():
        if k in ("snapshot", "cdf"):
            out[k] = pd.DataFrame(v)
        elif k == "playstore":
            out[k] = v
        else:
            out[k] = (tuple(v[0]), v[1], v[2])
    return out
