"""Opt-in FULL-GATE sweep at sf0.1 (round-3 verdict item 6).

The default test run exercises every oracle at sf0.001
(test_oracle_parity.py) and the driver gates at sf0.01; scale-dependent
divergence (accumulation-order float drift, threshold-boundary rounding,
recall cliffs) can hide until sf0.1. This module promotes the previously
manual `SIM_SF_DIR=/root/testdata/sf0.1 python tools/driver_sim.py` sweep
into the test suite as ONE command:

    SWEEP=1 python -m pytest tests/test_sweep_sf01.py -q

Per-query pass/fail lines land in the test log; the comparison is the
same exact (no-tolerance) column/row/value check as test_oracle_parity,
imported from there so the two can never drift. Skipped (not silently
passed) unless SWEEP=1, because the sf0.1 pass takes ~15 minutes.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_googleplaystore_spark.catalog import QUERIES

from test_oracle_parity import (  # rootdir import, same as pytest collects it
    ORACLE_QUERIES,
    ROWS_ONLY_QUERIES,
    normalize_rows,
)

SWEEP_SF_DIR = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.1")

pytestmark = pytest.mark.skipif(
    not os.environ.get("SWEEP"),
    reason="full-gate sf0.1 sweep is opt-in: SWEEP=1 pytest tests/test_sweep_sf01.py",
)


@pytest.fixture(scope="module")
def duck_sweep():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SWEEP_SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_sweep_query_matches_oracle(spark, duck_sweep, name):
    qd = QUERIES[name]
    sdf = qd.fn(spark, SWEEP_SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    spark.catalog.clearCache()  # persist()-leak hygiene, as in driver_sim

    res = duck_sweep.execute(qd.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    _, nrows_s = normalize_rows(scols, srows)
    _, nrows_d = normalize_rows(dcols, drows)
    assert len(nrows_s) == len(nrows_d), (
        f"{name}: row count spark={len(nrows_s)} duckdb={len(nrows_d)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(nrows_s, nrows_d)) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatching rows; first: {mismatches[:3]}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_sweep_rows_only_query_runs(spark, name):
    qd = QUERIES[name]
    sdf = qd.fn(spark, SWEEP_SF_DIR)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0
    spark.catalog.clearCache()


def _synth_vocab(spark, n: int):
    """n distinct words with a shared prefix and base-8 digit tails."""
    digits = (
        "transform(sequence(6, 0, -1),"
        " p -> chr(97 + (CAST(id / CAST(pow(8, p) AS BIGINT) AS BIGINT) % 8)))"
    )
    return spark.range(n).select(
        F.concat(F.lit("the"), F.expr(f"concat_ws('', {digits})")).alias("word"),
        (F.lit(1) + (F.col("id") % 97)).cast("bigint").alias("freq"),
    )


def test_sweep_distributed_bpe_above_cutover_matches_reference(spark):
    """Opt-in (slow, ~20 s) regression gate for the DISTRIBUTED BPE merge
    loop ABOVE the 65,536-row driver cutover — the web-scale path the
    default suite only pins at toy size via driver_vocab_limit=0. Uses
    the scale probe's deterministic synthetic vocab at 2x the cutover and
    asserts merge-for-merge equality with the driver-side reference
    (same argmax tiebreak, same greedy fold). Companion to the wall-clock
    table in COVERAGE.md."""
    from bigdata_googleplaystore_spark.operators import bpe

    n = 2 * bpe.DRIVER_VOCAB_CUTOVER
    words = _synth_vocab(spark, n)
    wf = {r["word"]: int(r["freq"]) for r in words.collect()}
    want = bpe._learn_merges_local(wf, 8, 2)
    got = [
        (r["merge_rank"], r["left"], r["right"], int(r["pair_freq"]))
        for r in bpe.learn_bpe_merges(
            spark, words, n_merges=8, min_freq=2, driver_vocab_limit=0
        ).collect()
    ]
    assert got == want
