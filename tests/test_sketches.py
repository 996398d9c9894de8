"""Unit tests for operators/sketches.py: KMV/theta cardinality sketches
and the count-min frequency sketch — estimator correctness, the
mergeability laws the 100 TB story rests on, and partitioning
invariance (a sketch must not care how the data was laid out)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_googleplaystore_spark.operators import sketches


def _value_frame(spark, n, parts=4, prefix="v"):
    return spark.range(n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("v"),
        F.lit("g").alias("g"),
    ).repartition(parts)


def test_kmv_exact_when_not_full(spark):
    df = _value_frame(spark, 40)
    sk = sketches.kmv_sketch(df, ["g"], "v", k=64)
    est = sketches.kmv_estimate(sk, ["g"], k=64).collect()[0]
    assert est["n_seen"] == 40
    assert est["kmv_est"] == 40.0
    assert est["theta"] == 1.0


def test_kmv_estimate_within_relative_error(spark):
    # k=256 -> expected rel stderr ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    n = 20_000
    df = _value_frame(spark, n)
    sk = sketches.kmv_sketch(df, ["g"], "v", k=256)
    est = sketches.kmv_estimate(sk, ["g"], k=256).collect()[0]["kmv_est"]
    assert abs(est - n) / n < 0.25


def test_kmv_ignores_duplicates_and_nulls(spark):
    base = _value_frame(spark, 500)
    dups = base.union(base).union(
        base.limit(10).select(F.lit(None).cast("string").alias("v"), "g")
    )
    sk_base = sketches.kmv_sketch(base, ["g"], "v", k=64)
    sk_dups = sketches.kmv_sketch(dups, ["g"], "v", k=64)
    assert sorted(r["h"] for r in sk_base.collect()) == sorted(
        r["h"] for r in sk_dups.collect()
    )


def test_kmv_partitioning_invariance(spark):
    # same data, three layouts -> bit-identical sketch
    hashes = []
    for parts in (1, 7, 32):
        df = _value_frame(spark, 3_000, parts=parts)
        sk = sketches.kmv_sketch(df, ["g"], "v", k=128, shards=16)
        hashes.append(sorted(r["h"] for r in sk.collect()))
    assert hashes[0] == hashes[1] == hashes[2]
    assert len(hashes[0]) == 128


def test_kmv_merge_equals_sketch_of_union(spark):
    a = _value_frame(spark, 2_000, prefix="a")
    b = _value_frame(spark, 2_000, prefix="b")
    # overlap: b also contains a's first 500
    b = b.union(_value_frame(spark, 500, prefix="a"))
    sk_a = sketches.kmv_sketch(a, ["g"], "v", k=128)
    sk_b = sketches.kmv_sketch(b, ["g"], "v", k=128)
    merged = sketches.kmv_merge([sk_a, sk_b], ["g"], k=128)
    direct = sketches.kmv_sketch(a.union(b), ["g"], "v", k=128)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in direct.collect()
    )


def test_theta_set_ops_exact_when_sketches_not_full(spark):
    # 300 + 300 with 100 shared, k=1024 -> theta = 1.0, estimates EXACT
    a = _value_frame(spark, 300, prefix="x")
    b = _value_frame(spark, 200, prefix="y").union(
        _value_frame(spark, 100, prefix="x")
    )
    sk_a = sketches.kmv_sketch(a, ["g"], "v", k=1024).select("u", "h")
    sk_b = sketches.kmv_sketch(b, ["g"], "v", k=1024).select("u", "h")
    row = sketches.theta_set_ops(sk_a, sk_b, k=1024).collect()[0]
    assert row["theta"] == 1.0
    assert row["union_est"] == 500.0
    assert row["inter_est"] == 100.0


def test_theta_set_ops_estimates_overlap(spark):
    # 10k + 10k with 5k shared; k=256 -> ~6% stderr, allow 4 sigma
    a = _value_frame(spark, 10_000, prefix="s")
    b = _value_frame(spark, 5_000, prefix="t").union(
        _value_frame(spark, 5_000, prefix="s")
    )
    sk_a = sketches.kmv_sketch(a, ["g"], "v", k=256).select("u", "h")
    sk_b = sketches.kmv_sketch(b, ["g"], "v", k=256).select("u", "h")
    row = sketches.theta_set_ops(sk_a, sk_b, k=256).collect()[0]
    assert abs(row["union_est"] - 15_000) / 15_000 < 0.25
    assert abs(row["inter_est"] - 5_000) / 5_000 < 0.40


@pytest.fixture()
def token_counts(spark):
    # skewed counts: token ti appears (i+1) times, t99 planted heavy
    rows = [(f"t{i}", i + 1) for i in range(100)] + [("t99", 10_000)]
    df = spark.createDataFrame(rows, "tok string, n long")
    return df.groupBy("tok").agg(F.sum("n").cast("long").alias("n"))


def test_cms_never_underestimates(spark, token_counts):
    matrix = sketches.cms_build(token_counts, "tok", "n", depth=4, width=64)
    res = sketches.cms_lookup(
        matrix, token_counts, "tok", depth=4, width=64
    ).collect()
    for r in res:
        assert r["cms_est"] >= r["n"], r


def test_cms_exact_on_wide_matrix(spark, token_counts):
    # width >> vocabulary -> collisions essentially impossible across
    # 4 independent rows; the min over rows recovers exact counts
    matrix = sketches.cms_build(token_counts, "tok", "n", depth=4, width=4096)
    res = sketches.cms_lookup(
        matrix, token_counts, "tok", depth=4, width=4096
    ).collect()
    assert all(r["cms_est"] == r["n"] for r in res)


def test_cms_merge_linearity(spark, token_counts):
    # split counts arbitrarily in two, build partial matrices, merge:
    # must equal the single-shot matrix cell-for-cell
    part1 = token_counts.where(F.crc32(F.col("tok")) % 2 == 0)
    part2 = token_counts.where(F.crc32(F.col("tok")) % 2 == 1)
    m1 = sketches.cms_build(part1, "tok", "n", depth=4, width=64)
    m2 = sketches.cms_build(part2, "tok", "n", depth=4, width=64)
    merged = sketches.cms_merge(m1.unionByName(m2))
    direct = sketches.cms_build(token_counts, "tok", "n", depth=4, width=64)
    diff = (
        merged.withColumnRenamed("cell", "a")
        .join(direct.withColumnRenamed("cell", "b"), ["row_idx", "bucket"], "full")
        .where(
            F.col("a").isNull() | F.col("b").isNull() | (F.col("a") != F.col("b"))
        )
    )
    assert diff.count() == 0


def test_cms_matrix_is_bounded(spark, token_counts):
    matrix = sketches.cms_build(token_counts, "tok", "n", depth=4, width=64)
    assert matrix.count() <= 4 * 64


def test_cms_inner_product_overestimates_self_join(spark, token_counts):
    matrix = sketches.cms_build(token_counts, "tok", "n", depth=4, width=64)
    est = sketches.cms_inner_product(matrix, matrix).collect()[0]["join_size_est"]
    exact = token_counts.agg(
        F.sum(F.col("n") * F.col("n")).cast("long").alias("x")
    ).collect()[0]["x"]
    assert est >= exact
    # wide matrix -> no collisions -> exact inner product
    wide = sketches.cms_build(token_counts, "tok", "n", depth=4, width=8192)
    est_w = sketches.cms_inner_product(wide, wide).collect()[0]["join_size_est"]
    assert est_w == exact


def test_cms_inner_product_two_tables(spark):
    a = spark.createDataFrame([("k1", 3), ("k2", 2), ("k3", 5)], "k string, n long")
    b = spark.createDataFrame([("k1", 4), ("k3", 1), ("k4", 7)], "k string, n long")
    ma = sketches.cms_build(a, "k", "n", depth=4, width=4096)
    mb = sketches.cms_build(b, "k", "n", depth=4, width=4096)
    est = sketches.cms_inner_product(ma, mb).collect()[0]["join_size_est"]
    assert est == 3 * 4 + 5 * 1  # join size on shared keys


def test_hash_sample_is_deterministic_and_mergeable(spark):
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    s1 = sketches.hash_sample(df, ["id"], 0.1)
    s2 = sketches.hash_sample(df.repartition(13), ["id"], 0.1)
    ids1 = sorted(r["id"] for r in s1.collect())
    assert ids1 == sorted(r["id"] for r in s2.collect())
    # ~10% +- 4 sigma (sqrt(1000*0.9) ~ 30)
    assert 850 <= len(ids1) <= 1150
    # mergeable: sample(part1) U sample(part2) == sample(whole)
    p1 = sketches.hash_sample(df.where(F.col("id") < 5000), ["id"], 0.1)
    p2 = sketches.hash_sample(df.where(F.col("id") >= 5000), ["id"], 0.1)
    assert sorted(
        r["id"] for r in p1.union(p2).collect()
    ) == ids1


def test_kmv_estimate_equals_python_reference_exactly(spark):
    """The estimate is a PURE FUNCTION of the data: an independent
    pure-Python md5 replay must produce the bit-identical float."""
    import hashlib

    vals = [f"w{i}" for i in range(1000)]
    df = spark.createDataFrame([(v, "g") for v in vals], "v string, g string")
    k = 64
    sk = sketches.kmv_sketch(df, ["g"], "v", k=k)
    est = sketches.kmv_estimate(sk, ["g"], k=k).collect()[0]["kmv_est"]
    us = sorted(
        int(hashlib.md5(v.encode()).hexdigest()[:13], 16) / float(1 << 52)
        for v in vals
    )
    assert est == (k - 1) / us[k - 1]


def test_cms_estimates_equal_python_reference_exactly(spark, token_counts):
    import hashlib
    from collections import defaultdict

    depth, width = 4, 64
    rows = {r["tok"]: r["n"] for r in token_counts.collect()}
    matrix = defaultdict(int)
    for tok, n in rows.items():
        for i in range(depth):
            b = int(
                hashlib.md5(f"cms{i}:{tok}".encode()).hexdigest()[:13], 16
            ) % width
            matrix[(i, b)] += n
    want = {
        tok: min(
            matrix[
                (
                    i,
                    int(
                        hashlib.md5(f"cms{i}:{tok}".encode()).hexdigest()[:13], 16
                    )
                    % width,
                )
            ]
            for i in range(depth)
        )
        for tok in rows
    }
    m = sketches.cms_build(token_counts, "tok", "n", depth=depth, width=width)
    got = {
        r["tok"]: r["cms_est"]
        for r in sketches.cms_lookup(
            m, token_counts, "tok", depth=depth, width=width
        ).collect()
    }
    assert got == want


def test_theta_difference_exact_when_not_full(spark):
    a = _value_frame(spark, 300, prefix="x")
    b = _value_frame(spark, 200, prefix="y").union(
        _value_frame(spark, 100, prefix="x")
    )
    sk_a = sketches.kmv_sketch(a, ["g"], "v", k=1024).select("u", "h")
    sk_b = sketches.kmv_sketch(b, ["g"], "v", k=1024).select("u", "h")
    row = sketches.theta_set_ops(sk_a, sk_b, k=1024).collect()[0]
    assert row["diff_ab_est"] == 200.0  # |A \ B| exactly
    # identity below theta: |A\B| + |A∩B| = clipped |A|
    assert row["diff_ab_est"] + row["inter_est"] == 300.0


def test_cms_absent_item_reports_zero(spark, token_counts):
    # an item never added to the sketch must report cms_est = 0 (its
    # cells are empty), not vanish from the output or min over only
    # the populated rows
    matrix = sketches.cms_build(token_counts, "tok", "n", depth=4, width=4096)
    probes = spark.createDataFrame([("never-seen",), ("t5",)], "tok string")
    res = {
        r["tok"]: r["cms_est"]
        for r in sketches.cms_lookup(
            matrix, probes, "tok", depth=4, width=4096
        ).collect()
    }
    assert set(res) == {"never-seen", "t5"}
    assert res["never-seen"] == 0
    assert res["t5"] == 6


@pytest.mark.parametrize(
    "name, tag",
    [
        ("sketch_cms_merge_partials", "cmsstate"),
        ("sketch_kmv_merge_partials", "kmvstate"),
    ],
)
def test_merge_partials_gates_commit_every_partial(spark, sf_dir, name, tag):
    """The two sketch-merge gates publish their four per-batch partials
    through the state table's manifest, and read n_partials from it."""
    from bigdata_googleplaystore_spark.catalog.registry import QUERIES
    from bigdata_googleplaystore_spark.sources import scratch_dir
    from bigdata_googleplaystore_spark.streaming import manifest

    rows = QUERIES[name].fn(spark, sf_dir).collect()
    assert rows and {r["n_partials"] for r in rows} == {4}
    state = scratch_dir(tag, sf_dir)
    assert manifest.read_manifest(spark, state)["batch_ids"] == [0, 1, 2, 3]
