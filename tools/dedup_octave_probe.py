"""Parameterized dedup-linearity octave probe (supersedes the fixed-K
scale probes r06/r07/r07d, now in git history, and adds the 64x octave).

The claim under test: dedup_minhash_lsh and dedup_ngram_jaccard are
LINEAR in corpus size in the distinct regime — candidates and
wall-clock track Kx while an all-pairs self-join would pay K^2 x. One
doubling is weak evidence (a hidden O(n^1.5) term only costs 2x extra
at 4x); r07d pinned two octaves (4x, 16x); this probe's default adds
the third (64x), spanning three decades: at 64x a quadratic term would
pay 4096x — two orders of magnitude beyond what linear growth allows,
so even a small super-linear admixture is unmissable.

Corpus construction generalizes r07d's alphabet rotations (only 26
distinct) to AFFINE letter ciphers x -> a*x + b (mod 26): with a drawn
from the 12 residues coprime to 26 and b from all 26 shifts there are
312 distinct letter bijections, so up to 312 copies each reproduce the
1x corpus's internal near-dup structure under their own alphabet while
cross-copy shingle collisions stay negligible ("the corpus simply
grew"). Copy 0 is (a=1, b=0) = identity, so the 1x base rows appear
verbatim and the K=1/4/16 rows replicate the committed r06/r07/r07d
tables (the same measure functions, moved here from those probes —
same pruning-proof noop-write action, same candidate accounting).

Usage: python tools/dedup_octave_probe.py [K ...]   (default: 1 4 16 64)
Run on an otherwise-idle host; prints markdown tables for COVERAGE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigdata_googleplaystore_spark.operators import dedup
from bigdata_googleplaystore_spark.session import get_spark
from bigdata_googleplaystore_spark.sources import load_table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LOWER = "abcdefghijklmnopqrstuvwxyz"
COPRIME = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]


def affine_alphabet(i: int) -> str:
    """The i-th distinct affine cipher image of a..z: a = COPRIME[i//26],
    b = (7*i) % 26 (any b enumeration works; 7 matches r07d's stride for
    the first 26 so K<=16 corpora are byte-identical to the r07d ones)."""
    a, b = COPRIME[i // 26], (7 * i) % 26
    return "".join(LOWER[(a * x + b) % 26] for x in range(26))


def build_kx_distinct(spark, out_dir: str, k: int) -> int:
    """K affine-enciphered copies of the SF corpus; returns doc count."""
    if k > len(COPRIME) * 26:
        raise ValueError(f"at most {len(COPRIME) * 26} distinct ciphers")
    docs = load_table(spark, SF, "documents")
    n_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = []
    for i in range(k):
        img = affine_alphabet(i)
        src = LOWER + LOWER.upper()
        dst = img + img.upper()
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * n_doc)).alias("doc_id"),
                F.translate(F.col("text"), src, dst).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    dk = reps[0]
    for r in reps[1:]:
        dk = dk.unionByName(r)
    dk.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return n_doc * k


def measure_minhash(spark, sf_dir: str, n_runs: int = 3) -> tuple[float, int, int]:
    """(best wall-clock via noop write, candidate pairs, output pairs)
    for minhash_lsh_pairs at threshold 0.5 / 3-shingles."""
    best = float("inf")
    out_rows = 0
    for _ in range(n_runs):
        d = load_table(spark, sf_dir, "documents")
        out = dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, threshold=0.5)
        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        out_rows = out.count()
        spark.catalog.clearCache()
    d = load_table(spark, sf_dir, "documents")
    arrs = dedup.shingle_arrays(d, "doc_id", "text", 3)
    sig = dedup.minhash_signatures(d, "doc_id", "text", 3, 64, shingle_arrs=arrs)
    n_cands = dedup.lsh_candidate_pairs(sig, 16, 4).count()
    spark.catalog.clearCache()
    return best, n_cands, out_rows


def _exploded_index(d):
    """(doc, set_size, shingle) — jaccard_pairs' inverted index, kept in
    lockstep with the operator (xxhash64 keys, distinct per doc)."""
    sh = dedup.shingle_arrays(d, "doc_id", "text", 3)
    hashed = sh.select(
        "doc",
        F.array_distinct(
            F.transform("shingles", lambda x: F.xxhash64(x))
        ).alias("hs"),
    )
    return (
        hashed.select(
            "doc", F.size("hs").alias("set_size"), F.explode_outer("hs").alias("shingle")
        )
        .filter(F.col("shingle").isNotNull())
    )


def measure_jaccard(spark, sf_dir: str, n_runs: int = 3):
    """(best wall-clock via noop write, joined rows, candidate pairs,
    output pairs) for jaccard_pairs at threshold 0.5 / 3-shingles."""
    best = float("inf")
    out_rows = 0
    for _ in range(n_runs):
        d = load_table(spark, sf_dir, "documents")
        out = dedup.jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        out_rows = out.count()
        spark.catalog.clearCache()
    d = load_table(spark, sf_dir, "documents")
    s = _exploded_index(d)
    a = s.select(F.col("doc").alias("doc_a"), "shingle")
    b = s.select(F.col("doc").alias("doc_b"), "shingle")
    joined = a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    n_joined = joined.count()
    n_cands = joined.select("doc_a", "doc_b").distinct().count()
    spark.catalog.clearCache()
    return best, n_joined, n_cands, out_rows


def main() -> None:
    octaves = [int(a) for a in sys.argv[1:]] or [1, 4, 16, 64]
    spark = get_spark(app_name="dedup-octave-probe")

    n1 = load_table(spark, SF, "documents").count()
    dirs = {}
    for k in octaves:
        if k == 1:
            dirs[k] = SF
            continue
        d = f"/tmp/spark_graft_dedup_octave_{k}x"
        build_kx_distinct(spark, d, k)
        dirs[k] = d

    print("### dedup_minhash_lsh, distinct regime")
    print("| corpus | docs | candidates | output pairs | wall-clock |"
          " cand vs 1x | time vs 1x |")
    print("|---|---|---|---|---|---|---|")
    base = None
    for k in octaves:
        t, c, o = measure_minhash(spark, dirs[k])
        if base is None:
            base = (t, c, o)
        print(
            f"| {k}x | {n1 * k:,} | {c:,} | {o:,} | {t:.2f}s "
            f"| {c / base[1]:.1f}x | {t / base[0]:.2f}x |"
        )

    print()
    print("### dedup_ngram_jaccard, distinct regime")
    print("| corpus | docs | joined rows | candidate pairs | output pairs |"
          " wall-clock | joined vs 1x | time vs 1x |")
    print("|---|---|---|---|---|---|---|---|")
    base = None
    for k in octaves:
        t, j, c, o = measure_jaccard(spark, dirs[k])
        if base is None:
            base = (t, j, c, o)
        print(
            f"| {k}x | {n1 * k:,} | {j:,} | {c:,} | {o:,} | {t:.2f}s "
            f"| {j / base[1]:.1f}x | {t / base[0]:.2f}x |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
