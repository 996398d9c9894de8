"""Frequency sketching: exact heavy hitters with bounded memory.

The two-phase shape every large-scale frequent-items job uses:

1. LOCAL CANDIDATES — each Arrow batch keeps only the items that are
   locally 1/k-frequent. Pigeonhole guarantee (Misra-Gries style): an
   item with global frequency >= N/k must be >= n_b/k-frequent in at
   least one batch (if it were below the threshold in every batch, the
   batch counts would sum below N/k), so the union of local candidates
   is a SUPERSET of the true heavy hitters. Per-batch state is at most
   k items — bounded memory no matter the vocabulary.
2. EXACT RECOUNT — the (small) candidate union is broadcast and the
   corpus re-counted for candidates only, so the final counts are
   EXACT and false candidates are dropped by the same global
   threshold.

At 100 TB this trades a second scan for never shuffling the full
vocabulary: the only aggregation shuffle carries |candidates| <= k x
partitions rows. The alternative single-pass full group-by shuffles
every distinct item — fine for bounded vocabularies, quadratically
painful for open-ended keys (URLs, n-grams, user ids).

All threshold comparisons are pure integer arithmetic (count * k >= N),
so results are exact and engine/partition-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import keep_latest


def heavy_hitters(items: DataFrame, col: str, k: int) -> DataFrame:
    """Items with global frequency >= N/k (N = total rows of `items`),
    with exact counts. `items` is one row per occurrence (already
    exploded); output columns: (item, n, n_total).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    # ONE pass yields BOTH the Misra-Gries candidate superset and the
    # per-batch row totals (item=NULL marker rows), so the global N no
    # longer needs its own third scan of `items` — at scale `items` is
    # the tokenized corpus, and the extra pass re-ran the whole
    # tokenize/explode.
    # The folded (item, sum) frame is persisted because its two
    # consumers prune different columns, so their aggregates (and
    # exchanges) diverge and exchange reuse cannot dedup the scan
    # (measured: unpersisted, the Python pass ran twice and the query
    # got SLOWER than the 3-scan form). Post-aggregation the frame is
    # the distinct locally-heavy vocabulary + 1 marker row — the same
    # set the candidate broadcast already assumed model-sized.
    def local_candidates(batches):
        import pandas as pd

        for pdf in batches:
            s = pdf[col].dropna()
            if len(s) == 0:
                continue
            counts = s.value_counts()
            cands = counts[counts * k >= len(s)]
            yield pd.DataFrame(
                {"item": cands.index.astype(str), "n_batch": 0}
            )
            yield pd.DataFrame({"item": [None], "n_batch": [len(s)]})

    stats = keep_latest(
        "heavy_hitters.stats",
        items.select(F.col(col).cast("string").alias(col))
        .mapInPandas(local_candidates, "item string, n_batch bigint")
        .groupBy("item")
        .agg(F.sum("n_batch").alias("_nb"))
        .persist(),
    )
    candidates = stats.filter(F.col("item").isNotNull()).select("item")
    # sum over every group: candidate groups contribute 0, the NULL
    # marker group carries the batch totals — identical to
    # count(items where col IS NOT NULL).
    total = stats.agg(
        F.coalesce(F.sum("_nb"), F.lit(0)).cast("long").alias("n_total")
    )
    recount = (
        items.select(F.col(col).cast("string").alias("item"))
        .join(F.broadcast(candidates), "item")
        .groupBy("item")
        .agg(F.count("*").alias("n"))
    )
    return (
        recount.crossJoin(F.broadcast(total))
        .filter(F.col("n") * k >= F.col("n_total"))
        .select("item", "n", "n_total")
    )
