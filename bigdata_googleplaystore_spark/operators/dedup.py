"""Deduplication operators for large-scale corpus pipelines.

Four tiers, cheapest first (the standard LLM-data dedup ladder):

1. exact     — hash group-by on the (normalized) content: one shuffle.
2. fingerprint — md5-of-normalized-text group-by: one shuffle on a 16-byte
   key instead of the full document (what you actually run at 100 TB).
3. n-gram Jaccard — inverted-index join on shingles, O(candidate pairs)
   instead of O(n²): explode distinct shingles, self-join on shingle,
   count shared shingles per pair, Jaccard = |∩| / (|A|+|B|-|∩|).
4. MinHash + LSH — constant-size signatures + banding so candidate
   generation is a group-by on band buckets, not a shingle join. The
   scale path for billions of docs.

SimHash rounds out the family for Hamming-distance near-dup.

All candidate generation is shuffle-bounded (group-by / equi-join on
derived keys); nothing collects to the driver. Verification joins only
touch candidate pairs, which LSH/banding keeps ~linear in practice.
"""

from __future__ import annotations

import itertools
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    char_grams_lowered,
    shingles_from_tokens,
    tokens,
    window_min_hashes,
)


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Tier 1: keep the min-id row per exact content group (deterministic,
    unlike dropDuplicates which keeps an arbitrary row per key).

    Rows with a null in ANY content column are excluded, mirroring
    fingerprint_dedup: groupBy treats null==null, so without the filter
    every missing-content row would be reported as a copy of all the
    others and a keep-min pruner would wrongly drop them. Absent content
    is not duplicate content."""
    non_null = df
    for c in content_cols:
        non_null = non_null.filter(F.col(c).isNotNull())
    return non_null.groupBy(*content_cols).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Tier 2: md5 of normalized text as the dedup key. The shuffle moves
    16-byte digests, not documents.

    Null-content rows are excluded: md5(null) is null and groupBy treats
    nulls as equal, so without the filter every missing-text doc would be
    reported as a "copy" of all the others and a keep-min pruner would
    wrongly drop them. Absent content is not duplicate content."""
    fp = F.md5(F.encode(F.trim(F.lower(F.col(text_col))), "UTF-8")).alias("fingerprint")
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _par(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc, set_size, shingles:array) — the pre-explode shingle stage.

    Staged on purpose — two properties a single fused expression loses:

    1. Tokenization is projected to a *bound attribute* before shingling.
       A fused `shingles(tokens(text))` tree splices the split() subtree
       into every element_at of the shingle lambda, re-tokenizing the doc
       once per shingle — O(tokens²) per doc (observed: ~16 s for 5k docs
       vs ~1 s staged). CollapseProject keeps the stages separate because
       the token array is non-cheap and referenced more than once.
    2. The repartition between tokenize and shingle spreads the work: a
       small corpus arrives as one input split, and input-size stats make
       AQE serialize the downstream combinatorial stage onto one core.
    """
    toks = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
    ).repartition(_par(df), "doc")
    sh = toks.select("doc", shingles_from_tokens(F.col("toks"), n).alias("shingles"))
    return sh.select("doc", F.size("shingles").alias("set_size"), "shingles")


def shingle_exploded(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) rows, distinct shingles per doc, plus per-doc set size.
    Built on shingle_arrays; see its docstring for why the pipeline is
    staged."""
    sh = shingle_arrays(df, id_col, text_col, n)
    # explode_outer, NOT explode: for plain explode, InferFiltersFromGenerate
    # adds `size(shingles)>0` and predicate pushdown substitutes the whole
    # fused shingle expression through the exchange into the single-split
    # scan — re-running the quadratic tree single-threaded (observed 9-16 s
    # for 5k docs; ~0.3 s without). The post-filter on the generated column
    # restores explode's drop-empty semantics and cannot be pushed below
    # the Generate.
    return sh.select(
        "doc", "set_size",
        F.explode_outer("shingles").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())


def winnow_rows(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03) as distinct
    (doc, fp) rows — the scale path.

    Each stage (lowered text -> char k-grams -> md5s -> window minima) is
    its own projection so every array feeds the next lambda as a bound
    attribute; the fused `winnow_fingerprints` expression re-hashes the
    entire gram array once per window (quadratic md5s — >400 s for 5k docs
    at sf0.1, vs ~1 s staged)."""
    lowered = df.select(
        F.col(id_col).alias("doc"), F.lower(F.col(text_col)).alias("t")
    ).repartition(_par(df), "doc")
    grams = lowered.select("doc", char_grams_lowered(F.col("t"), k).alias("grams"))
    hashes = grams.select("doc", F.transform("grams", F.md5).alias("hs"))
    wins = hashes.select("doc", window_min_hashes(F.col("hs"), w).alias("fps"))
    # explode_outer + post-filter: see shingle_exploded for why plain
    # explode would push the fused fingerprint tree into the scan.
    return (
        wins.select("doc", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )


def _jaccard_threshold(inter: DataFrame, threshold: float) -> DataFrame:
    """Shared tail of both near-dup tiers: (doc_a, doc_b, size_a, size_b,
    n_common) -> rounded Jaccard filtered at threshold. One definition so
    the LSH tier can never disagree with the exact tier on the formula."""
    jac = F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Tier 3: all pairs with shingle-Jaccard >= threshold.

    Inverted-index self-join: pairs sharing zero shingles are never
    materialized. The per-shingle fan-out is the scale hazard — a hot
    shingle (stop-phrase) shared by d docs contributes d²/2 joined rows,
    so one phrase in every doc makes the join quadratic in the corpus.

    `max_shingle_df` caps that: shingles with document frequency above
    the cap are dropped before the self-join (one extra group-by on the
    already-shuffled shingle frame), bounding the join at
    |shingles| x cap²/2 rows — linear in the corpus for fixed cap. The
    trade is documented and one-sided: dropped shingles can only lower a
    pair's measured intersection (set sizes are unchanged), so the capped
    output is a SUBSET of the exact output — hot shingles carry no
    dedup signal anyway (sharing 'terms of service apply' is not
    near-duplication). Default None = exact (the oracle-checked path);
    production runs at scale should set a cap (e.g. 1000).

    The index key is xxhash64(shingle), not the shingle string: the
    inverted index shuffles every (doc, shingle) row, and an 8-byte key
    both shrinks that shuffle and makes the join's hash/compare constant
    -time vs length-proportional string work. A 64-bit collision would
    need to land between the two specific docs of a candidate pair to
    add one phantom common shingle — ~S²/2⁶⁴, vanishing at any corpus
    size, and only nudges a pair already at the threshold boundary.

    set_size is recomputed AFTER hashing (size of the distinct-hash
    array, not the distinct-string count): intersection and set sizes
    then stay mutually consistent even if an in-doc hash collision ever
    occurs — the measured Jaccard is exactly the hashed-set Jaccard
    rather than a mixed-domain ratio (round-3 advice).

    Linearity measured over THREE corpus octaves
    (tools/dedup_octave_probe.py, sf0.1 base, un-capped tier): joined
    rows grow exactly 4.0x/16.0x/64.0x at 4x/16x/64x the corpus
    (320,000 docs at the last point — a quadratic term would pay
    4,096x) and wall-clock 1.03x/1.99x/10.9x — posting lists multiply,
    not lengthen. The capped tier's semantics
    are oracle-gated by dedup_ngram_jaccard_capped (catalog/llm.py):
    a planted df=|corpus| boilerplate shingle must be dropped while
    set sizes stay full.
    """
    if df.is_cached:
        # A persisted input must NOT flow through parameterized spark.sql
        # (the binding UNPERSISTS its argument — see minhash_lsh_pairs);
        # such callers take the staged Column path, same plan & values.
        return _jaccard_pairs_staged(
            df, id_col, text_col, n, threshold, max_shingle_df
        )
    # ONE parsed SQL statement, for driver-side construction cost: the
    # staged Column composition below issued ~800 py4j round-trips / ~10 eager
    # Dataset re-analyses per construction (~0.3 s driver time inside the
    # bench row); one parse builds the same stages. The CTE structure
    # preserves both staging properties from shingle_arrays/
    # shingle_exploded: tokens materialize behind the doc repartition as
    # a bound attribute (no O(tokens²) re-tokenize), and the explode is
    # OUTER + post-filter so InferFiltersFromGenerate cannot push the
    # fused shingle tree into the scan. _jaccard_pairs_staged keeps the
    # Column derivation; tests pin the two equal.
    npart = _par(df)
    idq = f"`{id_col.replace('`', '``')}`"
    txq = f"`{text_col.replace('`', '``')}`"
    grams = ", ".join(
        f"element_at(toks, CAST(i + {j} AS INT))" for j in range(n)
    )
    cap_ctes = ""
    fact = "s"
    if max_shingle_df is not None:
        # semi-join on the grouping key of a frame already partitioned by
        # shingle: the DF-count agg and the semi-join reuse one exchange
        cap_ctes = f"""
        rare AS (
          SELECT shingle FROM s GROUP BY shingle
          HAVING count(*) <= {int(max_shingle_df)}
        ),
        kept AS (
          SELECT s.* FROM s LEFT SEMI JOIN rare ON s.shingle = rare.shingle
        ),"""
        fact = "kept"
    return df.sparkSession.sql(
        f"""
        WITH toks AS (
          SELECT /*+ REPARTITION({npart}, doc) */
                 {idq} AS doc, split(trim(lower({txq})), '\\\\s+') AS toks
          FROM {{df}}
        ),
        hashed AS (
          SELECT doc,
                 array_distinct(transform(
                   array_distinct(transform(
                     CASE WHEN size(toks) >= {n}
                          THEN sequence(1, size(toks) - {n - 1})
                          ELSE CAST(array() AS ARRAY<INT>) END,
                     i -> concat_ws(' ', {grams}))),
                   x -> xxhash64(x))) AS hs
          FROM toks
        ),
        s AS (
          SELECT /*+ REPARTITION({npart}, shingle) */ doc, set_size, shingle
          FROM (
            SELECT doc, size(hs) AS set_size, shingle
            FROM hashed LATERAL VIEW OUTER explode(hs) t AS shingle
          ) WHERE shingle IS NOT NULL
        ),{cap_ctes}
        inter AS (
          SELECT a.doc AS doc_a, b.doc AS doc_b,
                 a.set_size AS size_a, b.set_size AS size_b,
                 count(*) AS n_common
          FROM {fact} a JOIN {fact} b
            ON a.shingle = b.shingle AND a.doc < b.doc
          GROUP BY doc_a, doc_b, size_a, size_b
        )
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT doc_a, doc_b,
                 round(n_common / (size_a + size_b - n_common), 6) AS jaccard
          FROM inter
        ) WHERE jaccard >= {float(threshold)!r}D
        """,
        df=df,
    )


def _jaccard_pairs_staged(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Column-composed derivation of jaccard_pairs — the cache-safe path
    for persisted inputs and the cross-derivation witness the equality
    tests pin against the fused SQL statement."""
    sh = shingle_arrays(df, id_col, text_col, n)
    hashed = sh.select(
        "doc",
        F.array_distinct(
            F.transform("shingles", lambda x: F.xxhash64(x))
        ).alias("hs"),
    )
    s = (
        hashed.select(
            "doc",
            F.size("hs").alias("set_size"),
            F.explode_outer("hs").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .repartition(_par(df), "shingle")
    )
    if max_shingle_df is not None:
        rare = (
            s.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        # join on the grouping key of a frame already partitioned by
        # shingle: the DF-count agg and this semi-join reuse the same
        # exchange, so the cap costs no extra fact shuffle
        s = s.join(rare, "shingle", "left_semi")
    a = s.select(
        F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"), "shingle"
    )
    b = s.select(
        F.col("doc").alias("doc_b"), F.col("set_size").alias("size_b"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_threshold(inter, threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    shingles: DataFrame | None = None,
    shingle_arrs: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    h_i(shingle), where {h_i} is a 2-universal affine family over the
    Mersenne prime P = 2^31-1:

        base(s) = xxhash64(s) mod P          (ONE string hash per shingle)
        h_i(s)  = (A_i * base(s) + B_i) mod P

    Hashing the string once and deriving the `num_hashes` functions as
    integer affine transforms (Broder 1997's standard construction) is
    the hot-path win: the previous form evaluated xxhash64 over the
    shingle STRING num_hashes times per shingle — 64x the string-hash
    cost for identical statistical behavior (measured: the signature
    stage dropped ~40% at sf0.1). A_i, B_i < P keeps every product under
    2^62, so the arithmetic is overflow-safe under ANSI mode.

    Two paths, same values:
    - array path (default / `shingle_arrs`): base array via one
      transform, then sig[i] = array_min over an integer transform —
      MAP-ONLY. Each doc's shingle set is already one array row, so no
      explode and no shuffle exist at all; this is the scale winner
      (the signature stage used to be a full shuffle of the exploded
      shingle stream into a 64-way min aggregate).
    - exploded path (`shingles`, a shingle_exploded frame): group-by doc
      with num_hashes map-side-folding mins — kept for callers that
      already materialized the exploded form.
    Docs with no shingles are dropped (no signature defined)."""
    P = 2147483647  # 2^31 - 1
    # deterministic multipliers/offsets, A_i in [1, P), B_i in [0, P)
    coeffs = [
        ((((2 * i + 1) * 2654435761) % P) or 1, (i * 40503 + 7) % P)
        for i in range(num_hashes)
    ]
    if shingles is not None:
        base = F.pmod(F.xxhash64(F.col("shingle")), F.lit(P))
        with_base = shingles.withColumn("_hb", base)
        mins = [
            F.min(F.pmod(F.lit(a) * F.col("_hb") + F.lit(b), F.lit(P))).alias(
                f"h{i}"
            )
            for i, (a, b) in enumerate(coeffs)
        ]
        sig = with_base.groupBy("doc", "set_size").agg(*mins)
        return sig.select(
            "doc",
            "set_size",
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
        )
    s = (
        shingle_arrs
        if shingle_arrs is not None
        else shingle_arrays(df, id_col, text_col, n)
    )
    # ONE expression computes the whole signature: transform hashes each
    # shingle string exactly once, then a fold keeps a num_hashes-wide
    # running-min accumulator (zip_with against the coefficient array).
    # Materializing the base array as a separate projection does NOT
    # work: CollapseProject inlines it into every per-hash consumer and
    # the string hash runs num_hashes times again (measured slower than
    # the naive form — HOF lambdas get no cross-expression CSE).
    #
    # Built as ONE parsed SQL string, not composed Column objects: the
    # Column form issued ~1,900 py4j round-trips (64 coefficient
    # structs x lits + the HOF lambdas), ~250 ms of driver latency per
    # construction; the parsed string is one round-trip for the identical
    # expression tree (every coefficient fits in INT, matching F.lit's
    # former IntegerType, so hash inputs and arithmetic promotion are
    # bit-identical).
    return s.filter(F.col("set_size") > 0).select(
        "doc", "set_size", F.expr(_signature_sql(num_hashes)).alias("signature")
    )


def _signature_sql(num_hashes: int) -> str:
    """The minhash-signature SQL expression over a `shingles` array
    column — extracted as the SINGLE definition so every consumer of the
    array path (full and incremental alike) parses the identical
    expression and produces bit-identical signatures."""
    P = 2147483647
    coeffs = [
        ((((2 * i + 1) * 2654435761) % P) or 1, (i * 40503 + 7) % P)
        for i in range(num_hashes)
    ]
    coeff_sql = ",".join(f"named_struct('a',{a},'b',{b})" for a, b in coeffs)
    return (
        f"aggregate("
        f"transform(shingles, sh -> pmod(xxhash64(sh), {P})),"
        f" array_repeat(CAST({P} AS BIGINT), {num_hashes}),"
        f" (acc, h) -> zip_with(acc, array({coeff_sql}),"
        f" (m, c) -> least(m, pmod(c.a * h + c.b, {P}))))"
    )


def band_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Banding: signature frame (doc, signature) -> one row per
    (doc, band, bucket), bucket = xxhash64 over that band's signature
    slice. THE persistable LSH-index shape: a corpus version's bucket
    rows are what an incremental batch joins against
    (minhash_lsh_pairs_incremental), and the single definition keeps
    full and incremental banding bit-identical.

    One parsed SQL expression (the same construction-cost rationale as
    minhash_signatures: the Column form was bands x (rows+2) py4j
    round-trips; band literals are INT and signature elements BIGINT in
    both forms, so every xxhash64 input type — and therefore every
    bucket value — is unchanged)."""
    return sig.select(
        "doc", F.explode_outer(F.expr(_band_array_sql(bands, rows_per_band))).alias("bb")
    ).select(
        "doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _band_array_sql(bands: int, rows_per_band: int) -> str:
    """The banding SQL expression over a `signature` array column —
    extracted as the SINGLE definition behind band_buckets so full and
    incremental banding stay bit-identical."""
    return (
        "array(" + ",".join(
            f"named_struct('band',{b},'bucket',xxhash64({b},"
            + ",".join(
                f"signature[{b * rows_per_band + r}]"
                for r in range(rows_per_band)
            )
            + "))"
            for b in range(bands)
        ) + ")"
    )


def lsh_candidate_pairs(
    sig: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """LSH banding: signature frame (doc, signature) -> distinct candidate
    pairs (doc_a, doc_b) sharing at least one (band, bucket). Split out of
    minhash_lsh_pairs so scale probes can measure the candidate count the
    verify stage actually pays for (COVERAGE.md)."""
    buckets = band_buckets(sig, bands, rows_per_band)
    left = buckets.select(F.col("doc").alias("doc_a"), "band", "bucket")
    right = buckets.select(F.col("doc").alias("doc_b"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# Per-invocation temp-view bookkeeping for minhash_lsh_pairs: each
# invocation registers its persisted shingle frame under a UNIQUE view name,
# so a second invocation — even from another thread — can never rebind an
# in-flight invocation's view between its registration and its spark.sql
# analysis (the wrong-results race a fixed
# session-global name allows). Hygiene stays replace-equivalent: when a new
# invocation has finished ANALYZING its statement, it releases the previous
# invocation's view+cache (the prior result's plan is already analyzed, so
# a late consumer recomputes from lineage — correct, just uncached, which
# is exactly what the fixed name's createOrReplaceTempView did before).
_MINHASH_VIEW_SEQ = itertools.count()
_MINHASH_VIEW_LOCK = threading.Lock()
_MINHASH_PREV: list[tuple[str, DataFrame]] = []


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Tier 4: LSH-banded candidate pairs, verified with exact Jaccard.

    bands=16 x rows=4 over 64 hashes -> s-curve threshold ~ (1/16)^(1/4)
    ≈ 0.5. Candidates = docs sharing any band bucket (group-by on
    (band, band_hash) — constant-size keys, scale-safe); each candidate
    pair is then verified against the true shingle Jaccard so the output
    has no LSH false positives (false negatives remain possible, which is
    the documented LSH trade).

    Candidate generation is deliberately a self-JOIN on (band, bucket),
    not collect_set(doc)-per-bucket + pair fan-out: profiled at sf0.1 the
    two are within noise locally (~0.7 s either way — stage overhead, not
    data), but the collect_set shape materializes a hot bucket's f^2/2
    pair structs in ONE task's memory (flatten of a nested transform),
    where the join streams the same f^2 rows through the shuffle
    machinery and spills. A corpus with a large exact-duplicate class
    makes exactly such a hot bucket, so the join is the 100 TB-safe
    shape.

    Linearity measured over THREE corpus octaves
    (tools/dedup_octave_probe.py, sf0.1 base): at 4x/16x/64x the
    corpus, candidate pairs grow 4.2x/17.3x/68.5x (≈linear; an
    all-pairs join would pay 16x/256x/4,096x) and wall-clock
    1.80x/5.92x/23.0x — buckets multiply rather than densify. The
    4,095-of-4,096 pairs found at 16x (16,380-of-16,384 at 64x) is
    honest LSH recall (<1 by design, the documented trade).

    Caller contract for the persist() below: build a FRESH frame per
    pipeline invocation; do not hold one frame object across cache
    eviction. After clearCache/unpersist, re-executing the retained
    object re-optimizes WITHOUT the cache boundary and CollapseProject
    fuses the shingle expression into all 64 hash folds — measured
    9.2 s vs ~0.9 s fresh-frame for the signature stage at sf0.1
    (tools/stage_decomp.py).
    """
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got {num_hashes=} {bands=}): "
            "rows_per_band=0 would put every doc in one bucket (an O(N^2) "
            "candidate blowup) and a remainder would silently drop hashes"
        )
    rows_per_band = num_hashes // bands
    # The ARRAY-stage shingle frame feeds three consumers (map-side
    # signatures, verify join on doc_a, verify join on (doc_b, shingle))
    # with different downstream shapes — no ReusedExchange applies, so
    # without materialization the tokenize+shingle pipeline runs three
    # times (measured ~15% of query time at sf0.1). persist() computes
    # it once, LAZILY — round 2 used localCheckpoint(eager=True), whose
    # blocking materialization job sat inside the timed region and whose
    # blocks die with their executor on a real cluster; a plain cache
    # lets the first consumer populate it within the same job and
    # recomputes from lineage on eviction/loss. Caching the array form
    # (one row per doc) instead of the exploded form also shrinks the
    # cached footprint and lets the signature stage skip the explode
    # entirely (map-only array_min/transform — no signature shuffle).
    # Everything downstream of the persisted shingle frame is ONE parsed
    # SQL statement, for driver-side construction cost: the staged Column
    # composition (kept as _minhash_lsh_pairs_staged) issued ~1,000 py4j
    # round-trips / ~15 eager Dataset re-analyses per construction. The
    # persisted frame is referenced BY TEMP VIEW NAME, not as a spark.sql
    # df-parameter: the parameter binding UNPERSISTS the frame it binds
    # (measured — CacheManager empties at analysis, the executed plan
    # lost every InMemoryTableScan and re-ran tokenize+shingle four
    # times), while catalog view resolution is the standard cached path
    # (InMemoryTableScan under every reference; verified). The view is
    # NOT dropped before the statement is analyzed:
    # dropTempView/createOrReplaceTempView UNCACHE the plan the view
    # resolves to (measured — dropping right after parsing silently lost
    # the cache and the shingle pipeline re-ran per consumer, 1.8 s ->
    # 12 s e2e). Each invocation registers a UNIQUE engine-prefixed name
    # (a fixed name would let a concurrent invocation rebind the view
    # between registration and analysis — wrong results) and releases
    # the PREVIOUS invocation's view+cache after its own analysis
    # completes (bench/sim clear cache per query anyway).
    # Signature/banding come from the same _signature_sql/
    # _band_array_sql definitions the staged operators use, so values
    # are bit-identical; verification stays in the HASHED shingle domain
    # (round-4 advice): intersection keys AND set sizes are computed
    # over the distinct xxhash64(shingle) set, and the verify joins
    # compare 8-byte longs, not length-proportional shingle strings.
    arrs = shingle_arrays(df, id_col, text_col, n).persist()
    spark = arrs.sparkSession
    vname = f"_bgps_minhash_shingles_{next(_MINHASH_VIEW_SEQ)}"
    arrs.createOrReplaceTempView(vname)
    out = spark.sql(
            f"""
            WITH sig AS (
              SELECT doc, {_signature_sql(num_hashes)} AS signature
              FROM {vname} WHERE set_size > 0
            ),
            buckets AS (
              SELECT doc, bb.band AS band, bb.bucket AS bucket
              FROM sig
              LATERAL VIEW OUTER explode({_band_array_sql(bands, rows_per_band)}) t AS bb
            ),
            cands AS (
              SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
              FROM buckets l JOIN buckets r
                ON l.band = r.band AND l.bucket = r.bucket AND l.doc < r.doc
            ),
            sh AS (
              SELECT doc, size(hs) AS set_size, shingle
              FROM (
                SELECT doc,
                       array_distinct(transform(shingles, x -> xxhash64(x))) AS hs
                FROM {vname}
              ) LATERAL VIEW OUTER explode(hs) t AS shingle
              WHERE shingle IS NOT NULL
            ),
            inter AS (
              SELECT doc_a, doc_b, a.set_size AS size_a, b.set_size AS size_b,
                     count(*) AS n_common
              FROM cands
              JOIN sh a ON a.doc = cands.doc_a
              JOIN sh b ON b.doc = cands.doc_b AND b.shingle = a.shingle
              GROUP BY doc_a, doc_b, a.set_size, b.set_size
            )
            SELECT doc_a, doc_b, jaccard FROM (
              SELECT doc_a, doc_b,
                     round(n_common / (size_a + size_b - n_common), 6) AS jaccard
              FROM inter
            ) WHERE jaccard >= {float(threshold)!r}D
        """
    )
    # Release the PREVIOUS invocation's view + shingle cache now that this
    # invocation's statement is analyzed (see _MINHASH_PREV note above) —
    # UNLESS the previous frame shares this one's CacheManager entry
    # (cache is keyed by plan equality: a repeated invocation over the
    # same input persists into the same entry, and unpersisting/dropping
    # the old view would kill the NEW invocation's cache too; the old
    # view then just stays registered — a few catalog bytes).
    from ._cache import same_cache_entry

    with _MINHASH_VIEW_LOCK:
        prev, _MINHASH_PREV[:] = _MINHASH_PREV[:], [(vname, arrs)]
    for old_name, old_frame in prev:
        if same_cache_entry(old_frame, arrs):
            continue
        try:
            old_frame.unpersist()
        except Exception:
            pass
        try:
            spark.catalog.dropTempView(old_name)
        except Exception:
            pass
    return out


def _minhash_lsh_pairs_staged(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Column-composed derivation of minhash_lsh_pairs — the
    cross-derivation witness the equality tests pin against the fused
    SQL statement (same persisted shingle frame, same staged operators)."""
    rows_per_band = num_hashes // bands
    arrs = shingle_arrays(df, id_col, text_col, n).persist()
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, shingle_arrs=arrs)
    hashed = arrs.select(
        "doc",
        F.array_distinct(
            F.transform("shingles", lambda x: F.xxhash64(x))
        ).alias("hs"),
    )
    shingles = hashed.select(
        "doc", F.size("hs").alias("set_size"), F.explode_outer("hs").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    cands = lsh_candidate_pairs(sig, bands, rows_per_band)
    # verify candidates with exact Jaccard (joins only candidate pairs);
    # reuses the SAME shingle frame the signatures came from
    a = shingles.select(
        F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"), "shingle"
    )
    b = shingles.select(
        F.col("doc").alias("doc_b"), F.col("set_size").alias("size_b"), "shingle"
    )
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_threshold(inter, threshold)


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """The persistable MinHash-LSH INDEX of a corpus version:
    (buckets, hashed) where buckets is one row per (doc, band, bucket)
    — the banded signature a future batch joins against — and hashed is
    (doc, hs: array<bigint>) — the distinct xxhash64'd shingle set the
    exact-Jaccard verify of candidate pairs reads. Together they are
    everything incremental near-dup needs from the base corpus: the raw
    text is never re-tokenized, re-shingled, or re-hashed for batches
    that arrive later. Deterministic by construction (seed-fixed
    xxhash64, fixed affine coefficients), so an index built today and a
    signature computed next month band identically."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got {num_hashes=} {bands=})"
        )
    from ._cache import keep_latest

    arrs = keep_latest(
        "dedup.lsh_index_shingles",
        shingle_arrays(df, id_col, text_col, n).persist(),
    )
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, shingle_arrs=arrs)
    buckets = band_buckets(sig, bands, num_hashes // bands)
    hashed = arrs.filter(F.size("shingles") > 0).select(
        "doc",
        F.array_distinct(F.transform("shingles", lambda x: F.xxhash64(x))).alias(
            "hs"
        ),
    )
    return buckets, hashed


def write_lsh_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    partitions: int | None = None,
) -> None:
    """Persist build_lsh_index's two halves to `{path}/buckets` and
    `{path}/hashed` — the train-once/join-many deployment contract for
    incremental near-dup over a growing corpus (daily crawl increments
    never re-shingle history). mode=overwrite per corpus version.

    `partitions=P` (opt-in; default keeps the flat layout the
    oracle-gated path uses) additionally HASH-PARTITIONS both halves —
    buckets by `_pb = pmod(bucket, P)`, hashed by
    `_ph = pmod(xxhash64(doc), P)` — the same store discipline as the
    bucketed Jaccard index: a small delta then reads only the
    partitions its own band-buckets hash into and only the hashed-set
    partitions its CANDIDATES live in
    (minhash_lsh_pairs_incremental_indexed), so the per-increment base
    read is candidate-bounded instead of corpus-bounded. P is frozen
    in `{path}/meta` with the hash-family params; size it to a target
    per-partition volume the way write_jaccard_index auto-sizes."""
    buckets, hashed = build_lsh_index(df, id_col, text_col, n, num_hashes, bands)
    root = path.rstrip("/")
    if partitions is None:
        buckets.write.mode("overwrite").parquet(root + "/buckets")
        hashed.write.mode("overwrite").parquet(root + "/hashed")
        return
    p = int(partitions)
    (
        buckets.withColumn("_pb", F.pmod(F.col("bucket"), F.lit(p)).cast("int"))
        .repartition(max(p, 32), "_pb")
        .write.mode("overwrite")
        .partitionBy("_pb")
        .parquet(root + "/buckets")
    )
    (
        hashed.withColumn(
            "_ph", F.pmod(F.xxhash64(F.col("doc")), F.lit(p)).cast("int")
        )
        .repartition(max(p, 32), "_ph")
        .write.mode("overwrite")
        .partitionBy("_ph")
        .parquet(root + "/hashed")
    )
    df.sparkSession.createDataFrame(
        [(p, int(n), int(num_hashes), int(bands))],
        "partitions int, n int, num_hashes int, bands int",
    ).coalesce(1).write.mode("overwrite").json(root + "/meta")


def read_lsh_index_meta(spark, path: str) -> dict | None:
    """The frozen LSH index parameters, or None for a flat layout."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/meta")
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    row = spark.read.json(path.rstrip("/") + "/meta").collect()[0]
    return {
        k: int(row[k]) for k in ("partitions", "n", "num_hashes", "bands")
    }


def append_lsh_index(
    spark, path: str, delta: DataFrame, id_col: str, text_col: str
) -> None:
    """Fold a delta batch into a PARTITIONED LSH store under the frozen
    params (the next increment then sees base+delta without a
    rewrite): the delta's bucket rows and hashed sets append into
    their matching partition directories only — O(|delta|) write,
    untouched partitions' files never rewritten. The flat layout has
    no append (its consumers re-scan everything anyway; rewrite with
    `partitions=` to get the growing-store lifecycle)."""
    meta = read_lsh_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"{path} is a flat (unpartitioned) LSH index; rewrite it "
            "with write_lsh_index(partitions=...) before appending"
        )
    p = meta["partitions"]
    d_buckets, d_hashed = build_lsh_index(
        delta, id_col, text_col, meta["n"], meta["num_hashes"], meta["bands"]
    )
    root = path.rstrip("/")
    d_buckets.withColumn(
        "_pb", F.pmod(F.col("bucket"), F.lit(p)).cast("int")
    ).write.mode("append").partitionBy("_pb").parquet(root + "/buckets")
    d_hashed.withColumn(
        "_ph", F.pmod(F.xxhash64(F.col("doc")), F.lit(p)).cast("int")
    ).write.mode("append").partitionBy("_ph").parquet(root + "/hashed")


def read_lsh_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a write_lsh_index result as the (buckets, hashed) pair
    minhash_lsh_pairs_incremental takes — lazy parquet scans; nothing
    is collected to the driver. Partitioned layouts read whole here
    (the partition columns dropped); pruned reads go through
    minhash_lsh_pairs_incremental_indexed."""
    root = path.rstrip("/")
    b = spark.read.parquet(root + "/buckets")
    h = spark.read.parquet(root + "/hashed")
    if "_pb" in b.columns:
        b = b.drop("_pb")
    if "_ph" in h.columns:
        h = h.drop("_ph")
    return b, h


def minhash_lsh_pairs_incremental(
    base_buckets: DataFrame,
    base_hashed: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup: the pairs a NEW batch introduces against an
    already-indexed corpus — (doc_a, doc_b, jaccard) with jaccard >=
    threshold and at least one side in `delta` — without recomputing
    anything over the base. The daily-crawl-increment shape: base
    signatures/buckets were paid once at index-build time
    (write_lsh_index); each increment pays only

      1. O(|delta|) shingle/signature/banding work (the same map-only
         path the full operator uses, over the batch alone);
      2. a bucket equi-join of the delta's bucket rows — BROADCAST,
         batch-vs-base, never history-vs-history (the same delta-term
         rule operators/incremental.py's join IVM follows) — against
         stored-base + delta buckets, so the base side never shuffles;
      3. exact-Jaccard verification of the candidates only: the stored
         hashed-shingle sets are LEFT-SEMI-pruned to candidate docs
         before the explode, so verify cost is O(candidate pairs), not
         O(corpus).

    Base-base pairs are structurally excluded (one join side is delta
    rows only) — they were reported when their own batches arrived, so
    re-emitting them would double-report across increments. Caller
    contract: delta ids are disjoint from base ids (ids are the pair
    identity), and (n, num_hashes, bands) must match the index build —
    both hash families are deterministic, so equality with a full
    recompute is exact, not approximate (asserted in
    tests/test_llm.py::test_incremental_minhash_equals_full_recompute
    and oracle-gated by dedup_minhash_incremental, catalog/llm.py)."""
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got {num_hashes=} {bands=})"
        )
    d_buckets, d_hashed = build_lsh_index(
        delta, id_col, text_col, n, num_hashes, bands
    )
    return _lsh_pairs_core(
        d_buckets, d_hashed, base_buckets, lambda _: base_hashed, threshold
    )


def _lsh_pairs_core(
    d_buckets: DataFrame,
    d_hashed: DataFrame,
    base_buckets: DataFrame,
    base_hashed_for,
    threshold: float,
) -> DataFrame:
    """Shared candidate-generation + exact-verify tail of the
    incremental LSH paths. `base_hashed_for(cand_docs)` supplies the
    stored hashed-shingle rows to verify against — the full table on
    the flat path, only the candidate docs' partitions on the indexed
    path (which must materialize cand_docs to choose what to read)."""
    all_buckets = base_buckets.unionByName(d_buckets)
    left = d_buckets.select(F.col("doc").alias("doc_l"), "band", "bucket")
    right = all_buckets.select(F.col("doc").alias("doc_r"), "band", "bucket")
    cands = (
        F.broadcast(left)
        .join(right, ["band", "bucket"])
        .filter(F.col("doc_l") != F.col("doc_r"))
        .select(
            F.least("doc_l", "doc_r").alias("doc_a"),
            F.greatest("doc_l", "doc_r").alias("doc_b"),
        )
        .distinct()
    )
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc"))
        .unionByName(cands.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    needed = base_hashed_for(cand_docs).unionByName(d_hashed).join(
        F.broadcast(cand_docs), "doc", "left_semi"
    )
    shingles = needed.select(
        "doc", F.size("hs").alias("set_size"), F.explode_outer("hs").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    a = shingles.select(
        F.col("doc").alias("doc_a"), F.col("set_size").alias("size_a"), "shingle"
    )
    b = shingles.select(
        F.col("doc").alias("doc_b"), F.col("set_size").alias("size_b"), "shingle"
    )
    inter = (
        cands.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_threshold(inter, threshold)


def _existing_partition_paths(spark, root: str, col: str, values) -> list[str]:
    """Explicit `<root>/<col>=<v>` paths that exist — the no-root-
    listing planning discipline (listing cost O(|values|), never
    O(|partitions|))."""
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    return [
        p
        for p in (f"{root}/{col}={v}" for v in sorted(values))
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p))
    ]


def minhash_lsh_pairs_incremental_indexed(
    spark,
    index_path: str,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """minhash_lsh_pairs_incremental against a PARTITIONED on-disk
    index (write_lsh_index's `partitions=P` layout), pruning BOTH base
    reads to explicit touched-partition paths:

      1. buckets: the delta's band-bucket rows hash to at most
         |delta band-buckets| of the P `_pb` partitions — for a
         single-doc dedup-check that is `bands` values, constant in
         the corpus;
      2. hashed: only after candidates materialize do we know which
         docs need exact verification, so cand_docs is collected
         (candidate-bounded — the LSH premise is that candidates are
         few) and only their `_ph` partitions are read.

    Same two regimes as the bucketed Jaccard store: constant base read
    for small deltas, graceful degradation toward the flat scan as the
    delta's bucket/candidate footprint approaches P. Results equal the
    flat path exactly (asserted in tests) — pruning only skips
    partitions that cannot hold a needed row. Hash-family params come
    from the index meta; for a legacy meta-less index the caller MUST
    supply (n, num_hashes, bands) explicitly — silently shingling the
    delta with defaults that differ from the base's build would return
    wrong pairs with no error, so a missing meta + missing params
    raises instead. When meta exists, explicitly-passed params must
    agree with it (a mismatch is a caller bug, not a tiebreak)."""
    meta = read_lsh_index_meta(spark, index_path)
    root = index_path.rstrip("/")
    explicit = {"n": n, "num_hashes": num_hashes, "bands": bands}
    if meta is None:
        missing = [k for k, v in explicit.items() if v is None]
        if missing:
            raise ValueError(
                f"LSH index at {index_path!r} has no meta (legacy layout); "
                f"pass the build's hash-family params explicitly — "
                f"missing: {missing}. Defaulting would silently hash the "
                f"delta differently from the base and return wrong pairs."
            )
        base_buckets, base_hashed = read_lsh_index(spark, index_path)
        return minhash_lsh_pairs_incremental(
            base_buckets, base_hashed, delta, id_col, text_col,
            n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        )
    conflicts = {
        k: (v, meta[k]) for k, v in explicit.items()
        if v is not None and v != meta[k]
    }
    if conflicts:
        raise ValueError(
            f"explicit hash-family params conflict with the index meta at "
            f"{index_path!r}: {conflicts} (passed, meta)"
        )
    p = meta["partitions"]
    d_buckets, d_hashed = build_lsh_index(
        delta, id_col, text_col, meta["n"], meta["num_hashes"], meta["bands"]
    )
    d_buckets = d_buckets.localCheckpoint()
    touched_pb = [
        r["pb"]
        for r in d_buckets.select(
            F.pmod(F.col("bucket"), F.lit(p)).cast("int").alias("pb")
        )
        .distinct()
        .collect()
    ]
    bpaths = _existing_partition_paths(
        spark, root + "/buckets", "_pb", touched_pb
    )
    if bpaths:
        base_buckets = spark.read.parquet(*bpaths)
    else:
        base_buckets = read_lsh_index(spark, index_path)[0].limit(0)

    def base_hashed_for(cand_docs: DataFrame) -> DataFrame:
        touched_ph = [
            r["ph"]
            for r in cand_docs.select(
                F.pmod(F.xxhash64(F.col("doc")), F.lit(p)).cast("int").alias("ph")
            )
            .distinct()
            .collect()
        ]
        hpaths = _existing_partition_paths(
            spark, root + "/hashed", "_ph", touched_ph
        )
        if not hpaths:
            return read_lsh_index(spark, index_path)[1].limit(0)
        return spark.read.parquet(*hpaths)

    return _lsh_pairs_core(
        d_buckets, d_hashed, base_buckets, base_hashed_for, threshold
    )


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b", max_iters: int = 20
) -> DataFrame:
    """Connected components over a pair list -> (node, component) where
    component = min node id in the component. The step near-dup pipelines
    need after pair generation: pairs -> duplicate *clusters* -> one
    keeper per cluster.

    Iterative min-label propagation on DataFrames: each round every node
    takes the min label among itself and its neighbors; converged when no
    label changes (checked with a count aggregate, the only driver-side
    value per round). Rounds = O(component diameter) — near-dup clusters
    are shallow (pairs/triples), so this converges in 2-3 rounds; for
    genuinely deep graphs swap in large-star/small-star. Each round is
    one join + one groupBy on the label frame — shuffle-bounded, nothing
    but the convergence flag leaves the executors."""
    # localCheckpoint per round: truncates the iterative lineage (each
    # round references the previous labels twice, so an uncheckpointed
    # chain recomputes exponentially on block loss) and materializes the
    # expensive pair-generation upstream exactly once. On a real cluster
    # prefer reliable checkpoint() — localCheckpoint blocks die with
    # their executor.
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — a "
        f"component's diameter exceeds max_iters; raise it or switch to a "
        f"large-star/small-star contraction for deep graphs"
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The full near-dup pipeline: shingle-Jaccard pairs -> connected
    components -> (doc, cluster keeper). Keeper = min doc id per
    component (deterministic); docs in no pair are their own keeper and
    are omitted here (callers left-join and coalesce to self)."""
    pairs = jaccard_pairs(df, id_col, text_col, n, threshold)
    cc = connected_components(pairs)
    return cc.select(
        F.col("node").alias("doc"), F.col("component").alias("keep_id")
    )


def simhash64(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """64-bit SimHash per doc: sign-sum of per-shingle xxhash64 bits.

    bit_j(doc) = 1 iff sum over shingles of (+1 if hash bit j set else -1)
    > 0. Computed as 64 conditional sums in one group-by — JVM-side, one
    shuffle. Near-dup = small Hamming distance between signatures."""
    s = shingle_exploded(df, id_col, text_col, n)
    h = F.xxhash64(F.col("shingle"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    agg = s.groupBy("doc").agg(*bit_sums)
    sim = None
    for j in range(64):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, j)
        sim = term if sim is None else sim.bitwiseXOR(term)
    return agg.select("doc", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup pairs via block-rotation candidates: split the 64
    bits into (max_hamming+1) blocks; by pigeonhole any pair within
    max_hamming shares at least one exact block, so candidates group on
    (block_id, block_value) and only candidates pay the popcount check."""
    sigs = simhash64(df, id_col, text_col, n)
    nblocks = max_hamming + 1
    width = 64 // nblocks
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("val"),
            )
            for i in range(nblocks)
        ]
    )
    exploded = sigs.select(
        F.col("doc"), F.col("simhash"), F.explode_outer(blocks).alias("bb")
    ).select("doc", "simhash", F.col("bb.blk").alias("blk"), F.col("bb.val").alias("val"))
    l = exploded.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("sig_a"), "blk", "val"
    )
    r = exploded.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("sig_b"), "blk", "val"
    )
    cands = (
        l.join(r, ["blk", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def blocked_fuzzy_pairs(
    df: DataFrame,
    name_col: str,
    block_col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Entity-resolution fuzzy matching: candidate pairs are generated only
    WITHIN a blocking key (never all-pairs), then scored with exact
    Levenshtein edit distance. Callers should block on a key whose group
    size stays bounded as the table grows (last name token, phonetic code,
    length bucket) — the join cost is sum(block_size^2), not N^2.

    Expects `df` pre-deduplicated to distinct names (vocabulary-sized for
    catalog-like inputs), so the self-join is small enough to broadcast.
    Returns (name_a, name_b, dist) with name_a < name_b."""
    a = df.select(
        F.col(name_col).alias("name_a"), F.col(block_col).alias("_blk")
    )
    b = df.select(
        F.col(name_col).alias("name_b"), F.col(block_col).alias("_blk")
    )
    return (
        a.join(F.broadcast(b), "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )


def build_jaccard_index(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """The persistable INVERTED-INDEX half of n-gram Jaccard dedup: one
    row per (doc, set_size, shingle) — the posting list a future
    batch's shingles join against, with the |A| denominator carried on
    every row. EXACTLY the one-shot jaccard_pairs pipeline's staged
    frame: xxhash64'd 8-byte keys (shuffle size + constant-time join
    compares; the collision argument in jaccard_pairs' docstring),
    set_size computed AFTER hashing (intersections and sizes stay
    mutually consistent), and the explode_outer + post-filter staging
    that keeps Catalyst from pushing the quadratic shingle tree into a
    single-split scan (shingle_exploded's docstring; the plain-explode
    form measured 24 s where this one measures ~1 s)."""
    sh = shingle_arrays(df, id_col, text_col, n)
    hashed = sh.select(
        "doc",
        F.array_distinct(
            F.transform("shingles", lambda x: F.xxhash64(x))
        ).alias("hs"),
    )
    return (
        hashed.select(
            "doc",
            F.size("hs").alias("set_size"),
            F.explode_outer("hs").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )


JAC_INDEX_TARGET_ROWS = 1 << 21  # ~2M posting rows per bucket


def write_jaccard_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    buckets: int | None = None,
    target_rows_per_bucket: int = JAC_INDEX_TARGET_ROWS,
) -> int:
    """Persist build_jaccard_index to `{path}/postings`, HASH-BUCKETED
    by shingle (`_bucket = pmod(shingle, B)` partition directories) —
    the train-once/join-many contract for incremental exact-threshold
    near-dup (daily increments never re-shingle history).

    The bucketing is what makes the base-side cost of an increment
    O(|delta|) instead of O(|base|): every posting row for a given
    shingle lives in exactly ONE bucket, so a delta batch needs only
    the buckets its own shingles hash into
    (jaccard_pairs_incremental_indexed prunes at PLANNING time via
    partition pruning). With `buckets=None` the count is auto-sized to
    `target_rows_per_bucket`, so per-bucket volume stays ~constant as
    the corpus grows — a delta touching S distinct shingles reads at
    most S buckets' worth of rows no matter how large the base gets
    (the hash-index argument; measured in
    tools/incremental_dedup_probe.py). The modulus is FROZEN at
    creation and recorded in `{path}/meta`; append_jaccard_index grows
    the store under it, and a rebucket (rewrite at a larger B) is the
    maintenance action once per-bucket volume drifts past ~2x target.

    Returns the bucket count used. Auto-sizing pays one extra pass
    over the delta-free postings for the count; pass `buckets`
    explicitly to skip it."""
    spark = df.sparkSession
    postings = build_jaccard_index(df, id_col, text_col, n)
    if buckets is None:
        total = postings.count()
        buckets = max(1, -(-total // int(target_rows_per_bucket)))
    buckets = int(buckets)
    bucketed = postings.withColumn(
        "_bucket", F.pmod(F.col("shingle"), F.lit(buckets)).cast("int")
    )
    (
        bucketed.repartition(max(buckets, 32), "_bucket")
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(path.rstrip("/") + "/postings")
    )
    spark.createDataFrame(
        [(buckets, int(n))], "buckets int, n int"
    ).coalesce(1).write.mode("overwrite").json(path.rstrip("/") + "/meta")
    return buckets


def read_jaccard_index_meta(spark, path: str) -> dict | None:
    """The frozen index parameters ({"buckets": B, "n": n}), or None
    for a pre-bucketing flat index (back-compat: full-scan reads)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/meta")
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return None
    row = spark.read.json(path.rstrip("/") + "/meta").collect()[0]
    return {"buckets": int(row["buckets"]), "n": int(row["n"])}


def read_jaccard_index(spark, path: str) -> DataFrame:
    """Load a write_jaccard_index result as the postings frame
    jaccard_pairs_incremental takes — a lazy full scan, nothing
    collected (consumers that want bucket pruning go through
    jaccard_pairs_incremental_indexed instead)."""
    df = spark.read.parquet(path.rstrip("/") + "/postings")
    return df.drop("_bucket") if "_bucket" in df.columns else df


def append_jaccard_index(
    spark, path: str, delta: DataFrame, id_col: str, text_col: str
) -> None:
    """Fold a delta batch into the bucketed store under the FROZEN
    modulus (the next increment then sees base+delta without any
    rewrite): delta postings append into their matching `_bucket`
    directories only — O(|delta|) write, untouched buckets' files are
    never rewritten."""
    meta = read_jaccard_index_meta(spark, path)
    if meta is None:
        raise ValueError(
            f"{path} is a flat (pre-bucketing) index; rewrite it with "
            "write_jaccard_index before appending"
        )
    bucketed = build_jaccard_index(delta, id_col, text_col, meta["n"]).withColumn(
        "_bucket", F.pmod(F.col("shingle"), F.lit(meta["buckets"])).cast("int")
    )
    bucketed.write.mode("append").partitionBy("_bucket").parquet(
        path.rstrip("/") + "/postings"
    )


def jaccard_pairs_incremental(
    base_postings: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """INCREMENTAL exact-threshold n-gram Jaccard: every pair the delta
    batch introduces against an indexed base (>= threshold, at least
    one side in delta), with ZERO recomputation over base text. The
    delta pays O(|delta|) shingle work; its postings then join the
    stored base postings BROADCAST (batch-vs-base — the base posting
    list streams map-side and never reshuffles) plus its own postings
    for delta-delta pairs. Orientation discipline: a delta-vs-base row
    appears once by construction; a delta-vs-delta common shingle
    would appear in both orientations, so the right side keeps only
    (base rows) OR (delta rows with doc_l < doc_r) — each pair's
    intersection is counted exactly once. Base-base pairs are
    structurally excluded (they were reported when their batches
    arrived). Exactness: intersection counts come from distinct-
    shingle postings, so incremental == full-recompute restricted to
    delta-touching pairs (asserted in tests/test_llm.py and oracle-
    gated by dedup_ngram_jaccard_incremental).

    The hot-shingle cap (`max_shingle_df`) is a corpus-global decision
    that changes as the corpus grows, so capping on PARTIAL counts
    would silently diverge from the one-shot semantics. The cap here
    therefore recomputes each shingle's CURRENT total df (stored base
    postings + this delta) before dropping — see
    _jaccard_pairs_from_delta_postings; with the bucketed store the
    recount touches only the delta's buckets, each of which holds its
    shingles' COMPLETE posting lists, so the df is exact, not partial.
    Pairs reported by EARLIER increments reflect the df of the corpus
    as it was then — append-only outputs are not retroactively
    re-capped, the same contract every streaming dedup pipeline has."""
    d_post = build_jaccard_index(delta, id_col, text_col, n).localCheckpoint()
    return _jaccard_pairs_from_delta_postings(
        d_post, base_postings, threshold, max_shingle_df
    )


def _jaccard_pairs_from_delta_postings(
    d_post: DataFrame,
    base_postings: DataFrame,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shared core of the incremental exact tier: delta postings
    (already built) vs stored base postings. `max_shingle_df` drops
    HOT shingles by their df over base+delta — the hot set is tiny by
    definition (df > cap), so it broadcasts and both sides anti-join
    it map-side; set sizes stay full, exactly the one-shot
    jaccard_pairs cap semantics (capped incremental == capped one-shot
    restricted to delta-touching pairs, asserted in tests)."""
    if max_shingle_df is not None:
        hot = (
            base_postings.select("shingle")
            .unionByName(d_post.select("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
        )
        d_post = d_post.join(F.broadcast(hot), "shingle", "left_anti")
        base_postings = base_postings.join(F.broadcast(hot), "shingle", "left_anti")
    right = base_postings.select(
        F.col("doc").alias("doc_r"),
        F.col("set_size").alias("size_r"),
        "shingle",
        F.lit(False).alias("r_is_delta"),
    ).unionByName(
        d_post.select(
            F.col("doc").alias("doc_r"),
            F.col("set_size").alias("size_r"),
            "shingle",
            F.lit(True).alias("r_is_delta"),
        )
    )
    left = d_post.select(
        F.col("doc").alias("doc_l"), F.col("set_size").alias("size_l"), "shingle"
    )
    joined = (
        F.broadcast(left)
        .join(right, "shingle")
        .filter(
            (F.col("doc_l") != F.col("doc_r"))
            & (~F.col("r_is_delta") | (F.col("doc_l") < F.col("doc_r")))
        )
    )
    fwd = F.col("doc_l") < F.col("doc_r")
    inter = (
        joined.select(
            F.least("doc_l", "doc_r").alias("doc_a"),
            F.greatest("doc_l", "doc_r").alias("doc_b"),
            F.when(fwd, F.col("size_l")).otherwise(F.col("size_r")).alias("size_a"),
            F.when(fwd, F.col("size_r")).otherwise(F.col("size_l")).alias("size_b"),
        )
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_threshold(inter, threshold)


def jaccard_pairs_incremental_indexed(
    spark,
    index_path: str,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """jaccard_pairs_incremental against a BUCKETED on-disk index, with
    planning-time bucket pruning: the delta's shingles are hashed with
    the index's frozen modulus, the distinct touched bucket ids are
    collected (at most min(|delta shingles|, B) ints — delta-sized,
    never corpus-sized), and the base scan reads ONLY those `_bucket=`
    partition directories. Base-side rows read =
    O(min(|base postings|, S x rows_per_bucket)) for S distinct delta
    shingles — the hash-index cost shape, with the two regimes stated
    honestly:

    - S << B (single-doc dedup-check-on-write, trickle ingest, point
      near-dup queries): rows read are CONSTANT as the base grows —
      tools/incremental_dedup_probe.py measures a 1-doc lookup reading
      the same few buckets while the corpus grows 64x.
    - S >= B (bulk proportional increments): every bucket holds some
      delta shingle, pruning keeps all of them, and the path degrades
      GRACEFULLY to the flat full-scan join (whose base side already
      streams map-side against the broadcast delta — a scan, never a
      shuffle). No regime is worse than the unbucketed path.

    Results are identical to the full-scan path in both regimes
    (asserted in tests/test_llm.py): pruning only removes buckets that
    cannot contain a delta shingle's postings. The shingle n-gram
    width comes from the index meta — the delta must shingle the same
    way the base was indexed; for a legacy meta-less index the caller
    MUST pass `n` explicitly (a silent n=3 default against a base
    indexed with another width returns wrong pairs with no error), and
    an explicit `n` that disagrees with an existing meta raises."""
    meta = read_jaccard_index_meta(spark, index_path)
    if meta is None:
        if n is None:
            raise ValueError(
                f"Jaccard index at {index_path!r} has no meta (legacy "
                f"layout); pass the build's shingle width n explicitly — "
                f"defaulting would silently shingle the delta differently "
                f"from the base and return wrong pairs."
            )
        return jaccard_pairs_incremental(
            read_jaccard_index(spark, index_path),
            delta,
            id_col,
            text_col,
            n,
            threshold,
            max_shingle_df,
        )
    if n is not None and n != meta["n"]:
        raise ValueError(
            f"explicit n={n} conflicts with the index meta n={meta['n']} "
            f"at {index_path!r}"
        )
    d_post = build_jaccard_index(delta, id_col, text_col, meta["n"]).localCheckpoint()
    touched = [
        r["b"]
        for r in d_post.select(
            F.pmod(F.col("shingle"), F.lit(meta["buckets"]))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .collect()
    ]
    # plan from EXPLICIT bucket directory paths, not a root scan with a
    # partition filter: listing the root costs O(total buckets) file-
    # system metadata (measured dominating the lookup wall at 8k+
    # buckets) while listing the touched dirs costs O(|touched|) — the
    # same no-root-listing discipline the manifest layer's snapshot
    # reads use. Buckets no base shingle ever hashed into have no
    # directory; skipping them is exactly the pruning decision.
    root = index_path.rstrip("/") + "/postings"
    paths = _existing_partition_paths(spark, root, "_bucket", touched)
    if not paths:
        base = read_jaccard_index(spark, index_path).limit(0)
    else:
        base = spark.read.parquet(*paths)
    return _jaccard_pairs_from_delta_postings(
        d_post, base, threshold, max_shingle_df
    )


def ingest_unless_duplicate(
    spark,
    index_path: str,
    table_dir: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    batch_id: int,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """DEDUP-GATED INGESTION — the composition a training-data pipeline
    runs at the door: a new batch is admitted into a manifest-committed
    table ONLY net of near-duplicates, decided against the maintained
    bucketed Jaccard index in O(|batch|) work (never a corpus rescan):

      1. `jaccard_pairs_incremental_indexed` finds every >= threshold
         pair the batch introduces (vs the indexed base AND within the
         batch), reading only the touched index buckets;
      2. the GREEDY KEEP-MIN rule drops a batch doc iff it pairs with
         a base doc or a smaller-id batch doc — base content always
         wins, and within the batch the earliest id represents its
         group (same orientation discipline the pair generator uses);
      3. survivors commit atomically via write_and_commit_batch (one
         manifest version — a crashed ingest is invisible) and fold
         into the index via append_jaccard_index, so the NEXT batch
         dedups against base + this batch with no rebuild.

    Returns the surviving rows. The flagged-id frame is broadcast on
    the anti-join: duplicates are assumed batch-bounded (they are a
    subset of the batch by construction)."""
    from ..streaming import manifest as _manifest

    pairs = jaccard_pairs_incremental_indexed(
        spark, index_path, batch, id_col, text_col,
        threshold=threshold, max_shingle_df=max_shingle_df,
    )
    ids = batch.select(F.col(id_col).alias("_in_id")).distinct()
    a_mark = ids.select(
        F.col("_in_id").alias("doc_a"), F.lit(True).alias("_a_in")
    )
    b_mark = ids.select(
        F.col("_in_id").alias("doc_b"), F.lit(True).alias("_b_in")
    )
    p = (
        pairs.join(F.broadcast(a_mark), "doc_a", "left")
        .join(F.broadcast(b_mark), "doc_b", "left")
    )
    flagged = p.select(
        F.when(
            F.col("_a_in").isNotNull() & F.col("_b_in").isNotNull(),
            F.greatest("doc_a", "doc_b"),
        )
        .when(F.col("_a_in").isNotNull(), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("_dup")
    ).distinct()
    survivors = batch.join(
        F.broadcast(flagged), batch[id_col] == F.col("_dup"), "left_anti"
    )
    survivors = survivors.localCheckpoint()  # pin: committed == appended
    _manifest.write_and_commit_batch(spark, survivors, table_dir, batch_id)
    append_jaccard_index(spark, index_path, survivors, id_col, text_col)
    return survivors


def connected_components_incremental(
    base_labels: DataFrame,
    new_pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
) -> DataFrame:
    """INCREMENTAL connected components: fold a batch of NEW edges into
    stored (node, component) labels without re-running propagation over
    the base graph. New edges can only MERGE components (never split),
    so the update works on the CONTRACTED graph: map each new edge's
    endpoints to their current component label (new nodes label
    themselves), keep only edges that bridge two different labels, run
    the ordinary min-label CC on that tiny label graph, and relabel.
    Because labels are min-node-ids, the merged group's super-label =
    min over part labels = the min node id of the merged component —
    exactly what a full recompute would assign, so incremental == full
    (asserted in tests/test_llm.py; oracle-gated by
    dedup_incremental_clusters).

    Cost shape: O(|new edges|) for the contraction, CC over a graph
    whose size is bounded by the number of DISTINCT components the
    batch touches (not their members), and ONE broadcast join to
    relabel — the stored label table streams map-side and never
    reshuffles. The missing piece between incremental pair generation
    (jaccard_pairs_incremental / minhash_lsh_pairs_incremental) and a
    maintained duplicate-cluster table."""
    ep = (
        new_pairs.select(F.col(a_col).alias("node"))
        .unionByName(new_pairs.select(F.col(b_col).alias("node")))
        .distinct()
    )
    lab = ep.join(base_labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("label")
    )
    a = lab.select(F.col("node").alias(a_col), F.col("label").alias("_la"))
    b = lab.select(F.col("node").alias(b_col), F.col("label").alias("_lb"))
    contracted = (
        new_pairs.join(a, a_col)
        .join(b, b_col)
        .filter(F.col("_la") != F.col("_lb"))
        .select(
            F.least("_la", "_lb").alias("doc_a"),
            F.greatest("_la", "_lb").alias("doc_b"),
        )
        .distinct()
    )
    super_ = connected_components(contracted, "doc_a", "doc_b", max_iters)
    mapping = super_.select(
        F.col("node").alias("label"), F.col("component").alias("_new_label")
    )
    new_nodes = lab.join(base_labels.select("node"), "node", "left_anti")
    allnodes = base_labels.select(
        "node", F.col("component").alias("label")
    ).unionByName(new_nodes)
    return allnodes.join(F.broadcast(mapping), "label", "left").select(
        "node", F.coalesce("_new_label", "label").alias("component")
    )
