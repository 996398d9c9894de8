"""Product quantization (PQ) for embedding compression / ANN at scale.

The IVF-PQ combination (Jegou et al. 2011, "Product Quantization for
Nearest Neighbor Search") is the canonical 100 TB ANN layout: vectors are
split into M subspaces, each subspace gets its own small k-means codebook,
and a vector is stored as M one-byte codes — here 64 float32 dims become
4 codes (64x smaller), and distance computation against a query becomes M
table lookups.

Distributed shape (mirrors kmeans_centroids in similarity.py):
- training state is the M x K x (D/M) codebook — model-sized; it is the
  ONLY thing that ever reaches the driver;
- all M subspace k-means run JOINTLY: one explode to (row, subspace)
  grain, one groupBy(sub_id, cid, dim) per iteration — job count is
  independent of M;
- assignment is a broadcast-by-literal argmin (array_min over
  struct(dist, cid) — ties to the lowest code id, deterministic);
- encoding is map-side only: explode -> argmin -> collect_list per id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dim_checked(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """Fail-loud dimension gate (round-3 advice): a row whose vector
    length differs from the codebook's training dim would previously be
    silently truncated / mis-sliced into wrong codes; now any such row
    raises with its id. Null vectors are excluded (a real decoder skips
    absent payloads; PQ has no code for 'no vector')."""
    ok = F.size(vec_col) == F.lit(dim)
    return df.filter(F.col(vec_col).isNotNull()).withColumn(
        "_dim_ok",
        F.assert_true(
            ok,
            F.concat(
                F.lit(f"PQ: vector length != training dim {dim} for {id_col}="),
                F.col(id_col).cast("string"),
            ),
        ),
    ).drop("_dim_ok")


def _sub_grain(
    df: DataFrame, id_col: str, vec_col: str, m: int, dim: int
) -> DataFrame:
    """(id, vec) -> (id, sub_id, sv): one row per subspace slice.

    `dim` is the training dimensionality (validated against every row by
    _dim_checked); slicing uses the literal dim//m, never a per-row
    size() — so a dirty row can only fail loudly, never mis-slice."""
    d_sub = dim // m
    return (
        _dim_checked(df, id_col, vec_col, dim)
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub_id"),
        )
        .withColumn(
            "sv",
            F.slice(F.col("_v"), F.col("sub_id") * d_sub + 1, d_sub),
        )
        .drop("_v")
    )


def _books_df(spark, codebooks: list[list[list[float]]]) -> DataFrame:
    """The M x K x Dsub codebook as a 1-row broadcastable frame.

    Codebooks ride as DATA, not as a nested array literal: a literal
    embeds ~M*K*Dsub constants in the plan, so every training iteration
    (new codebook values) compiles a fresh multi-thousand-node
    expression tree — repeated plan-compile cost and codegen-cache
    churn (the same pathology the BPE merge loop hit). As a joined
    1-row frame, the plan is structurally identical across iterations
    and compiles once."""
    return spark.createDataFrame(
        [(codebooks,)], "books array<array<array<double>>>"
    )


def _assign(sub: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """Add `cid` (nearest codeword, L2) and `sq_err` (distance^2) per
    (row, subspace)."""
    books_df = F.broadcast(_books_df(sub.sparkSession, codebooks))
    my_book = F.element_at(F.col("books"), F.col("sub_id") + 1)
    scored = F.transform(
        my_book,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(F.col("sv"), c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            i.cast("int").alias("cid"),
        ),
    )
    best = F.array_min(scored)
    return (
        sub.crossJoin(books_df)
        .withColumn("cid", best["cid"])
        .withColumn("sq_err", best["dist"])
        .drop("books")
    )


def train_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 3,
) -> list[list[list[float]]]:
    """Learn M per-subspace codebooks with joint Lloyd iterations.

    Seeding: the k lowest-id vectors' subspace slices (deterministic
    across runs and partitionings, same policy as the IVF coarse
    quantizer). Clusters that lose all members keep their previous
    codeword."""
    seeds = df.orderBy(F.col(id_col)).limit(k).select(vec_col).collect()
    if not seeds:
        raise ValueError("empty training frame")
    dim = len(seeds[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    codebooks = [
        [
            [float(x) for x in r[vec_col][s * d_sub : (s + 1) * d_sub]]
            for r in seeds
        ]
        for s in range(m)
    ]

    sub = _sub_grain(df, id_col, vec_col, m, dim)
    for _ in range(iters):
        new = (
            _assign(sub, codebooks)
            .select("sub_id", "cid", F.posexplode("sv").alias("dim", "x"))
            .groupBy("sub_id", "cid", "dim")
            .agg(F.avg("x").alias("c"))
            .groupBy("sub_id", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dims"))
            .select(
                "sub_id",
                "cid",
                F.transform("dims", lambda s: s["c"]).alias("centroid"),
            )
            .collect()
        )
        for r in new:
            codebooks[r["sub_id"]][r["cid"]] = [float(x) for x in r["centroid"]]
    return codebooks


def encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec) -> (id, codes array<int>, sq_err): M codes per vector in
    subspace order plus the total reconstruction error. Map-side only
    (explode -> literal argmin -> collect per id; the 'shuffle' is by the
    original id, which pre-partitioned storage makes a no-op)."""
    m = len(codebooks)
    dim = m * len(codebooks[0][0])
    assigned = _assign(_sub_grain(df, id_col, vec_col, m, dim), codebooks)
    return (
        assigned.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.array_sort(F.collect_list(F.struct("sub_id", "cid"))).alias("_sc"),
            F.sum("sq_err").alias("sq_err"),
        )
        .select(
            id_col,
            F.transform("_sc", lambda s: s["cid"]).alias("codes"),
            "sq_err",
        )
    )


def adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Asymmetric distance computation (ADC) top-k over PQ codes: the
    query stays full-precision, the corpus is its M codes, and the
    approximate L2^2 distance is M table lookups into the query's
    per-subspace distance table.

    100 TB shape: the corpus side never rehydrates vectors — the scan
    reads M small ints per row (the whole point of PQ storage); queries
    broadcast with their M x K distance tables computed as expressions
    (model-sized); ranking is the standard per-query top-k window over
    candidate rows. Recall < 1 by design (quantization coarseness) —
    bounded against exact L2 in tests, and measured on the real corpus
    (COVERAGE.md, sf0.1): recall@10 vs exact L2 is
    0.185/0.240/0.355 at M=4/8/16 subspaces (64x/32x/16x compression) —
    the numbers that make ADC the CANDIDATE stage of a two-stage
    retrieve-then-rerank pipeline (shortlist at 8-32x compression,
    exact-rerank the shortlist), not a standalone ranker."""
    from pyspark.sql import Window

    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    dim = m * d_sub
    queries = _dim_checked(queries, id_col, vec_col, dim)
    # per-query distance table: T[s][c] = ||q_s - codebook[s][c]||^2
    table = F.transform(
        F.col("books"),
        lambda book, s: F.transform(
            book,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col(vec_col).cast("array<double>"),
                        s.cast("int") * d_sub + 1,
                        d_sub,
                    ),
                    c,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    q = queries.crossJoin(F.broadcast(_books_df(queries.sparkSession, codebooks))).select(
        F.col(id_col).alias("query_id"), table.alias("dist_table")
    )
    scored = F.broadcast(q).crossJoin(
        corpus_codes.select(F.col(id_col).alias("cand_id"), "codes")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("dist_table"),
            F.col("codes"),
            lambda t, c: F.element_at(t, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    ranked = scored.select(
        "query_id", "cand_id", F.round(adc, 6).alias("adc_dist")
    ).filter(F.col("query_id") != F.col("cand_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("cand_id")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "adc_dist", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 4,
    m: int = 8,
    shortlist: int = 50,
    iters: int = 2,
) -> DataFrame:
    """IVF-PQ two-stage retrieval — the canonical production ANN
    deployment shape (Jegou et al. 2011), composed from the engine's
    oracle-gated pieces: coarse IVF cells (kmeans_centroids /
    assign_to_centroids) prune the corpus to the query's `n_probe`
    nearest cells; ADC over PQ codes scores the probed candidates
    without rehydrating vectors and keeps a `shortlist`; an exact
    cosine RERANK of the shortlist produces the final top-k. Returns
    (query_id, cand_id, sim, rn) with the same rounded-cosine total
    tiebreak as cosine_topk/ivf_topk.

    `shortlist=0` disables the ADC cut (every probed candidate is
    reranked), which gives the pipeline its deterministic ENDPOINT:
    with n_probe = n_cells and no shortlist, every corpus vector
    reaches the exact rerank exactly once, so the result EQUALS
    brute-force search — the property the registered gate
    sim_ann_ivf_pq_rerank hash-checks against a pure-SQL oracle (any
    candidate lost or duplicated anywhere in the cell -> code -> ADC ->
    rerank chain breaks the equality). At production knobs the recall
    knobs are n_probe (measured curve: COVERAGE.md,
    0.82 -> 1.00) and shortlist/M (ADC recall@10 0.185-0.355 at
    M=4-16 — why ADC is the candidate stage, and why the rerank is
    exact). The COMPOSED pipeline's end-to-end curve is measured on
    the real sf0.1 corpus (COVERAGE.md, 16
    cells, M=8): recall@5 vs exact = 0.460 (probe 2/16, shortlist
    20) / 0.608 (4/16, 50) / 0.636 (8/16, 50) / 0.900 (8/16,
    rerank-all-probed) / 1.000 (full probe, asserted) — the ADC
    shortlist is the cheap knob, the cell probe the recall knob.

    100 TB shape: the corpus at rest is (cell, M-byte codes) — cells
    partition-prune the scan, codes keep it ~64x smaller than vectors,
    and full-precision vectors are touched only for the per-query
    shortlist join; centroids and codebooks are model-sized broadcast
    state."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine_similarity
    from . import similarity

    centroids = similarity.kmeans_centroids(
        corpus, id_col, vec_col, k=n_cells, iters=iters
    )
    assigned = similarity.assign_to_centroids(
        corpus, centroids, id_col, vec_col
    ).select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cid")
    books = train_codebooks(corpus, id_col, vec_col, m=m, iters=iters)
    codes = encode(corpus, books, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), "codes"
    )
    cells = assigned.join(codes, "cand_id")

    cents_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            [(centroids,)], "cents array<array<double>>"
        )
    )
    cell_scored = F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            cosine_similarity(F.col(vec_col), c).alias("sim"), i.alias("cid")
        ),
    )
    probes = F.slice(F.reverse(F.array_sort(cell_scored)), 1, n_probe)
    d_sub = len(books[0][0])
    table = F.transform(
        F.col("books"),
        lambda book, s: F.transform(
            book,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(
                        F.col(vec_col).cast("array<double>"),
                        s.cast("int") * d_sub + 1,
                        d_sub,
                    ),
                    c,
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    # dist_table/probe list materialized as bound attributes BEFORE the
    # probe-cell explode so they are computed once per query, not once
    # per (query, probed cell) row
    q0 = (
        queries.crossJoin(cents_df)
        .crossJoin(F.broadcast(_books_df(queries.sparkSession, books)))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            table.alias("dist_table"),
            F.transform(probes, lambda s: s["cid"]).alias("probe_cids"),
        )
    )
    q = q0.select(
        "query_id", "qv", "dist_table", F.explode("probe_cids").alias("cid")
    )
    cands = F.broadcast(q).join(cells, "cid")
    adc = F.aggregate(
        F.zip_with(
            F.col("dist_table"),
            F.col("codes"),
            lambda t, c: F.element_at(t, c.cast("int") + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc_scored = cands.select(
        "query_id", "qv", "cand_id", "cv", F.round(adc, 6).alias("adc_dist")
    )
    if shortlist and shortlist > 0:
        ws = Window.partitionBy("query_id").orderBy(
            F.asc("adc_dist"), F.asc("cand_id")
        )
        adc_scored = (
            adc_scored.withColumn("_sl", F.row_number().over(ws))
            .filter(F.col("_sl") <= shortlist)
            .drop("_sl")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        adc_scored.select(
            "query_id",
            "cand_id",
            F.round(cosine_similarity(F.col("qv"), F.col("cv")), 4).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "sim", "rn")
    )
