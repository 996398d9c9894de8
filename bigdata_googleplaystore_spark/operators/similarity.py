"""Similarity search over embedding columns (`array<float>`).

Two tiers:

- brute-force cosine top-k: broadcast the (small) query set against the
  corpus — exact, O(N·Q), the correctness baseline. Per-query top-k via a
  rank window partitioned by query (one shuffle on query id).
- LSH-bucketed ANN: random-hyperplane signatures computed by a
  deterministic Arrow-batched pandas UDF (numpy matmul per batch); probe
  only matching buckets (optionally with multi-probe neighbors), then
  exact-rank within the candidate set. The 100 TB path: candidate
  generation is a group-by on signature, cost ~ bucket sizes, not N·Q.

The reference has no vector operators; this is north-star surface
(BASELINE.json). Ranking is always on `round(sim, 4)` with id tiebreaks so
results are reproducible across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact brute-force top-k: broadcast queries x corpus, JVM-side
    zip_with/aggregate dot products, rank window per query.

    Built as ONE parsed SQL statement (for driver-side construction
    cost) with `_cosine_sql` mirroring functions/vectors.py's
    cosine_similarity tree exactly — same left-to-right double
    accumulation, so the rounded sims match DuckDB's sequential
    list_dot_product (the exactness contract that bars a numpy matmul
    rewrite). Persisted inputs take the Column path: parameterized
    spark.sql UNPERSISTS a bound cached frame (see dedup operators)."""
    if corpus.is_cached or queries.is_cached:
        return _cosine_topk_columns(corpus, queries, id_col, vec_col, k)
    idq = f"`{id_col.replace('`', '``')}`"
    vq = f"`{vec_col.replace('`', '``')}`"
    return corpus.sparkSession.sql(
        f"""
        WITH sims AS (
          SELECT /*+ BROADCAST(q) */
                 query_id, cand_id, round({_cosine_sql('qv', 'cv')}, 4) AS sim
          FROM (SELECT {idq} AS query_id, {vq} AS qv FROM {{queries}}) q
          CROSS JOIN (SELECT {idq} AS cand_id, {vq} AS cv FROM {{corpus}}) c
        )
        SELECT query_id, cand_id, sim, rn FROM (
          SELECT query_id, cand_id, sim,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY sim DESC, cand_id) AS rn
          FROM sims
        ) WHERE rn <= {int(k)}
        """,
        queries=queries,
        corpus=corpus,
    )


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>),"
        f" CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y),"
        f" 0.0D, (acc, x) -> acc + x)"
    )


def _cosine_sql(a: str, b: str) -> str:
    """SQL rendering of functions/vectors.cosine_similarity — identical
    tree (double cast, left-to-right aggregate fold, null on zero norm)."""
    denom = f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    return (
        f"CASE WHEN {denom} > 0.0D THEN {_dot_sql(a, b)} / {denom}"
        f" ELSE NULL END"
    )


def _cosine_topk_columns(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Column-composed derivation of cosine_topk — the cache-safe path
    and the cross-derivation witness tests pin against the SQL form."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    sims = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "cand_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "sim", "rn")
    )


def cosine_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (id_a < id_b) with
    cosine >= threshold. Exact all-pairs baseline — O(N²/2) similarity
    evaluations, JVM-side.

    Scale path: replace the self-join with `hyperplane_signatures`
    bucketing (join on bucket, verify candidates exactly, same shape as
    dedup.minhash_lsh_pairs) once N² stops fitting; kept exact here so the
    operator is oracle-checkable."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = F.broadcast(a).join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def hyperplane_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH signature (sign bits of dot with n_planes
    fixed gaussian planes) as an integer bucket id.

    The plane matrix is derived deterministically from `seed` inside the
    UDF, so executors regenerate identical planes with no broadcast needed.
    Arrow-batched pandas UDF: one numpy (batch x dim) @ (dim x planes)
    matmul per batch — the sanctioned slow path for genuinely numeric work.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    def _sig_fn(vecs):
        import numpy as np
        import pandas as pd

        planes = np.random.default_rng(seed).standard_normal((dim, n_planes))
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        # One (batch x dim) @ (dim x planes) matmul per Arrow batch; the
        # bit-pack is a second tiny matmul against powers of two. Same
        # result as the per-row loop it replaced, ~batch-size x faster.
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        return pd.Series(bits @ weights, dtype="int64")

    _sig = pandas_udf(_sig_fn, LongType())

    return df.select(
        F.col(id_col), F.col(vec_col), _sig(F.col(vec_col)).alias("bucket")
    )


def hyperplane_signature_tables(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Multi-table LSH signatures: `n_tables` independent hyperplane
    signatures per vector, computed in ONE Arrow-batched matmul against a
    (dim x n_planes*n_tables) plane matrix, returned as
    (id, table, bucket) rows.

    Multiple tables are how hyperplane LSH reaches high recall: a single
    b-bit table keeps a near-dup pair with probability p^b (p = 1 - θ/π);
    L tables keep it with 1-(1-p^b)^L. One data pass regardless of L."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    def _sigs_fn(vecs):
        import numpy as np
        import pandas as pd

        planes = np.random.default_rng(seed).standard_normal(
            (dim, n_planes * n_tables)
        )
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes).reshape(len(vecs), n_tables, n_planes) > 0
        weights = (1 << np.arange(n_planes)).astype(np.int64)
        buckets = bits @ weights  # (batch x n_tables)
        return pd.Series(list(buckets))

    _sigs = pandas_udf(_sigs_fn, ArrayType(LongType()))

    sig = df.select(F.col(id_col), _sigs(F.col(vec_col)).alias("buckets"))
    return sig.select(
        id_col, F.posexplode_outer("buckets").alias("table", "bucket")
    ).filter(F.col("bucket").isNotNull())


def embedding_near_pairs_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Scale path for embedding near-dup: multi-table hyperplane LSH
    candidate generation + exact cosine verification.

    Candidates = pairs sharing any (table, bucket) — a self-equi-join on
    constant-size keys, cost ~ sum of bucket sizes squared per table, NOT
    N². Every candidate is verified with the exact rounded cosine, so the
    output is a strict subset of `cosine_near_pairs` (no false positives;
    false negatives at rate (1-p^b)^L are the documented ANN trade — with
    the defaults and cos >= 0.9 that is < 1%).

    At 100 TB: the signature pass is one Arrow matmul scan; the bucket
    join shuffles (table, bucket, id) triples; only candidate pairs touch
    vectors again (joined by id, shuffle on id). SIZE n_planes WITH THE
    CORPUS: buckets per table = 2^n_planes, so a fixed plane count lets
    bucket occupancy — and the bucketed self-join's
    sum-of-bucket-sizes-squared cost — grow quadratically. Measured
    (COVERAGE.md, 2k->32k vectors, replica families so
    true pairs grow quadratically): with n_planes ~ log2(N/250)
    (occupancy pinned ~250) wall grows 1.0x/2.2x/15.5x at 1x/4x/16x —
    linear — at 99.93% recall of the 240k planted pairs; with
    n_planes=4 held fixed, the 16x cell did not complete in 10 minutes
    on local[32]."""
    sigs = hyperplane_signature_tables(
        df, id_col, vec_col, n_planes, dim, n_tables, seed
    )
    a = sigs.select(F.col(id_col).alias("id_a"), "table", "bucket")
    b = sigs.select(F.col(id_col).alias("id_b"), "table", "bucket")
    cands = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means over a DataFrame of vectors, for the
    IVF coarse quantizer.

    Iterative-algorithm-on-DataFrames pattern: only the k centroids
    (k x dim floats) ever touch the driver; each iteration's assign step
    is a broadcast argmin over the corpus and the update step is a
    posexplode -> groupBy(cluster, dim) -> avg (elementwise mean without
    any vector UDAF). Seeding is the k lowest-id vectors — deterministic
    across runs/partitionings by construction."""
    seeds = (
        df.orderBy(F.col(id_col)).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in seeds]

    for _ in range(iters):
        assigned = assign_to_centroids(df, centroids, id_col, vec_col)
        new = (
            assigned.select("cid", F.posexplode(F.col(vec_col)).alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dims"))
            .select("cid", F.transform("dims", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        for r in new:  # clusters that lost all members keep their old centroid
            centroids[r["cid"]] = [float(x) for x in r["centroid"]]
    return centroids


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add `cid` = index of the nearest centroid (max cosine; ties -> the
    lowest index via the (sim, -cid) max-struct trick). Centroids ride
    along as a 1-row broadcast frame, NOT an array-of-arrays literal: a
    literal embeds k*dim constants in the plan, so every k-means
    iteration (new centroid values) compiled a fresh expression tree —
    repeated plan-compile cost and codegen-cache churn. As joined data
    the per-iteration plan is structurally constant and compiles once
    (measured: sim_ann_ivf 14s -> ~6s cold at sf0.01)."""
    cents_df = F.broadcast(
        df.sparkSession.createDataFrame([(centroids,)], "cents array<array<double>>")
    )
    scored = F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            cosine_similarity(F.col(vec_col), c).alias("sim"),
            (-i).cast("long").alias("neg_cid"),
        ),
    )
    best = F.array_max(scored)
    return (
        df.crossJoin(cents_df)
        .withColumn("cid", (-best["neg_cid"]).cast("int"))
        .drop("cents")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 2,
    centroids: list | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means cells over the corpus, each query
    probes its `n_probe` nearest cells, exact cosine rank within the
    probed candidates. The 100 TB shape: the corpus partitions by cell
    (cluster-prunable at rest), and query cost is |probed cells| not |N|
    — with n_cells scaled ~sqrt(N) (cell size held constant), per-query
    candidates grow O(n_probe * sqrt(N)) vs brute force's O(N)
    (measured across two corpus octaves in COVERAGE.md).
    Pass pre-trained `centroids` (a kmeans_centroids result) to reuse an
    index across query batches — production trains once per corpus
    version and amortizes; omitting it trains inline. When `centroids`
    is provided, `n_cells` and `iters` are train-time knobs and are
    IGNORED (the cell count is len(centroids)); a mismatched
    (`centroids`, `assigned`) pair from different trainings is rejected
    when detectable (assigned cids beyond the centroid count). Pass `assigned`
    (an assign_to_centroids result selected to (cand_id, cv, cid),
    e.g. the corpus stored partitioned by cell) to skip the per-call
    corpus assignment too — that O(N x n_cells) pass is INDEX BUILD
    work, and rebuilding it per query batch inverts the cost advantage
    once n_cells > |queries| (measured in COVERAGE.md:
    the stored-index query path is what scales O(n_probe * sqrt(N))).
    Recall < 1 by design: measured on the real sf0.1 corpus
    (COVERAGE.md) recall@10 sweeps 0.82 -> 1.00 as
    n_probe goes 1 -> n_cells, and the deterministic endpoint — at
    n_probe = n_cells the ranking EQUALS brute force — is hash-gated
    against a pure-SQL exact oracle (sim_ann_ivf_full_probe,
    catalog/llm.py) in addition to the planted top-1 gate
    (sim_ann_ivf)."""
    if assigned is not None and centroids is None:
        # an assignment's cids only mean anything relative to the
        # centroids that produced them — retraining k-means inline here
        # would silently pair fresh probe centroids with stale cell
        # contents and return arbitrary neighbors
        raise ValueError(
            "ivf_topk: `assigned` requires the matching `centroids` — "
            "pass both halves of the stored index"
        )
    if assigned is not None:
        # consistency check: an `assigned` trained against a
        # DIFFERENT (larger) centroid set carries cids no probe can ever
        # select — catch the detectable half of the mismatch instead of
        # returning arbitrary neighbors. Column-pruned single-agg pass
        # over cid only (footer-cheap on a parquet-stored index); the
        # undetectable half (same cell count, different centroids) is a
        # caller contract documented above.
        max_cid = assigned.agg(F.max("cid")).collect()[0][0]
        if max_cid is not None and max_cid >= len(centroids):
            raise ValueError(
                f"ivf_topk: `assigned` references cid {max_cid} but only "
                f"{len(centroids)} centroids were passed — the stored "
                "index halves were trained against different centroid sets"
            )
    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, k=n_cells, iters=iters)
    if assigned is None:
        assigned = assign_to_centroids(corpus, centroids, id_col, vec_col).select(
            F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cid"
        )
    c_assigned = assigned
    cents_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            [(centroids,)], "cents array<array<double>>"
        )
    )
    scored = F.transform(
        F.col("cents"),
        lambda c, i: F.struct(
            cosine_similarity(F.col(vec_col), c).alias("sim"), i.alias("cid")
        ),
    )
    probes = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    q = queries.crossJoin(cents_df).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(F.transform(probes, lambda s: s["cid"])).alias("cid"),
    )
    cands = F.broadcast(q).join(c_assigned, "cid")
    sims = cands.select(
        "query_id",
        "cand_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 4).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "sim", "rn")
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
) -> list[list[float]]:
    """Train an IVF index over `corpus` and PERSIST both halves to disk —
    the train-once/query-many deployment contract ivf_topk's
    `centroids=`/`assigned=` parameters promise, completed across
    process boundaries: `{path}/centroids` holds the k coarse
    quantizer rows (cid, centroid) and `{path}/assignments` the full
    corpus-to-cell map (cand_id, cv), PARTITIONED BY cid so the index
    is cluster-prunable at rest — a query batch probing n_probe cells
    reads exactly those partition directories and never scans the
    other (n_cells - n_probe)/n_cells of the corpus. Writes are
    mode=overwrite, so re-training a corpus version is idempotent.

    Scale posture: centroids are k x dim floats (a broadcast-sized
    single file); assignments are corpus-sized but written once per
    corpus version — the O(N x n_cells) assignment pass is index-BUILD
    cost, amortized over every future query batch
    (COVERAGE.md records the inversion when it is
    paid per batch instead). Returns the trained centroids."""
    spark = corpus.sparkSession
    root = path.rstrip("/")
    cents = kmeans_centroids(corpus, id_col, vec_col, k=n_cells, iters=iters)
    spark.createDataFrame(
        list(enumerate(cents)), "cid INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(root + "/centroids")
    assign_to_centroids(corpus, cents, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cid"
    ).write.mode("overwrite").partitionBy("cid").parquet(root + "/assignments")
    return cents


def append_ivf_assignments(
    spark,
    path: str,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """GROW a persisted IVF index without retraining: assign the delta
    batch against the STORED centroids (the quantizer is frozen — the
    same contract a production vector store runs between periodic
    retrains) and append the rows into the cid-partitioned assignment
    layout. Queries through the grown index see base + delta with
    unchanged semantics: at the full-probe endpoint exactness is
    preserved, because every vector — old or new — is assigned exactly
    once and every cell is probed; at n_probe < n_cells the recall
    model is unchanged (cells just hold more candidates). The ingest
    cost is O(|delta| x n_cells) — the daily-increment shape, never a
    corpus rescan. Returns the number of appended rows."""
    cents, _ = read_ivf_index(spark, path)
    rows = assign_to_centroids(delta, cents, id_col, vec_col).select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cid"
    )
    n = rows.count()
    rows.write.mode("append").partitionBy("cid").parquet(
        path.rstrip("/") + "/assignments"
    )
    return n


def read_ivf_index(spark, path: str) -> tuple[list[list[float]], DataFrame]:
    """Load a write_ivf_index result from disk as the exact
    (`centroids`, `assigned`) pair ivf_topk's stored-index parameters
    take — the query-time half of the train-once/query-many contract.
    Only the k x dim centroid rows are collected to the driver; the
    assignment side stays a lazy cid-partitioned parquet scan, so a
    probe of n_probe cells partition-prunes to those directories.
    Raises if the centroid ids are not the contiguous 0..k-1 range
    (a torn or hand-edited index)."""
    root = path.rstrip("/")
    crows = spark.read.parquet(root + "/centroids").orderBy("cid").collect()
    if [r["cid"] for r in crows] != list(range(len(crows))) or not crows:
        raise ValueError(
            f"read_ivf_index: centroid ids at {root}/centroids are not "
            "contiguous 0..k-1 — torn or corrupted index"
        )
    cents = [[float(x) for x in r["centroid"]] for r in crows]
    assigned = spark.read.parquet(root + "/assignments").select(
        "cand_id", "cv", "cid"
    )
    return cents, assigned


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """ANN top-k: join query and corpus signatures on bucket (plus
    1-bit-flip multiprobe neighbors of the query bucket to cut the miss
    rate), exact cosine rank within candidates. Recall < 1 by design —
    since round 4 the registered query (sim_ann_lsh, catalog/llm.py)
    hash-gates it via a planted-exact-duplicate construction, and the
    measured real-corpus recall curve lives in
    COVERAGE.md."""
    csig = hyperplane_signatures(corpus, id_col, vec_col, n_planes, dim)
    qsig = hyperplane_signatures(queries, id_col, vec_col, n_planes, dim).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    # multiprobe: the query's own bucket, every bucket at Hamming 1, and
    # (multiprobe_bits >= 2) Hamming-2 pair flips. Flips are bounded to
    # bits < n_planes — flipping a bit no signature has set would probe
    # phantom buckets that can never match.
    import itertools

    flips = [1 << b for b in range(n_planes)]
    if multiprobe_bits >= 2:
        flips += [
            (1 << i) | (1 << j)
            for i, j in itertools.combinations(range(n_planes), 2)
        ]
    probes = [F.col("bucket")] + [
        F.col("bucket").bitwiseXOR(F.lit(m)) for m in flips
    ]
    qprobe = qsig.select(
        "query_id", "qv", F.explode(F.array(*probes)).alias("bucket")
    )
    cands = F.broadcast(qprobe).join(
        csig.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "bucket"),
        "bucket",
    )
    sims = cands.select(
        "query_id",
        "cand_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 4).alias("sim"),
    ).distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "sim", "rn")
    )


def covariance_moments(
    df: DataFrame,
    vec_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact d x d covariance matrix of a vector column via fixed-point
    map-side moment partials — the moment-matrix pattern (X^T X
    accumulation) that underlies distributed PCA/whitening/OLS.

    Scale shape: each Arrow batch is reduced IN the map task to one d x d
    integer partial (a numpy int64 matmul), so the shuffle carries
    O(partitions * d^2/2) constant-size rows regardless of row count —
    the explode + position-self-join alternative shuffles O(rows * d)
    and fans O(rows * d^2/2). The global merge is a tiny group-by whose
    decimal sums are exact, making the result independent of partition
    count and accumulation order (asserted in tests).

    Fixed-point contract: components are widened float->double and
    truncated (not rounded — trunc is an exact function of the binary
    double, immune to the shortest-repr-vs-binary rounding divergence
    documented in catalog/_util.py) at `scale`; covariance is then exact
    integer arithmetic divided back at the end. int64 partials are safe
    while batch_rows * (scale * |x|_max)^2 < 2^63 (~9e18): 1e5-row
    batches of unit-norm vectors at 1e6 sit near 1e17. The bound is
    ENFORCED per batch — a batch whose magnitudes could wrap q.T @ q
    raises instead of silently corrupting the covariance (fail-loud per
    round-2 advice; callers with larger-magnitude data pass a smaller
    `scale`).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    inv = 1.0 / (float(scale) * float(scale))

    def partials(batches):
        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            if len(vecs) == 0:
                continue
            q = np.trunc(
                np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) * scale
            ).astype(np.int64)
            n, d = q.shape
            # Enforce the documented int64 precondition: the worst-case
            # accumulated dot product must stay under 2^62 (one bit of
            # headroom). Guard cost is one abs().max() per batch.
            qmax = float(np.abs(q).max()) if q.size else 0.0
            if qmax * qmax * n >= float(2**62):
                raise ValueError(
                    "covariance_moments int64 overflow risk: "
                    f"batch_rows={n} * (scale*|x|_max)^2={qmax * qmax:.3e} "
                    ">= 2^62; reduce `scale` or batch size"
                )
            s = q.T @ q  # d x d, exact in int64 within the enforced bound
            sx = q.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n": np.full(iu.shape, n, dtype=np.int64),
                    "sxy": s[iu, ju],
                    "sxi": sx[iu],
                    "sxj": sx[ju],
                }
            )

    part = df.filter(F.col(vec_col).isNotNull()).mapInPandas(
        partials, "i int, j int, n long, sxy long, sxi long, sxj long"
    )
    mom = part.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum(F.col("sxy").cast("decimal(38,0)")).alias("sxy"),
        F.sum(F.col("sxi").cast("decimal(38,0)")).alias("sxi"),
        F.sum(F.col("sxj").cast("decimal(38,0)")).alias("sxj"),
    )
    n_d = F.col("n").cast("double")
    cov = (
        (n_d * F.col("sxy").cast("double") - F.col("sxi").cast("double") * F.col("sxj").cast("double"))
        / (n_d * n_d)
        * F.lit(inv)
    )
    return mom.select("i", "j", "n", cov.alias("cov"))


def top_principal_component(df: DataFrame, vec_col: str):
    """Top principal component of a vector column: the distributed-PCA
    recipe for data >> model. The exact d x d moment matrix is reduced
    cluster-side (covariance_moments — one constant-size shuffle), and
    ONLY that d x d model (2080 floats at d=64) reaches the driver for
    the eigensolve, the same driver-holds-model contract as the k-means
    centroid step (kmeans_centroids above).

    Returns (v, explained_ratio): the unit eigenvector with the largest
    eigenvalue, sign-normalized so its largest-|.| component is positive
    (eigenvectors are sign-ambiguous; the convention makes results
    reproducible), and that eigenvalue's share of total variance."""
    import numpy as np

    rows = covariance_moments(df, vec_col).collect()
    if not rows:
        raise ValueError("no vectors to decompose")
    d = max(r["j"] for r in rows) + 1
    c = np.zeros((d, d))
    for r in rows:
        c[r["i"], r["j"]] = c[r["j"], r["i"]] = r["cov"]
    w, vecs = np.linalg.eigh(c)
    v = vecs[:, -1]
    if v[int(np.argmax(np.abs(v)))] < 0:
        v = -v
    return v, float(w[-1] / w.sum())


def top_pc_power_iteration(df: DataFrame, vec_col: str, iters: int = 400):
    """Top principal component via a FIXED-STEP power iteration on the
    exact moment matrix — the oracle-bindable variant of
    top_principal_component.

    Same distributed shape (covariance_moments reduces cluster-side;
    only the d x d model reaches the driver), but the driver-side
    eigensolve is replaced by `iters` power-iteration steps from the
    fixed start vector (1/sqrt(d), ..., 1/sqrt(d)), normalized each
    step, then sign-canonicalized (largest-|.| component positive,
    lowest index on ties). That makes the result a closed-form function
    of the covariance values — re-derivable in SQL by unrolling the same
    steps — rather than an eigensolver's implementation detail. 400
    steps because the synthetic corpus's eigengap is small (measured
    lambda2/lambda1 ~ 0.93 at sf0.001 -> 0.93^400 ~ 4e-13): the iterate
    lands within ~1e-12 of eigh's PC1, and cross-engine sum-order noise
    is contracted along the way, not amplified. The oracle match itself
    never depends on convergence — both engines run the identical 400
    steps — convergence is what makes the RESULT honestly 'PC1'.

    Returns (v, explained_ratio) with explained = (v'Cv)/trace(C) — the
    Rayleigh quotient, which equals the top eigenvalue share at the
    fixpoint. Pure-Python float arithmetic (no numpy) so the summation
    order is the documented sequential one."""
    import math

    rows = covariance_moments(df, vec_col).collect()
    if not rows:
        raise ValueError("no vectors to decompose")
    d = max(r["j"] for r in rows) + 1
    c = [[0.0] * d for _ in range(d)]
    for r in rows:
        c[r["i"]][r["j"]] = c[r["j"]][r["i"]] = r["cov"]
    v = [1.0 / math.sqrt(d)] * d
    for _ in range(iters):
        t = [sum(c[i][j] * v[j] for j in range(d)) for i in range(d)]
        nrm = math.sqrt(sum(x * x for x in t))
        if nrm == 0.0:
            raise ValueError("zero covariance matrix")
        v = [x / nrm for x in t]
    m = max(range(d), key=lambda i: abs(v[i]))  # first max -> lowest index
    if v[m] < 0:
        v = [-x for x in v]
    lam = sum(v[i] * sum(c[i][j] * v[j] for j in range(d)) for i in range(d))
    trace = sum(c[i][i] for i in range(d))
    return v, lam / trace


def project_onto(df: DataFrame, vec_col: str, v, out_col: str = "proj") -> DataFrame:
    """Dot-product projection of every vector onto a (small, broadcast)
    direction v — a vectorized Arrow-batch matmul, no shuffle: the model
    ships in the UDF closure, the data never moves."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    vv = np.asarray(v, dtype=np.float64)

    def _proj_fn(col):
        import pandas as pd

        if len(col) == 0:
            return pd.Series([], dtype="float64")
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in col.to_numpy()])
        return pd.Series(mat @ vv)

    _proj = pandas_udf(_proj_fn, DoubleType())
    return df.withColumn(out_col, _proj(F.col(vec_col)))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 16,
    iters: int = 2,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    embedding space, then search for near-duplicate pairs (cosine >=
    threshold) only WITHIN each cluster, dropping every item that has a
    lower-id duplicate. The clustering confines the quadratic pair
    search to cells — sum of |cell|^2 instead of N^2 — which is the whole
    trick that makes embedding-level dedup tractable on web-scale
    corpora (the paper runs it on LAION/C4 scale for exactly this
    reason). Recall is bounded by the clustering (a duplicate pair split
    across cells is missed — the documented trade); precision is 1.0
    because every candidate pair is verified with the exact cosine.

    Production notes baked into the shape: the assign step is a
    broadcast argmin (centroids ride as an expression literal, no join,
    no shuffle of the corpus); the pair join shuffles on cid, so a
    pathological hot cell re-introduces the quadratic — cap cell
    population (re-split big cells) when the embedding space collapses.

    Returns dropped rows: (id, dup_of, sim) where (sim, dup_of) describe
    ONE pair — the highest-similarity in-cell duplicate, ties broken by
    lowest partner id via max_by over the (sim, -id_a) struct — so sim
    is always the cosine to the reported dup_of.
    """
    centroids = kmeans_centroids(df, id_col, vec_col, k=n_cells, iters=iters)
    assigned = assign_to_centroids(df, centroids, id_col, vec_col)
    a = assigned.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "cid")
    b = assigned.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "cid")
    pairs = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # round(…, 4) matches cosine_near_pairs exactly, so the two
            # tiers agree on threshold-boundary pairs
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    # One coupled argmax: pick the (sim desc, id_a asc) best partner so
    # dup_of and sim always describe the same pair (max_by on a struct
    # compares field-by-field; -id_a turns "lowest id" into a max).
    best = F.max_by(
        F.struct(F.col("id_a").alias("dup_of"), F.col("sim").alias("sim")),
        F.struct(F.col("sim"), (-F.col("id_a")).alias("neg_id")),
    ).alias("best")
    return (
        pairs.groupBy("id_b")
        .agg(best)
        .select(F.col("id_b").alias(id_col), "best.dup_of", "best.sim")
    )
