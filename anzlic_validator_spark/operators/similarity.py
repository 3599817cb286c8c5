"""Similarity search over embedding columns (array<float>).

Two paths, per the scale doctrine:
- brute_force_topk: exact cosine top-k — the correctness baseline. The
  query set is broadcast (it's small by construction); the scan side streams
  through one projection + a per-query-partition window. Dot products are
  Catalyst ``zip_with``/``aggregate`` folds in codegen — no Python.
- lsh_topk: sign-random-projection (SRP) bucketed approximate top-k — the
  100 TB path. Each vector lands in one bucket per hash table; candidates
  are scored only within shared buckets, cutting the scored pairs from
  n·q to ~n·q/2^bits per table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product — deterministic summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def stored_cosine(va: Column, na: Column, vb: Column, nb: Column) -> Column:
    """Cosine of two vectors whose L2 norms are already computed."""
    return dot(va, vb) / (na * nb)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_emb",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query → (q_id, neighbor_id, rank, sim).

    Ties broken by neighbor_id so output is fully deterministic.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__vn", l2_norm(F.col("__v")))
    q = queries.select(
        F.col(query_id_col).alias("q_id"),
        F.col(query_vec_col).cast("array<double>").alias("__q"),
    ).withColumn("__qn", l2_norm(F.col("__q")))
    sim = dot(F.col("__v"), F.col("__q")) / (F.col("__vn") * F.col("__qn"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", sim.alias("__sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("__sim", 4).alias("sim"))
    )


def make_srp_buckets_udf(dim: int, bits: int, n_tables: int, seed: int):
    """Arrow pandas UDF: embedding → array<int> of one bucket id per table.

    All tables' hyperplanes form one (dim, bits·n_tables) matrix; a batch of
    vectors becomes a single matmul + sign + bit-pack — the vectorized path
    for wide LSH configurations."""
    rngs = [
        np.random.Generator(np.random.Philox(key=np.uint64(seed) + np.uint64(t)))
        for t in range(n_tables)
    ]
    planes = np.concatenate(
        [r.standard_normal((bits, dim)) for r in rngs], axis=0
    ).T  # (dim, bits*n_tables)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def srp_buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ planes) >= 0  # (batch, bits*n_tables)
        signs = signs.reshape(len(vecs), n_tables, bits)
        ids = (signs * weights).sum(axis=2).astype(np.int32)  # (batch, n_tables)
        return pd.Series(list(ids))

    return srp_buckets


def embedding_near_duplicates(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → (a_id, b_id, cos), a_id < b_id.

    The dedup-flavored sibling of lsh_topk: SRP-LSH buckets generate
    candidates (one shuffle on (table, bucket)), exact cosine verifies.
    Near-duplicate embeddings (cos → 1) are near-collinear, so their SRP
    signs agree on almost every hyperplane — candidate recall approaches 1
    as the threshold does, which is exactly the dedup regime. The brute
    force O(n²) alternative is the small-scale oracle only.

    ``max_bucket_size`` caps degenerate buckets (e.g. a mass of zero-ish
    embeddings) exactly like the text-LSH dedup caps.

    The (id, vector, norm) projection is consumed three times (bucketing +
    both verify-join sides), so it is persisted once rather than re-running
    the SRP pandas UDF and norm folds. The persist is not auto-unpersisted
    (the result is lazy) — long-lived sessions should unpersist or
    ``spark.catalog.clearCache()`` after the consuming action (see
    minhash_near_duplicates).
    """
    from anzlic_validator_spark.operators.dedup import lsh_candidate_pairs

    buckets_udf = make_srp_buckets_udf(dim, bits, n_tables, seed)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__vn", l2_norm(F.col("__v"))).persist(StorageLevel.MEMORY_AND_DISK)
    bucketed = base.select(
        "id", F.posexplode(buckets_udf(F.col("__v"))).alias("tbl", "bkt")
    )
    cand = lsh_candidate_pairs(
        bucketed, ["tbl", "bkt"], ["id"], max_bucket_size, "embedding_lsh"
    ).select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
    return cosine_verify_pairs(
        cand, base.select("id", F.col("__v").alias("v"), F.col("__vn").alias("nrm")),
        threshold,
    )


def cosine_verify_pairs(
    cand: DataFrame, vectors: DataFrame, threshold: float
) -> DataFrame:
    """Exact-cosine verify of the batch embedding dedup: ``cand (a_id,
    b_id)`` joined against ``vectors (id, v, nrm)`` on both sides → (a_id,
    b_id, cos) with cos >= threshold, compared UNROUNDED and rounded to 4
    decimals for output. Plain joins: the vector table is the persisted
    in-memory projection, and AQE's choice is already right. The
    incremental store path pins its verify joins instead
    (dedup_state.incremental_step) and scores with the same
    ``stored_cosine``."""
    va = vectors.select(
        F.col("id").alias("a_id"), F.col("v").alias("__va"), F.col("nrm").alias("__na")
    )
    vb = vectors.select(
        F.col("id").alias("b_id"), F.col("v").alias("__vb"), F.col("nrm").alias("__nb")
    )
    cos = stored_cosine(F.col("__va"), F.col("__na"), F.col("__vb"), F.col("__nb"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("__cos", cos)
        .where(F.col("__cos") >= F.lit(float(threshold)))
        .select("a_id", "b_id", F.round("__cos", 4).alias("cos"))
    )


def incremental_embedding_neardup(
    new_df: DataFrame,
    store_dir: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 10_000,
    commit: bool = True,
    run_id: int | None = None,
) -> DataFrame:
    """Cross-run incremental EMBEDDING near-dup — the vector twin of the
    minhash/audio fingerprint stores (operators/dedup_state.incremental_step:
    atomic run commits, meta param guard incl. the SRP configuration,
    run_id retry idempotency, fold-aware compaction): run N+1 embeds
    nothing and SRP-hashes ONLY its new vectors; stored rows carry both
    the vector (for the exact-cosine verify) and the precomputed SRP
    bucket array (so pairing against 10^12 stored vectors never re-runs
    the hashing UDF over the store — only parquet scans move).

    Returns (a_id, b_id, cos) pairs involving >= 1 new vector, cos >=
    threshold. Hot SRP buckets (zero-ish embeddings concentrate there)
    are handled by the step's cap: once the store holds prior runs, its
    side is first restricted to buckets the batch touches — so the census
    and join scan that slice, never the whole store — then over-cap
    buckets drop with the advisory accumulator census of
    ``dedup.drop_hot_buckets``. Norms are computed ONCE at commit and
    stored (the verify re-reads them; review r05)."""
    from anzlic_validator_spark.operators.dedup_state import Verify, incremental_step

    buckets_udf = make_srp_buckets_udf(dim, bits, n_tables, seed)
    return incremental_step(
        new_df,
        store_dir,
        {"kind": "embedding_srp", "dim": dim, "bits": bits,
         "n_tables": n_tables, "seed": seed},
        lambda df: df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        .withColumn("bkts", buckets_udf(F.col("v")))
        .withColumn("nrm", l2_norm(F.col("v"))),
        commit,
        run_id,
        id_col="id",
        bucket_rows=lambda vs: vs.select(
            "id", F.posexplode("bkts").alias("tbl", "bkt")
        ),
        keys=["tbl", "bkt"],
        cap=max_bucket_size,
        what="incremental_embedding_neardup",
        out=("a_id", "b_id"),
        verify=Verify(
            ("v", "nrm"),
            lambda a, b: stored_cosine(a("v"), a("nrm"), b("v"), b("nrm")),
            lambda cos: cos >= F.lit(float(threshold)),
            "cos",
        ),
    )


def _centroid_assign_udf(centroids: np.ndarray, n_probe: int):
    """Arrow pandas UDF: embedding → the ids of its ``n_probe`` nearest
    centroids (ascending L2 distance), as one vectorized matmul per batch.
    n_probe=1 is the corpus-assignment case."""
    c = centroids.astype(np.float64)  # (n_centroids, dim)
    c_sq = (c * c).sum(axis=1)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.stack raises on an empty Arrow batch
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row for argsort
        d = c_sq[None, :] - 2.0 * (mat @ c.T)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_probe].astype(np.int32)
        return pd.Series(list(idx))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_emb",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 5,
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer scale
    path alongside SRP-LSH: a seeded MLlib k-means partitions the corpus
    into ``n_centroids`` lists in ONE assignment pass; each query probes its
    ``n_probe`` nearest centroids and scores only those lists, cutting the
    scored pairs to ~n·q·(n_probe/n_centroids). Same output schema as
    brute_force_topk.

    At 10^12 rows: train centroids on a seeded SAMPLE (``train_fraction``,
    e.g. 1e-6 — k-means quality needs ~100-1000 points per centroid, not
    the corpus), the assignment/probe UDFs are one matmul per Arrow batch,
    the per-list join shuffles on the centroid id, and n_centroids scales
    as ~sqrt(n) with n_probe tuning recall — the recall measurement
    (q_ann_ivf) is the feedback loop, exactly as for LSH.

    Centroid positions depend on MLlib's k-means|| init (seeded but
    partition-layout sensitive), so downstream contracts should pin RECALL
    THRESHOLDS, not centroid-dependent values — same posture as ann_lsh.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__vn", l2_norm(F.col("__v")))
    q = queries.select(
        F.col(query_id_col).alias("q_id"),
        F.col(query_vec_col).cast("array<double>").alias("__q"),
    ).withColumn("__qn", l2_norm(F.col("__q")))

    train = c.select(array_to_vector("__v").alias("features"))
    if train_fraction < 1.0:
        train = train.sample(fraction=train_fraction, seed=seed)
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    centroids = np.stack([np.asarray(cc) for cc in model.clusterCenters()])
    if centroids.shape[1] != dim:
        raise ValueError(
            f"embedding dimension mismatch: declared dim={dim}, data has {centroids.shape[1]}"
        )

    assign1 = _centroid_assign_udf(centroids, 1)
    probe = _centroid_assign_udf(centroids, n_probe)
    cb = c.withColumn("cid", assign1(F.col("__v"))[0])
    qb = q.select("q_id", "__q", "__qn", F.explode(probe(F.col("__q"))).alias("cid"))

    sim = dot(F.col("__v"), F.col("__q")) / (F.col("__vn") * F.col("__qn"))
    scored = (
        cb.join(F.broadcast(qb), on="cid", how="inner")
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", sim.alias("__sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("__sim", 4).alias("sim"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_emb",
    k: int = 5,
    bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via SRP-LSH buckets → same schema as
    brute_force_topk. Recall grows with n_tables; cost shrinks with bits."""
    buckets_udf = make_srp_buckets_udf(dim, bits, n_tables, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__vn", l2_norm(F.col("__v")))
    q = queries.select(
        F.col(query_id_col).alias("q_id"),
        F.col(query_vec_col).cast("array<double>").alias("__q"),
    ).withColumn("__qn", l2_norm(F.col("__q")))

    # one UDF call per row computes every table's bucket; posexplode fans
    # out to (table, bucket) join keys — one scan, one shuffle
    cb = c.select(
        "neighbor_id", "__v", "__vn",
        F.posexplode(buckets_udf(F.col("__v"))).alias("tbl", "bkt"),
    )
    qb = q.select(
        "q_id", "__q", "__qn",
        F.posexplode(buckets_udf(F.col("__q"))).alias("tbl", "bkt"),
    )

    sim = dot(F.col("__v"), F.col("__q")) / (F.col("__vn") * F.col("__qn"))
    scored = (
        cb.join(F.broadcast(qb), on=["tbl", "bkt"], how="inner")
        .where(F.col("neighbor_id") != F.col("q_id"))
        .select("q_id", "neighbor_id", sim.alias("__sim"))
        .groupBy("q_id", "neighbor_id")
        # dedup across tables: all hits of a pair carry the same sim; max
        # states that invariant without first()'s nondeterminism smell
        .agg(F.max("__sim").alias("__sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("__sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", F.round("__sim", 4).alias("sim"))
    )
