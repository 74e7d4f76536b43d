"""Similarity search over the embeddings table (array<float>, 64-dim).

- ``cosine_topk``: brute-force cosine top-k — the exact baseline. The
  dot product is a zip_with/aggregate fold (JVM-side, codegen); queries
  are a broadcast side so the scan of the big side streams once.
- ``ann_ivf_topk``: IVF-style ANN — a small set of coarse centroids
  partitions the vector space; each vector is assigned to its nearest
  centroid (one broadcast pass), and a query searches only its own
  centroid's bucket. At 100 TB the bucket assignment is the shuffle key
  (cluster-pruned scan); here centroids are the first K vectors, which
  keeps the oracle exactly reproducible in SQL.

Rounding to 4 decimals happens on BOTH engines before ranking so
summation-order ulps cannot flip the hash or the rank order (ties break
by vec_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries_util import sorted_epilogue, spread, table

N_QUERIES = 5      # vec_id < 5 are the query vectors
TOP_K = 3
N_CENTROIDS = 8    # IVF coarse centers: vec_id < 8
IVF_QUERIES = (8, 9, 10, 11, 12)

EMB_DIM = 64  # every embeddings row is a fixed 64-dim vector (checked
              # min=max=64, no nulls, at every SF)

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> "
        "cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)")
_NORM = ("sqrt(aggregate({v}, 0D, (acc, x) -> "
         "acc + cast(x as double) * cast(x as double)))")

def _cos_expr(a: str, b: str) -> str:
    return (f"round({_DOT.format(a=a, b=b)} / "
            f"({_NORM.format(v=a)} * {_NORM.format(v=b)}), 4)")


def _argmax_assignment(assigned: DataFrame, payload: str = "v",
                       score: str = "ccos") -> DataFrame:
    """Per-vector nearest-centroid pick via max-of-struct aggregation
    instead of a row_number window: the map-side partial agg collapses
    each vector's n_centroids candidate rows BEFORE the exchange, so
    the shuffle moves ONE row per vector (no n_centroids-x blowup, no
    window sort). Tie-break matches the window plan exactly:
    (desc score, asc centroid_id) — the negated id inside the struct
    makes the max deterministic."""
    return (assigned.groupBy("vec_id")
            .agg(F.max(F.struct(
                F.col(score).alias("_s"),
                (-F.col("centroid_id")).alias("_nc"),
                F.col("centroid_id").alias("cid"))).alias("_m"),
                F.first(payload).alias(payload))
            .select("vec_id", payload,
                    F.col("_m.cid").alias("centroid_id")))


def cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = spread(table(spark, sf, "embeddings")).select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"))
    pairs = (emb.crossJoin(F.broadcast(q))
             .filter(F.col("vec_id") != F.col("query_id"))
             .withColumn("cos", F.expr(_cos_expr("qv", "embedding"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    top = (pairs.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= TOP_K)
           .select("query_id", F.col("vec_id").alias("neighbor_id"),
                   "cos", "rank"))
    return sorted_epilogue(top, "query_id", "rank")


COSINE_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      q.qv), 4) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = spread(table(spark, sf, "embeddings")).select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS) \
        .select(F.col("vec_id").alias("centroid_id"),
                F.col("embedding").alias("cv"))
    # assign every vector to its nearest centroid (broadcast pass);
    # map-side max_by keeps the exchange at one row per vector
    assigned = (emb.crossJoin(F.broadcast(cents))
                .withColumn("ccos", F.expr(_cos_expr("cv", "embedding"))))
    assignment = _argmax_assignment(assigned, payload="embedding")
    q = assignment.filter(F.col("vec_id").isin(list(IVF_QUERIES))) \
        .select(F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qv"),
                F.col("centroid_id").alias("qc"))
    # search only within the query's bucket — the cluster-pruned scan
    cand = (assignment.join(F.broadcast(q),
                            (F.col("centroid_id") == F.col("qc"))
                            & (F.col("vec_id") != F.col("query_id")))
            .withColumn("cos", F.expr(_cos_expr("qv", "embedding"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    top = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= TOP_K)
           .select("query_id", F.col("vec_id").alias("neighbor_id"),
                   "cos", "rank"))
    return sorted_epilogue(top, "query_id", "rank")


NEARDUP_THRESHOLD = 0.85
# IVF nlist scales with collection size: 32 centroids keep bucket-pair
# counts (the quadratic verify step) bounded at the bench scales
NEARDUP_CENTROIDS = 32
# deterministic seeded near-duplicates: the first SEED vectors get a
# perturbed twin at vec_id + OFFSET so the ≥ threshold branch is
# actually exercised by the gate (the raw synthetic table has no pairs
# above 0.85 — a vacuously-green gate certifies nothing)
NEARDUP_SEED_DUPS = 10
NEARDUP_SEED_OFFSET = 1_000_000


# SUPERSET prefilter margin for the pair kernel: a pair can only reach
# round(cos, 4) >= threshold if cos >= threshold - 0.00005, so keeping
# everything with dot >= (threshold - 1e-4) * (nrm_a * nrm_b) (absolute
# margin 5e-5 past the rounding bound, far above the ulp error of the
# product) never drops a result row at any threshold, negative ones
# included; the exact JVM-side round(dot / (na * nb), 4) >= threshold
# then decides. A relative margin (threshold * 0.9996) is too thin for
# thresholds under 0.125 and on the wrong side for negative ones.
NEARDUP_PREFILTER_MARGIN = 1e-4


def _bucket_pair_kernel(threshold: float, block: int = 2048):
    """mapInPandas kernel: same-centroid pairwise dot products in numpy
    with the EXACT fold arithmetic — the Gram accumulation runs
    dimension-major (G += outer(A[:, i], A[:, i]) for i in 0..d-1), so
    each pair's dot performs the identical IEEE-754 additions in the
    identical order as the Catalyst aggregate(zip_with(...)) fold, and
    the emitted doubles are bit-equal (guide §4.2: hand whole batches
    to vectorized native code instead of per-pair JVM expressions).
    Emits only prefilter survivors: (vec_a, vec_b, _dot, _na, _nb).
    Row blocks bound memory to block x bucket_size doubles."""
    pre = threshold - NEARDUP_PREFILTER_MARGIN

    def kernel(batches):
        import numpy as np
        import pandas as pd

        parts: dict = {}
        for pdf in batches:
            for cid, sub in pdf.groupby("centroid_id", sort=False):
                parts.setdefault(cid, []).append(sub)
        for subs in parts.values():
            pdf = pd.concat(subs, ignore_index=True) \
                if len(subs) > 1 else subs[0]
            n = len(pdf)
            if n < 2:
                continue
            ids = pdf["vec_id"].to_numpy()
            nrm = pdf["nrm"].to_numpy()
            A = np.array([np.asarray(x, dtype=np.float64)
                          for x in pdf["v"]])
            for s in range(0, n, block):
                e = min(n, s + block)
                G = np.zeros((e - s, n))
                for i in range(A.shape[1]):
                    G += np.outer(A[s:e, i], A[:, i])
                mask = ((ids[s:e, None] < ids[None, :])
                        & (G >= pre * np.outer(nrm[s:e], nrm)))
                xs, ys = np.nonzero(mask)
                if len(xs):
                    yield pd.DataFrame({
                        "vec_a": ids[s:e][xs], "vec_b": ids[ys],
                        "_dot": G[xs, ys],
                        "_na": nrm[s:e][xs], "_nb": nrm[ys]})

    return kernel


def neardup_pairs(emb: DataFrame,
                  threshold: float = NEARDUP_THRESHOLD,
                  n_centroids: int = NEARDUP_CENTROIDS) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over (vec_id, v) where
    ``v`` is array<double>: IVF bucket assignment prunes the candidate
    space (same-centroid pairs only), then exact cosine filters at the
    threshold — the vector analog of LSH-then-verify dedup. At scale
    the bucket is the shuffle key.

    The quadratic verify runs as a vectorized numpy kernel per centroid
    bucket (_bucket_pair_kernel): one (centroid-keyed, explicitly
    partitioned) exchange, bit-exact fold-order dots, and a superset
    prefilter so only candidate rows cross back to the JVM — replacing
    a salted self-join whose per-pair codegen was 10-40x slower than
    the arithmetic floor. The final cosine is computed and thresholded
    JVM-side — round(dot / (na * nb), 4) over the carried doubles — so
    rounding semantics are identical to the naive plan; a lazy
    localCheckpoint on the (tiny) candidate set keeps the global sort's
    range-sampling pass from re-running the kernel."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    cents = emb.filter(F.col("vec_id") < n_centroids) \
        .select(F.col("vec_id").alias("centroid_id"),
                F.col("v").alias("cv"))
    assigned = (emb.crossJoin(F.broadcast(cents))
                .withColumn("ccos", F.expr(_cos_expr("cv", "v"))))
    assignment = _argmax_assignment(assigned)
    # each vector's norm is computed ONCE here (JVM fold), shipped into
    # the kernel and carried back with each candidate, so the final
    # division uses the bit-identical denominator
    flat = (assignment
            .withColumn("nrm", F.expr(_NORM.format(v="v")))
            .select("vec_id", "centroid_id", "nrm", "v"))
    # explicit partition count: rows are tiny in bytes but carry
    # O(bucket^2) compute — AQE's byte-based coalescing would fold the
    # stage to one task (guide §2.5's mis-sized-partition case)
    n_parts = 3 * emb.sparkSession.sparkContext.defaultParallelism
    schema = StructType([
        StructField("vec_a", LongType()),
        StructField("vec_b", LongType()),
        StructField("_dot", DoubleType()),
        StructField("_na", DoubleType()),
        StructField("_nb", DoubleType())])
    cand = (flat.repartition(n_parts, "centroid_id")
            .mapInPandas(_bucket_pair_kernel(threshold), schema))
    cand = cand.localCheckpoint(eager=False)
    return (cand.withColumn(
                "cos", F.round(F.col("_dot")
                               / (F.col("_na") * F.col("_nb")), 4))
            .filter(F.col("cos") >= threshold)
            .select("vec_a", "vec_b", "cos")
            .orderBy("vec_a", "vec_b"))


# 0-based index perturbation, identical doubles on both engines:
# x * (1 + 0.004 * ((i % 7) - 3)) — per-element relative error ≤1.2%,
# cosine vs the original ≈0.9999 (comfortably over the 0.85 gate)
_PERTURB_SPARK = ("transform(v, (x, i) -> "
                  "x * (1D + 0.004D * cast((i % 7) - 3 as double)))")
_PERTURB_DUCK = ("list_transform(v, (x, i) -> "
                 "x * (1 + 0.004 * (((i - 1) % 7) - 3)))")


def embedding_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Gate query: embeddings table + seeded perturbed twins →
    near-dup pairs. The seeded twins guarantee non-zero rows so the
    pair/threshold logic is certified, not vacuously green."""
    base = (spread(table(spark, sf, "embeddings"))
            .select("vec_id",
                    F.expr("transform(embedding, x -> cast(x as double))")
                    .alias("v")))
    pert = (base.filter(F.col("vec_id") < NEARDUP_SEED_DUPS)
            .select((F.col("vec_id") + NEARDUP_SEED_OFFSET)
                    .alias("vec_id"),
                    F.expr(_PERTURB_SPARK).alias("v")))
    return neardup_pairs(base.unionAll(pert))


EMBEDDING_NEARDUP_SQL = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), aug AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + {NEARDUP_SEED_OFFSET} AS vec_id,
         {_PERTURB_DUCK} AS v
  FROM base WHERE vec_id < {NEARDUP_SEED_DUPS}
), cents AS (
  SELECT vec_id AS centroid_id, v AS cv
  FROM aug WHERE vec_id < {NEARDUP_CENTROIDS}
), assigned AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         round(list_cosine_similarity(e.v, c.cv), 4) AS ccos
  FROM aug e CROSS JOIN cents c
), assignment AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id) AS r
    FROM assigned) WHERE r = 1
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cos
FROM assignment a JOIN assignment b
  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {NEARDUP_THRESHOLD}
ORDER BY vec_a, vec_b
"""


ANN_IVF_TOPK_SQL = f"""
WITH cents AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
), assigned AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.centroid_id,
         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      c.cv), 4) AS ccos
  FROM embeddings e CROSS JOIN cents c
), assignment AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id) AS r
    FROM assigned) WHERE r = 1
), q AS (
  SELECT vec_id AS query_id, v AS qv, centroid_id AS qc
  FROM assignment WHERE vec_id IN {IVF_QUERIES}
), cand AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(a.v, q.qv), 4) AS cos
  FROM assignment a JOIN q
    ON a.centroid_id = q.qc AND a.vec_id <> q.query_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM cand
)
SELECT query_id, neighbor_id, cos, rank
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


# ---------------------------------------------------------------------------
# Trained IVF: deterministic spherical k-means centroids.

def train_ivf_centroids(emb: DataFrame, k: int,
                        iters: int = 3) -> list:
    """Deterministic spherical k-means (Lloyd) over (vec_id, v):
    init = the k lowest vec_ids (seedless, reproducible), assign by
    cosine, recompute the normalized per-cluster mean, ``iters`` fixed
    iterations. Returns ``[(centroid_id, [double, ...]), ...]`` — k·dim
    doubles, bounded driver metadata by design (the assignment passes
    stay distributed; only the centroid table round-trips, exactly like
    broadcasting a dimension).

    Per-iteration plan: broadcast-centroid argmax assignment (one scan),
    posexplode -> (cluster, pos) partial-agg mean (one shuffle on a
    k·dim-key space). Components round to 6 dp so results are stable
    across partitionings (float sum order).
    """
    spark = emb.sparkSession
    # the norm is hoisted OUT of the per-element lambda: inlined it is
    # re-evaluated (as an interpreted fold) for EVERY element — O(d^2)
    # per row; the hoisted column is the same double, so each division
    # and the resulting unit vector are bit-identical
    unit = (emb.withColumn("_nrm", F.expr(_NORM.format(v="v")))
            .select("vec_id",
                    F.expr("transform(v, x -> x / _nrm)").alias("v"))
            .cache())
    try:
        cents = [(int(r["vec_id"]), list(r["v"])) for r in
                 unit.orderBy("vec_id").limit(k).collect()]
        cents = [(i, v) for i, (_vid, v) in enumerate(cents)]
        for _ in range(iters):
            cdf = spark.createDataFrame(
                [(cid, v) for cid, v in cents],
                "centroid_id int, cv array<double>")
            dot = F.expr(_DOT.format(a="v", b="cv"))  # unit vecs: dot=cos
            assigned = _argmax_assignment(
                unit.crossJoin(F.broadcast(cdf))
                .withColumn("d", F.round(dot, 6)), score="d")
            means = (assigned
                     .select("centroid_id",
                             F.posexplode("v").alias("pos", "x"))
                     .groupBy("centroid_id", "pos")
                     .agg(F.avg("x").alias("m"))
                     .groupBy("centroid_id")
                     .agg(F.array_sort(F.collect_list(
                         F.struct("pos", "m"))).alias("pm"))
                     .select("centroid_id",
                             F.expr("transform(pm, e -> e.m)").alias("cv"))
                     .select("centroid_id",
                             F.expr("transform(cv, x -> round(x / "
                                    + _NORM.format(v='cv')
                                    + ", 6))").alias("cv")))
            got = {int(r["centroid_id"]): list(r["cv"])
                   for r in means.collect()}
            # empty clusters keep their previous centroid
            cents = [(cid, got.get(cid, v)) for cid, v in cents]
        return cents
    finally:
        unit.unpersist()


def ann_topk_trained(emb: DataFrame, query_ids: list, centroids: list,
                     top_k: int = TOP_K, nprobe: int = 1) -> DataFrame:
    """IVF search with externally trained centroids: assign every vector
    to its nearest centroid (broadcast pass), probe the query's nearest
    ``nprobe`` buckets, exact cosine re-rank inside them. ``emb`` is
    (vec_id, v array<double>)."""
    spark = emb.sparkSession
    cdf = F.broadcast(spark.createDataFrame(
        [(cid, v) for cid, v in centroids],
        "centroid_id int, cv array<double>"))
    cos = F.expr(_cos_expr("cv", "v"))
    wa = Window.partitionBy("vec_id").orderBy(F.desc("ccos"),
                                              "centroid_id")
    ranked = (emb.crossJoin(cdf)
              .withColumn("ccos", cos)
              .withColumn("r", F.row_number().over(wa)))
    assignment = (ranked.filter(F.col("r") == 1)
                  .select("vec_id", "v", "centroid_id"))
    probes = (ranked.filter(F.col("r") <= nprobe)
              .filter(F.col("vec_id").isin([int(q) for q in query_ids]))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("v").alias("qv"),
                      F.col("centroid_id").alias("qc")))
    cand = (assignment.join(F.broadcast(probes),
                            (F.col("centroid_id") == F.col("qc"))
                            & (F.col("vec_id") != F.col("query_id")))
            .withColumn("cos", F.expr(_cos_expr("qv", "v"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    top = (cand.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= top_k)
           .select("query_id", F.col("vec_id").alias("neighbor_id"),
                   "cos", "rank"))
    return sorted_epilogue(top, "query_id", "rank")


TRAINED_K = 4        # Lloyd clusters for the oracle-checked trained IVF
TRAINED_ITERS = 2    # fixed iterations -> the SQL oracle unrolls them


def ann_trained_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-oracle surface for the trained-IVF path: deterministic
    spherical k-means (seedless init = lowest vec_ids, fixed
    iterations, 6-dp rounding) then nprobe=1 search for IVF_QUERIES.
    The DuckDB oracle replays the identical Lloyd iterations in SQL."""
    emb = spread(table(spark, sf, "embeddings")).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    cents = train_ivf_centroids(emb, k=TRAINED_K, iters=TRAINED_ITERS)
    return ann_topk_trained(emb, list(IVF_QUERIES), cents, nprobe=1)


def _lloyd_iter_sql(prev: str, n: int) -> str:
    """One unrolled Lloyd iteration: assign by 6-dp-rounded dot over
    unit vectors (tie -> lowest centroid), per-position mean, normalize
    + 6-dp round; empty clusters keep their previous centroid."""
    return f"""a{n} AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT u.vec_id, u.v, c.centroid_id,
           row_number() OVER (PARTITION BY u.vec_id
             ORDER BY round(list_dot_product(u.v, c.cv), 6) DESC,
                      c.centroid_id) AS r
    FROM unit u CROSS JOIN {prev} c) WHERE r = 1
), m{n} AS (
  SELECT centroid_id, list(m ORDER BY pos) AS l FROM (
    SELECT centroid_id, pos, avg(x) AS m FROM (
      SELECT centroid_id, unnest(range(1, 65)) AS pos, unnest(v) AS x
      FROM a{n})
    GROUP BY centroid_id, pos)
  GROUP BY centroid_id
), c{n} AS (
  SELECT p.centroid_id,
         coalesce(list_transform(m.l, e -> round(e /
           sqrt(list_aggregate(list_transform(m.l, y -> y * y), 'sum')),
           6)), p.cv) AS cv
  FROM {prev} p LEFT JOIN m{n} m USING (centroid_id)
)"""


ANN_TRAINED_TOPK_SQL = f"""
WITH emb_d AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), unit AS (
  SELECT vec_id, list_transform(v, x -> x /
    sqrt(list_aggregate(list_transform(v, y -> y * y), 'sum'))) AS v
  FROM emb_d
), c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
           AS centroid_id, v AS cv
  FROM unit ORDER BY vec_id LIMIT {TRAINED_K}
), {_lloyd_iter_sql('c0', 1)}, {_lloyd_iter_sql('c1', 2)},
ranked AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY round(list_cosine_similarity(c.cv, e.v), 4) DESC,
                    c.centroid_id) AS r
  FROM emb_d e CROSS JOIN c{TRAINED_ITERS} c
), assignment AS (
  SELECT vec_id, v, centroid_id FROM ranked WHERE r = 1
), probes AS (
  SELECT vec_id AS query_id, v AS qv, centroid_id AS qc
  FROM ranked WHERE r <= 1 AND vec_id IN {IVF_QUERIES}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qv, a.v), 4) AS cos
  FROM assignment a JOIN probes p ON a.centroid_id = p.qc
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos DESC, neighbor_id) AS rank
  FROM cand)
WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""
