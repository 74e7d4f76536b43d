"""Deduplication operators: MinHash signatures, LSH banding pairs,
SimHash fingerprints, n-gram Jaccard similarity.

All four are scan -> higher-order-array-function -> (window|join|agg)
plans — no UDFs, fully whole-stage-codegen. Shuffles: the LSH pair join
shuffles on (band, key) which is exactly the skew-resistant layout (a
band bucket is at most a near-dup cluster); Jaccard blocks on
(lang, n_chars) before any pairing so the quadratic step never sees the
full table. At 100 TB both would run over the extracted/normalized text
column with the same plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import (md5_bigint_expr, md5_bigint_sql, word_shingles_expr,
               word_shingles_sql)
from ..queries_util import sorted_epilogue, spread, table

N_HASHES = 8
N_BANDS = 4  # rows-per-band r = 2
SIMHASH_BITS = 16
SAMPLE_DOCS = 60  # signature-query output bound


def _with_shingles(docs: DataFrame) -> DataFrame:
    return (docs
            .withColumn("toks", F.split("text", " "))
            .filter(F.size("toks") >= 3)
            .withColumn("shingles",
                        F.expr(word_shingles_expr("toks", 3,
                                                  from_tokens=True))))


# hash family derived from ONE base md5 hash per shingle instead of
# N_HASHES digest passes (8x less hashing; identical arithmetic in the
# DuckDB oracle). h is split into 31/29-bit halves so a_j*lo + b_j*hi
# stays far below 2^63 (ANSI-safe); the (a_j, b_j) pairs make the
# family pairwise independent enough for LSH banding.
_MH_A = [3, 5, 7, 11, 13, 17, 19, 23]
_MH_B = [29, 31, 37, 41, 43, 47, 53, 59]
_MH_MASK = (1 << 31) - 1


def _mh_expr(j: int, h: str = "h") -> str:
    return (f"{_MH_A[j]} * ({h} & {_MH_MASK}) "
            f"+ {_MH_B[j]} * ({h} >> 31)")


def _with_minhash(docs: DataFrame) -> DataFrame:
    # NB an explode + hash-aggregate reformulation (codegen md5 + min
    # aggregates over skinny rows) was tried in round 6 and measured
    # 15x SLOWER end-to-end than these per-document lambda folds —
    # empirically the explode + 5M-row aggregation machinery dwarfs
    # the interpreted-lambda overhead at this shingle volume
    base = f"transform(shingles, s -> {md5_bigint_expr('s', 0)})"
    sig = [F.expr(f"array_min(transform(_h, h -> {_mh_expr(j)}))")
           .alias(f"mh{j}") for j in range(N_HASHES)]
    return (_with_shingles(docs)
            .withColumn("_h", F.expr(base))
            .select("doc_id", "lang", *sig))


def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc MinHash signature (first SAMPLE_DOCS docs)."""
    docs = spread(table(spark, sf, "documents"))
    return (_with_minhash(docs)
            .filter(F.col("doc_id") < SAMPLE_DOCS)
            .orderBy("doc_id"))


def _minhash_sig_sql() -> str:
    sig = ",\n       ".join(
        f"list_min(list_transform(hashes, h -> {_mh_expr(j)})) AS mh{j}"
        for j in range(N_HASHES))
    return f"""
WITH hashed AS (
  SELECT doc_id, lang,
         list_transform({word_shingles_sql('text', 3)},
                        s -> {md5_bigint_sql('s', 0)}) AS hashes
  FROM documents
  WHERE len(str_split(text, ' ')) >= 3
)
SELECT doc_id, lang,
       {sig}
FROM hashed
WHERE doc_id < {SAMPLE_DOCS}
ORDER BY doc_id
"""


MINHASH_SIGNATURES_SQL = _minhash_sig_sql()


MAX_BUCKET = 20  # LSH stop-bucket cap: larger buckets are degenerate
                 # (non-discriminative band values) and would go
                 # quadratic; production dedup pipelines drop them


class CapMetrics:
    """No-silent-caps surface for the dedup stop-bucket/-block drops.

    The drop counts ride the run itself as a Spark ``Observation`` on
    the bucket-stats aggregation — zero extra jobs. Read ``dropped``
    AFTER the query's action completes (collect/write); before that it
    blocks, exactly like Observation.get. A 100 TB run reads this to
    see its recall loss instead of silently under-reporting pairs."""

    def __init__(self) -> None:
        self._obs = None

    @property
    def dropped(self) -> dict:
        return dict(self._obs.get) if self._obs is not None else {}


def _observe_cap(stats: DataFrame, count_col: str, cap: int,
                 metrics: "CapMetrics | None", name: str) -> DataFrame:
    if metrics is None:
        return stats
    from pyspark.sql import Observation
    over = F.col(count_col) > cap
    obs = Observation(name)
    metrics._obs = obs
    return stats.observe(
        obs,
        F.sum(F.when(over, 1).otherwise(0)).alias("dropped_groups"),
        F.sum(F.when(over, F.col(count_col)).otherwise(0))
        .alias("dropped_rows"))


def _lsh_pairs_from(docs: DataFrame,
                    cap_metrics: CapMetrics | None = None) -> DataFrame:
    mh = _with_minhash(docs)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws(":", f"mh{2 * b}", f"mh{2 * b + 1}")
                 .alias("key"))
        for b in range(N_BANDS)])
    buckets = (mh.select("doc_id", F.explode(bands).alias("bk"))
               .select("doc_id", "bk.band", "bk.key"))
    # materialization barrier: without it Catalyst inlines the whole
    # minhash expression tree into every band struct (signatures
    # recomputed ~12x); the exchange computes the tiny (doc_id, band,
    # key) rows once. AQE-coalesced (no explicit count): unlike the
    # neardup pair stage the per-bucket work here is light
    # (collect_list + in-bucket expansion), and measured wall time is
    # dominated by per-task scheduling at high partition counts
    # (96 parts 3.5s vs coalesced 2.0s on the sf1.0 table).
    buckets = buckets.repartition("band", "key")
    # one bucket = one aggregated row: the pair set is expanded from
    # the bucket's sorted member list IN PLACE of the former
    # stats-join + self-join (two fewer exchanges, no join sorts).
    # groupBy keys match the repartition keys, so the aggregation adds
    # no exchange of its own; the cap filter and drop metrics see the
    # identical per-bucket counts.
    grouped = (buckets.groupBy("band", "key")
               .agg(F.array_sort(F.collect_list("doc_id")).alias("_l"),
                    F.count("*").alias("_n")))
    grouped = _observe_cap(grouped, "_n", MAX_BUCKET, cap_metrics,
                           "lsh-stop-buckets")
    pairs_expr = ("flatten(transform(_l, (x, i) -> "
                  "transform(slice(_l, i + 2, size(_l)), "
                  "y -> struct(x AS a, y AS b))))")
    return (grouped.filter(F.col("_n") <= MAX_BUCKET)
            .select(F.explode(F.expr(pairs_expr)).alias("p"))
            .select(F.col("p.a").alias("doc_a"),
                    F.col("p.b").alias("doc_b"))
            .distinct()
            .orderBy("doc_a", "doc_b"))


def minhash_lsh_pairs(spark: SparkSession, sf: str,
                      cap_metrics: CapMetrics | None = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket
    (b=4 bands x r=2 rows over the 8-hash signature), oversized
    buckets dropped (MAX_BUCKET; pass ``cap_metrics`` to observe the
    drop counts on the run)."""
    return _lsh_pairs_from(spread(table(spark, sf, "documents")),
                           cap_metrics)


def _lsh_pairs_sql() -> str:
    sig_cols = ",\n         ".join(
        f"list_min(list_transform(hashes, h -> {_mh_expr(j)})) AS mh{j}"
        for j in range(N_HASHES))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh{2 * b} || ':' || mh{2 * b + 1} "
        f"AS key FROM sigs"
        for b in range(N_BANDS))
    return f"""
WITH hashed AS (
  SELECT doc_id,
         list_transform({word_shingles_sql('text', 3)},
                        s -> {md5_bigint_sql('s', 0)}) AS hashes
  FROM documents WHERE len(str_split(text, ' ')) >= 3
), sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM hashed
), buckets0 AS ({band_rows}),
buckets AS (
  SELECT b0.doc_id, b0.band, b0.key
  FROM buckets0 b0
  JOIN (SELECT band, key FROM buckets0
        GROUP BY band, key HAVING count(*) <= {MAX_BUCKET}) s
    USING (band, key)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM buckets a JOIN buckets b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


MINHASH_LSH_PAIRS_SQL = _lsh_pairs_sql()


def simhash_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """SIMHASH_BITS-bit SimHash per doc: explode tokens, per-bit signed
    vote, reassemble. One shuffle (groupBy doc_id), partial aggregation
    map-side."""
    docs = spread(table(spark, sf, "documents"))
    toks = docs.select("doc_id",
                       F.explode(F.split("text", " ")).alias("tok"))
    h = toks.withColumn("h", F.expr(md5_bigint_expr("tok", "sim")))
    votes = [F.sum(F.expr(f"2 * cast((h >> {j}) & 1 as int) - 1"))
             .alias(f"s{j}") for j in range(SIMHASH_BITS)]
    agg = h.groupBy("doc_id").agg(*votes)
    fp = sum(F.when(F.col(f"s{j}") > 0,
                    F.lit(1 << j)).otherwise(F.lit(0))
             for j in range(SIMHASH_BITS))
    return (agg.select("doc_id", fp.cast("bigint").alias("simhash"))
            .filter(F.col("doc_id") < SAMPLE_DOCS)
            .orderBy("doc_id"))


def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"sum(2 * CAST((h >> {j}) & 1 AS INT) - 1) AS s{j}"
        for j in range(SIMHASH_BITS))
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)"
                    for j in range(SIMHASH_BITS))
    return f"""
WITH toks AS (
  SELECT doc_id, {md5_bigint_sql('tok', 'sim')} AS h
  FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok
        FROM documents)
), agg AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash
FROM agg WHERE doc_id < {SAMPLE_DOCS}
ORDER BY doc_id
"""


SIMHASH_FINGERPRINTS_SQL = _simhash_sql()


MAX_BLOCK = 50  # blocked-Jaccard cap: a popular (lang, n_chars) block
                # would otherwise go quadratic with no bound — same
                # stop-bucket treatment as LSH's MAX_BUCKET


def ngram_jaccard_pairs(spark: SparkSession, sf: str,
                        cap_metrics: CapMetrics | None = None
                        ) -> DataFrame:
    """Exact word-2-gram Jaccard for blocked candidate pairs (same lang +
    same n_chars), oversized blocks dropped (MAX_BLOCK; pass
    ``cap_metrics`` to observe the drop counts on the run). This is the
    cheap deterministic blocking variant; ``lsh_jaccard_neardups`` below
    is the scale path (LSH candidates -> exact verify)."""
    docs = (spread(table(spark, sf, "documents"))
            .withColumn("toks", F.split("text", " "))
            .filter(F.size("toks") >= 2)
            .withColumn("grams",
                        F.array_distinct(
                            F.expr(word_shingles_expr(
                                "toks", 2, from_tokens=True))))
            .select("doc_id", "lang", "n_chars", "grams"))
    stats = (docs.groupBy("lang", "n_chars")
             .agg(F.count("*").alias("_n")))
    stats = _observe_cap(stats, "_n", MAX_BLOCK, cap_metrics,
                         "jaccard-stop-blocks")
    small = stats.filter(F.col("_n") <= MAX_BLOCK).drop("_n")
    # ONE block-keyed exchange shared by both self-join sides (AQE
    # stage reuse): without it each side recomputes the shingle +
    # distinct projection over every document, and when the planner
    # broadcasts one side the whole gram table transits the driver.
    # The explicit partition count keeps AQE's byte-based coalescing
    # from folding the (compute-heavy, byte-light) pair stage into a
    # handful of tasks.
    n_parts = 3 * spark.sparkContext.defaultParallelism
    docs = (docs.join(F.broadcast(small), ["lang", "n_chars"])
            .repartition(n_parts, "lang", "n_chars"))
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.col("a.grams")) + F.size(F.col("b.grams")) - inter
    pairs = (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                    & (F.col("a.n_chars") == F.col("b.n_chars"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.round(inter.cast("double") / union, 4)
                     .alias("jaccard")))
    return sorted_epilogue(pairs, "doc_a", "doc_b")


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH g0 AS (
  SELECT doc_id, lang, n_chars,
         list_distinct({word_shingles_sql('text', 2)}) AS grams
  FROM documents WHERE len(str_split(text, ' ')) >= 2
), g AS (
  SELECT g0.* FROM g0
  JOIN (SELECT lang, n_chars FROM g0
        GROUP BY lang, n_chars HAVING count(*) <= {MAX_BLOCK}) s
    USING (lang, n_chars)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
FROM g a JOIN g b
  ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


NEARDUP_JACCARD_THRESHOLD = 0.4


def lsh_jaccard_neardups(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end near-dup dedup: MinHash-LSH candidate pairs verified
    by exact word-3-gram Jaccard at NEARDUP_JACCARD_THRESHOLD. The LSH
    stage is banding+stop-buckets (never all-pairs); the verify stage
    touches only candidate pairs, so the whole pipeline is linear in
    candidates — this is the composition a 100 TB dedup run uses
    (replaces the quadratic-on-skew (lang, n_chars) blocking).

    The returned frame sorts ABOVE a lazy lineage cut of the (tiny)
    verified pair set, so the global sort's range-sampling pass cannot
    re-execute the gram joins; ``_lsh_jaccard_verify`` exposes the
    uncut verify plan for the plan gates."""
    verify, cands = _lsh_jaccard_verify(spark, sf)
    out = sorted_epilogue(verify, "doc_a", "doc_b")
    # release the candidate cache when the caller drops the result
    # frame: without this, every call in a long-lived session left a
    # MEMORY_AND_DISK materialization registered in the CacheManager
    # forever. Unpersisting is always safe — the cached plan keeps its
    # lineage, so a late re-collect of a still-held result recomputes.
    import weakref
    weakref.finalize(out, _unpersist_quietly, cands)
    return out


def _lsh_jaccard_verify(spark: SparkSession,
                        sf: str) -> tuple[DataFrame, DataFrame]:
    """The unsorted verify frame plus the persisted candidate set."""
    # materialize the candidate set ONCE: the banding subtree is the
    # suite's widest DAG (signatures -> band exchange -> stop-bucket
    # stats -> self-join), and the verify query would otherwise carry
    # it as a live subtree that AQE/stage-retry can re-derive. The set
    # is bounded by construction (MAX_BUCKET stop-buckets cap the pair
    # count), so an eager persist + count materializes it once and the
    # verify joins read the cached rows. persist (not localCheckpoint):
    # it KEEPS lineage, so losing an executor's blocks mid-verify —
    # routine on a long 100 TB dedup run — recomputes the lost
    # partitions instead of failing the job on a missing checkpoint
    # block.
    from pyspark.storagelevel import StorageLevel
    cands = (minhash_lsh_pairs(spark, sf)
             .select("doc_a", "doc_b")
             .persist(StorageLevel.MEMORY_AND_DISK))
    cands.count()  # materialize now: the banding exchange runs ONCE
    grams = (spread(table(spark, sf, "documents"))
             .withColumn("toks", F.split("text", " "))
             .filter(F.size("toks") >= 3)
             .withColumn("grams",
                         F.array_distinct(
                             F.expr(word_shingles_expr(
                                 "toks", 3, from_tokens=True))))
             .select("doc_id", "grams"))
    a = grams.select(F.col("doc_id").alias("doc_a"),
                     F.col("grams").alias("ga"))
    b = grams.select(F.col("doc_id").alias("doc_b"),
                     F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    verify = (cands.join(a, "doc_a").join(b, "doc_b")
              .withColumn("jaccard",
                          F.round(inter.cast("double") / union, 4))
              .filter(F.col("jaccard") >= NEARDUP_JACCARD_THRESHOLD)
              .select("doc_a", "doc_b", "jaccard"))
    return verify, cands


def _unpersist_quietly(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped


LSH_JACCARD_NEARDUPS_SQL = f"""
WITH cands AS ({MINHASH_LSH_PAIRS_SQL.replace("ORDER BY doc_a, doc_b",
                                              "")}),
g AS (
  SELECT doc_id,
         list_distinct({word_shingles_sql('text', 3)}) AS grams
  FROM documents WHERE len(str_split(text, ' ')) >= 3
)
SELECT c.doc_a, c.doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams)
                - len(list_intersect(a.grams, b.grams))), 4) AS jaccard
FROM cands c
JOIN g a ON a.doc_id = c.doc_a
JOIN g b ON b.doc_id = c.doc_b
WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams)
               - len(list_intersect(a.grams, b.grams))), 4)
      >= {NEARDUP_JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""
