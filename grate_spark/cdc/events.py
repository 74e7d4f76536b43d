"""Deterministic change-event generators for the CDC replay.

Event schema (the binlog/WAL analog over the source-code repo table —
BASELINE input_hint shape plus CDC bookkeeping):

    offset    bigint   global, strictly increasing apply order
    partition int      event-log partition = pmod(hash(repo), P)
    op        string   'I' | 'U' | 'D'
    repo, path, commit, lang, content   the repo-table row (content=None
                                        for deletes; binary formats are
                                        base64 in the string column)

Two generators, both seedless-deterministic (no wall clock, no RNG
state shared with anything):

- ``fixture_events``: a fixture file set (grate's testdata or the
  tests' stand-in) as blobs, with a scripted insert -> update -> delete
  history. Drives the exactly-once tests and the sha256 golden parity
  gate.
- ``synthetic_doc_events``: scales with the documents table — one CSV
  blob per (source, version-slice) built entirely with DataFrame ops,
  then an I/U/D script derived from hash(path). Drives the oracle checks
  and the replay benchmark at sf0.1+.
"""

from __future__ import annotations

import base64
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENT_COLS = ("offset", "partition", "op", "repo", "path", "commit",
              "lang", "content")


def _with_offsets(df: DataFrame, n_partitions: int,
                  order_cols: list) -> DataFrame:
    """Assign a deterministic global offset (apply order) and a log
    partition. Window over one global ordering is fine at generator
    scale; the *replay* never needs it."""
    w = Window.orderBy(*order_cols)
    return (df.withColumn("offset", F.row_number().over(w).cast("bigint"))
            .withColumn("partition",
                        F.pmod(F.xxhash64("repo"),
                               F.lit(n_partitions)).cast("int"))
            .select(*EVENT_COLS))


def fixture_events(spark: SparkSession, blobs: dict[str, bytes],
                   n_partitions: int = 4) -> DataFrame:
    """Scripted history over a fixture set, ``blobs`` mapping a file
    name to its raw bytes (grate's testdata, or any set that holds
    ``basic.tsv``, ``basic2.tsv`` and ``testing.xls``):

    phase 1: INSERT every tabular fixture
    phase 2: UPDATE every .xls/.xlsx fixture (same bytes, new commit) and
             UPDATE basic.tsv with basic2.tsv's content
    phase 3: DELETE testing.xls; INSERT a non-tabular README.md (must be
             filtered out) and a corrupt .xlsx (must become an error row)
    """
    rows = []
    names = sorted(fn for fn in blobs
                   if fn.endswith((".xls", ".xlsx", ".csv", ".tsv")))

    def blob(fn: str) -> str:
        raw = blobs[fn]
        if fn.endswith((".xls", ".xlsx")):
            return base64.b64encode(raw).decode("ascii")
        return raw.decode("utf-8")

    seq = 0
    for fn in names:
        seq += 1
        rows.append((seq, "I", "grate-fixtures", fn, f"c{seq:04d}",
                     fn.rsplit(".", 1)[-1], blob(fn)))
    for fn in names:
        if fn.endswith((".xls", ".xlsx")):
            seq += 1
            rows.append((seq, "U", "grate-fixtures", fn, f"c{seq:04d}",
                         fn.rsplit(".", 1)[-1], blob(fn)))
    seq += 1
    rows.append((seq, "U", "grate-fixtures", "basic.tsv", f"c{seq:04d}",
                 "tsv", blob("basic2.tsv")))
    seq += 1
    rows.append((seq, "D", "grate-fixtures", "testing.xls", f"c{seq:04d}",
                 "xls", None))
    seq += 1
    rows.append((seq, "I", "grate-fixtures", "README.md", f"c{seq:04d}",
                 "md", "# not tabular\n"))
    seq += 1
    rows.append((seq, "I", "grate-fixtures", "corrupt.xlsx", f"c{seq:04d}",
                 "xlsx", base64.b64encode(b"PK\x03\x04garbagegarbage")
                 .decode("ascii")))

    df = spark.createDataFrame(
        [(o, op, r, p, c, lg, ct) for o, op, r, p, c, lg, ct in rows],
        "seq bigint, op string, repo string, path string, commit string, "
        "lang string, content string")
    return _with_offsets(df, n_partitions, [F.col("seq")]) \
        .repartition(n_partitions, "partition")


def doc_csv_blobs(spark: SparkSession, sf_dir: str,
                  version: int = 2) -> DataFrame:
    """One CSV blob per documents.source at a given content version.

    version 1 uses only half the doc_ids (hash-chosen, uncorrelated with
    the source assignment, so v2 updates *add rows* — and add a column,
    exercising schema evolution in the wide view); version 2 uses all
    rows and an extra quality column.
    """
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if version == 1:
        docs = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
        line = F.concat_ws(",", F.col("doc_id").cast("string"),
                           F.col("lang"), F.col("n_chars").cast("string"))
        header = "doc_id,lang,n_chars"
    else:
        line = F.concat_ws(",", F.col("doc_id").cast("string"),
                           F.col("lang"), F.col("n_chars").cast("string"),
                           (F.col("n_chars") % 7).cast("string"))
        header = "doc_id,lang,n_chars,quality"
    body = (docs.select("source", "doc_id", line.alias("line"))
            .groupBy("source")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("doc_id", "line"))), lambda x: x["line"]),
                "\n").alias("body")))
    return body.select(
        F.concat(F.lit("repo-"),
                 F.substring(F.md5("source"), 1, 2)).alias("repo"),
        F.concat(F.col("source"), F.lit(".csv")).alias("path"),
        F.concat(F.lit(f"v{version}-"), F.md5("source")).alias("commit"),
        F.lit("csv").alias("lang"),
        F.concat(F.lit(header + "\n"), F.col("body")).alias("content"))


def synthetic_doc_events(spark: SparkSession, sf_dir: str,
                         n_partitions: int = 8) -> DataFrame:
    """I/U/D script over the per-source CSV blobs:

    - every path: INSERT at v1
    - paths with pmod(xxhash64(path), 3) == 0: UPDATE to v2
      (adds rows + a column)
    - paths with pmod(xxhash64(path), 10) == 7: DELETE at the end
    """
    v1 = doc_csv_blobs(spark, sf_dir, version=1) \
        .withColumn("op", F.lit("I")).withColumn("phase", F.lit(1))
    v2 = doc_csv_blobs(spark, sf_dir, version=2) \
        .filter(F.pmod(F.xxhash64("path"), F.lit(3)) == 0) \
        .withColumn("op", F.lit("U")).withColumn("phase", F.lit(2))
    dels = v1.select("repo", "path") \
        .filter(F.pmod(F.xxhash64("path"), F.lit(10)) == 7) \
        .withColumn("commit", F.concat(F.lit("del-"), F.md5("path"))) \
        .withColumn("lang", F.lit("csv")) \
        .withColumn("content", F.lit(None).cast("string")) \
        .withColumn("op", F.lit("D")).withColumn("phase", F.lit(3))
    all_ev = v1.unionByName(v2).unionByName(dels)
    return _with_offsets(all_ev, n_partitions,
                         [F.col("phase"), F.col("path")]) \
        .repartition(n_partitions, "partition")


def oracle_doc_events(spark: SparkSession, sf_dir: str,
                      n_partitions: int = 4) -> DataFrame:
    """Like synthetic_doc_events but every I/U/D selection uses the
    cross-engine md5->bigint hash (ops.md5_bigint_expr), so a DuckDB
    oracle can reproduce the exact expected final state:

    - v1 content: docs with md5h(doc_id) % 2 == 0, columns (doc_id,
      lang, n_chars)
    - UPDATE to v2 (all docs + quality column) where md5h(path) % 3 == 0
    - DELETE where md5h(path) % 10 == 7 (v1 paths only)
    """
    from ..ops import md5_bigint_expr

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    dhash = F.expr(md5_bigint_expr("cast(doc_id as string)", "ev"))

    def blobs(version: int) -> DataFrame:
        d = docs
        if version == 1:
            d = d.withColumn("_h", dhash).filter(F.col("_h") % 2 == 0)
            line = F.concat_ws(",", F.col("doc_id").cast("string"),
                               F.col("lang"),
                               F.col("n_chars").cast("string"))
            header = "doc_id,lang,n_chars"
        else:
            line = F.concat_ws(",", F.col("doc_id").cast("string"),
                               F.col("lang"),
                               F.col("n_chars").cast("string"),
                               (F.col("n_chars") % 7).cast("string"))
            header = "doc_id,lang,n_chars,quality"
        body = (d.select("source", "doc_id", line.alias("line"))
                .groupBy("source")
                .agg(F.array_join(
                    F.transform(F.array_sort(F.collect_list(
                        F.struct("doc_id", "line"))),
                        lambda x: x["line"]), "\n").alias("body")))
        return body.select(
            F.lit("oracle-repo").alias("repo"),
            F.concat(F.col("source"), F.lit(".csv")).alias("path"),
            F.lit(f"v{version}").alias("commit"),
            F.lit("csv").alias("lang"),
            F.concat(F.lit(header + "\n"), F.col("body"))
            .alias("content"))

    phash = F.expr(md5_bigint_expr("path", "ev"))
    v1 = blobs(1).withColumn("op", F.lit("I")).withColumn("phase",
                                                          F.lit(1))
    v2 = blobs(2).withColumn("_p", phash).filter(F.col("_p") % 3 == 0) \
        .drop("_p").withColumn("op", F.lit("U")) \
        .withColumn("phase", F.lit(2))
    dels = v1.select("repo", "path") \
        .withColumn("_p", phash).filter(F.col("_p") % 10 == 7) \
        .drop("_p") \
        .withColumn("commit", F.lit("del")) \
        .withColumn("lang", F.lit("csv")) \
        .withColumn("content", F.lit(None).cast("string")) \
        .withColumn("op", F.lit("D")).withColumn("phase", F.lit(3))
    all_ev = v1.unionByName(v2).unionByName(dels)
    return _with_offsets(all_ev, n_partitions,
                         [F.col("phase"), F.col("path")])


def expected_final_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blob set the synthetic replay must converge to (for oracles):
    v2 content where updated, else v1, minus deletes."""
    v1 = doc_csv_blobs(spark, sf_dir, version=1)
    v2 = doc_csv_blobs(spark, sf_dir, version=2) \
        .filter(F.pmod(F.xxhash64("path"), F.lit(3)) == 0)
    # full outer: a path may exist only at v2 (its docs all hash to the
    # v2-only half) — CDC upsert semantics insert it anyway
    merged = v1.join(
        v2.select("path", *[F.col(c).alias(f"{c}2")
                            for c in ("repo", "commit", "lang", "content")]),
        "path", "full_outer")
    for c in ("repo", "commit", "lang", "content"):
        merged = merged.withColumn(c, F.coalesce(f"{c}2", c)).drop(f"{c}2")
    # deletes are generated from v1 paths only
    v1_paths = v1.select("path").withColumn("_v1", F.lit(1))
    return (merged.join(v1_paths, "path", "left")
            .filter(~((F.pmod(F.xxhash64("path"), F.lit(10)) == 7)
                      & F.col("_v1").isNotNull()))
            .drop("_v1"))
