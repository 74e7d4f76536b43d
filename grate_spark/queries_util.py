"""Shared helpers for query modules (kept tiny to avoid import cycles)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread(df: DataFrame) -> DataFrame:
    """Fan an unsplittable scan out to the cores BEFORE heavy per-row
    compute. The sf parquet tables are single-row-group files, so Spark
    gives their scan exactly one task regardless of split settings —
    and any expensive projection chained on it (minhash trees, cosine
    folds, payload-synthesis UDFs) runs single-threaded. A round-robin
    exchange of the slim pruned columns costs microseconds against the
    compute it parallelizes; at cluster scale (many row groups per
    file) the same exchange stays a rounding error. Apply AFTER column
    pruning, BEFORE the heavy expressions.

    CONDITIONAL: a scan that already yields >= defaultParallelism
    partitions (the cluster case — many files/row groups) skips the
    exchange entirely; fanning out an already-parallel scan is a pure
    waste of one shuffle at 100x scale. The partition probe is plan
    analysis only (no job)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= par:
            return df
    except Exception:
        pass  # un-probe-able plan: fall through to the safe fan-out
    return df.repartition(par)


def sorted_epilogue(df: DataFrame, *cols) -> DataFrame:
    """A query's final global sort, below a lazy lineage cut. A global
    ``orderBy`` first runs a range-sampling job over its input to pick
    partition bounds; without the cut that job re-executes the whole
    subtree feeding the sort (an extraction UDTF, a MoR read, a pair
    join, a scoring fold) a second time. ``localCheckpoint(eager=False)``
    keeps the blocks the sampling job computes, and the sort reads
    them."""
    return df.localCheckpoint(eager=False).orderBy(*cols)
