"""Plan-quality gates: pushdown, pruning, broadcast, codegen.

The physical plans that matter at 100 TB, asserted so regressions fail
CI: filters must reach the parquet scan (PushedFilters), projections
must prune columns (ReadSchema), small dims must broadcast, and the
relational stages must stay inside WholeStageCodegen.
"""

import os
import re

import pytest

SF = os.environ.get("GRATE_TEST_SF", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def simple_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_partial_agg(spark):
    from grate_spark.queries import QUERIES

    df = QUERIES["q1_pricing_summary"][0](spark, SF)
    plan = plan_of(df)
    # shipdate predicate reaches the parquet scan
    assert re.search(r"PushedFilters:.*l_shipdate", plan), plan[:2000]
    # map-side partial aggregation before the exchange
    assert "HashAggregate" in plan
    # codegen spans appear in the AQE-final executed plan
    df.collect()
    final = simple_plan(df)
    assert "*(" in final, "no WholeStageCodegen spans in final plan"


def test_q1_column_pruning(spark):
    from grate_spark.queries import QUERIES

    df = QUERIES["q1_pricing_summary"][0](spark, SF)
    plan = plan_of(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no ReadSchema in plan"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # only the columns q1 touches are read from parquet
    assert cols <= {"l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax",
                    "l_shipdate"}, cols


def test_q3_broadcasts_customer_dim(spark):
    from grate_spark.queries import QUERIES

    df = QUERIES["q3_shipping_priority"][0](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    from grate_spark.queries import QUERIES

    df = QUERIES["q5_region_revenue"][0](spark, SF)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 2


def test_events_offset_range_pushdown(spark):
    from grate_spark.queries import QUERIES

    df = QUERIES["events_replay_batch"][0](spark, SF)
    plan = plan_of(df)
    assert re.search(r"PushedFilters:.*GreaterThan\(event_id",
                     plan), plan[:2000]


def test_cdc_batch_scan_pushes_offset_bounds(spark, tmp_path):
    """The replay's offset-bounded scan must prune at the parquet level
    — this is what makes tailing a 10^10-event log incremental."""
    from pyspark.sql import functions as F
    from grate_spark.cdc.events import EVENT_COLS

    ev_path = str(tmp_path / "ev.parquet")
    spark.createDataFrame(
        [(i, 0, "I", "r", f"f{i}.csv", "c", "csv", "x,y\n1,2")
         for i in range(100)],
        "offset bigint, partition int, op string, repo string, "
        "path string, commit string, lang string, content string") \
        .write.parquet(ev_path)
    events = spark.read.parquet(ev_path)
    batch = events.filter((F.col("offset") > 10)
                          & (F.col("offset") <= 20))
    plan = plan_of(batch)
    assert re.search(r"PushedFilters:.*GreaterThan\(offset,10", plan)


def test_extraction_stays_arrow_and_single_pass(spark):
    """The extraction plan: scan -> (optional exchange) -> mapInPandas;
    no Python row-at-a-time operators (BatchEvalPython) anywhere."""
    from grate_spark.operators.extraction import extract_files
    from grate_spark.cdc.events import doc_csv_blobs

    rows = extract_files(doc_csv_blobs(spark, SF, version=1))
    plan = simple_plan(rows)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # no scalar python UDFs


def test_no_cartesian_products_anywhere(spark):
    """No query plan may contain an unintended cartesian product
    (cross joins only appear with an explicit broadcast side)."""
    from grate_spark.queries import QUERIES

    for name, (fn, _sql) in QUERIES.items():
        plan = simple_plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_dedup_reuses_signature_exchange(spark):
    """The banding pipeline computes the minhash signatures ONCE: the
    round-6 reshape expands each bucket's pair set from its aggregated
    member list, so the plan has exactly one documents scan and no
    self-join at all (the former gate asserted a ReusedExchange
    between the two join sides; with no join sides the stronger
    single-subtree property is structural)."""
    from grate_spark.ops.dedup import minhash_lsh_pairs

    df = minhash_lsh_pairs(spark, SF)
    df.collect()  # AQE finalizes the executed plan
    plan = simple_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") == 1, plan[:2000]
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "ShuffledHashJoin", "CartesianProduct"):
        assert join_op not in plan, plan[:2000]


def test_bucket_blobs_fuses_extract_into_write(spark, tmp_path):
    """The replay's exchange plan: the ONLY exchange is the pipeline's
    own blob exchange (``CdcPipeline._bucket_exchange``: blobs placed
    on their bucket's task slot by partition id), below the extraction
    UDF — extracted rows flow to the writer with no second shuffle
    (the barrier-free extract->encode fuse). A hot bucket is in the
    batch so that the salted sub-split is part of the plan."""
    from grate_spark.cdc.events import doc_csv_blobs
    from grate_spark.cdc.lake import _bucket_expr
    from grate_spark.cdc.pipeline import CdcPipeline
    from grate_spark.operators.extraction import extract_files

    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=8,
                       wide_view=False, python_encode=False)
    counts = {0: 895, **{b: 15 for b in range(1, 8)}}
    plan, _ = pipe._pack_tasks(counts, 1000)
    assert len(plan[0]) > 1
    blobs = pipe._bucket_exchange(doc_csv_blobs(spark, SF, version=1),
                                  plan)
    rows = extract_files(blobs).withColumn(
        "_bucket", _bucket_expr(("repo", "path"), 8))
    plan = simple_plan(rows)
    above_udf = plan[:plan.index("MapInPandas")]
    assert "Exchange" not in above_udf, \
        "exchange sits above the extraction UDF (rows reshuffled):\n" + plan
    # and the blob exchange right below it is the direct task-slot one
    below_udf = plan[plan.index("MapInPandas"):]
    first_exchange = below_udf[below_udf.index("Exchange"):]
    assert first_exchange.startswith(
        "Exchange shufflepartitionidpassthrough("
        "direct_shuffle_partition_id("), plan
    assert "xxhash64(path" in first_exchange.splitlines()[0], plan


def test_spread_preserves_pruning_and_parallelism(spark):
    """spread() fans an unsplittable scan out before heavy per-row
    compute — column pruning must still reach the scan BELOW the
    round-robin exchange, and the exchange itself must be present."""
    from grate_spark.queries import QUERIES

    df = QUERIES["minhash_signatures"][0](spark, SF)
    plan = simple_plan(df)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, plan[:2000]
    # pruned to the needed columns only: no n_chars/source/created_at
    for ln in scans:
        assert "n_chars" not in ln and "source" not in ln, ln
        assert "text" in ln and "doc_id" in ln, ln
    # the fan-out exchange exists (RoundRobinPartitioning)
    assert "RoundRobinPartitioning" in plan, plan[:2000]


def test_spread_skips_exchange_on_already_parallel_input(spark, tmp_path):
    """spread() is conditional: a scan that already yields >= the
    session's parallelism takes the direct path (no round-robin
    exchange), while the single-row-group sf tables keep the fan-out
    (asserted by test_spread_preserves_pruning_and_parallelism)."""
    from grate_spark.queries_util import spread

    par = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "many.parquet")
    spark.range(10_000).repartition(par * 2).write.parquet(p)
    wide = spark.read.parquet(p)
    assert wide.rdd.getNumPartitions() >= par
    plan = simple_plan(spread(wide))
    assert "RoundRobinPartitioning" not in plan, plan[:2000]

    narrow = spark.read.parquet(p).coalesce(1)
    plan2 = simple_plan(spread(narrow))
    assert "RoundRobinPartitioning" in plan2, plan2[:2000]


def test_lsh_neardups_banding_runs_once(spark):
    """lsh_jaccard_neardups materializes the candidate pairs ONCE
    (eager lineage-preserving persist, bounded by the stop-bucket
    cap): the verify query reads the cached rows, so the banding
    exchange — the suite's widest DAG — does not re-execute inside
    the verify joins (and a lost cache block recomputes via lineage
    instead of failing the job, unlike a localCheckpoint). Checked on
    the UNSORTED verify plan — the public query sorts above a lazy
    lineage cut of the tiny verified set (so range sampling cannot
    re-run the joins), which hides the join subtree from its plan."""
    from grate_spark.ops.dedup import _lsh_jaccard_verify

    df, _cands = _lsh_jaccard_verify(spark, SF)
    plan = simple_plan(df)
    assert "InMemoryTableScan" in plan, plan[:2000]
    # the verify side itself re-derives no banding exchange above the
    # cached scan (TableCacheQueryStage reuses the materialized blocks)
    above = plan.split("InMemoryTableScan")[0]
    assert "hashpartitioning(band" not in above, plan[:2000]
