"""Operator showcase queries + their DuckDB oracle SQL.

Each entry exercises one engine operator/capability from SURVEY.md §2 (or
an engine-layer capability the north rule adds) over the driver-provided
parquet tables, with an equivalent ANSI-SQL oracle. Aggregate doubles are
rounded in BOTH engines so summation-order ulps can't flip the value
hash. Every computed column is aliased identically on both sides.

Plan-quality conventions: dimension joins are broadcast; filters are
expressed on scan columns so Catalyst pushes them into parquet; window
dedups partition by the key that the downstream MERGE would shuffle on
anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .queries_util import sorted_epilogue


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Relational core (Spark built-ins; scan -> filter -> agg/join/window)

def q1_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                 F.round(F.sum(charge), 2).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    li = _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.desc("revenue"), "o_orderkey")
            .limit(10))


Q3_SQL = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q5_region_revenue(spark, sf):
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    dims = (cust.join(F.broadcast(nation),
                      cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .select("c_custkey", "r_name"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
            .groupBy("r_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy("r_name"))


Q5_SQL = """
SELECT r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
ORDER BY r_name
"""


def orders_by_priority(spark, sf):
    return (_t(spark, sf, "orders")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.avg("o_totalprice"), 2).alias("avg_totalprice"),
                 F.round(F.max("o_totalprice"), 2).alias("max_totalprice"))
            .orderBy("o_orderpriority"))


ORDERS_BY_PRIORITY_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(avg(o_totalprice), 2) AS avg_totalprice,
       round(max(o_totalprice), 2) AS max_totalprice
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def customers_per_region(spark, sf):
    region = _t(spark, sf, "region")
    nation = _t(spark, sf, "nation")
    cust = _t(spark, sf, "customer")
    return (cust.join(F.broadcast(nation),
                      cust.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region),
                  nation.n_regionkey == region.r_regionkey)
            .groupBy("r_name")
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"))
            .orderBy("r_name"))


CUSTOMERS_PER_REGION_SQL = """
SELECT r_name, count(*) AS n_customers,
       round(avg(c_acctbal), 2) AS avg_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# ---------------------------------------------------------------------------
# CDC-shaped operators over the events change log

def events_latest_per_key(spark, sf):
    """Latest-offset-wins per key — the in-batch dedup the MERGE
    pipeline runs before upserting (SURVEY §2.G1). Expressed as a
    max_by aggregation instead of a row_number window: the partial
    (map-side) aggregate collapses the table to one row per key before
    any exchange, where the window had to shuffle + sort EVERY event
    row. event_id is the unique total order, so max_by picks exactly
    the window's rn=1 row."""
    ev = _t(spark, sf, "events")
    last = F.max_by(F.struct("event_id", "event_type", "value"),
                    "event_id").alias("m")
    return (ev.groupBy("user_id").agg(last)
            .select("user_id",
                    F.col("m.event_id").alias("last_event_id"),
                    F.col("m.event_type").alias("last_event_type"),
                    F.round("m.value", 2).alias("last_value"))
            .orderBy("user_id"))


EVENTS_LATEST_SQL = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       round(value, 2) AS last_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) AS rn
      FROM events)
WHERE rn = 1
ORDER BY user_id
"""


def events_replay_batch(spark, sf):
    """Offset-bounded incremental scan (checkpoint..high-watermark), the
    unit of replay (SURVEY §2.K change-log tail)."""
    ev = _t(spark, sf, "events")
    return (ev.filter((F.col("event_id") > 1000) & (F.col("event_id") <= 40000))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"),
                 F.min("event_id").alias("min_offset"),
                 F.max("event_id").alias("max_offset"))
            .orderBy("event_type"))


EVENTS_REPLAY_SQL = """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value,
       min(event_id) AS min_offset, max(event_id) AS max_offset
FROM events WHERE event_id > 1000 AND event_id <= 40000
GROUP BY event_type ORDER BY event_type
"""


def events_hourly_rollup(spark, sf):
    """Windowed aggregation (streaming-style time bucketing)."""
    ev = _t(spark, sf, "events")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"),
                       "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .orderBy("hour_ts", "event_type"))


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_ts, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# Training-data ops over documents

def docs_dedup_exact(spark, sf):
    """Exact dedup: keep the lowest doc_id per identical text, then count
    survivors per language. min_by picks the window's rn=1 row (doc_id
    is unique) with a hash aggregate instead of a full sort of every
    text group."""
    docs = _t(spark, sf, "documents")
    return (docs.groupBy("text")
            .agg(F.min_by("lang", "doc_id").alias("lang"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_unique_docs"))
            .orderBy("lang"))


DOCS_DEDUP_EXACT_SQL = """
SELECT lang, count(*) AS n_unique_docs
FROM (SELECT lang, row_number() OVER (PARTITION BY text
                                      ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1
GROUP BY lang ORDER BY lang
"""


def docs_token_stats(spark, sf):
    docs = _t(spark, sf, "documents")
    return (docs.withColumn("n_tokens", F.size(F.split("text", " ")))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"))
            .orderBy("lang"))


DOCS_TOKEN_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Extraction operator under the oracle: deterministic CSV blobs built from
# documents, extracted by the UDTF, checked against direct SQL.

def _docs_as_csv_blobs(spark, sf):
    docs = _t(spark, sf, "documents")
    line = F.concat_ws(",", F.col("doc_id").cast("string"), F.col("lang"),
                       F.col("n_chars").cast("string"))
    per_source = (docs.select("source", "doc_id", line.alias("line"))
                  .groupBy("source")
                  .agg(F.array_join(
                      F.transform(
                          F.array_sort(F.collect_list(
                              F.struct("doc_id", "line"))),
                          lambda x: x["line"]),
                      "\n").alias("body")))
    return per_source.select(
        F.lit("bench").alias("repo"),
        F.concat(F.col("source"), F.lit(".csv")).alias("path"),
        F.lit("").alias("commit"),
        F.lit("csv").alias("lang"),
        F.concat(F.lit("doc_id,lang,n_chars\n"), F.col("body"))
        .alias("content"))


def extract_csv_roundtrip(spark, sf):
    """Build one CSV blob per documents.source, run the extraction UDTF,
    emit (source, row_id, columns) for data rows — the oracle reproduces
    the same rows straight from the table."""
    from grate_spark.operators.extraction import extract_files

    blobs = _docs_as_csv_blobs(spark, sf)
    rows = extract_files(blobs)
    out = (rows.filter(F.col("error").isNull() & (F.col("row_id") >= 1))
           .select(
               F.regexp_replace("sheet", r"\.csv$", "").alias("source"),
               F.col("row_id"),
               F.element_at("cells", 1).cast("long").alias("doc_id"),
               F.element_at("cells", 2).alias("lang"),
               F.element_at("cells", 3).cast("long").alias("n_chars")))
    return sorted_epilogue(out, "source", "row_id")


EXTRACT_CSV_ROUNDTRIP_SQL = """
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS row_id,
       doc_id, lang, n_chars
FROM documents
ORDER BY source, row_id
"""


def extract_csv_sha(spark, sf):
    """Per-row sha256 of the tab-joined rendered cells (the parity
    invariant), oracle-checked end-to-end through the extraction UDTF."""
    from grate_spark.operators.extraction import (extract_files,
                                                  with_content_sha)

    blobs = _docs_as_csv_blobs(spark, sf)
    rows = with_content_sha(
        extract_files(blobs).filter(
            F.col("error").isNull() & (F.col("row_id") >= 1)))
    out = rows.select(
        F.regexp_replace("sheet", r"\.csv$", "").alias("source"),
        F.col("row_id"), F.col("content_sha256"))
    return sorted_epilogue(out, "source", "row_id")


EXTRACT_CSV_SHA_SQL = """
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS row_id,
       sha256(concat(cast(doc_id AS VARCHAR), chr(9), lang, chr(9),
                     cast(n_chars AS VARCHAR))) AS content_sha256
FROM documents
ORDER BY source, row_id
"""


def extract_typed_scan(spark, sf):
    """grate2tsv-analog post-processing chain: extract -> sanitize cells
    (I24, trims the padding injected below) -> drop blank rows (D5) ->
    typed Scan projections (C5) -> aggregate. Oracle reproduces the same
    stats straight from the documents table."""
    from grate_spark.operators.extraction import extract_files
    from grate_spark.operators.postprocess import (drop_blank_rows,
                                                   sanitize_cells,
                                                   typed_column)

    docs = _t(spark, sf, "documents")
    # pad the lang field with whitespace so sanitize_cells is observable
    line = F.concat_ws(",", F.col("doc_id").cast("string"),
                       F.concat(F.lit("  "), F.col("lang"), F.lit("\t")),
                       F.col("n_chars").cast("string"))
    blobs = (docs.select("source", "doc_id", line.alias("line"))
             .groupBy("source")
             .agg(F.array_join(
                 F.transform(F.array_sort(F.collect_list(
                     F.struct("doc_id", "line"))), lambda x: x["line"]),
                 "\n").alias("body"))
             .select(F.lit("bench").alias("repo"),
                     F.concat(F.col("source"), F.lit(".tsv2.csv"))
                     .alias("path"),
                     F.lit("").alias("commit"),
                     F.lit("csv").alias("lang"),
                     F.concat(F.lit("doc_id,lang,n_chars\n"),
                              F.col("body")).alias("content")))
    rows = extract_files(blobs)
    rows = drop_blank_rows(sanitize_cells(
        rows.filter(F.col("error").isNull() & (F.col("row_id") >= 1))))
    rows = typed_column(rows, 1, "int", out="doc_id")
    rows = typed_column(rows, 2, "string", out="doc_lang")
    rows = typed_column(rows, 3, "int", out="doc_chars")
    return (rows.withColumn("source",
                            F.regexp_replace("sheet", r"\.tsv2\.csv$", ""))
            .groupBy("source")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("doc_chars").alias("sum_chars"),
                 F.countDistinct("doc_lang").alias("n_langs"))
            .orderBy("source"))


EXTRACT_TYPED_SCAN_SQL = """
SELECT source, count(*) AS n_rows, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       count(DISTINCT lang) AS n_langs
FROM documents GROUP BY source ORDER BY source
"""


def cdc_replay_state(spark, sf):
    """End-to-end CDC gate: build a deterministic I/U/D event log over
    per-source CSV blobs, replay it through the full engine (offset
    batches -> latest-wins -> extraction UDTF -> MoR MERGE commits ->
    deletes), and return the FINAL table state row-by-row. The oracle
    reconstructs the same state directly from the documents table using
    the identical md5-hash I/U/D selection — every merge/delete/replace
    semantic must line up exactly for the hashes to match."""
    import tempfile

    from grate_spark.cdc.events import oracle_doc_events
    from grate_spark.cdc.pipeline import CdcPipeline

    events = oracle_doc_events(spark, sf)
    root = tempfile.mkdtemp(prefix="grate-cdc-oracle-")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    n = events.count()
    pipe.replay(events, batch_size=max(4, (n + 2) // 3))

    res = pipe.results().filter(F.col("error").isNull()
                                & (F.col("row_id") >= 1))
    return sorted_epilogue(res.select(
        F.regexp_replace("path", r"\.csv$", "").alias("source"),
        "row_id",
        F.try_element_at("cells", F.lit(1)).cast("long").alias("doc_id"),
        F.try_element_at("cells", F.lit(2)).alias("lang"),
        F.try_element_at("cells", F.lit(3)).cast("long")
        .alias("n_chars"),
        F.try_element_at("cells", F.lit(4)).cast("long")
        .alias("quality")), "source", "row_id")


def _cdc_replay_state_sql() -> str:
    from grate_spark.ops import md5_bigint_sql

    dh = md5_bigint_sql("CAST(doc_id AS VARCHAR)", "ev")
    ph = md5_bigint_sql("source || '.csv'", "ev")
    return f"""
WITH flags AS (
  SELECT source,
         ({ph}) % 3 = 0 AS updated,
         ({ph}) % 10 = 7 AS del_candidate,
         -- a path exists at v1 iff the source has any md5-even doc
         bool_or(({dh}) % 2 = 0) AS in_v1
  FROM documents GROUP BY source
), final_docs AS (
  SELECT d.source, d.doc_id, d.lang, d.n_chars,
         CASE WHEN f.updated THEN d.n_chars % 7 END AS quality
  FROM documents d JOIN flags f USING (source)
  WHERE (f.updated OR ({dh}) % 2 = 0)
    AND NOT (f.del_candidate AND f.in_v1)      -- deleted paths
    AND (f.updated OR f.in_v1)                 -- never inserted at all
)
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS row_id,
       doc_id, lang, n_chars, quality
FROM final_docs
ORDER BY source, row_id
"""


CDC_REPLAY_STATE_SQL = _cdc_replay_state_sql()

def _cdc_time_travel_sql() -> str:
    from grate_spark.ops import md5_bigint_sql

    dh = md5_bigint_sql("CAST(doc_id AS VARCHAR)", "ev")
    return f"""
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS row_id,
       doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality
FROM documents
WHERE ({dh}) % 2 = 0
ORDER BY source, row_id
"""


CDC_TIME_TRAVEL_SQL = _cdc_time_travel_sql()


def cdc_time_travel(spark, sf):
    """Time-travel gate: replay ONLY the insert phase of the I/U/D
    event log, pin that snapshot under a tag (Iceberg ref), then finish
    the replay (updates + deletes land on top) — and return the state
    read THROUGH THE TAG. The oracle reconstructs the phase-1-only
    state directly (md5-even docs, no quality column), so the query
    proves reads through a pinned ref are bit-stable across later
    exactly-once ingest, checkpoint-resumed mid-log."""
    import tempfile

    from grate_spark.cdc.events import oracle_doc_events
    from grate_spark.cdc.pipeline import RESULTS_TABLE, CdcPipeline

    events = oracle_doc_events(spark, sf)
    root = tempfile.mkdtemp(prefix="grate-cdc-tt-")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    # phase-1 events (op='I') occupy offsets [1, n_v1] by construction
    n_v1 = events.filter(F.col("op") == "I").count()
    pipe.replay(events, batch_size=n_v1, max_batches=1)
    txn = pipe.lake.begin()
    txn.tag("phase1")
    txn.commit()
    # finish the log from the checkpoint: the tag must not move
    n = events.count()
    pipe.replay(events, batch_size=max(4, (n + 2) // 3))

    rows = pipe.lake.read_tag(RESULTS_TABLE, "phase1")
    rows = rows.filter(F.col("error").isNull() & (F.col("row_id") >= 1))
    return sorted_epilogue(rows.select(
        F.regexp_replace("path", r"\.csv$", "").alias("source"),
        "row_id",
        F.try_element_at("cells", F.lit(1)).cast("long").alias("doc_id"),
        F.try_element_at("cells", F.lit(2)).alias("lang"),
        F.try_element_at("cells", F.lit(3)).cast("long")
        .alias("n_chars"),
        F.try_element_at("cells", F.lit(4)).cast("long")
        .alias("quality")), "source", "row_id")


# point lookup = the reconstructed state filtered to one deterministic
# key (the lexicographically-first surviving source)
CDC_POINT_LOOKUP_SQL = f"""
WITH state AS ({CDC_REPLAY_STATE_SQL})
SELECT * FROM state
WHERE source = (SELECT min(source) FROM state)
ORDER BY row_id
"""


def cdc_point_lookup(spark, sf):
    """Point-lookup gate: replay the deterministic I/U/D event log
    through the engine, then fetch ONE merge key via
    ``LakeCatalog.read_key`` — xxhash64 bucket routing plus file-level
    key-bounds skipping (Iceberg-style data skipping over the fused
    writer's in-task min/max stats) — and return its final rows. The
    oracle filters the reconstructed state to the same key, so a
    pruning bug that skips a live file or resurrects a superseded one
    breaks the value hash."""
    import tempfile

    from grate_spark.cdc.events import oracle_doc_events
    from grate_spark.cdc.pipeline import RESULTS_TABLE, CdcPipeline

    events = oracle_doc_events(spark, sf)
    root = tempfile.mkdtemp(prefix="grate-cdc-point-")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    n = events.count()
    pipe.replay(events, batch_size=max(4, (n + 2) // 3))

    live = pipe.results().filter(F.col("error").isNull()
                                 & (F.col("row_id") >= 1))
    # deterministic target: min surviving path (bounded driver scalar,
    # like the replay's hwm)
    tgt = live.agg(F.min(F.struct("path", "repo")).alias("s")) \
        .collect()[0]["s"]
    rows = pipe.lake.read_key(RESULTS_TABLE,
                              {"repo": tgt["repo"], "path": tgt["path"]})
    rows = rows.filter(F.col("error").isNull() & (F.col("row_id") >= 1))
    return sorted_epilogue(rows.select(
        F.regexp_replace("path", r"\.csv$", "").alias("source"),
        "row_id",
        F.try_element_at("cells", F.lit(1)).cast("long").alias("doc_id"),
        F.try_element_at("cells", F.lit(2)).alias("lang"),
        F.try_element_at("cells", F.lit(3)).cast("long")
        .alias("n_chars"),
        F.try_element_at("cells", F.lit(4)).cast("long")
        .alias("quality")), "row_id")


def cdc_changes_feed(spark, sf):
    """CDC-out gate: replay the deterministic I/U/D event log through
    the engine (as cdc_replay_state does), then reconstruct the final
    table state FROM THE INCREMENTAL CHANGELOG ALONE —
    ``lake.changes('results', 0)`` emits every committed row-level
    upsert/delete with its commit version; newest-commit-wins over
    that feed must reproduce the live snapshot, so the oracle is the
    same final-state SQL. Verifies the per-commit op journal, the
    O(delta) changelog reader, and delete emission end-to-end."""
    import tempfile

    from grate_spark.cdc.events import oracle_doc_events
    from grate_spark.cdc.pipeline import RESULTS_TABLE, CdcPipeline

    events = oracle_doc_events(spark, sf)
    root = tempfile.mkdtemp(prefix="grate-cdc-changes-")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    n = events.count()
    pipe.replay(events, batch_size=max(4, (n + 2) // 3))

    delta = pipe.lake.changes(RESULTS_TABLE, 0)
    w = Window.partitionBy("repo", "path")
    live = (delta
            .withColumn("_vmax", F.max("_commit_version").over(w))
            .filter((F.col("_commit_version") == F.col("_vmax"))
                    & (F.col("_change_type") != "delete"))
            .drop("_change_type", "_commit_version", "_vmax"))
    live = live.filter(F.col("error").isNull() & (F.col("row_id") >= 1))
    return sorted_epilogue(live.select(
        F.regexp_replace("path", r"\.csv$", "").alias("source"),
        "row_id",
        F.try_element_at("cells", F.lit(1)).cast("long").alias("doc_id"),
        F.try_element_at("cells", F.lit(2)).alias("lang"),
        F.try_element_at("cells", F.lit(3)).cast("long")
        .alias("n_chars"),
        F.try_element_at("cells", F.lit(4)).cast("long")
        .alias("quality")), "source", "row_id")


def cdc_wide_state(spark, sf):
    """Wide-view (schema-evolution surface) gate: replay the same
    deterministic I/U/D event log with ``wide_view=True`` — every merge
    also maintains ``results_wide``, cells exploded to typed-width
    string columns c001..cNNN with column-add evolution when a batch
    widens the sheet — then read the final state THROUGH THE WIDE
    TABLE. The oracle is the same reconstruction as cdc_replay_state
    (c004/quality exists only for updated sources; pre-evolution rows
    read back as NULL), so a wide-merge bug that drops rows, routes a
    bucket wrong, or mis-evolves the schema breaks the value hash."""
    import tempfile

    from grate_spark.cdc.events import oracle_doc_events
    from grate_spark.cdc.pipeline import CdcPipeline

    events = oracle_doc_events(spark, sf)
    root = tempfile.mkdtemp(prefix="grate-cdc-wide-")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=True)
    n = events.count()
    pipe.replay(events, batch_size=max(4, (n + 2) // 3))

    wide = pipe.results_wide().filter(F.col("row_id") >= 1)
    quality = (F.col("c004").cast("long") if "c004" in wide.columns
               else F.lit(None).cast("long"))
    return sorted_epilogue(wide.select(
        F.regexp_replace("path", r"\.csv$", "").alias("source"),
        "row_id",
        F.col("c001").cast("long").alias("doc_id"),
        F.col("c002").alias("lang"),
        F.col("c003").cast("long").alias("n_chars"),
        quality.alias("quality")), "source", "row_id")


# ---------------------------------------------------------------------------
# Multimodal: binary payload column -> byte-level features through the
# Arrow UDF (decode kernels stubbed; plumbing oracle-checked end-to-end).

def multimodal_features(spark, sf):
    from grate_spark.operators.multimodal import (docs_as_media,
                                                  extract_media_features)
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return (extract_media_features(docs_as_media(docs))
            .orderBy("media_id"))


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id AS media_id,
       (['image','audio','video','blob'])[(doc_id % 4) + 1]
         AS media_type,
       octet_length(encode(text)) AS n_bytes,
       CAST(1 + octet_length(encode(text)) // 1024 AS INT) AS n_frames,
       sha256(text) AS content_sha256
FROM documents WHERE doc_id < 100
ORDER BY media_id
"""


def image_features(spark, sf):
    """Real image-decode path under the oracle: deterministic 8x4 RGB
    BMPs are built from each document's utf-8 bytes (cycled to 96 px
    bytes), decoded by the pure-stdlib BMP decoder inside the Arrow UDF
    (operators/media_codecs.py), and the features must equal what
    DuckDB computes directly from the same byte construction."""
    from grate_spark.operators.multimodal import extract_image_features

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 64)

    @F.pandas_udf("binary")
    def to_bmp(texts):
        import numpy as np
        import pandas as pd

        from grate_spark.operators.media_codecs import encode_bmp

        out = []
        for t in texts:
            raw = t.encode("utf-8")
            px = (raw * (96 // len(raw) + 1))[:96]
            img = np.frombuffer(px, dtype=np.uint8).reshape(4, 8, 3)
            out.append(encode_bmp(img))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id"),
                        to_bmp("text").alias("payload"))
    return (extract_image_features(media)
            .select("media_id", "width", "height", "channels",
                    F.round("mean_luma", 4).alias("mean_luma"))
            .orderBy("media_id"))


IMAGE_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE doc_id < 64
)
SELECT media_id, CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       round(list_aggregate(list_transform(range(96),
         i -> CAST(('0x' || substr(hx, 2 * (CAST(i AS INT) % n) + 1, 2))
              AS INT)), 'avg'), 4) AS mean_luma
FROM b ORDER BY media_id
"""


def audio_features(spark, sf):
    """Real audio-decode path under the oracle: deterministic mono PCM
    WAVs are built from each document's utf-8 bytes reinterpreted as 64
    little-endian int16 samples at 8 kHz, decoded by the stdlib WAV
    decoder, and rate/shape/rms must equal DuckDB's direct computation
    over the same bytes."""
    from grate_spark.operators.multimodal import extract_audio_features

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 64)

    @F.pandas_udf("binary")
    def to_wav(texts):
        import struct

        import numpy as np
        import pandas as pd

        out = []
        for t in texts:
            raw = t.encode("utf-8")
            data = (raw * (128 // len(raw) + 1))[:128]
            fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
            body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt))
                    + fmt + b"data" + struct.pack("<I", len(data))
                    + data)
            out.append(b"RIFF" + struct.pack("<I", len(body)) + body)
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id"),
                        to_wav("text").alias("payload"))
    return (extract_audio_features(media)
            .select("media_id", "sample_rate", "n_samples", "n_channels",
                    F.round("duration_sec", 4).alias("duration_sec"),
                    F.round("rms", 4).alias("rms"))
            .orderBy("media_id"))


AUDIO_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents WHERE doc_id < 64
), s AS (
  SELECT media_id,
         list_transform(range(64), i ->
           CAST(('0x'
             || substr(hx, 2 * ((2 * CAST(i AS INT) + 1) % n) + 1, 2)
             || substr(hx, 2 * ((2 * CAST(i AS INT)) % n) + 1, 2))
            AS INT)) AS u16
  FROM b
)
SELECT media_id, CAST(8000 AS INT) AS sample_rate,
       CAST(64 AS BIGINT) AS n_samples, CAST(1 AS INT) AS n_channels,
       round(64.0 / 8000, 4) AS duration_sec,
       round(sqrt(list_aggregate(list_transform(u16,
         x -> CAST(CASE WHEN x >= 32768 THEN x - 65536 ELSE x END
              AS DOUBLE) ** 2), 'avg')), 4) AS rms
FROM s ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# registry

def _training_data_queries() -> dict:
    from grate_spark.ops import dedup, similarity, text

    return {
        "minhash_signatures": (dedup.minhash_signatures,
                               dedup.MINHASH_SIGNATURES_SQL),
        "minhash_lsh_pairs": (dedup.minhash_lsh_pairs,
                              dedup.MINHASH_LSH_PAIRS_SQL),
        "simhash_fingerprints": (dedup.simhash_fingerprints,
                                 dedup.SIMHASH_FINGERPRINTS_SQL),
        "ngram_jaccard_pairs": (dedup.ngram_jaccard_pairs,
                                dedup.NGRAM_JACCARD_PAIRS_SQL),
        "lsh_jaccard_neardups": (dedup.lsh_jaccard_neardups,
                                 dedup.LSH_JACCARD_NEARDUPS_SQL),
        "cosine_topk": (similarity.cosine_topk,
                        similarity.COSINE_TOPK_SQL),
        "ann_ivf_topk": (similarity.ann_ivf_topk,
                         similarity.ANN_IVF_TOPK_SQL),
        "ann_trained_topk": (similarity.ann_trained_topk,
                             similarity.ANN_TRAINED_TOPK_SQL),
        "embedding_neardup_pairs": (similarity.embedding_neardup_pairs,
                                    similarity.EMBEDDING_NEARDUP_SQL),
        "langid_predictions": (text.langid_predictions,
                               text.LANGID_PREDICTIONS_SQL),
        "quality_scores": (text.quality_scores, text.QUALITY_SCORES_SQL),
        "token_counts": (text.token_counts, text.TOKEN_COUNTS_SQL),
        "doc_fingerprints": (text.doc_fingerprints,
                             text.DOC_FINGERPRINTS_SQL),
        "multimodal_features": (multimodal_features,
                                MULTIMODAL_FEATURES_SQL),
        "image_features": (image_features, IMAGE_FEATURES_SQL),
        "audio_features": (audio_features, AUDIO_FEATURES_SQL),
        "extract_typed_scan": (extract_typed_scan,
                               EXTRACT_TYPED_SCAN_SQL),
        "cdc_replay_state": (cdc_replay_state, CDC_REPLAY_STATE_SQL),
        "cdc_changes_feed": (cdc_changes_feed, CDC_REPLAY_STATE_SQL),
        "cdc_point_lookup": (cdc_point_lookup, CDC_POINT_LOOKUP_SQL),
        "cdc_time_travel": (cdc_time_travel, CDC_TIME_TRAVEL_SQL),
        "cdc_wide_state": (cdc_wide_state, CDC_REPLAY_STATE_SQL),
    }


QUERIES = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_region_revenue": (q5_region_revenue, Q5_SQL),
    "orders_by_priority": (orders_by_priority, ORDERS_BY_PRIORITY_SQL),
    "customers_per_region": (customers_per_region, CUSTOMERS_PER_REGION_SQL),
    "events_latest_per_key": (events_latest_per_key, EVENTS_LATEST_SQL),
    "events_replay_batch": (events_replay_batch, EVENTS_REPLAY_SQL),
    "events_hourly_rollup": (events_hourly_rollup, EVENTS_HOURLY_SQL),
    "docs_dedup_exact": (docs_dedup_exact, DOCS_DEDUP_EXACT_SQL),
    "docs_token_stats": (docs_token_stats, DOCS_TOKEN_STATS_SQL),
    "extract_csv_roundtrip": (extract_csv_roundtrip,
                              EXTRACT_CSV_ROUNDTRIP_SQL),
    "extract_csv_sha": (extract_csv_sha, EXTRACT_CSV_SHA_SQL),
}
QUERIES.update(_training_data_queries())
