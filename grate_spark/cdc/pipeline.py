"""The CDC replay loop: change-log tail -> extract -> MERGE, exactly once.

Per micro-batch (SURVEY §3.4 lifecycle; north rule semantics):

1. **offset-bounded scan** of the events table: ``offset > ckpt AND
   offset <= min(ckpt + batch, hwm)`` — deterministic, resumable; the
   predicate is Catalyst-evaluable so parquet row groups outside the
   range are pruned.
2. **tabular-artifact filter** on the path suffix (D6) — also pushed to
   the scan, never inside the UDF.
3. **latest-offset-wins per key** (G1): the window runs over KEY
   COLUMNS only (repo, path, offset, op); a path updated 10^6 times in
   a batch extracts once. Blob payloads never enter the window.
4. **winner selection without a blob shuffle**: the batch's rows are
   read from the log once and cached; the winning keys broadcast back
   onto them as a semi-join, so blobs meet no shuffle before the
   bucket exchange;
   batches whose winner set exceeds the broadcast budget fall back to
   one co-partitioned full-row window shuffle.
5. **extract UDTF** (mapInPandas) over winning I/U blobs, on tasks
   sized by work: the bucket exchange packs the (bucket, sub-split)
   shares onto at most one task per core by event count, a hot bucket
   split by path hash (``_pack_tasks``); corrupt blobs become error
   rows (counted in metrics, never task failures).
6. **MERGE**: per-path replace into the bucketed results table +
   schema-evolving wide view + metrics append + checkpoint/lineage — all
   in ONE lake commit, so replaying after any crash is idempotent.

The results table key is (repo, path); each row also carries
(sheet, row_id) per the north star key, plus lineage columns
(batch_id, src_offset, commit).
"""

from __future__ import annotations

import heapq
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..extract import TABULAR_SUFFIX_RE
from ..operators.extraction import extract_files, with_content_sha
from .lake import LakeCatalog, _bucket_expr

RESULTS_TABLE = "results"
WIDE_TABLE = "results_wide"
METRICS_TABLE = "ingest_metrics"

MERGE_KEY = ("repo", "path")


def _batch_rows(events: DataFrame, lo: int, hi: int) -> DataFrame:
    """Steps 1-2 above: the events with lo < offset <= hi, flagged
    ``_tab`` when the path is a tabular artifact. A non-tabular row
    keeps its keys (its offset still counts toward the watermark) but
    not its payload."""
    tab = F.col("path").rlike(TABULAR_SUFFIX_RE)
    return (events
            .filter((F.col("offset") > lo) & (F.col("offset") <= hi))
            .withColumn("_tab", tab)
            .withColumn("content", F.when(tab, F.col("content"))))


def _task_id(plan: dict[int, list[int]], bexpr):
    """Task-id column of a ``_pack_tasks`` plan: a row of bucket ``b``
    goes to the task of its sub-split ``pmod(xxhash64(path), n_sub)``.
    Assigned directly: hashing shares onto tasks collides."""
    tasks = F.try_element_at(F.create_map(*[
        x for b, ts in plan.items()
        for x in (F.lit(b), F.array(*map(F.lit, ts)))]), bexpr)
    return F.element_at(tasks, (F.pmod(F.xxhash64(F.col("path")),
                                       F.size(tasks)) + 1).cast("int"))


def _discard_prefetch(future) -> None:
    """Release the batch cache of a prefetch nobody will use. A
    prefetch that raised is dropped the same way: its range is either
    never applied or recomputed by ``apply_batch``."""
    try:
        future.result()[0].unpersist()
    except Exception:
        pass


def _wide_view(rows: DataFrame, n_cols: int,
               max_cols: int = 256) -> DataFrame:
    """Schema-evolution surface: cells exploded to typed-width string
    columns c001..cNNN. When a batch's widest sheet exceeds the table's
    current width, the MERGE widens the schema (column-add) in the same
    commit.

    ``max_cols`` guards the table width: ONE pathological 16k-column
    sheet would otherwise widen results_wide permanently for every
    reader (schema evolution is add-only). Positions past the cap land
    in a single ``c_overflow`` array column, so over-wide rows still
    round-trip losslessly while the scan schema stays bounded."""
    width = min(n_cols, max_cols)
    cols = [rows[c] for c in ("repo", "path", "sheet", "row_id")]
    cols += [F.try_element_at("cells", F.lit(i + 1)).alias(f"c{i + 1:03d}")
             for i in range(width)]
    if n_cols > max_cols:
        cols.append(F.slice("cells", max_cols + 1, n_cols - max_cols)
                    .alias("c_overflow"))
    return rows.filter(F.col("error").isNull()).select(*cols)


class CdcPipeline:
    def __init__(self, spark: SparkSession, lake_root: str,
                 n_buckets: int = 32,
                 wide_view: bool = True,
                 broadcast_winners_max: int = 1_000_000,
                 salt_buckets: bool = True,
                 wide_max_cols: int = 256,
                 python_encode: bool | None = None):
        self.spark = spark
        self.lake = LakeCatalog(spark, lake_root)
        self.n_buckets = n_buckets
        self.n_partitions = int(spark.sparkContext.defaultParallelism)
        self.wide_view = wide_view
        self.wide_max_cols = wide_max_cols
        # salt_buckets (default ON): split a merge bucket whose event
        # count exceeds a task's quota over several tasks by path hash
        # (see _pack_tasks). Off -> a bucket never spans two tasks.
        self.salt_buckets = salt_buckets
        # python_encode: run the merge write as the arrow-native fused
        # writer — extraction AND parquet encode inside the Python
        # worker (pyarrow), only per-file manifest rows returning to the
        # driver. Trade-off, measured interleaved on the same event log:
        # at LOW per-executor parallelism it removes the JVM half (Arrow
        # row transfer back + parquet-mr) whose task time inflated
        # super-linearly with thread count, and the identical Python
        # loop scales at the host's CPU ceiling
        # (scripts/twin_scaling.py, BENCH_TWIN_2_8.json); at local[32]
        # (one oversubscribed JVM) the object->Arrow conversion makes
        # it ~1.6x SLOWER than parquet-mr (431 vs 710 ev/s warm). Real
        # clusters run 4-8 cores/executor where the fused path is the
        # right shape, but the default follows the measured single-JVM
        # throughput. Default (None) is ADAPTIVE on the session's
        # parallelism (like AQE picking a join strategy): fused at <= 8
        # task threads per JVM (measured best 30.7s vs 53.6s at local[8]
        # on the xlsx workload), parquet-mr above (710 vs 431 ev/s at
        # local[32]); both paths are state-identical (gate-tested).
        # See operators/fused_write.py.
        if python_encode is None:
            # the measured crossover (fused wins at <= 8 task threads,
            # parquet-mr above) is PER-JVM oversubscription, so gate on
            # per-executor task slots: on a cluster defaultParallelism
            # is TOTAL cores (8 execs x 4 cores = 32) and would wrongly
            # pick parquet-mr for exactly the 4-8-core executors where
            # fused is the right shape. local masters have one JVM =
            # defaultParallelism slots.
            python_encode = self._task_slots_per_jvm(spark) <= 8
        self.python_encode = python_encode
        # batches up to this many events dedup via a broadcast semi-join
        # of the winning (repo, path, offset) keys, so blob payloads are
        # NEVER shuffled; bigger batches fall back to the full-row
        # latest-wins window (one co-partitioned blob shuffle)
        self.broadcast_winners_max = broadcast_winners_max
        self._pending_metrics: list[tuple] = []
        self._sync_bucket_spec()

    @staticmethod
    def _task_slots_per_jvm(spark: SparkSession) -> int:
        """Concurrent task slots per executor JVM — the contention
        domain the fused-writer crossover was measured against.
        ``spark.executor.cores / spark.task.cpus`` on a cluster;
        defaultParallelism only for local[...] masters (one JVM)."""
        master = spark.sparkContext.master or ""
        if master.startswith("local"):
            return int(spark.sparkContext.defaultParallelism)
        try:
            exec_cores = int(spark.conf.get("spark.executor.cores", "0")
                             or 0)
            task_cpus = int(spark.conf.get("spark.task.cpus", "1") or 1)
        except Exception:
            exec_cores, task_cpus = 0, 1
        if exec_cores > 0:
            return max(1, exec_cores // max(1, task_cpus))
        # executor.cores unset (e.g. standalone grabbing whole nodes):
        # fall back to total parallelism — conservative (parquet-mr)
        return int(spark.sparkContext.defaultParallelism)

    def _sync_bucket_spec(self, manifest: dict | None = None) -> None:
        """The manifest's bucket spec is authoritative for an existing
        results table: writers must bucket incoming rows with the SAME
        (xxhash64, mod) the readers use for marker routing and point
        lookups — a constructor n_buckets that disagrees with the
        table would silently mis-bucket new files. rebucket() evolves
        the spec; every writer follows the manifest."""
        m = manifest or self.lake.manifest()
        t = m.get("tables", {}).get(RESULTS_TABLE)
        if t:
            self.n_buckets = int(t["n_buckets"])

    def _pack_tasks(self, bucket_counts: dict[int, int], n_events: int
                    ) -> tuple[dict[int, list[int]], list[int]]:
        """The extract+write stage's task plan, sized by work: (the
        tasks of each bucket's sub-splits, events per task).

        A bucket above a task's quota (``n_events / parallelism``) is
        split into ``ceil(count / quota)`` path-hash sub-splits, at most
        one per core and none with ``salt_buckets=False``. The (bucket,
        sub-split) shares, weighted by the rollup's raw event counts,
        go to ``min(#shares, parallelism)`` tasks, longest first: each
        to the least-loaded task that holds no other sub-split of its
        bucket, ties by bucket id, then task id. One task per core: a
        tail batch paid per task, not per event (~40 one-bucket tasks
        for ~42 files), and twice as many tasks measured no faster on
        a tail and ~5% slower on a bulk replay."""
        par = max(1, self.n_partitions)
        quota = max(1.0, n_events / par)
        shares = []
        for b, cnt in bucket_counts.items():
            n = min(par, max(1, math.ceil(cnt / quota))) \
                if self.salt_buckets else 1
            shares += [(cnt // n + (i < cnt % n), b) for i in range(n)]
        free = [(0, t) for t in range(min(len(shares), par))]
        plan: dict[int, list[int]] = {b: [] for b in bucket_counts}
        for w, b in sorted(shares, key=lambda s: (-s[0], s[1])):
            held = []
            while free[0][1] in plan[b]:
                held.append(heapq.heappop(free))
            load, t = heapq.heappop(free)
            plan[b].append(t)
            for x in held + [(load + w, t)]:
                heapq.heappush(free, x)
        return plan, [load for load, _ in free]

    def _bucket_exchange(self, blobs: DataFrame,
                         plan: dict[int, list[int]]) -> DataFrame:
        """The batch's one blob exchange, placing blobs on the tasks of
        ``plan`` (``_pack_tasks``) BEFORE extraction, so extraction and
        the parquet encode fuse into ONE stage: no barrier, no row
        shuffle (~20% faster than exchanging the extracted rows at
        local[8], interleaved A/B on a 15k-file xlsx batch). A task
        holds several buckets and a split bucket spans several tasks;
        both writers write one file per (task, bucket), so every file
        stays bucket-pure and a split bucket lands as one file per
        sub-split."""
        return blobs.repartitionById(
            1 + max(t for ts in plan.values() for t in ts),
            _task_id(plan, _bucket_expr(MERGE_KEY, self.n_buckets)))

    # -- one micro-batch -------------------------------------------------------

    def _precompute_from_batch(self, batch: DataFrame) -> tuple:
        """The read-only job a batch needs before its merge: ONE scan
        of its ``_batch_rows``, cached, and their grouping-sets stats
        rollup. The merge takes the winner set and the blobs from the
        same cache, so the event log is read once per batch. Computed
        from the immutable event log alone, so the replay loop can run
        it for batch i+1 CONCURRENTLY with batch i's merge (guide §2.6:
        overlap independent jobs; the stats tasks back-fill the cores
        the merge's tail leaves idle).
        Returns (batch_df_cached, rolled_rows)."""
        batch.cache()
        rolled = (batch.withColumn(
            "_b", _bucket_expr(MERGE_KEY, self.n_buckets))
            .groupingSets([["_tab", "partition"], ["_tab", "_b"],
                           ["_tab"]], "_tab", "partition", "_b")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("offset").alias("n_offsets"),
                 F.min("offset").alias("min_offset"),
                 F.max("offset").alias("max_offset"),
                 F.grouping("partition").alias("_gp"),
                 F.grouping("_b").alias("_gb"))
            .collect())
        return batch, rolled

    def apply_batch(self, events: DataFrame, lo: int, hi: int,
                    batch_id: int, prefetched: tuple | None = None) -> dict:
        """Apply events with lo < offset <= hi in one lake commit.
        Returns batch metrics; ``committed`` is False when the range
        holds no tabular event (nothing is written then)."""
        # The grouping sets {(partition), (_b), ()}, each split by the
        # tabular flag, yield all three stat levels in ONE action:
        # (partition) -> per-partition lineage, (_b) -> per-bucket
        # event counts (touched set + the task packer's weights),
        # () -> the GLOBAL countDistinct(offset) that catches a
        # duplicate offset redelivered under TWO different `partition`
        # values. The scan reads only the immutable event log, so the
        # replay loop PREFETCHES it for batch i+1 while batch i's merge
        # runs (``prefetched``).
        if prefetched is not None:
            cached, rolled = prefetched
        else:
            cached, rolled = self._precompute_from_batch(
                _batch_rows(events, lo, hi))
        batch = cached.filter(F.col("_tab")).drop("_tab")
        # latest-offset-wins per file key within the batch, computed on
        # KEY COLUMNS ONLY (repo, path, offset, op) — never the blob
        # payload. The winners set is one row per distinct key: small,
        # cacheable, broadcastable. NOTE deliberately NOT materialized
        # here: the lazy cache fills in the merge's broadcast build
        w = Window.partitionBy("repo", "path").orderBy(F.desc("offset"))
        winners = (batch.select("repo", "path", "offset", "op")
                   .withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") == 1).drop("_rn"))
        winners.cache()
        try:
            # grouping sets over ZERO input rows yield ZERO output rows
            # (not a single all-null total row), so an empty batch —
            # e.g. a range containing only non-tabular paths — must
            # short-circuit here; the caller advances the checkpoint
            # via its committed:False branch
            rolled = [r for r in rolled if r["_tab"]]
            total = next((r for r in rolled
                          if r["_gp"] == 1 and r["_gb"] == 1), None)
            if total is None:
                return {"batch_id": batch_id, "n_events": 0,
                        "committed": False, "lo": lo, "hi": hi}
            part_rows = sorted((r for r in rolled if r["_gp"] == 0),
                               key=lambda r: r["partition"])
            # raw event count per bucket, the packer's work proxy
            bucket_counts = {int(r["_b"]): r["n"] for r in rolled
                             if r["_gb"] == 0 and r["_gp"] == 1}
            n_events = total["n"]
            # duplicate delivery of the SAME offset inside one batch
            # would make the winners semi-join extract a blob twice;
            # detected here for free, such a batch takes the window
            # path, whose row_number drops exact duplicates
            has_dup_offsets = total["n_offsets"] != n_events
            touched = sorted(bucket_counts)
            part_stats = [{"partition": r["partition"], "n": r["n"],
                           "min_offset": r["min_offset"],
                           "max_offset": r["max_offset"]}
                          for r in part_rows]

            win_iu = winners.filter(F.col("op") != "D") \
                .select("repo", "path", "offset")
            if n_events <= self.broadcast_winners_max \
                    and not has_dup_offsets:
                # broadcast semi-join selects the winning blob rows
                # straight off the cached batch: blob payloads never
                # enter the window, and their only shuffle is the
                # bucket exchange below.
                blobs = (batch.filter(F.col("op") != "D")
                         .join(F.broadcast(win_iu),
                               ["repo", "path", "offset"])
                         .select("repo", "path", "commit", "lang",
                                 "content", "offset"))
            else:
                # winners too big to broadcast: full-row latest-wins
                # window — ONE blob shuffle, co-partitioned on the
                # merge key, so a hot repo still fans out (at cluster
                # scale a bucketed event table turns this into SPJ)
                w = Window.partitionBy("repo", "path") \
                    .orderBy(F.desc("offset"))
                latest = (batch.withColumn(
                    "_rn", F.row_number().over(w))
                    .filter((F.col("_rn") == 1) & (F.col("op") != "D"))
                    .drop("_rn"))
                blobs = latest.select("repo", "path", "commit", "lang",
                                      "content", "offset")
            if self.python_encode:
                # arrow-native fused writer: attach lineage + the
                # JVM-computed bucket BEFORE the exchange, and unwrap
                # base64 on the map side so the shuffle carries raw
                # bytes (~25% fewer for binary blobs)
                from ..operators.extraction import unwrap_content
                blobs = unwrap_content(
                    blobs.withColumn("src_offset", F.col("offset")),
                    keep=("src_offset",)).withColumn(
                    "_bucket", _bucket_expr(MERGE_KEY, self.n_buckets))
            plan, loads = self._pack_tasks(bucket_counts, n_events)
            blobs = self._bucket_exchange(blobs, plan)
            txn = self.lake.begin()
            all_keys = winners.select("repo", "path")
            if self.python_encode:
                # ONE heavy job, arrow-native: each task extracts its
                # blobs AND encodes parquet with pyarrow inside the
                # Python worker; only per-file manifest rows (plus the
                # row stats, free on the same pass) come back. Row
                # data never re-crosses into the JVM and parquet-mr is
                # out of the hot path (operators/fused_write.py).
                from ..operators.fused_write import (ROW_SCHEMA,
                                                     extract_encode_files)
                rel = txn.stage_rel(RESULTS_TABLE)
                full = os.path.join(self.lake.root, rel)
                manifest = extract_encode_files(
                    blobs, full, rel, txn.next_seq(),
                    batch_id).collect()
                entries_by_bucket: dict[str, list[dict]] = {}
                for r in manifest:
                    entries_by_bucket.setdefault(
                        str(r["bucket"]), []).append(
                        {"path": r["path"],
                         "bounds": {"repo": [r["repo_min"],
                                             r["repo_max"]],
                                    "path": [r["path_min"],
                                             r["path_max"]]}})
                stats = txn.merge_files(RESULTS_TABLE, ROW_SCHEMA,
                                        entries_by_bucket, all_keys,
                                        MERGE_KEY, self.n_buckets,
                                        touched=touched,
                                        approx_keys=n_events)
                n_rows = int(sum(r["n_rows"] for r in manifest))
                n_error_rows = int(sum(r["n_error_rows"]
                                       for r in manifest))
                max_cols = int(max((r["max_cols"] for r in manifest),
                                   default=0))
            else:
                rows = with_content_sha(extract_files(blobs))

                # lineage columns come from the driving event
                ev_meta = win_iu.select(
                    "repo", "path", F.col("offset").alias("src_offset"))
                rows = rows.join(F.broadcast(ev_meta),
                                 ["repo", "path"]) \
                    .withColumn("batch_id", F.lit(batch_id))

                # row stats ride the merge write itself via an
                # Observation — zero extra jobs, no re-read of the
                # written files (at scale a re-read is a second pass
                # over the batch's output)
                from pyspark.sql import Observation
                obs = Observation(f"cdc-batch-{batch_id}")
                rows = rows.observe(
                    obs,
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count("error").alias("n_error_rows"),
                    F.max(F.size("cells")).alias("max_cols"))

                # ONE heavy job: extraction fused straight into the MoR
                # merge write (blob bucket exchange -> extract -> write)
                stats = txn.merge_replace_keys(
                    RESULTS_TABLE, rows, all_keys, MERGE_KEY,
                    self.n_buckets, touched=touched,
                    pre_partitioned=True,
                    approx_keys=n_events)

                # the merge's write action completed, so the observed
                # metrics are available without touching the data again
                vals = obs.get
                n_rows = int(vals["n_rows"] or 0)
                n_error_rows = int(vals["n_error_rows"] or 0)
                max_cols = int(vals["max_cols"] or 0)

            if self.wide_view and stats["files"]:
                # the wide merge needs the typed-width projection, whose
                # width (max_cols) we only know post-write; read the
                # files the merge just wrote (column-pruned) as input.
                # Those files are already bucket-pure (partitionBy wrote
                # one bucket per file), and the projection never moves a
                # row across keys — so the wide write is pre_partitioned
                # too: the whole wide path runs without ANY exchange
                # (scan -> project -> encode in one fused stage).
                # `touched` was computed under the RESULTS bucket spec;
                # after rebucket(results, k) the wide table may keep a
                # DIFFERENT spec, under which that set would silently
                # drop rows — let the merge re-derive its own touched
                # set (and re-cluster) whenever the specs disagree.
                wt = txn.tables.get(WIDE_TABLE)
                same_spec = wt is None \
                    or int(wt["n_buckets"]) == self.n_buckets
                written = self.spark.read.parquet(*stats["files"])
                txn.merge_replace_keys(WIDE_TABLE,
                                       _wide_view(written, max_cols,
                                                  self.wide_max_cols),
                                       all_keys, MERGE_KEY,
                                       self.n_buckets,
                                       touched=touched if same_spec
                                       else None,
                                       pre_partitioned=same_spec,
                                       approx_keys=n_events)

            # per-batch ingest metrics buffer — flushed to the metrics
            # table in one write by flush_metrics() (replay calls it);
            # the lineage entry below carries the same facts durably in
            # the SAME commit as the data, so a crash loses no metrics
            self._pending_metrics.append(
                (batch_id, lo, hi, n_events, n_rows, n_error_rows,
                 len(stats["buckets"])))

            txn.set_checkpoint(
                {"global": hi},
                {"batch_id": batch_id, "lo": lo, "hi": hi,
                 "n_rows": n_rows, "n_error_rows": n_error_rows,
                 "partitions": part_stats,
                 "buckets": stats["buckets"],
                 "tasks": len(loads), "max_task_events": max(loads)})
            txn.commit()
            return {"batch_id": batch_id, "n_events": n_events,
                    "n_rows": n_rows, "n_error_rows": n_error_rows,
                    "committed": True, "lo": lo, "hi": hi}
        finally:
            winners.unpersist()
            cached.unpersist()

    def _advance_checkpoint(self, batch_id: int, lo: int, hi: int) -> None:
        """Commit the offset watermark alone, for a range that held no
        tabular event, so the tail moves past it."""
        txn = self.lake.begin()
        txn.set_checkpoint({"global": hi},
                           {"batch_id": batch_id, "lo": lo, "hi": hi,
                            "partitions": [], "buckets": []})
        txn.commit()

    def flush_metrics(self) -> None:
        """Write buffered per-batch ingest metrics in one commit.

        Driver-side pyarrow write: metrics are a handful of rows per
        batch, so spinning a Spark job (schedule + shuffle-free write +
        listdir) for them was pure fixed cost on the ingest path."""
        if not self._pending_metrics:
            return
        from pyspark.sql.types import (IntegerType, LongType,
                                       StructField, StructType)
        schema = StructType([
            StructField("batch_id", IntegerType()),
            StructField("lo", LongType()),
            StructField("hi", LongType()),
            StructField("n_events", LongType()),
            StructField("n_rows", LongType()),
            StructField("n_error_rows", LongType()),
            StructField("n_buckets", IntegerType()),
        ])
        txn = self.lake.begin()
        txn.append_rows(METRICS_TABLE, self._pending_metrics, schema)
        txn.commit()
        self._pending_metrics = []

    # -- the replay loop -------------------------------------------------------

    def replay(self, events: DataFrame, batch_size: int | None = None,
               max_batches: int | None = None,
               compact_after_markers: int = 256,
               compact_after_marker_bytes: int = 128 << 20,
               squash_after_marker_files: int = 24) -> list[dict]:
        """Tail the log from the committed checkpoint to its high
        watermark in offset-bounded batches. Restart-safe: the checkpoint
        is read from the last committed manifest.

        ``compact_after_markers`` / ``compact_after_marker_bytes``: when
        a table accumulates more than this many MoR marker files OR this
        many marker bytes (marker growth tracks distinct touched keys,
        not batch count — one huge batch can outgrow the broadcast
        budget on its own), fold them into the data files after the
        replay loop (maintenance off the ingest critical path). Until
        compaction runs, reads stay correct regardless: the MoR read
        switches from broadcast to shuffle join past the broadcast
        budget (lake.read).

        ``squash_after_marker_files``: when compaction is NOT warranted
        but the marker FILE count (one per merge commit) outgrows this,
        squash them into one max(seq)-per-key file — O(marker keys),
        no data rewrite, so long replays don't degrade reads with
        thousands of tiny marker unions."""
        # batch [lo, hi] ranges are pure arithmetic over (checkpoint,
        # batch_size, hwm) — the checkpoint advances to hi whether or
        # not a batch commits rows — so each batch's read-only job
        # (the cached scan + stats rollup of the immutable log) can be
        # PREFETCHED on a driver thread while the previous batch's
        # merge (or, for batch 1, the hwm scan) runs: their tasks
        # back-fill the cores the merge's straggler tail leaves idle
        # (guide §2.6). A prefetched hi past the hwm selects exactly
        # the (lo, hwm] rows, so the optimistic first guess also
        # covers a final short batch. A single batch (batch_size=None)
        # is a step past any offset: its prefetched range is the whole
        # tail, so its rollup also gives the hwm.
        self._sync_bucket_spec()
        ckpt0 = int(self.lake.checkpoint().get("global", 0))
        step = batch_size if batch_size is not None else 2 ** 62
        pool = ThreadPoolExecutor(max_workers=1,
                                  thread_name_prefix="cdc-prefetch")

        def prefetch(lo: int, hi: int) -> tuple:
            return (lo, hi, pool.submit(
                lambda: self._precompute_from_batch(
                    _batch_rows(events, lo, hi))))

        pending = None  # (lo, hi, future)
        if max_batches is None or max_batches > 0:
            pending = prefetch(ckpt0, ckpt0 + step)
        results = []
        try:
            if batch_size is None and pending is not None:
                # the prefetched range is the whole tail: its rollup
                # carries the hwm, one scan of the log less per
                # single-batch replay (scripts/submit_replay.py's
                # default; ~0.9 s of a ~6.5 s salted replay of the salt
                # gate's 256-file log at local[8], interleaved A/B)
                hwm = max([ckpt0] + [r["max_offset"]
                                     for r in pending[2].result()[1]
                                     if r["_gp"] == 1 and r["_gb"] == 1])
            else:
                hwm = events.agg(F.max("offset").alias("h")) \
                    .collect()[0]["h"] or 0
            while True:
                ckpt = int(self.lake.checkpoint().get("global", 0))
                if ckpt >= hwm:
                    break
                if max_batches is not None and len(results) >= max_batches:
                    break
                hi = min(ckpt + step, hwm)
                batch_id = len(self.lake.lineage()) + 1
                pre = None
                if pending is not None:
                    if pending[0] == ckpt and (
                            pending[1] == hi
                            or (hi == hwm and pending[1] >= hwm)):
                        pre = pending[2].result()
                    else:  # resumed elsewhere: discard the prefetch
                        _discard_prefetch(pending[2])
                    pending = None
                nxt_hi = min(hi + step, hwm)
                if hi < nxt_hi and (max_batches is None
                                    or len(results) + 1 < max_batches):
                    pending = prefetch(hi, nxt_hi)
                t0 = time.perf_counter()
                res = self.apply_batch(events, ckpt, hi, batch_id,
                                       prefetched=pre)
                res["seconds"] = time.perf_counter() - t0
                if not res["committed"]:
                    self._advance_checkpoint(batch_id, ckpt, hi)
                results.append(res)
        finally:
            if pending is not None:
                _discard_prefetch(pending[2])
            pool.shutdown()
        self.flush_metrics()
        if compact_after_markers is not None:
            m = self.lake.manifest()
            for tname in (RESULTS_TABLE, WIDE_TABLE):
                t = m["tables"].get(tname)
                if not t:
                    continue
                entries = [e for fs in t["markers"].values()
                           for e in fs]
                n_bytes = sum(e["bytes"] for e in entries)
                if (len(entries) > compact_after_markers
                        or n_bytes > compact_after_marker_bytes):
                    # INCREMENTAL: rewrite only the marker-dense buckets
                    # (>= the mean marker-key count), so maintenance is
                    # O(chosen buckets), never O(table); remaining
                    # buckets keep their tombstones and get picked up by
                    # a later trigger. At 10^10 events a full-table
                    # rewrite on the maintenance path would dwarf the
                    # ingest itself.
                    counts = self.lake.marker_bucket_counts(tname)
                    chosen = None
                    if counts:
                        mean = sum(counts.values()) / len(counts)
                        chosen = [b for b, c in counts.items()
                                  if c >= mean]
                    txn = self.lake.begin()
                    txn.compact(tname, buckets=chosen)
                    txn.commit()
                    m = self.lake.manifest()
                elif (squash_after_marker_files is not None
                        and len(entries) > squash_after_marker_files):
                    # not worth a data rewrite yet, but the marker
                    # union is fragmenting: fold the files (cheap,
                    # O(marker keys))
                    txn = self.lake.begin()
                    txn.squash_markers(tname)
                    txn.commit()
                    m = self.lake.manifest()
        return results

    def compact(self) -> None:
        """Maintenance: fold MoR markers into data files for all result
        tables (one atomic commit). Run off the ingest critical path."""
        txn = self.lake.begin()
        txn.compact(RESULTS_TABLE)
        if self.wide_view and WIDE_TABLE in txn.tables:
            txn.compact(WIDE_TABLE)
        txn.commit()

    # -- Structured Streaming adapter -------------------------------------------

    def run_streaming(self, events_dir: str, schema,
                      checkpoint_dir: str,
                      max_files_per_trigger: int = 1) -> None:
        """The same engine under Structured Streaming: a file-source
        stream of event parquet files, applied via foreachBatch. The
        lake's own offset checkpoint (not only Spark's) guards each
        batch, so retries/redelivery stay exactly-once; the replay loop
        and this path produce identical table states.
        """
        def _sink(df: DataFrame, _spark_batch_id: int) -> None:
            self._sync_bucket_spec()
            ckpt = int(self.lake.checkpoint().get("global", 0))
            hi = df.agg(F.max("offset").alias("h")).collect()[0]["h"]
            if hi is None or hi <= ckpt:
                return
            batch_id = len(self.lake.lineage()) + 1
            res = self.apply_batch(df, ckpt, int(hi), batch_id)
            if not res["committed"]:
                self._advance_checkpoint(batch_id, ckpt, int(hi))

        stream = (self.spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", max_files_per_trigger)
                  .parquet(events_dir))
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    # -- reads ------------------------------------------------------------------

    def results(self) -> DataFrame:
        return self.lake.read(RESULTS_TABLE)

    def results_wide(self) -> DataFrame:
        return self.lake.read(WIDE_TABLE)

    def metrics(self) -> DataFrame:
        return self.lake.read(METRICS_TABLE)
