"""The two workloads: ingest_serve and query_suite.

Each is one process at local[4], a closed loop with one caller. A
workload has a ``setup`` (run three times; its median is ``setup_s``),
a ``warm`` step (once, after the first set-up), a ``measure`` phase and
a ``check`` phase, outside every timer, that compares the program's
outputs with a model or an oracle.

The measured work is a fixed number of units, derived from the run's
seconds and the unit's nominal cost on a 4-core host: a faster program
does the same work in less time instead of more work in the same time,
so two versions are always compared on identical inputs and lake sizes.

Every workload reports the same end-to-end metrics, each filled with the
measurement that plays that role on the workload (see README.md):

  items_per_s   events applied per replay second / queries per second
                of build + collect
  step_s_p50    median replay batch / median query, build + collect
  read_s_p50    median full read of ``results`` / median pass's
                ``collect()`` time
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from model import LakeModel, lake_summary
from stats import median

RESULT_COLS = ("repo", "path", "sheet", "row_id", "cells", "error")
# the ingest log and tick size; see README.md for why. The log holds
# more ticks than a run uses, so a tick never finds it exhausted.
SHAPE = {"n_files": 300, "rows_per_file": 40, "batch_size": 60,
         "n_buckets": 64}
# the smaller tail the query suite's traced run replays, so that the
# pipeline and lake layers have figures on that workload too; a batch of
# 20 or more guarantees a delete in the second tick (gen.event_log)
PROBE_SHAPE = {"n_files": 60, "rows_per_file": 10, "batch_size": 20,
               "n_buckets": 64}
# nominal seconds per unit on a 4-core host: one ingest tick (batch,
# changes poll, LOOKUPS lookups), one pass over the query subset
TICK_S = 6.5
SUITE_PASS_S = 16.0
# the first tick holds only inserts; the second is the first with
# updates and deletes
MIN_TICKS = 2
# read_key lookups per tick, over the keys it touched (_lookup_keys)
LOOKUPS = 4
# full reads of ``results`` after the last tick
SCANS = 3
SUITE_SF = 0.001
# A pass over all 34 queries takes 45 s cold and 26 s warm at local[4],
# and each of the five cdc_* builders replays a fresh lake for 8-15 s;
# that does not fit one run. This fixed subset takes about 16 s and
# keeps at least one query per module: queries.py's TPC-H-like, event,
# document, extraction and media queries, and ops/text, ops/dedup and
# ops/similarity. The CDC replay the cdc_* builders run is what
# ingest_serve measures.
SUITE = ("q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
         "events_latest_per_key", "docs_dedup_exact", "extract_csv_roundtrip",
         "extract_typed_scan", "image_features", "token_counts",
         "quality_scores", "minhash_lsh_pairs", "cosine_topk",
         "embedding_neardup_pairs")


class Outcome:
    """Counts attempted and failed operations; keeps failure notes."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


def _arrow_rows(table: pa.Table) -> list[tuple]:
    c = table.to_pydict()
    return sorted(zip(c["repo"], c["path"], c["sheet"], c["row_id"],
                      [None if x is None else list(x) for x in c["cells"]]),
                  key=repr)


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.out = Outcome()
        self.samples: dict[str, list[float]] = {}
        self.detail: dict = {}

    def sample(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def units(self, nominal_s: float) -> int:
        """How many units of ``nominal_s`` fill the run's seconds."""
        return max(1, round(self.ctx.seconds / nominal_s))

    # hooks
    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def blobs(self) -> list[tuple]:
        """(repo, path, content, lang) of the blobs the workload feeds
        the extractor, for the per-layer extraction figures."""
        raise NotImplementedError

    def probe(self) -> None:
        """Extra traced-run work for layers the measured work skips."""

    def end_to_end(self) -> dict[str, float]:
        raise NotImplementedError


class IngestServe(Workload):
    """A mixed CSV/xlsx I/U/D log tailed one batch per tick into a fresh
    lake; after each tick a consumer polls ``changes`` and looks up
    ``LOOKUPS`` keys the tick touched. The run ends with ``scans`` full
    reads of ``results``."""

    name = "ingest_serve"

    def __init__(self, ctx, shape: dict = SHAPE, ticks: int | None = None,
                 scans: int = SCANS, tag: str = ""):
        super().__init__(ctx)
        self.shape = shape
        self.n_ticks = ticks or max(MIN_TICKS, self.units(TICK_S))
        self.scans = scans
        self.tag = tag
        self.maintained = None

    def _materialize(self, tag: str, log: pa.Table) -> str:
        path = os.path.join(self.ctx.work, f"{self.tag}{tag}.parquet")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        # several files, as a real change log would be
        per_file = -(-log.num_rows // 8)
        for i in range(0, log.num_rows, per_file):
            pq.write_table(log.slice(i, per_file),
                           os.path.join(path, f"part-{i:08d}.parquet"),
                           row_group_size=64)
        return path

    def warm(self) -> None:
        """Two ticks of the measured loop on a tiny log and a throwaway
        lake, the second with updates and deletes: spawns the Python
        workers and loads every code path the ticks use."""
        from grate_spark.cdc.pipeline import RESULTS_TABLE, CdcPipeline

        batch = 8
        tiny = gen.event_log(self.ctx.seed + 1000, 24, 5, batch)
        ev = self.ctx.spark.read.parquet(self._materialize("warm", tiny))
        pipe = CdcPipeline(self.ctx.spark,
                           os.path.join(self.ctx.work, "warm-lake"),
                           n_buckets=self.shape["n_buckets"],
                           wide_view=False)
        pipe.replay(ev, batch_size=batch, max_batches=2)
        pipe.lake.changes(RESULTS_TABLE, 1).select("repo", "path").collect()
        key = tiny.slice(0, 1).to_pylist()[0]
        pipe.lake.read_key(RESULTS_TABLE, {"repo": key["repo"],
                                           "path": key["path"]}).toArrow()
        pipe.results().select(*RESULT_COLS).toArrow()

    def setup(self, rep: int) -> None:
        """Make and materialize the log, open a fresh lake."""
        from grate_spark.cdc.pipeline import CdcPipeline

        s = self.shape
        self.log = gen.event_log(self.ctx.seed, s["n_files"],
                                 s["rows_per_file"], s["batch_size"])
        c = self.log.select(["offset", "repo", "path", "op"]).to_pydict()
        self.keys = list(zip(c["offset"], c["repo"], c["path"], c["op"]))
        self.events = self.ctx.spark.read.parquet(
            self._materialize("events", self.log))
        self.n_events = self.events.count()
        lake_root = os.path.join(self.ctx.work, f"{self.tag}lake{rep}")
        self.pipe = CdcPipeline(self.ctx.spark, lake_root,
                                n_buckets=s["n_buckets"], wide_view=False)

    def blobs(self) -> list[tuple]:
        c = self.log.to_pydict()
        latest = {}
        for off, op, repo, path, content, lang in zip(
                c["offset"], c["op"], c["repo"], c["path"], c["content"],
                c["lang"]):
            latest[(repo, path)] = (off, op, content, lang)
        return [(k[0], k[1], v[2], v[3])
                for k, v in sorted(latest.items()) if v[1] != "D"]

    def _scan(self, pipe) -> pa.Table:
        t0 = time.perf_counter()
        df = pipe.results().select(*RESULT_COLS)
        t1 = time.perf_counter()
        table = df.toArrow()
        t2 = time.perf_counter()
        self.sample("scan_s", t2 - t0)
        self.sample("read_build_s", t1 - t0)
        self.sample("read_collect_s", t2 - t1)
        return table

    def _check_state(self, table: pa.Table, model: LakeModel,
                     what: str) -> None:
        got, want = lake_summary(table), model.summary()
        self.out.record(got == want, f"{what}: lake {got} != model {want}")

    def measure(self) -> None:
        from grate_spark.cdc.pipeline import RESULTS_TABLE

        pipe = self.pipe
        lake = pipe.lake
        self.ticks: list[dict] = []
        for _ in range(self.n_ticks):
            mark = self.ctx.job_mark()
            t0 = time.perf_counter()
            version = lake.current_version()
            try:
                stats = pipe.replay(self.events,
                                    batch_size=self.shape["batch_size"],
                                    max_batches=1)
            except Exception as e:
                self.out.record(False, f"tick {len(self.ticks)}: {e!r}")
                break
            if not stats:  # the log is exhausted
                break
            t1 = time.perf_counter()
            s = stats[0]
            self.out.record(bool(s.get("committed")),
                            f"tick batch {s.get('batch_id')} did not commit")
            self.sample("replay_s", t1 - t0)
            self.sample("batch_s", s["seconds"])
            self.sample("events", float(s.get("n_events", 0)))
            self.ctx.note_replay(pipe, stats, mark)

            t2 = time.perf_counter()
            changes = lake.changes(RESULTS_TABLE, version).select(
                "repo", "path")
            t3 = time.perf_counter()
            changed = {(r["repo"], r["path"]) for r in changes.collect()}
            t4 = time.perf_counter()
            self.sample("changes_s", t4 - t2)
            self.sample("read_build_s", t3 - t2)
            self.sample("read_collect_s", t4 - t3)
            self.ctx.note_changes(len(changed))

            touched = self._touched(s["lo"], s["hi"])
            lookups = []
            for key in _lookup_keys(touched):
                t5 = time.perf_counter()
                df = lake.read_key(RESULTS_TABLE,
                                   {"repo": key[0], "path": key[1]}
                                   ).select(*RESULT_COLS)
                t6 = time.perf_counter()
                table = df.toArrow()
                t7 = time.perf_counter()
                self.sample("lookup_s", t7 - t5)
                self.sample("read_build_s", t6 - t5)
                self.sample("read_collect_s", t7 - t6)
                lookups.append((key, table))
                self.ctx.note_lookup(lake, key)
            self.ticks.append({"hi": s["hi"], "changed": changed,
                               "ops": set(touched.values()),
                               "lookups": lookups})
        self.finals = [self._scan(pipe) for _ in range(self.scans)]
        self.ctx.note_lake(pipe, self.finals[-1].num_rows)

    def _touched(self, lo: int, hi: int) -> dict[tuple[str, str], str]:
        """The keys offsets ``(lo, hi]`` touched, with the latest op."""
        return {(r, p): op for off, r, p, op in sorted(self.keys)
                if lo < off <= hi}

    def probe(self) -> None:
        """Maintenance on the final lake, which a run this short never
        triggers: one marker squash, then one full compaction, then a
        full read that ``check`` compares with the model. Its spans sit
        under ``bench.maintenance``, apart from the ticks' figures."""
        from grate_spark.cdc.pipeline import RESULTS_TABLE

        with self.ctx.span("bench.maintenance"):
            txn = self.pipe.lake.begin()
            txn.squash_markers(RESULTS_TABLE)
            txn.commit()
            self.pipe.compact()
            self.maintained = self.pipe.results().select(
                *RESULT_COLS).toArrow()

    def check(self) -> None:
        model = LakeModel(self.log)
        seen = set().union(*(t["ops"] for t in self.ticks))
        for i, tick in enumerate(self.ticks):
            touched = model.apply(tick["hi"])
            self.out.record(tick["changed"] == touched,
                            f"tick {i}: changes() keys differ from the "
                            f"{len(touched)} keys the tick touched")
            for key, table in tick["lookups"]:
                want = sorted(model.rows(key), key=repr)
                self.out.record(_arrow_rows(table) == want,
                                f"tick {i}: read_key{key} differs from "
                                "the model")
        for i, table in enumerate(self.finals):
            self._check_state(table, model, f"final state, read {i}")
        if self.maintained is not None:
            self._check_state(self.maintained, model,
                              "state after squash and compaction")
        # what the ticks must have exercised for the checks above to mean
        # anything: inserts, updates, deletes and an extraction error
        errors = model.summary()["error_rows"]
        self.out.record(seen >= {"I", "U", "D"} and errors > 0,
                        f"the measured ticks held ops {sorted(seen)} and "
                        f"{errors} error rows, not I, U, D and an error")

    def end_to_end(self) -> dict[str, float]:
        # read_key and changes latencies are in the sidecar: their
        # run-to-run spread here (20-30 %, in driver-side planning) is
        # wider than any bound a gate could use; the full read repeats
        # within 8 %
        return {"items_per_s": sum(self.samples["events"])
                / sum(self.samples["replay_s"]),
                "step_s_p50": median(self.samples["batch_s"]),
                "read_s_p50": median(self.samples["scan_s"])}


def _lookup_keys(touched: dict) -> list[tuple[str, str]]:
    """``LOOKUPS`` keys of a tick: the first (in key order) of each op it
    holds, deletes first, then keys evenly spread over the rest."""
    keys = sorted(touched)
    ops = set(touched.values())
    picks = [next(k for k in keys if touched[k] == op)
             for op in ("D", "U", "I") if op in ops]
    for i in range(LOOKUPS):
        key = keys[i * (len(keys) - 1) // (LOOKUPS - 1)]
        if len(picks) < LOOKUPS and key not in picks:
            picks.append(key)
    return picks[:LOOKUPS]


class QuerySuite(Workload):
    """The ``SUITE`` queries of ``grate_spark.queries.QUERIES``, each
    timed as build (``fn(spark, sf)``) then ``collect()``, over seeded
    tables; each result must match its DuckDB oracle."""

    name = "query_suite"
    # untimed warm-up: spins the Python worker pool and the Arrow UDF path
    WARM = ("token_counts", "cosine_topk")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.ingest = None

    def setup(self, rep: int) -> None:
        """Make the tables, write them as parquet, read each back."""
        self.sf_dir = os.path.join(self.ctx.work, "tables")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        os.makedirs(self.sf_dir)
        self.tables = gen.tables(self.ctx.seed, SUITE_SF)
        for name, table in self.tables.items():
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            pq.write_table(table, path)
            self.ctx.spark.read.parquet(path).count()

    def warm(self) -> None:
        from grate_spark.queries import QUERIES

        for name in self.WARM:
            QUERIES[name][0](self.ctx.spark, self.sf_dir).collect()

    def blobs(self) -> list[tuple]:
        """One CSV blob per documents.source, as the suite's extraction
        queries build them, and the traced run's tail blobs."""
        d = self.tables["documents"].to_pydict()
        per: dict[str, list] = {}
        for doc_id, lang, n, src in zip(d["doc_id"], d["lang"],
                                        d["n_chars"], d["source"]):
            per.setdefault(src, []).append((doc_id, f"{doc_id},{lang},{n}"))
        docs = [("bench", f"{src}.csv",
                 "doc_id,lang,n_chars\n" + "\n".join(
                     line for _, line in sorted(lines)), "csv")
                for src, lines in sorted(per.items())]
        return docs + (self.ingest.blobs() if self.ingest else [])

    def _run(self, name: str) -> tuple[float, float]:
        """Build and collect one query; keeps its rows for the check."""
        from grate_spark.queries import QUERIES

        a = time.perf_counter()
        try:
            df = QUERIES[name][0](self.ctx.spark, self.sf_dir)
            b = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            self.results[name] = (None, repr(e))
            return 0.0, 0.0
        c = time.perf_counter()
        self.sample("query_s", c - a)
        self.sample("read_build_s", b - a)
        self.sample("read_collect_s", c - b)
        self.per_query.setdefault(name, []).append((round(b - a, 4),
                                                    round(c - b, 4)))
        self.results[name] = (df.columns, rows)
        return b - a, c - b

    def probe(self) -> None:
        """A small tail (``PROBE_SHAPE``, two ticks, one full read) and its
        maintenance, for the pipeline and lake figures of this workload;
        its checks count in this run."""
        ing = IngestServe(self.ctx, PROBE_SHAPE, ticks=MIN_TICKS, scans=1,
                          tag="probe-")
        ing.out = self.out
        ing.setup(0)
        ing.measure()
        ing.probe()
        self.ingest = ing

    def measure(self) -> None:
        self.results: dict[str, tuple] = {}
        self.per_query: dict[str, list] = {}
        for _ in range(self.units(SUITE_PASS_S)):
            total = collect = 0.0
            for name in SUITE:
                build_s, collect_s = self._run(name)
                total += build_s + collect_s
                collect += collect_s
            self.sample("pass_s", total)
            self.sample("pass_collect_s", collect)
        self.detail["per_query"] = self.per_query

    def check(self) -> None:
        import duckdb

        from grate_spark.queries import QUERIES
        from oracle import rowset

        con = duckdb.connect()
        try:
            for t in self.tables:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for name in self.results:
                cols, rows = self.results[name]
                if cols is None:
                    self.out.record(False, f"{name}: {rows}")
                    continue
                res = con.execute(QUERIES[name][1])
                want = rowset([d[0] for d in res.description],
                              res.fetchall())
                self.out.record(rowset(cols, rows) == want,
                                f"{name}: differs from its oracle")
        finally:
            con.close()
        if self.ingest is not None:
            self.ingest.check()

    def end_to_end(self) -> dict[str, float]:
        q = self.samples["query_s"]
        return {"items_per_s": len(q) / sum(q),
                "step_s_p50": median(q),
                "read_s_p50": median(self.samples["pass_collect_s"])}


WORKLOADS = {w.name: w for w in (IngestServe, QuerySuite)}
