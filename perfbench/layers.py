"""Per-layer figures for the traced run.

Collects counts at the layer boundaries while the workload runs (the
``note_*`` hooks) and turns the recorded spans into per-layer times.
Which end-to-end metric each figure should move, on which workload, is
listed in README.md.
"""

from __future__ import annotations

import os
import time

from model import blob_rows
from stats import median, self_times
from spans import Tracer

# seconds of repeated single-core passes over each format's blobs
EXTRACT_SECONDS = 0.75
# the benchmark's own span around the traced run's maintenance probe
MAINTENANCE = "bench.maintenance"


class LayerNotes:
    """Counts gathered from what the workload's own calls return (the
    replays the benchmark runs; not those inside a query builder)."""

    def __init__(self):
        self.events_in = 0
        self.rows_out = 0
        self.error_rows = 0
        self.changes_rows = 0
        self.jobs_per_batch: list[float] = []
        self.lookup_files: list[int] = []
        self.lake: dict = {}

    def note_replay(self, pipe, stats: list[dict], jobs: int) -> None:
        """``jobs``: Spark jobs the replay call ran."""
        for s in stats:
            if s.get("committed"):
                self.events_in += s.get("n_events", 0)
                self.rows_out += s.get("n_rows", 0)
                self.error_rows += s.get("n_error_rows", 0)
        if stats:
            self.jobs_per_batch.append(jobs / len(stats))

    def note_changes(self, n_rows: int) -> None:
        self.changes_rows += n_rows

    def note_lookup(self, lake, key: tuple[str, str]) -> None:
        from grate_spark.cdc.lake import py_xxhash64
        from grate_spark.cdc.pipeline import RESULTS_TABLE

        t = lake.manifest()["tables"][RESULTS_TABLE]
        h = py_xxhash64(list(key), ["string", "string"])
        buckets = None if h is None else [int(h % t["n_buckets"])]
        self.lookup_files.append(len(lake.scan_entries(
            RESULTS_TABLE, buckets=buckets,
            key_eq={"repo": key[0], "path": key[1]})))

    def note_lake(self, pipe, n_rows: int) -> None:
        """File layout of the results table after a run; ``n_rows``: the
        rows a full read returned."""
        from grate_spark.cdc.pipeline import RESULTS_TABLE

        lake = pipe.lake
        t = lake.manifest()["tables"].get(RESULTS_TABLE) or {}
        data = lake.scan_entries(RESULTS_TABLE) if t else []
        markers = [e for fs in t.get("markers", {}).values() for e in fs]
        size = sum(os.path.getsize(os.path.join(lake.root, e["path"]))
                   for e in data + markers)
        self.lake = {"data_files": len(data), "marker_files": len(markers),
                     "bytes": size, "rows": n_rows}


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(values: list[float]) -> float:
    return median(values) if values else 0.0


def _under(spans: list[dict], name: str) -> set[int]:
    """Indices of the spans named ``name`` and of all their descendants."""
    out: set[int] = set()
    for i, s in enumerate(spans):  # a parent precedes its children
        if s["name"] == name or s["parent"] in out:
            out.add(i)
    return out


def span_metrics(tr: Tracer, notes: LayerNotes) -> dict:
    """pipeline.* and lake.* figures from the spans and notes. Call after
    the traced work has returned, when every span is closed. Spans under
    the maintenance probe count only for ``lake.compact_s`` and
    ``lake.squash_s``."""
    spans = tr.spans
    selfs = self_times(spans)
    probe = _under(spans, MAINTENANCE)

    def named(name, everywhere=False):
        return [i for i, s in enumerate(spans) if s["name"] == name
                and (everywhere or i not in probe)]

    def total(name):
        return sum(_dur(spans[i]) for i in named(name))

    def parent_name(i):
        p = spans[i]["parent"]
        return None if p is None else spans[p]["name"]

    n_batches = len(named("pipeline.apply_batch"))
    batches = max(1, n_batches)
    overhead = [_dur(spans[r]) - sum(_dur(spans[i])
                                     for i in named("pipeline.apply_batch")
                                     if spans[i]["parent"] == r)
                for r in named("pipeline.replay")]
    # checkpoint() and lineage() call manifest(): count the outer call
    meta = [i for i in named("lake.metadata")
            if parent_name(i) != "lake.metadata"]
    commits = [_dur(spans[i]) for i in named("lake.commit")]
    lake = notes.lake
    return {
        "pipeline.apply_batch_s": _med(
            [selfs[i] for i in named("pipeline.apply_batch")]),
        "pipeline.replay_overhead_s": _med(overhead),
        "pipeline.flush_metrics_s": _med(
            [_dur(spans[i]) for i in named("pipeline.flush_metrics")]),
        "pipeline.batches": float(n_batches),
        "pipeline.events_in": float(notes.events_in),
        "pipeline.rows_out": float(notes.rows_out),
        "pipeline.error_rows": float(notes.error_rows),
        "lake.merge_s": total("lake.merge") / batches,
        "lake.metadata_calls_per_batch": len(meta) / batches,
        "lake.metadata_s": sum(_dur(spans[i]) for i in meta) / batches,
        # the probe's, and any that replay's own trigger ran
        "lake.compact_s": _med([_dur(spans[i])
                                for i in named("lake.compact", True)]),
        "lake.squash_s": _med([_dur(spans[i])
                               for i in named("lake.squash", True)]),
        "lake.commit_s": _med(commits),
        "lake.commits": float(len(commits)),
        "lake.data_files": float(lake.get("data_files", 0)),
        "lake.marker_files": float(lake.get("marker_files", 0)),
        "lake.stored_bytes_per_row": lake.get("bytes", 0)
        / max(1, lake.get("rows", 0)),
        "lake.scan_files": float(lake.get("data_files", 0)
                                 + lake.get("marker_files", 0)),
        "lake.lookup_files": _med([float(x) for x in notes.lookup_files]),
        "lake.changes_rows": float(notes.changes_rows),
        "spark.jobs_per_batch": _med(notes.jobs_per_batch),
    }


def operator_bench(spark, blobs: list[tuple]) -> dict:
    """One standalone ``extract_files`` action over the blobs: the
    Spark-side extraction cost (Arrow transfer, UDF, row conversion)
    without the merge around it."""
    from grate_spark.operators.extraction import extract_files

    rows = [(r, p, "", lang, c) for r, p, c, lang in blobs]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string").repartition(
        spark.sparkContext.defaultParallelism)
    df = df.localCheckpoint()
    t0 = time.perf_counter()
    # count() consumes every batch the opaque mapInPandas yields
    n = extract_files(df).count()
    el = time.perf_counter() - t0
    return {"operators.extract_s": el, "operators.rows_per_s": n / el}


def extract_bench(blobs: list[tuple]) -> dict:
    """Single-core ``extract_blob`` throughput per format over the
    workload's blobs, no Spark: for each format, whole passes over its
    blobs for at least ``EXTRACT_SECONDS``. ``extract.error_files``
    counts the blobs of one pass that extract to an error row."""
    out = {}
    rows = errors = 0
    elapsed = 0.0
    for fmt in ("csv", "xlsx"):
        sample = [b for b in blobs if (b[3] == "xlsx") == (fmt == "xlsx")]
        files = 0
        t0 = time.perf_counter()
        while sample:
            for repo, path, content, lang in sample:
                got, err = blob_rows(repo, path, content, lang)
                files += 1
                rows += len(got)
                if files <= len(sample):
                    errors += err
            if time.perf_counter() - t0 >= EXTRACT_SECONDS:
                break
        el = time.perf_counter() - t0
        elapsed += el
        out[f"extract.{fmt}_files_per_s"] = files / el if files else 0.0
    out["extract.rows_per_s"] = rows / elapsed
    out["extract.error_files"] = float(errors)
    return out
