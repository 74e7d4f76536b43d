"""Fused extract->parquet-encode inside the Python worker: the CDC
pipeline's one results-table writer.

Blobs arrive at the worker (one Arrow hop, which is irreducible — the
shuffle is JVM-side), each task extracts its blobs and encodes parquet
files directly with pyarrow (C++), and only tiny per-file manifest
rows return to the driver. Extracted row data never crosses back into
the JVM, so no row pays a second Arrow hop or a parquet-mr encode.

Correctness/atomicity: tasks write into the transaction's staging
directory, but files become visible ONLY when the driver registers the
returned manifest rows in the lake commit. A retried/zombie task's
partial file is never registered (registration is manifest-driven, not
listdir-driven) and is swept by vacuum, mirroring how Iceberg commits
data files by manifest rather than by directory listing.

Input contract: the blob DataFrame must already carry
``_bucket`` (computed JVM-side with the lake's xxhash64 bucket
expression — NOT re-derived in Python, so bucketing stays
bit-identical to the lake's readers) and ``src_offset`` lineage
columns.
A task may hold any mix of buckets: the CDC pipeline packs several
buckets onto one task, and splits a hot bucket over several, by
event count. Each task writes one file per bucket it sees, so every
file is bucket-pure whatever the packing.
"""

from __future__ import annotations

import hashlib
import os
import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType,
                               DoubleType, FloatType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .extraction import _CHUNK_ROWS, EXTRACT_SCHEMA, TYPE_CODES

# what each data file carries: the extract row schema + lineage + the
# MoR commit sequence column (lake._data_union reads files as
# row-schema + _seq)
FILE_COLS = ([f.name for f in EXTRACT_SCHEMA.fields]
             + ["content_sha256", "src_offset", "batch_id", "_seq"])

# the row schema the lake stores for these files (everything but _seq,
# which the lake appends at read time) — field order matches
# extract_files -> with_content_sha -> src_offset -> batch_id
ROW_SCHEMA = StructType(
    list(EXTRACT_SCHEMA.fields)
    + [StructField("content_sha256", StringType()),
       StructField("src_offset", LongType()),
       StructField("batch_id", IntegerType())])

MANIFEST_SCHEMA = StructType([
    StructField("bucket", IntegerType()),
    StructField("path", StringType()),        # relative to the lake root
    StructField("n_rows", LongType()),
    StructField("n_error_rows", LongType()),
    StructField("max_cols", IntegerType()),
    StructField("bytes", LongType()),
    # per-file merge-key bounds, computed in-task for free on the same
    # pass (Iceberg manifest lower_bounds/upper_bounds) — the reader
    # skips files whose range excludes a point-lookup key
    StructField("repo_min", StringType()),
    StructField("repo_max", StringType()),
    StructField("path_min", StringType()),
    StructField("path_max", StringType()),
])


def _pa_type(dt):
    import pyarrow as pa
    if isinstance(dt, StringType):
        return pa.string()
    if isinstance(dt, LongType):
        return pa.int64()
    if isinstance(dt, IntegerType):
        return pa.int32()
    if isinstance(dt, DoubleType):
        return pa.float64()
    if isinstance(dt, FloatType):
        return pa.float32()
    if isinstance(dt, BooleanType):
        return pa.bool_()
    if isinstance(dt, BinaryType):
        return pa.binary()
    if isinstance(dt, ArrayType):
        return pa.list_(_pa_type(dt.elementType))
    raise TypeError(f"fused_write: unsupported type {dt}")


def _arrow_file_schema():
    import pyarrow as pa
    fields = [(f.name, _pa_type(f.dataType)) for f in ROW_SCHEMA.fields]
    fields.append(("_seq", pa.int64()))
    return pa.schema(fields)


def row_sha256(cells) -> str:
    """Python twin of the JVM-side
    ``sha2(concat_ws('\\t', cells), 256)``: concat_ws treats a NULL
    array as empty and skips NULL elements, never returns NULL."""
    joined = "\t".join(c for c in (cells or []) if c is not None)
    return hashlib.sha256(joined.encode("utf-8")).hexdigest()


class _BucketWriter:
    """One parquet file per (task, bucket), streamed in bounded chunks
    exactly like the JVM writer's Arrow batches. A task opens one per
    bucket among its rows, so its files stay bucket-pure."""

    def __init__(self, out_full: str, out_rel: str, bucket: int,
                 part_id: int, schema):
        import pyarrow.parquet as pq
        fn = f"part-{part_id:05d}-{uuid.uuid4().hex}.parquet"
        bdir = os.path.join(out_full, f"_bucket={bucket}")
        os.makedirs(bdir, exist_ok=True)
        self.abs_path = os.path.join(bdir, fn)
        self.rel_path = os.path.join(out_rel, f"_bucket={bucket}", fn)
        self.bucket = bucket
        self.schema = schema
        self.writer = pq.ParquetWriter(self.abs_path, schema,
                                       compression="snappy")
        self.buf: list[tuple] = []
        self.n_rows = 0
        self.n_error_rows = 0
        self.max_cols = 0
        # merge-key bounds (row[0]=repo, row[1]=path in ROW_SCHEMA
        # order) — exact min/max, no truncation
        self.repo_min = self.repo_max = None
        self.path_min = self.path_max = None

    def add(self, row: tuple, n_cells: int, is_error: bool) -> None:
        repo, path = row[0], row[1]
        if self.repo_min is None or repo < self.repo_min:
            self.repo_min = repo
        if self.repo_max is None or repo > self.repo_max:
            self.repo_max = repo
        if self.path_min is None or path < self.path_min:
            self.path_min = path
        if self.path_max is None or path > self.path_max:
            self.path_max = path
        self.buf.append(row)
        self.n_rows += 1
        if is_error:
            self.n_error_rows += 1
        if n_cells > self.max_cols:
            self.max_cols = n_cells
        if len(self.buf) >= _CHUNK_ROWS:
            self.flush()

    def flush(self) -> None:
        if not self.buf:
            return
        import pyarrow as pa
        cols = list(zip(*self.buf))
        arrays = [pa.array(list(c), type=f.type)
                  for c, f in zip(cols, self.schema)]
        self.writer.write_table(
            pa.Table.from_arrays(arrays, schema=self.schema))
        self.buf = []

    def close(self) -> dict:
        self.flush()
        self.writer.close()
        return {"bucket": self.bucket, "path": self.rel_path,
                "n_rows": self.n_rows,
                "n_error_rows": self.n_error_rows,
                "max_cols": self.max_cols,
                "bytes": os.path.getsize(self.abs_path),
                "repo_min": self.repo_min, "repo_max": self.repo_max,
                "path_min": self.path_min, "path_max": self.path_max}


def make_extract_encode_fn(out_full: str, out_rel: str, seq: int,
                           batch_id: int):
    """Build the mapInPandas function: blob rows in, manifest rows out.

    Input columns per blob: repo, path, commit, lang, content (binary,
    pre-unwrapped JVM-side), src_offset, _bucket.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from grate_spark.extract import (ExtractError, NotInFormat,
                                         extract_blob)

        # same allocator hygiene as the row-returning extractor, once
        # per reused worker process (see extraction._tune_worker_gc)
        from grate_spark.operators.extraction import _tune_worker_gc
        _tune_worker_gc()

        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else 0
        schema = _arrow_file_schema()
        writers: dict[int, _BucketWriter] = {}

        def writer_for(b: int) -> _BucketWriter:
            w = writers.get(b)
            if w is None:
                w = writers[b] = _BucketWriter(out_full, out_rel, b,
                                               part_id, schema)
            return w

        for pdf in batches:
            repos = pdf["repo"].to_numpy()
            paths = pdf["path"].to_numpy()
            commits = pdf["commit"].to_numpy()
            contents = pdf["content"].to_numpy()
            langs = (pdf["lang"].to_numpy() if "lang" in pdf
                     else [None] * len(pdf))
            offsets = pdf["src_offset"].to_numpy()
            bks = pdf["_bucket"].to_numpy()

            for repo, path, commit, content, lang, off, b in zip(
                    repos, paths, commits, contents, langs, offsets,
                    bks):
                w = writer_for(int(b))
                off = int(off)
                try:
                    res = extract_blob(path, content, lang)
                except (NotInFormat, ExtractError) as e:
                    w.add((repo, path, commit, None, None, -1, -1,
                           None, None, None,
                           f"{type(e).__name__}: {e}",
                           row_sha256(None), off, batch_id, seq),
                          0, True)
                    continue
                except Exception as e:  # never fail the task on a blob
                    w.add((repo, path, commit, None, None, -1, -1,
                           None, None, None, f"internal: {e!r}",
                           row_sha256(None), off, batch_id, seq),
                          0, True)
                    continue
                for si, table in enumerate(res.tables):
                    if table.hidden:
                        continue
                    for rid, (cells, types, formats) in enumerate(
                            table.rows):
                        tstr = "".join(TYPE_CODES.get(t, "?")
                                       for t in types)
                        fmts = formats if any(
                            f != "General" for f in formats) else None
                        w.add((repo, path, commit, res.fmt,
                               table.name, si, rid, cells, tstr, fmts,
                               None, row_sha256(cells), off, batch_id,
                               seq),
                              len(cells), False)

        manifests = [w.close() for w in writers.values()]
        if manifests:
            yield pd.DataFrame(
                manifests,
                columns=[f.name for f in MANIFEST_SCHEMA.fields])

    return fn


def extract_encode_files(blobs: DataFrame, out_full: str, out_rel: str,
                         seq: int, batch_id: int) -> DataFrame:
    """blob rows (with ``_bucket`` + ``src_offset``) -> per-file
    manifest rows; the data itself lands as task-side pyarrow parquet
    under ``out_full``. See module docstring for the why."""
    cols = ["repo", "path", "commit", "lang", "content", "src_offset",
            "_bucket"]
    picked = blobs.select(*[c for c in cols if c in blobs.columns])
    return picked.mapInPandas(
        make_extract_encode_fn(out_full, out_rel, seq, batch_id),
        schema=MANIFEST_SCHEMA)
