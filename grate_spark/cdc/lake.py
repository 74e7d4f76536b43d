"""Transactional multi-table lake over parquet with atomic manifest commits.

This is the exactly-once sink the north rule requires. The sandbox has no
Iceberg runtime jars, so the same commit semantics are implemented
directly (and documented where each piece maps onto Iceberg for the
cluster deployment):

- **snapshot isolation / atomic multi-table commit**: a small ROOT
  manifest under ``_commits/`` holds per-table schemas, marker entries,
  the replay checkpoint, lineage, and per-bucket POINTERS to immutable
  shard JSONs (``_commits/shards/``) that carry the actual file lists —
  the flat-file analog of Iceberg's manifest list. A transaction stages
  parquet files and one new shard per touched bucket, then publishes ONE
  new root via atomic hard-link creation (fails if the version already
  exists -> optimistic concurrency). Commit metadata is O(touched
  buckets), never O(total live files); data+offsets commit together, so
  re-applying a batch after any crash is a no-op.
  [Iceberg: single transaction / WAP + snapshot metadata + manifest list]
- **key-partitioned MERGE, merge-on-read**: tables are hash-bucketed on
  their merge key. A merge appends (a) the batch's new rows stamped with
  the commit sequence and (b) a key-marker ("tombstone") file carrying
  the batch's touched keys at that sequence — O(batch) write cost, no
  table rewrite. Reads drop any row superseded by a newer marker for its
  key (per-key latest-writer-wins). At 10^10-event scale this is what
  keeps per-batch cost proportional to batch size — the copy-on-write
  alternative rewrites every touched bucket and degenerates to O(table)
  per batch when batch keys are hash-uniform. [Iceberg: MoR MERGE INTO
  with equality deletes + maintenance compaction]
- **maintenance**: ``compact`` (every bucket or chosen ones) and
  ``rebucket`` are one rewrite: read the live rows at committed state,
  stamp the base version as ``_seq`` (below every later merge's seq),
  write key-sorted bucketed files, install them, then clear the markers
  (every bucket rewritten) or shrink them to the keys of the buckets
  left alone. ``squash_markers`` folds the marker files into one
  holding max(seq) per key. Merge, squash and shrink all write their
  marker set through one writer. [Iceberg: rewrite_data_files +
  rewrite_position_delete_files]
- **one manifest form**: bucket file lists live only behind ``shards``
  pointers, every marker entry carries its ``bytes``, and changelog
  reads walk the per-table change chain. A manifest in any other form
  fails with KeyError rather than reading as an empty table.
- **schema evolution**: each file records the schema it was written with;
  reads align every file group to the current table schema (missing
  columns -> NULL, types upcast along int->bigint->double->string). A
  merge with a wider incoming schema widens the table schema in the same
  commit. [Iceberg: ADD COLUMN / type promotion]

Everything is DataFrame-API; the only driver-side data is the (bounded)
list of touched bucket ids and file names.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (DataType, LongType, StringType,
                               StructField, StructType)

MANIFEST_DIR = "_commits"
SHARD_DIR = os.path.join(MANIFEST_DIR, "shards")
DATA_DIR = "data"

# type-widening lattice: a merge may move a column *up* this chain
_WIDEN_ORDER = ["int", "bigint", "double", "string"]


def _type_rank(dt: DataType) -> int:
    s = dt.simpleString()
    return _WIDEN_ORDER.index(s) if s in _WIDEN_ORDER else -1


def widen_type(a: DataType, b: DataType) -> DataType:
    """Least common type along the widening chain; falls back to string
    for any other conflict (never loses data)."""
    if a.simpleString() == b.simpleString():
        return a
    ra, rb = _type_rank(a), _type_rank(b)
    if ra >= 0 and rb >= 0:
        return a if ra >= rb else b
    return StringType()


def merge_schemas(old: StructType, new: StructType) -> StructType:
    """Column-add + type-widen schema evolution (order: old cols first,
    then newly-added cols in their incoming order)."""
    by_name = {f.name: f for f in new.fields}
    fields: list[StructField] = []
    for f in old.fields:
        g = by_name.pop(f.name, None)
        if g is None:
            fields.append(f)
        else:
            fields.append(StructField(f.name, widen_type(f.dataType,
                                                         g.dataType), True))
    for f in new.fields:
        if f.name in by_name:
            fields.append(StructField(f.name, f.dataType, True))
    return StructType(fields)


def _schema(t: dict, sid: int | None = None) -> StructType:
    """Schema ``sid`` of table-dict ``t`` (default: the current one)."""
    return StructType.fromJson(json.loads(
        t["schemas"][t["schema_id"] if sid is None else sid]))


def _align(df: DataFrame, target: StructType,
           extras: tuple[str, ...] = ()) -> DataFrame:
    """Project df onto the target schema: missing cols -> NULL, types
    cast; ``extras`` pass through untouched. Pure Catalyst projections —
    stays in whole-stage codegen."""
    cols = []
    have = set(df.columns)
    for f in target.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    cols += [F.col(c) for c in extras]
    return df.select(*cols)


class LakeCatalog:
    """A directory of bucketed tables with one shared commit log."""

    def __init__(self, spark: SparkSession, root: str,
                 broadcast_marker_bytes: int = 64 << 20):
        self.spark = spark
        self.root = root
        # marker sets at or under this size broadcast in the MoR read;
        # larger sets fall back to a shuffle join (see read())
        self.broadcast_marker_bytes = broadcast_marker_bytes
        # committed manifests are immutable, so version-keyed reads are
        # memoized (changelog polling / sync re-opens the same versions
        # every poll). manifest_reads counts actual disk reads — the
        # O(delta) changelog gate asserts on it.
        self._man_cache: dict[int, dict] = {}
        self.manifest_reads = 0
        os.makedirs(os.path.join(root, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, DATA_DIR), exist_ok=True)

    # -- manifest I/O --------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, MANIFEST_DIR, f"v{version:012d}.json")

    def current_version(self) -> int:
        best = 0
        for fn in os.listdir(os.path.join(self.root, MANIFEST_DIR)):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    best = max(best, int(fn[1:-5]))
                except ValueError:
                    pass
        return best

    def manifest(self) -> dict:
        return self.manifest_at(self.current_version())

    def manifest_at(self, version: int) -> dict:
        """The manifest as of ``version`` (time travel). Raises a clear
        error when that manifest has been pruned by vacuum() — history
        is retained up to vacuum's ``keep_manifests`` horizon, exactly
        like Iceberg expire_snapshots.

        Returns a cached object (manifests are immutable once linked):
        callers must treat it as read-only — Transaction deep-copies
        the pieces it mutates."""
        if version == 0:
            return {"version": 0, "tables": {}, "checkpoint": {},
                    "lineage": []}
        cached = self._man_cache.get(version)
        if cached is not None:
            return cached
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise KeyError(
                f"lake: no manifest v{version} (never committed, or "
                "expired by vacuum keep_manifests)")
        with open(path) as f:
            man = json.load(f)
        self.manifest_reads += 1
        if len(self._man_cache) > 256:  # bound driver memory on long logs
            self._man_cache.clear()
        self._man_cache[version] = man
        return man

    def checkpoint(self) -> dict[str, int]:
        return dict(self.manifest().get("checkpoint", {}))

    # -- manifest shards -------------------------------------------------------
    #
    # Per-(table, bucket) file lists live in immutable shard JSONs under
    # _commits/shards/, referenced from the root manifest by path — the
    # flat-file analog of Iceberg's manifest list. A commit writes the
    # small root plus ONE new shard per touched bucket, so commit
    # metadata is O(batch's touched buckets x files-per-bucket), never
    # O(total live files). Shards are the only place file lists live: a
    # table dict without "shards" raises KeyError.

    def table_buckets(self, t: dict) -> set[str]:
        """All bucket ids with live files in table-dict ``t``."""
        return set(t["shards"])

    def bucket_entries(self, t: dict, b: str) -> list[dict]:
        """Live file entries of one bucket ([] for a bucket with none)."""
        rel = t["shards"].get(b)
        if rel is None:
            return []
        with open(os.path.join(self.root, rel)) as f:
            return json.load(f)

    def table_files(self, name: str) -> dict[str, list[dict]]:
        """All live file entries of a table, keyed by bucket (reads
        every shard — inspection/maintenance use, not the commit path)."""
        t = self.manifest()["tables"].get(name)
        if not t:
            return {}
        return {b: self.bucket_entries(t, b)
                for b in sorted(self.table_buckets(t))}

    def lineage(self) -> list[dict]:
        return list(self.manifest().get("lineage", []))

    def marker_bucket_counts(self, name: str) -> dict[int, int]:
        """Distinct marker keys per merge bucket — the density signal
        incremental compaction uses to pick which buckets to rewrite
        (markers are stored unbucketed, so this is one small job over
        the marker files, never the data)."""
        t = self.manifest()["tables"].get(name)
        markers = self._markers(t)[0] if t else None
        if markers is None:
            return {}
        key_cols = tuple(t["key_cols"])
        rows = (markers.select(*key_cols).distinct()
                .groupBy(_bucket_expr(key_cols, t["n_buckets"])
                         .alias("b"))
                .count().collect())
        return {int(r["b"]): int(r["count"]) for r in rows}

    # -- reads ----------------------------------------------------------------

    def table_schema(self, name: str) -> StructType | None:
        t = self.manifest()["tables"].get(name)
        if not t:
            return None
        return _schema(t)

    def _live_entries(self, t: dict, buckets: list[int] | None,
                      key_eq: dict | None = None):
        """Yield the data-file entries a read would scan: bucket
        pruning (skipped buckets' shard files are never even loaded)
        plus file-level key-bounds skipping (Iceberg data skipping —
        an entry whose recorded [min,max] range excludes the lookup
        key is dropped on the driver, zero I/O)."""
        wanted = None if buckets is None else {str(b) for b in buckets}
        for b in self.table_buckets(t):
            if wanted is not None and b not in wanted:
                continue
            for entry in self.bucket_entries(t, b):
                if _bounds_exclude(entry, key_eq):
                    continue
                yield entry

    def scan_entries(self, name: str, buckets: list[int] | None = None,
                     key_eq: dict | None = None,
                     manifest: dict | None = None) -> list[dict]:
        """The exact file entries ``read(name, buckets, key_eq)`` would
        scan after pruning — introspection for tests and ops tooling."""
        m = manifest or self.manifest()
        t = m["tables"].get(name)
        if not t:
            raise KeyError(f"lake: no such table {name!r}")
        return list(self._live_entries(t, buckets, key_eq))

    def _data_union(self, t: dict, buckets: list[int] | None,
                    current: StructType,
                    key_eq: dict | None = None) -> DataFrame | None:
        """Union all live data files aligned to current schema + _seq."""
        target = StructType(list(current.fields)
                            + [StructField("_seq", LongType(), True)])
        groups: dict[int, list[str]] = {}
        for entry in self._live_entries(t, buckets, key_eq):
            groups.setdefault(entry["schema_id"], []).append(
                os.path.join(self.root, entry["path"]))
        if not groups:
            return None
        parts = []
        for sid, paths in sorted(groups.items()):
            fs = StructType(list(_schema(t, sid).fields)
                            + [StructField("_seq", LongType(), True)])
            parts.append(_align(
                self.spark.read.schema(fs).parquet(*paths), target))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _markers(self, t: dict) -> tuple[DataFrame | None, int]:
        """Union key-marker (tombstone) files: key cols + seq. Markers
        are small between compactions (cumulative distinct touched keys,
        reset by compact) and stored unbucketed — always read in full;
        pruned-bucket reads simply won't match the extra keys. Returns
        (df, total_bytes) so the reader can pick broadcast vs
        sort-merge by actual size."""
        entries = [e for fs in t["markers"].values() for e in fs]
        if not entries:
            return None, 0
        # explicit schema: without it Spark runs a footer-inference job
        # (1 task) on EVERY marker read — pure planning latency, and
        # the manifest already pins the key columns and seq type
        return (self.spark.read.schema(self._marker_schema(t))
                .parquet(*[os.path.join(self.root, e["path"])
                           for e in entries]),
                sum(e["bytes"] for e in entries))

    @staticmethod
    def _marker_schema(t: dict) -> StructType:
        current = _schema(t)
        key_cols = tuple(t["key_cols"])
        fields = [f for f in current.fields if f.name in key_cols]
        fields.sort(key=lambda f: key_cols.index(f.name))
        return StructType(fields + [StructField("seq", LongType())])

    def read(self, name: str, manifest: dict | None = None,
             buckets: list[int] | None = None,
             key_eq: dict | None = None) -> DataFrame:
        """Snapshot read (merge-on-read): data files minus rows
        superseded by a newer key marker — per-key latest-writer-wins.

        ``buckets`` prunes files via the manifest's file->bucket index
        alone — no data scanned for skipped buckets (the flat-file
        analog of Iceberg partition pruning). ``key_eq`` ({col: value}
        over key columns) additionally skips files whose recorded
        bounds exclude the value, and filters the result to exact
        equality — see ``read_key`` for the full point-lookup path."""
        m = manifest or self.manifest()
        t = m["tables"].get(name)
        if not t:
            raise KeyError(f"lake: no such table {name!r}")
        current = _schema(t)
        data = self._data_union(t, buckets, current, key_eq)
        if data is None:
            return self.spark.createDataFrame([], current)
        if key_eq:
            for c, v in key_eq.items():
                data = data.filter(F.col(c) == F.lit(v))
        markers, marker_bytes = self._markers(t)
        if markers is not None:
            key_cols = list(t["key_cols"])
            if buckets is not None:
                # marker files are stored unbucketed, but the rows carry
                # the key columns — a bucket-pruned read (point lookup)
                # re-derives each marker key's bucket with the writers'
                # exact hash expression and keeps only the pruned set, so
                # the anti-supersede join's build side is bucket-bounded
                # too (not the table's full cumulative touched-key set)
                markers = markers.filter(
                    _bucket_expr(tuple(key_cols), t["n_buckets"])
                    .isin([int(b) for b in buckets]))
            if key_eq:
                # any key-column equality also bounds the marker side:
                # a marker whose key columns don't match can never join
                # the (already-filtered) data rows
                for c in key_cols:
                    if c in key_eq:
                        markers = markers.filter(
                            F.col(c) == F.lit(key_eq[c]))
            latest = (markers.groupBy(*key_cols)
                      .agg(F.max("seq").alias("_mseq")))
            # markers are the cumulative distinct touched keys — small
            # between compactions, so broadcast keeps the data side
            # shuffle-free. But cumulative growth is unbounded between
            # compactions, so past the broadcast budget the superseded-
            # row filter degrades gracefully to a shuffle join instead
            # of blowing the driver (at cluster scale both sides are
            # co-bucketed -> SPJ). Files written before any merge
            # (create_or_replace/append) carry no _seq -> NULL ->
            # sequence 0 (oldest); maintenance rewrites carry the seq
            # _rewrite stamps on them.
            if marker_bytes <= self.broadcast_marker_bytes:
                latest = F.broadcast(latest)
            data = (data.join(latest, key_cols, "left")
                    .filter(F.coalesce(F.col("_seq"), F.lit(0)) >=
                            F.coalesce(F.col("_mseq"), F.lit(0)))
                    .drop("_mseq"))
        return data.drop("_seq")

    def read_version(self, name: str, version: int,
                     buckets: list[int] | None = None) -> DataFrame:
        """Time-travel snapshot read: the table exactly as of manifest
        ``version``. Pure metadata dispatch — data/marker files are
        immutable once written, so the historical read is the same MoR
        plan over the old manifest's file set (bucket pruning included).
        Valid while vacuum() retains the version; after expiry the read
        raises. [Iceberg: SELECT ... VERSION AS OF]"""
        return self.read(name, manifest=self.manifest_at(version),
                         buckets=buckets)

    def snapshot_tags(self) -> dict[str, int]:
        """Current {tag: version} map (Iceberg refs)."""
        return dict(self.manifest().get("tags", {}))

    def read_tag(self, name: str, tag: str,
                 buckets: list[int] | None = None) -> DataFrame:
        """Snapshot read pinned to a named tag — stable across ingest
        and vacuum (tagged manifests and their files are GC-exempt)."""
        tags = self.manifest().get("tags", {})
        if tag not in tags:
            raise KeyError(f"lake: no such tag {tag!r}")
        return self.read_version(name, int(tags[tag]), buckets=buckets)

    def read_key(self, name: str, key: dict) -> DataFrame:
        """Point lookup: all live rows for one merge key, touching the
        minimum possible data. A FULL key (every key column) routes to
        its single hash bucket via the same JVM xxhash64 expression the
        writers use (one 1-row job — never re-derived in Python, so
        bucketing stays bit-identical), then file-level key bounds skip
        non-overlapping files inside that bucket; a PARTIAL key skips
        the bucket route but still bounds-prunes across all buckets.
        At 10^10 rows this is metadata dispatch + a handful of files,
        not a table scan."""
        m = self.manifest()
        t = m["tables"].get(name)
        if not t:
            raise KeyError(f"lake: no such table {name!r}")
        key_cols = tuple(t["key_cols"])
        current = _schema(t)
        unknown = set(key) - set(current.fieldNames())
        if unknown:
            raise ValueError(f"lake: read_key({name!r}) got columns "
                             f"not in the table: {sorted(unknown)}")
        buckets = None
        if set(key_cols) <= set(key):
            kfields = [f for f in current.fields if f.name in key_cols]
            # key-column order must match the writers' _bucket_expr
            kfields.sort(key=lambda f: key_cols.index(f.name))
            # driver-side routing first: the gate-tested Python replay
            # of Spark's XxHash64 (py_xxhash64) kills the 1-row Spark
            # job a point lookup used to pay; any unsupported key type
            # or null falls back to the JVM expression (bit-identity
            # either way)
            h = py_xxhash64(
                [key[f.name] for f in kfields],
                [f.dataType.simpleString() for f in kfields])
            if h is not None:
                buckets = [int(h % t["n_buckets"])]
            else:
                kschema = StructType(kfields)
                row = self.spark.createDataFrame(
                    [tuple(key[f.name] for f in kfields)], kschema)
                b = row.select(_bucket_expr(key_cols, t["n_buckets"])
                               .alias("b")).collect()[0]["b"]
                buckets = [int(b)]
        return self.read(name, manifest=m, buckets=buckets, key_eq=key)

    def changes(self, name: str, from_version: int,
                to_version: int | None = None,
                batch_min: int = 16) -> DataFrame:
        """Incremental changelog (CDC-out): every row-level change
        committed to ``name`` in versions (from_version, to_version],
        with ``_change_type`` ('insert' | 'upsert' | 'delete') and
        ``_commit_version`` columns. [Iceberg: incremental append scan;
        Delta: table_changes/CDF]

        Cost is O(delta), never O(table): each commit's manifest records
        the exact data/marker files its ops added (``ops`` metadata), so
        the changelog is a union over just those files — no snapshot
        diffing, no full-table read. Downstream consumers poll
        ``changes(last_seen)`` to stay in sync without re-reading the
        table; applying upserts+deletes in commit order onto the
        ``from_version`` snapshot reproduces the ``to_version`` snapshot
        (equivalence is gate-tested).

        Semantics per commit op:
          merge  -> its new rows emit as 'upsert' (the reference CDC
                    path re-extracts whole files, so an update replaces
                    the key's rows wholesale; insert-vs-update is not
                    distinguished — doing so would cost a prior-state
                    read); its marker keys with NO new rows emit as
                    'delete' (key cols set, data cols null).
          append -> new rows emit as 'insert'.
          compact/vacuum -> no logical change; skipped.
          replace -> snapshot replacement has no row-level delta;
                    raises ValueError (consumers must re-read).

        Plan shape: windows with <= ``batch_min`` relevant ops build
        one small subtree per op; larger windows BATCH — one scan per
        (change_type, schema) group over all the window's data files
        with ``_commit_version`` recovered from each file's unique
        commit staging directory, plus one scan over all marker files
        and ONE anti-join for deletes — so a consumer catching up over
        thousands of commits gets an O(schema-groups) plan, not
        O(commits) union subtrees. The per-op plan stays for small
        windows because it is faster there: on a tail's one-commit poll
        (60-event batches, 64 buckets, local[4] on a 4-core host, 20
        interleaved polls per plan) both returned identical rows, the
        per-op plan in 0.74 s median and the batched one in 1.59 s, so
        a batched-only plan would double the poll time. (Delete
        granularity in the batched plan is per-version rather than
        per-op — identical whenever a version holds at most one merge
        of the table, which every writer in this engine guarantees.)
        """
        to_version = self.current_version() if to_version is None \
            else to_version
        if to_version <= from_version:
            m = self.manifest()
            t = m["tables"].get(name)
            schema = _schema(t) if t else StructType([])
            return self.spark.createDataFrame([], self._changes_schema(schema))
        man_to = self.manifest_at(to_version)
        t_to = man_to["tables"].get(name)
        if not t_to:
            raise KeyError(f"lake: no such table {name!r} at "
                           f"v{to_version}")
        current = _schema(t_to)
        out_schema = self._changes_schema(current)
        key_cols = list(t_to["key_cols"])

        # collect the window's relevant ops as flat descriptors first
        ops: list[dict] = []
        for v, man in self._change_versions(name, from_version,
                                            to_version, man_to):
            for op in man.get("ops", []):
                if op.get("table") != name:
                    continue
                kind = op.get("op")
                if kind in ("compact",):
                    continue
                if kind == "replace":
                    raise ValueError(
                        f"lake: v{v} replaced {name!r} wholesale — no "
                        "row-level changelog exists; re-read the table")
                if kind not in ("merge", "append"):
                    continue
                ops.append({"v": v, "kind": kind,
                            "sid": op.get("schema_id", t_to["schema_id"]),
                            "files": list(op["files"]),
                            "markers": list(op.get("markers", []))})
        if not ops:
            return self.spark.createDataFrame([], out_schema)
        if len(ops) > batch_min:
            batched = self._changes_batched(ops, t_to, current, key_cols)
            if batched is not None:
                return batched

        parts: list[DataFrame] = []
        for o in ops:
            v, kind = o["v"], o["kind"]
            paths = [os.path.join(self.root, p) for p in o["files"]]
            rows = None
            if paths:
                rows = _align(
                    self.spark.read.schema(_schema(t_to, o["sid"]))
                    .parquet(*paths), current)
                parts.append(rows.select(
                    *[F.col(f.name) for f in current.fields],
                    F.lit("upsert" if kind == "merge"
                          else "insert").alias("_change_type"),
                    F.lit(v).cast("long").alias("_commit_version")))
            mpaths = [os.path.join(self.root, p) for p in o["markers"]]
            if kind == "merge" and mpaths:
                keys = (self.spark.read
                        .schema(self._marker_schema(t_to))
                        .parquet(*mpaths)
                        .select(*key_cols).distinct())
                if rows is not None:
                    # deletes = touched keys that contributed no new
                    # rows; the new-rows side of one commit is
                    # O(batch), so the anti-join is delta-sized
                    keys = keys.join(
                        rows.select(*key_cols).distinct(),
                        key_cols, "left_anti")
                null_cols = [
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in current.fields
                    if f.name not in key_cols]
                parts.append(keys.select(
                    *[F.col(k) for k in key_cols], *null_cols)
                    .select(*[F.col(f.name) for f in current.fields],
                            F.lit("delete").alias("_change_type"),
                            F.lit(v).cast("long")
                            .alias("_commit_version")))
        if not parts:
            return self.spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # stage-dir capture: every commit op stages its files under ONE
    # unique data/<table>/<12-hex-txnid>-<nnnn>/ directory, so the dir
    # name recovers (version, kind) per row without per-op plan
    # subtrees. Anchored to the END of the path (optional partition
    # dir + filename) — a prefix-anchored match would capture the
    # wrong segment for lake roots that themselves contain a "data"
    # path component (input_file_name() is the ABSOLUTE file URI).
    _STAGE_RE = (r"[/\\]([0-9a-f]{12}-[0-9]{4})[/\\]"
                 r"(?:_bucket=[^/\\]*[/\\])?[^/\\]*$")

    def _changes_batched(self, ops: list[dict], t_to: dict,
                         current: StructType,
                         key_cols: list[str]) -> DataFrame | None:
        """O(schema-groups) changelog plan for big windows: one scan
        per (kind, schema) over all data files, one scan over all
        marker files, one anti-join for deletes. Returns None when any
        op's files don't follow the one-stage-dir-per-op layout (legacy
        data) — the caller falls back to the per-op plan."""
        # per-version delete suppression (the anti-join below) is only
        # equivalent to the per-op plan when a version holds at most
        # one merge of the table — every writer in this engine does,
        # but the API doesn't forbid more: bail to the per-op plan
        merges_per_v: dict[int, int] = {}
        for o in ops:
            if o["kind"] == "merge":
                merges_per_v[o["v"]] = merges_per_v.get(o["v"], 0) + 1
                if merges_per_v[o["v"]] > 1:
                    return None
        ver_rows: list[tuple[str, int]] = []  # stage dir -> version
        kind_of: dict[str, str] = {}
        groups: dict[tuple[str, int], list[str]] = {}
        marker_groups: dict[int, list[str]] = {}
        marker_rows: list[tuple[str, int]] = []
        import re as _re
        for o in ops:
            dirs = set()
            for p in o["files"]:
                m = _re.search(self._STAGE_RE, "/" + p)
                if not m:
                    return None
                dirs.add(m.group(1))
            for d in dirs:
                if d in kind_of:   # shared stage dir across ops: bail
                    return None
                kind_of[d] = o["kind"]
                ver_rows.append((d, int(o["v"])))
            if o["files"]:
                groups.setdefault((o["kind"], o["sid"]), []).extend(
                    os.path.join(self.root, p) for p in o["files"])
            if o["kind"] == "merge" and o["markers"]:
                mdirs = set()
                for p in o["markers"]:
                    m = _re.search(self._STAGE_RE, "/" + p)
                    if not m:
                        return None
                    mdirs.add(m.group(1))
                for d in mdirs:
                    marker_rows.append((d, int(o["v"])))
                marker_groups.setdefault(o["sid"], []).extend(
                    os.path.join(self.root, p) for p in o["markers"])

        stage = F.regexp_extract(F.input_file_name(),
                                 self._STAGE_RE, 1)

        # version recovery is a BROADCAST HASH JOIN against the tiny
        # (stage dir -> version) table, not a literal-map lookup:
        # Catalyst evaluates element_at(create_map(...)) as a linear
        # scan of the literals PER ROW, i.e. O(window-commits) work per
        # row on exactly the big catch-up windows this plan exists for.
        # The join keeps per-row cost O(1) however long the window is.
        def _with_version(df: DataFrame,
                          pairs: list[tuple[str, int]]) -> DataFrame:
            vdf = self.spark.createDataFrame(
                pairs, "_stage string, _commit_version long")
            return (df.withColumn("_stage", stage)
                    .join(F.broadcast(vdf), "_stage").drop("_stage"))
        parts: list[DataFrame] = []
        rows_keys = None  # (key_cols, _commit_version) of upsert rows
        for (kind, sid), paths in sorted(groups.items()):
            scan = _with_version(
                self.spark.read.schema(_schema(t_to, sid)).parquet(*paths),
                ver_rows)
            rows = _align(scan, current, extras=("_commit_version",))
            part = rows.select(
                *[F.col(f.name) for f in current.fields],
                F.lit("upsert" if kind == "merge"
                      else "insert").alias("_change_type"),
                F.col("_commit_version"))
            parts.append(part)
            if kind == "merge":
                rk = rows.select(*key_cols, "_commit_version").distinct()
                rows_keys = rk if rows_keys is None \
                    else rows_keys.unionByName(rk)
        if marker_groups:
            # markers are read with each group's EXPLICIT key schema
            # (a key column widened mid-window would otherwise break
            # the schemaless multi-file scan), then cast to current
            keys = None
            for sid, paths in sorted(marker_groups.items()):
                mschema = StructType(
                    [f for f in _schema(t_to, sid).fields
                     if f.name in key_cols]
                    + [StructField("seq", LongType(), True)])
                cur_types = {f.name: f.dataType for f in current.fields}
                g = _with_version(
                    self.spark.read.schema(mschema).parquet(*paths),
                    marker_rows) \
                    .select(*[F.col(k).cast(cur_types[k]).alias(k)
                              for k in key_cols], "_commit_version")
                keys = g if keys is None else keys.unionByName(g)
            keys = keys.select(*key_cols, "_commit_version").distinct()
            if rows_keys is not None:
                keys = keys.join(rows_keys,
                                 key_cols + ["_commit_version"],
                                 "left_anti")
            null_cols = [F.lit(None).cast(f.dataType).alias(f.name)
                         for f in current.fields
                         if f.name not in key_cols]
            parts.append(keys.select(
                *[F.col(k) for k in key_cols], *null_cols,
                F.col("_commit_version"))
                .select(*[F.col(f.name) for f in current.fields],
                        F.lit("delete").alias("_change_type"),
                        F.col("_commit_version")))
        if not parts:
            return self.spark.createDataFrame(
                [], self._changes_schema(current))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def window_op_kinds(self, name: str, from_version: int,
                        to_version: int | None = None) -> set[str]:
        """The set of changelog-relevant op kinds ('merge' | 'append' |
        'replace') committed to ``name`` in (from_version, to_version]
        — pure driver-side manifest JSON via the change chain, zero
        Spark scans. Consumers use it to pick an apply strategy before
        building any plan (sync_from_changes)."""
        to_version = self.current_version() if to_version is None \
            else to_version
        if to_version <= from_version:
            return set()
        man_to = self.manifest_at(to_version)
        if not man_to["tables"].get(name):
            return set()
        kinds: set[str] = set()
        for _v, man in self._change_versions(name, from_version,
                                             to_version, man_to):
            for op in man.get("ops", []):
                if op.get("table") == name and \
                        op.get("op") in ("merge", "append", "replace"):
                    kinds.add(op["op"])
        return kinds

    def _change_versions(self, name: str, from_version: int,
                         to_version: int,
                         man_to: dict) -> list[tuple[int, dict]]:
        """Versions in (from_version, to_version] whose commits may hold
        changelog-relevant ops on ``name``, each with its manifest.

        Each commit records ``last_change`` (per table: the newest
        version <= it that changed the table) and ``change_chain`` (for
        tables IT changed: the previous such version), so a consumer
        polling a long idle window walks O(commits-that-changed-the-
        table) manifests backwards instead of JSON-parsing every
        version in the window. Manifest reads are memoized on top
        (manifest_at)."""
        out: list[tuple[int, dict]] = []
        v = int(man_to["last_change"].get(name, 0))
        while v > from_version:
            man = self.manifest_at(v)
            out.append((v, man))
            v = int(man["change_chain"][name])
        return out[::-1]

    @staticmethod
    def _changes_schema(row_schema: StructType) -> StructType:
        return StructType(
            list(row_schema.fields)
            + [StructField("_change_type", StringType(), False),
               StructField("_commit_version", LongType(), False)])

    def begin(self) -> "Transaction":
        return Transaction(self)

    def vacuum(self, keep_manifests: int = 10,
               min_age_seconds: float = 3600.0) -> dict:
        """Delete data/marker files not referenced by the CURRENT
        manifest, and manifests older than the last ``keep_manifests``.
        The GC companion of compact() — superseded files accumulate
        under copy-on-write/MoR until removed. [Iceberg:
        expire_snapshots + remove_orphan_files]

        ``min_age_seconds`` protects files staged by an IN-FLIGHT
        Transaction that has not committed yet: such files are not in
        the current manifest, but deleting them would let the
        transaction publish a manifest referencing missing files.
        Only unreferenced files older than the threshold are removed —
        pass 0 only when no concurrent writers exist. [Iceberg:
        remove_orphan_files older_than]

        Safe because readers always resolve the newest manifest; only
        run when no reader needs time travel past ``keep_manifests``.
        """
        m = self.manifest()
        # tagged snapshots stay fully readable after GC: their
        # manifests are never pruned and their files count as live.
        # A tag whose manifest is already gone (tagged before this
        # guard existed, or externally deleted) is skipped instead of
        # wedging GC forever — its files are unprotectable anyway.
        tag_versions = []
        for v in sorted(set(m.get("tags", {}).values())):
            if os.path.exists(self._manifest_path(v)):
                tag_versions.append(v)
        manifests = [m] + [self.manifest_at(v) for v in tag_versions
                           if v != m.get("version")]
        live: set[str] = set()
        for man in manifests:
            for t in man["tables"].values():
                for b in self.table_buckets(t):
                    live.update(e["path"]
                                for e in self.bucket_entries(t, b))
                for fs in t["markers"].values():
                    live.update(e["path"] for e in fs)

        removed = 0
        cutoff = time.time() - min_age_seconds
        data_root = os.path.join(self.root, DATA_DIR)
        for dirpath, _dirnames, filenames in os.walk(data_root,
                                                     topdown=False):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if fn.endswith(".parquet") and not fn.startswith("."):
                    keep = rel in live
                elif fn.endswith(".crc") and fn.startswith("."):
                    # checksum sidecar: keep iff its data file is live
                    data_rel = os.path.join(
                        os.path.dirname(rel), fn[1:-4])
                    keep = data_rel in live
                else:
                    # _SUCCESS markers etc: manifest is the authority
                    keep = False
                if not keep and os.path.getmtime(full) <= cutoff:
                    os.unlink(full)
                    removed += 1
            if not os.listdir(dirpath):
                os.rmdir(dirpath)

        pruned = 0
        current = self.current_version()
        for fn in os.listdir(os.path.join(self.root, MANIFEST_DIR)):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    v = int(fn[1:-5])
                except ValueError:
                    continue
                if v <= current - keep_manifests \
                        and v not in tag_versions:
                    os.unlink(os.path.join(self.root, MANIFEST_DIR, fn))
                    self._man_cache.pop(v, None)  # expired: reads raise
                    pruned += 1

        # shard GC: keep shard files referenced by any surviving
        # manifest; drop the rest past the in-flight grace period
        referenced: set[str] = set()
        mdir = os.path.join(self.root, MANIFEST_DIR)
        for fn in os.listdir(mdir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    with open(os.path.join(mdir, fn)) as f:
                        man = json.load(f)
                except (OSError, ValueError):
                    continue
                for t in man["tables"].values():
                    referenced.update(t["shards"].values())
        shard_root = os.path.join(self.root, SHARD_DIR)
        shards_removed = 0
        if os.path.isdir(shard_root):
            for dirpath, _dn, filenames in os.walk(shard_root,
                                                   topdown=False):
                for fn in filenames:
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, self.root)
                    if rel not in referenced \
                            and os.path.getmtime(full) <= cutoff:
                        os.unlink(full)
                        shards_removed += 1
                if not os.listdir(dirpath) and dirpath != shard_root:
                    os.rmdir(dirpath)
        return {"files_removed": removed, "manifests_pruned": pruned,
                "shards_removed": shards_removed}


def _footer_key_bounds(full_path: str,
                       key_cols: tuple[str, ...]) -> dict | None:
    """Per-file [min,max] of the merge-key columns from the parquet
    FOOTER (metadata-only read, no data pages) — the Iceberg manifest
    lower/upper bounds, recovered after the fact for files the JVM
    writer produced. Parquet string stats may be prefix-truncated
    (min is a <= prefix, max an incremented prefix), which only WIDENS
    the range — pruning on it stays safe. Returns None (no pruning,
    always-read) when any stat is missing.

    Used on the driver for maintenance writes (compact/append), whose
    file counts are bounded by the op's bucket set; the ingest hot
    path computes exact bounds in-task (operators/fused_write.py)."""
    try:
        import pyarrow.parquet as pq
        md = pq.ParquetFile(full_path).metadata
        idx = {md.schema.column(i).name: i
               for i in range(md.num_columns)}
        bounds: dict[str, list] = {}
        for c in key_cols:
            i = idx.get(c)
            if i is None:
                return None
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    return None
                lo, hi = st.min, st.max
                # strict decode only: a stat truncated mid-multibyte
                # UTF-8 would decode with U+FFFD replacements whose
                # code-point order can differ from byte order, breaking
                # the 'truncation only widens' invariant — such a file
                # gets NO bounds (always scanned, never wrongly pruned)
                try:
                    if isinstance(lo, bytes):
                        lo = lo.decode("utf-8")
                    if isinstance(hi, bytes):
                        hi = hi.decode("utf-8")
                except UnicodeDecodeError:
                    return None
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
            bounds[c] = [mn, mx]
        return bounds
    except Exception:
        return None


def _bounds_exclude(entry: dict, key_eq: dict | None) -> bool:
    """True iff the entry's recorded key bounds prove no row in the
    file can match ``key_eq``. Entries without bounds are never
    excluded (correct fallback: scan them)."""
    if not key_eq:
        return False
    b = entry.get("bounds")
    if not b:
        return False
    for c, v in key_eq.items():
        rng = b.get(c)
        if rng and rng[0] is not None and rng[1] is not None \
                and (v < rng[0] or v > rng[1]):
            return True
    return False


def _bucket_expr(key_cols: tuple[str, ...], n_buckets: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]),
                  F.lit(n_buckets)).cast("int")


# -- driver-side xxhash64 (bit-parity port of Spark's XXH64) ----------------
# Spark's XxHash64 expression chains columns: the running hash seeds the
# next column's hash, starting from seed 42. Strings hash their UTF-8
# bytes, longs the reference hashLong, int/smallint/tinyint hashInt.
# Gate-tested against the JVM expression over a randomized corpus
# (tests/test_cdc.py); read_key uses it to route a point lookup WITHOUT
# a 1-row Spark job, falling back to the JVM expression for any type
# this port does not cover.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _XXH_P2) & _M64
    return (_rotl64(acc, 31) * _XXH_P1) & _M64


def _xxh_fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _XXH_P2) & _M64
    h ^= h >> 29
    h = (h * _XXH_P3) & _M64
    h ^= h >> 32
    return h


def _xxh64_bytes(data: bytes, seed: int) -> int:
    seed &= _M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _M64
        v2 = (seed + _XXH_P2) & _M64
        v3 = seed
        v4 = (seed - _XXH_P1) & _M64
        while i <= n - 32:
            v1 = _xxh_round(v1, int.from_bytes(data[i:i + 8], "little"))
            v2 = _xxh_round(v2, int.from_bytes(data[i + 8:i + 16],
                                               "little"))
            v3 = _xxh_round(v3, int.from_bytes(data[i + 16:i + 24],
                                               "little"))
            v4 = _xxh_round(v4, int.from_bytes(data[i + 24:i + 32],
                                               "little"))
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12)
             + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh_round(0, v)) * _XXH_P1 + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        k1 = _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h ^ k1, 27) * _XXH_P1 + _XXH_P4) & _M64
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i:i + 4], "little")
        h = (_rotl64(h ^ ((k * _XXH_P1) & _M64), 23)
             * _XXH_P2 + _XXH_P3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXH_P5) & _M64), 11)
             * _XXH_P1) & _M64
        i += 1
    return _xxh_fmix(h)


def _xxh64_long(value: int, seed: int) -> int:
    h = (seed + _XXH_P5 + 8) & _M64
    k1 = _xxh_round(0, value & _M64)
    h = (_rotl64(h ^ k1, 27) * _XXH_P1 + _XXH_P4) & _M64
    return _xxh_fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    h = (seed + _XXH_P5 + 4) & _M64
    h ^= ((value & 0xFFFFFFFF) * _XXH_P1) & _M64
    h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _M64
    return _xxh_fmix(h)


def py_xxhash64(values: list, types: list, seed: int = 42) -> int | None:
    """Spark XxHash64(cols) replayed in Python: the running hash seeds
    each successive column. ``types`` are Spark simpleString names;
    returns None (caller falls back to the JVM expression) for any
    unsupported type or a null value. Result is SIGNED 64-bit, exactly
    as the JVM expression yields."""
    h = seed
    for v, tp in zip(values, types):
        if v is None:
            return None
        if tp == "string":
            h = _xxh64_bytes(str(v).encode("utf-8"), h)
        elif tp == "bigint":
            h = _xxh64_long(int(v), h)
        elif tp in ("int", "smallint", "tinyint"):
            # Spark hashes the narrower integral types as a 4-byte int
            h = _xxh64_int(int(v), h)
        else:
            return None
    return h - (1 << 64) if h >= (1 << 63) else h


class Transaction:
    """Stages data-file writes; publishes them in one atomic manifest."""

    def __init__(self, cat: LakeCatalog):
        self.cat = cat
        self.base = cat.manifest()
        self.tables = json.loads(json.dumps(self.base.get("tables", {})))
        self.checkpoint = dict(self.base.get("checkpoint", {}))
        self.tags = dict(self.base.get("tags", {}))
        self.lineage = list(self.base.get("lineage", []))
        self.txn_id = uuid.uuid4().hex[:12]
        self._n = 0
        # per-(table, bucket) staged file lists; only DIRTY buckets get
        # a new shard at commit — untouched buckets keep their existing
        # shard pointers untouched (O(batch) commit metadata)
        self._bucket_cache: dict[tuple[str, str], list[dict]] = {}
        self._dirty: set[tuple[str, str]] = set()
        # per-commit op journal, published in the manifest: each entry
        # names the op and (for merge/append) the exact data/marker
        # files it added, so the changelog reader (LakeCatalog.changes)
        # is an O(delta) file union with no snapshot diffing. Size is
        # O(touched buckets) per commit — same order as the shard
        # pointers the commit writes anyway.
        self._ops: list[dict] = []
        # -- delta records for commit-retry rebase (Iceberg-style
        # optimistic retry): purely-additive changes are re-applied onto
        # a newer base when the conflicting commits' footprints are
        # provably disjoint; wholesale ops (_exclusive) never rebase.
        self._added: dict[tuple[str, str], list[dict]] = {}
        # buckets a merge TOUCHED via markers even when it staged no
        # data file (a delete-only merge): these must count in the
        # commit-conflict footprint, or a concurrent write of the same
        # key would slip past the bucket-overlap check (the staged
        # marker keeps its old seq, and the MoR read keeps rows on a
        # seq tie -> the delete would silently lose)
        self._touched: set[tuple[str, str]] = set()
        self._marker_added: dict[str, list[dict]] = {}
        self._schema_added: dict[str, list[str]] = {}
        self._base_schemas: dict[str, list[str]] = {}
        self._created: set[str] = set()
        self._exclusive: set[str] = set()
        self._ckpt_delta: dict[str, int] = {}
        self._lineage_added: list[dict] = []

    # -- helpers ---------------------------------------------------------------

    def _entries(self, name: str, t: dict, b) -> list[dict]:
        key = (name, str(b))
        if key not in self._bucket_cache:
            self._bucket_cache[key] = list(
                self.cat.bucket_entries(t, str(b)))
        return self._bucket_cache[key]

    def _extend_bucket(self, name: str, t: dict, b,
                       entries: list[dict]) -> None:
        self._entries(name, t, b).extend(entries)
        self._dirty.add((name, str(b)))
        self._added.setdefault((name, str(b)), []).extend(entries)

    def _replace_buckets(self, name: str, t: dict, files: dict,
                         buckets: list[int] | None = None) -> None:
        """Install ``files`` (keys are bucket-id strings, as
        _write_bucketed returns) as the lists of ``buckets``; None drops
        every existing bucket's list. A bucket left without files drops
        its shard at commit."""
        self._exclusive.add(name)
        if buckets is None:
            ids = self.cat.table_buckets(t) | set(files)
        else:
            ids = {str(b) for b in buckets}
        for b in ids:
            self._bucket_cache[(name, b)] = list(files.get(b, []))
            self._dirty.add((name, b))

    def _append_markers(self, name: str, t: dict,
                        entries: list[dict]) -> None:
        t.setdefault("markers", {}).setdefault("_all", []).extend(entries)
        self._marker_added.setdefault(name, []).extend(entries)

    def _stage_dir(self, table: str) -> str:
        self._n += 1
        rel = os.path.join(DATA_DIR, table, f"{self.txn_id}-{self._n:04d}")
        return rel

    def _ensure_table(self, name: str, schema: StructType,
                      key_cols: tuple[str, ...], n_buckets: int) -> dict:
        t = self.tables.get(name)
        if t is None:
            t = {"schemas": [json.dumps(schema.jsonValue())],
                 "schema_id": 0,
                 "key_cols": list(key_cols),
                 "n_buckets": n_buckets,
                 "shards": {},
                 "markers": {}}
            self.tables[name] = t
            self._created.add(name)
        self._base_schemas.setdefault(name, list(t["schemas"]))
        return t

    def _evolve_schema(self, name: str, t: dict,
                       incoming: StructType) -> StructType:
        current = _schema(t)
        merged = merge_schemas(current, incoming)
        if merged.jsonValue() != current.jsonValue():
            s = json.dumps(merged.jsonValue())
            t["schemas"].append(s)
            t["schema_id"] = len(t["schemas"]) - 1
            self._schema_added.setdefault(name, []).append(s)
        return merged

    def _write_bucketed(self, table: str, t: dict, df: DataFrame,
                        schema: StructType,
                        buckets: list[int] | None,
                        extra_cols: tuple[str, ...] = (),
                        align_schema: bool = True,
                        pre_partitioned: bool = False,
                        sort_keys: bool = False
                        ) -> dict[str, list[dict]]:
        """Write df (aligned to schema + passthrough extras) partitioned
        by bucket; returns {bucket: [file entries]}. ``buckets`` limits
        output to the touched set (None = all). ``pre_partitioned``: the
        caller already clustered rows by the bucket key (e.g. blobs were
        exchanged on the bucket BEFORE extraction, so the extracted rows
        inherit it) — write in place, no second shuffle. ``sort_keys``:
        sort rows by the merge key within each task before writing
        [Iceberg: rewrite_data_files with a sort order] — parquet
        row-group stats then carry tight, disjoint key ranges, so a
        point lookup inside a LARGE compacted bucket prunes to one row
        group instead of scanning the file. Maintenance rewrites
        (compact/rebucket) pay this per-task sort off the ingest
        critical path; the hot ingest path never does (per-commit files
        are small and already pruned at file granularity via footer
        bounds)."""
        key_cols = tuple(t["key_cols"])
        nb = t["n_buckets"]
        if align_schema:
            out = _align(df, schema, extras=extra_cols)
        else:
            out = df
        out = out.withColumn("_bucket", _bucket_expr(key_cols, nb))
        if buckets is not None:
            out = out.filter(F.col("_bucket").isin(buckets))
        rel = self._stage_dir(table)
        full = os.path.join(self.cat.root, rel)
        if not pre_partitioned:
            # hash-repartition by bucket: several buckets may share a
            # task (partitionBy still yields one file per bucket per
            # task), so task count tracks cores, not bucket count — no
            # tiny-file waves at low parallelism, no idle cores at high
            n_buckets_out = max(len(buckets or []) or nb, 1)
            par = self.cat.spark.sparkContext.defaultParallelism
            k = max(1, min(n_buckets_out, 2 * par))
            out = out.repartition(k, "_bucket")
        if sort_keys:
            out = out.sortWithinPartitions("_bucket", *key_cols)
        out.write.partitionBy("_bucket").mode("overwrite").parquet(full)
        todo: list[tuple[str, str, str]] = []  # (bucket, relpath, abspath)
        for entry in sorted(os.listdir(full)):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(full, entry)
            for fn in sorted(os.listdir(bdir)):
                if fn.endswith(".parquet"):
                    todo.append((b, os.path.join(rel, entry, fn),
                                 os.path.join(bdir, fn)))
        # footer bounds are metadata-only reads but were SERIAL driver
        # work — one pyarrow open per written file per merge sat
        # between the write job and the commit on the ingest hot path;
        # the reads are I/O + GIL-releasing C parsing, so a small
        # thread pool recovers them concurrently
        from concurrent.futures import ThreadPoolExecutor
        sid = t["schema_id"]
        files: dict[str, list[dict]] = {}
        if todo:
            with ThreadPoolExecutor(
                    max_workers=min(16, len(todo))) as pool:
                kbs = list(pool.map(
                    lambda x: _footer_key_bounds(x[2], key_cols), todo))
            for (b, relp, _), kb in zip(todo, kbs):
                e = {"path": relp, "schema_id": sid}
                if kb:
                    e["bounds"] = kb
                files.setdefault(b, []).append(e)
        return files

    # -- operations --------------------------------------------------------------

    def create_or_replace(self, name: str, df: DataFrame,
                          key_cols: tuple[str, ...],
                          n_buckets: int = 32) -> None:
        t = self._ensure_table(name, df.schema, key_cols, n_buckets)
        schema = self._evolve_schema(name, t, df.schema)
        self._replace_buckets(name, t,
                              self._write_bucketed(name, t, df, schema,
                                                   None))
        t["markers"] = {}
        self._ops.append({"op": "replace", "table": name})

    def append(self, name: str, df: DataFrame,
               key_cols: tuple[str, ...] = (),
               n_buckets: int = 1) -> None:
        """Append-only write (metrics/log tables)."""
        t = self._ensure_table(name, df.schema,
                               key_cols or tuple(df.columns[:1]), n_buckets)
        schema = self._evolve_schema(name, t, df.schema)
        files = self._write_bucketed(name, t, df, schema, None)
        for b, fs in files.items():
            self._extend_bucket(name, t, b, fs)
        self._ops.append({
            "op": "append", "table": name, "schema_id": t["schema_id"],
            "files": [e["path"] for fs in files.values() for e in fs]})

    def append_rows(self, name: str, rows: list[tuple],
                    schema: StructType) -> None:
        """Driver-side append for TINY tables (per-batch metrics, log
        lines): one pyarrow parquet write, zero Spark jobs. Commit
        semantics identical to append(); Spark reads the file back
        through the normal manifest path. Never use for data-sized
        tables — this is for bounded driver metadata only."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = self._ensure_table(name, schema,
                               (schema.fields[0].name,), 1)
        schema = _schema(t)
        _PA = {"integer": pa.int32(), "long": pa.int64(),
               "double": pa.float64(), "string": pa.string(),
               "boolean": pa.bool_()}
        arrow = pa.schema([(f.name, _PA[f.dataType.typeName()])
                           for f in schema.fields])
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        table = pa.table({f.name: list(c) for f, c in
                          zip(schema.fields, cols)}, schema=arrow)
        rel = self._stage_dir(name)
        bdir = os.path.join(self.cat.root, rel, "_bucket=0")
        os.makedirs(bdir, exist_ok=True)
        fn = os.path.join(bdir, "part-00000.parquet")
        pq.write_table(table, fn)
        rel_path = os.path.join(rel, "_bucket=0", os.path.basename(fn))
        self._extend_bucket(name, t, "0", [
            {"path": rel_path, "schema_id": t["schema_id"]}])
        self._ops.append({"op": "append", "table": name,
                          "schema_id": t["schema_id"],
                          "files": [rel_path]})

    def next_seq(self) -> int:
        """The MoR sequence this transaction's merges will commit at
        (used by task-side writers that stamp ``_seq`` themselves)."""
        return self.base["version"] + 1

    def stage_rel(self, table: str) -> str:
        """Reserve a fresh staging directory (relative to the lake
        root) for externally-written data files of ``table``. The files
        become visible only when registered via ``merge_files`` and
        published by commit; unregistered files are vacuum garbage."""
        return self._stage_dir(table)

    def merge_files(self, name: str, row_schema: StructType,
                    entries_by_bucket: dict[str, list[dict]],
                    delete_keys: DataFrame,
                    key_cols: tuple[str, ...],
                    n_buckets: int = 32,
                    touched: list[int] | None = None,
                    approx_keys: int | None = None) -> dict:
        """MERGE/upsert where the data files were already written by
        the caller's tasks (arrow-native fused writer,
        operators/fused_write.py) into a ``stage_rel`` directory at
        sequence ``next_seq()``. Registers exactly the given file
        entries — never a directory listing, so a retried task's
        orphan partials can't leak in — then writes the key markers
        and the op journal exactly as ``merge_replace_keys`` does.

        ``entries_by_bucket``: {bucket-id str: [{"path": rel, ...}]}.
        """
        t = self._ensure_table(name, row_schema, key_cols, n_buckets)
        self._evolve_schema(name, t, row_schema)
        seq = self.next_seq()

        keys = delete_keys.select(*key_cols).distinct()
        touched = sorted(set(touched if touched is not None
                             else (int(b) for b in entries_by_bucket)))
        if not touched and not entries_by_bucket:
            return {"buckets": [], "files": []}
        self._touched.update((name, str(b)) for b in touched)

        sid = t["schema_id"]
        files: dict[str, list[dict]] = {}
        for b, es in entries_by_bucket.items():
            files[str(b)] = [
                {"path": e["path"], "schema_id": sid,
                 **({"bounds": e["bounds"]} if e.get("bounds") else {})}
                for e in es]
        return self._register_merge(name, t, files, keys, seq, touched,
                                    approx_keys)

    def _register_merge(self, name: str, t: dict,
                        files: dict[str, list[dict]], keys: DataFrame,
                        seq: int, touched: list[int],
                        approx_keys: int | None) -> dict:
        """The tail both merge writers share: add the staged data files
        to their buckets, write the batch's key markers at ``seq`` and
        journal the op. Returns the merge stats."""
        sid = t["schema_id"]
        for b, fs in files.items():
            self._extend_bucket(name, t, b, fs)
        entries = self._write_markers(name, t, keys, approx_keys, seq)
        self._append_markers(name, t, entries)
        self._ops.append({
            "op": "merge", "table": name, "schema_id": sid,
            "files": [e["path"] for fs in files.values() for e in fs],
            "markers": [e["path"] for e in entries]})
        new_paths = [os.path.join(self.cat.root, e["path"])
                     for fs in files.values() for e in fs]
        return {"buckets": touched, "files": new_paths}

    # batches whose key count is known to be at most this write their
    # marker file driver-side with pyarrow (one collect of slim key
    # rows) instead of spinning a dedicated single-task Spark job —
    # same fixed-cost argument as the metrics flush
    DRIVER_MARKERS_MAX = 200_000

    def _write_markers(self, name: str, t: dict, markers: DataFrame,
                       approx_keys: int | None = None,
                       seq: int | None = None) -> list[dict]:
        """Write a marker set (the key columns in key order, then
        ``seq``; one row per key) as ONE key-sorted parquet file, stored
        unbucketed, and return its manifest entries. Key-ordered rows
        give the parquet footer/page stats tight key ranges, so a point
        lookup's marker scan prunes to the page(s) holding its key.

        A merge passes only the key columns and its one ``seq``, which
        is stamped here: collecting the keys with a literal ``seq``
        column took 50-130 ms longer per 60-event batch than collecting
        the keys alone (local[4], 4-core host).

        A null-free set whose size the caller bounds by ``approx_keys``
        <= DRIVER_MARKERS_MAX is collected and written DRIVER-SIDE with
        pyarrow: on the ingest path a dedicated one-task Spark job is
        pure fixed cost. Any other set (unhinted, larger, holding a
        null, or of a type the driver write does not map) takes the
        one-file sorted Spark write; both write the same rows, order,
        names and types."""
        key_cols = list(t["key_cols"])
        rel = self._stage_dir(name + ".markers")
        full = os.path.join(self.cat.root, rel)
        _PA_TYPES = {"string": "string", "bigint": "int64",
                     "int": "int32", "double": "float64"}
        pa_types = [(f.name, _PA_TYPES.get(f.dataType.simpleString()))
                    for f in markers.schema.fields]
        if seq is not None:
            pa_types.append(("seq", "int64"))
        rows = None
        if approx_keys is not None \
                and approx_keys <= self.DRIVER_MARKERS_MAX \
                and all(tp for _c, tp in pa_types):
            rows = [tuple(r) for r in markers.collect()]
            if any(v is None for r in rows for v in r):
                # Python cannot order None against values; the Spark
                # write below sorts nulls first
                rows = None
        if rows is not None:
            import pyarrow as pa
            import pyarrow.parquet as pq
            rows.sort()
            if seq is not None:
                rows = [r + (seq,) for r in rows]
            schema = pa.schema([(c, getattr(pa, tp)())
                                for c, tp in pa_types])
            cols = {c: [r[i] for r in rows]
                    for i, (c, _tp) in enumerate(pa_types)}
            os.makedirs(full, exist_ok=True)
            pq.write_table(pa.table(cols, schema=schema),
                           os.path.join(full, "part-00000.parquet"))
        else:
            if seq is not None:
                markers = markers.withColumn("seq", F.lit(seq).cast("long"))
            markers.coalesce(1).sortWithinPartitions(*key_cols) \
                .write.mode("overwrite").parquet(full)
        return [{"path": os.path.join(rel, fn),
                 "schema_id": t["schema_id"],
                 "bytes": os.path.getsize(os.path.join(full, fn))}
                for fn in sorted(os.listdir(full))
                if fn.endswith(".parquet")]

    def merge_replace_keys(self, name: str, new_rows: DataFrame,
                           delete_keys: DataFrame,
                           key_cols: tuple[str, ...],
                           n_buckets: int = 32,
                           touched: list[int] | None = None,
                           pre_partitioned: bool = False,
                           approx_keys: int | None = None) -> dict:
        """The MERGE/upsert, merge-on-read: atomically replace every row
        whose merge key appears in ``delete_keys`` with the rows of
        ``new_rows`` (keys not previously present are plain inserts).

        CDC semantics for file blobs: an update re-extracts the whole
        file, so its old rows are dropped wholesale (a sheet may
        shrink); a delete contributes a key with no new rows. Equivalent
        to Iceberg MoR `MERGE INTO` with equality deletes: the batch's
        rows are appended stamped with this commit's sequence, and the
        batch's keys land in a marker file at the same sequence; readers
        drop rows older than their key's newest marker. Write cost is
        O(batch) — the table is never rewritten here (see ``compact``).
        """
        t = self._ensure_table(name, new_rows.schema, key_cols, n_buckets)
        schema = self._evolve_schema(name, t, new_rows.schema)
        nb = t["n_buckets"]
        seq = self.next_seq()

        keys = delete_keys.select(*key_cols).distinct()
        if touched is None:
            # touched buckets: small (<= nb) — safe to collect
            touched = sorted(
                r[0] for r in keys.select(
                    _bucket_expr(key_cols, nb).alias("b"))
                .distinct().collect())
        else:
            touched = sorted(set(touched))
        if not touched:
            return {"buckets": [], "files": []}
        self._touched.update((name, str(b)) for b in touched)

        data = _align(new_rows, schema).withColumn(
            "_seq", F.lit(seq).cast("long"))
        files = self._write_bucketed(name, t, data, schema, touched,
                                     extra_cols=("_seq",),
                                     pre_partitioned=pre_partitioned)
        return self._register_merge(name, t, files, keys, seq, touched,
                                    approx_keys)

    def compact(self, name: str,
                buckets: list[int] | None = None) -> None:
        """Fold markers into the data. The maintenance analog of Iceberg
        rewrite_data_files + rewrite_position_delete_files; run
        periodically, off the ingest critical path.

        ``buckets=None``: full compaction — rewrite every bucket with
        only live rows, drop all marker files.

        ``buckets=[...]``: INCREMENTAL compaction — rewrite only the
        chosen buckets (pick them by marker density, see
        ``LakeCatalog.marker_bucket_counts``) and shrink the marker set
        to the keys of the remaining buckets. Cost is O(chosen buckets'
        data + markers), never O(table): at 10^10 events a full rewrite
        is an O(table) job on the maintenance path, while bucket-at-a-
        time keeps each maintenance commit bounded. Untouched buckets'
        shard pointers are not dirtied — their commit metadata is
        byte-identical.

        Both go through ``_rewrite``. Must precede other ops on the
        table in this txn."""
        t = self.tables.get(name)
        if not t or not t["markers"]:
            return
        if buckets is not None and not buckets:
            return
        self._require_first_op(name, "compact")
        self._rewrite(name, t, None if buckets is None
                      else sorted({int(b) for b in buckets}))
        self._ops.append({"op": "compact", "table": name})

    def rebucket(self, name: str, new_n_buckets: int) -> None:
        """Bucket-spec evolution: rewrite the table under a new bucket
        count [Iceberg: partition-spec evolution + rewrite_data_files].
        A table created at 64 buckets cannot stay there at 10^10 rows —
        per-bucket data outgrows task memory and the write grain stops
        matching the cluster. Rebucketing is an O(table) maintenance
        rewrite (run rarely; factor-of-k jumps amortize to O(log)
        rewrites over a table's lifetime): it flips ``n_buckets``, then
        rewrites every bucket like a full compact, so every later
        writer/reader routes by the new spec — writers follow the
        manifest, never a config (CdcPipeline._sync_bucket_spec).
        Logically invisible to readers and to the changelog.

        Must precede other ops on the table in this txn."""
        t = self.tables.get(name)
        if not t:
            raise KeyError(f"lake: no such table {name!r}")
        new_n_buckets = int(new_n_buckets)
        if new_n_buckets < 1:
            raise ValueError(
                f"rebucket({name!r}): n_buckets must be >= 1, "
                f"got {new_n_buckets}")
        if new_n_buckets == t["n_buckets"]:
            return
        self._require_first_op(name, "rebucket")
        t["n_buckets"] = new_n_buckets
        self._rewrite(name, t, None)
        self._ops.append({"op": "rebucket", "table": name,
                          "n_buckets": new_n_buckets})

    def _require_first_op(self, name: str, what: str) -> None:
        """Maintenance resolves the table's COMMITTED state, so it must
        be the txn's first op on the table."""
        if any(op.get("table") == name for op in self._ops):
            raise RuntimeError(
                f"{what}({name!r}) must precede other writes to that "
                "table in a txn: it resolves committed state and would "
                "silently drop changes staged earlier")

    def _rewrite(self, name: str, t: dict,
                 buckets: list[int] | None) -> None:
        """The one data rewrite behind compact and rebucket: read the
        live rows of ``buckets`` (None: every bucket) at committed
        state, stamp them with the committed base version, write them
        key-sorted [Iceberg: rewrite_data_files with a sort order] and
        bucketed by ``t["n_buckets"]``, and install them — a bucket that
        rewrote to zero rows drops its shard. Then fold the markers:
        cleared when every bucket was rewritten, else shrunk to the keys
        of the buckets left alone.

        The stamp is the base version, not ``next_seq()``: every merge
        after the rewrite, in this txn or a later one, commits at a
        higher seq and supersedes the rewritten rows, and no marker
        that survives the fold covers a rewritten key (a tie would keep
        the old row next to the merged one). A read of every bucket
        does not route by ``n_buckets``, which is why rebucket may flip
        it first."""
        self._exclusive.add(name)  # wholesale rewrite: no rebase
        live = self.cat.read(name, {"tables": self.tables, "version": -1},
                             buckets=buckets) \
            .withColumn("_seq", F.lit(self.base["version"]).cast("long"))
        files = self._write_bucketed(name, t, live, _schema(t), buckets,
                                     extra_cols=("_seq",), sort_keys=True)
        self._replace_buckets(name, t, files, buckets)
        markers = None if buckets is None else self.cat._markers(t)[0]
        t["markers"] = {}
        if markers is not None:
            kept = markers.filter(~_bucket_expr(
                tuple(t["key_cols"]), t["n_buckets"]).isin(buckets))
            t["markers"] = {"_all": self._write_markers(name, t, kept)}

    def squash_markers(self, name: str) -> int:
        """Maintenance: rewrite the table's marker set as ONE file
        holding max(seq) per key. Every merge commit appends a marker
        file and reads union them all, so between compactions the
        marker FILE count grows linearly with commits even while the
        key set stays small. Squashing is O(distinct touched keys) and
        never touches a data file — the cheap complement to compact()
        (which folds markers into the data and is O(chosen buckets'
        data)). Logically invisible: the read's per-key max(seq) is
        unchanged, and changes() ignores the op. Returns the number of
        marker files replaced (0 = nothing to do).

        Must precede other ops on the table in this txn: it reads the
        committed marker state."""
        t = self.tables.get(name)
        if not t or not t["markers"]:
            return 0
        self._require_first_op(name, "squash_markers")
        n_before = sum(len(fs) for fs in t["markers"].values())
        if n_before <= 1:
            return 0
        self._exclusive.add(name)  # wholesale marker rewrite: no rebase
        markers, _bytes = self.cat._markers(t)
        latest = (markers.groupBy(*t["key_cols"])
                  .agg(F.max("seq").alias("seq")))
        t["markers"] = {"_all": self._write_markers(name, t, latest)}
        self._ops.append({"op": "squash_markers", "table": name})
        return n_before

    def tag(self, tag: str, version: int | None = None) -> None:
        """Named snapshot ref [Iceberg: tags / create_tag]: pin a
        manifest version under a stable name — the dataset-release
        primitive (a training pipeline reads ``read_tag(t, "v1.2")``
        forever while ingest moves the table forward). Tagged versions
        survive vacuum: their manifest is never pruned and the files
        they reference stay live. Defaults to the snapshot this txn
        was begun from."""
        if not tag or not isinstance(tag, str):
            raise ValueError("lake: tag name must be a non-empty str")
        v = self.base["version"] if version is None else int(version)
        if v < 1 or v > self.base["version"]:
            raise ValueError(
                f"lake: tag {tag!r} version {v} out of range "
                f"[1, {self.base['version']}]")
        if not os.path.exists(self.cat._manifest_path(v)):
            # tagging an already-vacuumed version would wedge every
            # later vacuum/read_tag on a missing manifest
            raise ValueError(
                f"lake: tag {tag!r} version {v} was expired by vacuum "
                "(manifest missing) — cannot pin it")
        self.tags[tag] = v
        self._ops.append({"op": "tag", "tag": tag, "version": v})

    def untag(self, tag: str) -> None:
        """Drop a snapshot tag; its version becomes vacuumable again."""
        if tag not in self.tags:
            raise KeyError(f"lake: no such tag {tag!r}")
        del self.tags[tag]
        self._ops.append({"op": "untag", "tag": tag})

    def set_checkpoint(self, offsets: dict[str, int],
                       lineage_entry: dict | None = None,
                       keep_lineage: int = 1000) -> None:
        upd = {str(k): int(v) for k, v in offsets.items()}
        self.checkpoint.update(upd)
        self._ckpt_delta.update(upd)
        if lineage_entry is not None:
            self.lineage.append(lineage_entry)
            self._lineage_added.append(lineage_entry)
            self.lineage = self.lineage[-keep_lineage:]

    # -- commit --------------------------------------------------------------------

    def _tag_names(self) -> set[str]:
        return {op["tag"] for op in self._ops
                if op.get("op") in ("tag", "untag")}

    def _footprint(self) -> dict:
        """What this commit touches — published in the manifest so a
        LATER conflicting transaction can prove disjointness and rebase
        (Iceberg-style optimistic commit retry)."""
        return {
            "buckets": sorted([n, b]
                              for n, b in (self._dirty | self._touched)),
            "marker_tables": sorted(self._marker_added),
            "schema_tables": sorted(self._schema_added),
            "exclusive_tables": sorted(self._exclusive | self._created),
            "ckpt_keys": sorted(self._ckpt_delta),
            "tags": sorted(self._tag_names()),
        }

    def _touched_tables(self) -> set[str]:
        return ({n for n, _b in (self._dirty | self._touched)}
                | set(self._marker_added) | set(self._schema_added)
                | self._exclusive | self._created)

    @staticmethod
    def _fp_tables(fp: dict) -> set[str]:
        return ({n for n, _b in fp.get("buckets", [])}
                | set(fp.get("marker_tables", []))
                | set(fp.get("schema_tables", []))
                | set(fp.get("exclusive_tables", [])))

    def _conflict_reason(self, their_fp: dict | None) -> str | None:
        """None iff this txn's delta provably composes with an
        already-committed transaction's footprint."""
        if their_fp is None:
            return "concurrent commit predates footprint metadata"
        ours = set(self._dirty) | set(self._touched)
        theirs = set(map(tuple, (tuple(x) for x in
                                 their_fp.get("buckets", []))))
        hit = ours & theirs
        if hit:
            return f"bucket overlap: {sorted(hit)[:4]}"
        their_tables = self._fp_tables(their_fp)
        excl = (self._exclusive | self._created) & their_tables
        if excl:
            # OUR wholesale op (compact/squash/rebucket/replace/create)
            # read state the other commit has since changed
            return f"exclusive-table overlap (ours): {sorted(excl)}"
        # THEIR schema evolution invalidates our staged schema_id
        # indices; their exclusive op is fine UNDER disjoint buckets
        # (our delta is purely additive on top of it — see _rebase)
        sch = set(their_fp.get("schema_tables", [])) \
            & self._touched_tables()
        if sch:
            return f"concurrent schema evolution: {sorted(sch)}"
        ck = set(self._ckpt_delta) & set(their_fp.get("ckpt_keys", []))
        if ck:
            return f"checkpoint cursor overlap: {sorted(ck)}"
        tg = self._tag_names() & set(their_fp.get("tags", []))
        if tg:
            return f"tag overlap: {sorted(tg)}"
        return None

    def _rebase(self) -> None:
        """Re-apply this transaction's DELTA onto the current manifest
        after a commit conflict. Only purely-additive transactions
        (merge/append/checkpoint/tag) rebase; wholesale ops raise.

        Safety of keeping the already-staged files' ``_seq`` stamp (the
        OLD base version + 1): a row/marker at seq S only interacts
        with rows/markers of the SAME merge key, and same key => same
        bucket — which the bucket-overlap check proves disjoint from
        every concurrent commit. Future merges commit at strictly
        higher sequences, so ordering is unaffected."""
        newbase = self.cat.manifest()
        for v in range(self.base["version"] + 1,
                       newbase["version"] + 1):
            fp = self.cat.manifest_at(v).get("footprint")
            reason = self._conflict_reason(fp)
            if reason:
                raise RuntimeError(
                    f"lake: commit conflict with v{v} ({reason})")

        tables = json.loads(json.dumps(newbase.get("tables", {})))
        for name in self._touched_tables():
            mine = self.tables[name]
            if name in self._created:
                if name in tables:
                    raise RuntimeError(
                        f"lake: commit conflict — table {name!r} "
                        "created concurrently")
                tables[name] = mine
                continue
            if name in self._exclusive:
                # the conflict check proved no concurrent commit touched
                # this table, so our wholesale rewrite of it (computed
                # from the old base) is still exact — install verbatim
                tables[name] = mine
                continue
            t_new = tables.get(name)
            if t_new is None:
                raise RuntimeError(
                    f"lake: commit conflict — table {name!r} dropped "
                    "concurrently")
            if t_new["n_buckets"] != mine["n_buckets"]:
                raise RuntimeError(
                    f"lake: commit conflict — {name!r} rebucketed "
                    "concurrently")
            if t_new["schemas"] != self._base_schemas.get(
                    name, t_new["schemas"]):
                raise RuntimeError(
                    f"lake: commit conflict — {name!r} schema list "
                    "changed concurrently")
            self._base_schemas[name] = list(t_new["schemas"])
            for s in self._schema_added.get(name, []):
                t_new["schemas"].append(s)
                t_new["schema_id"] = len(t_new["schemas"]) - 1
            ents = self._marker_added.get(name)
            if ents:
                t_new["markers"].setdefault("_all", []).extend(ents)

        cache: dict[tuple[str, str], list[dict]] = {}
        dirty: set[tuple[str, str]] = set()
        for key in self._dirty:
            name, b = key
            if name in self._exclusive or name in self._created:
                # whole-bucket lists were computed from state the
                # conflict check proved untouched — keep them verbatim
                cache[key] = self._bucket_cache[key]
            else:
                cache[key] = list(self.cat.bucket_entries(
                    tables[name], b)) + list(self._added.get(key, []))
            dirty.add(key)
        self._bucket_cache = cache
        self._dirty = dirty
        self.tables = tables
        self.checkpoint = dict(newbase.get("checkpoint", {}))
        self.checkpoint.update(self._ckpt_delta)
        self.lineage = (list(newbase.get("lineage", []))
                        + self._lineage_added)[-1000:]
        self.tags = dict(newbase.get("tags", {}))
        for op in self._ops:
            if op.get("op") == "tag":
                self.tags[op["tag"]] = op["version"]
            elif op.get("op") == "untag":
                self.tags.pop(op["tag"], None)
        self.base = newbase

    def commit(self, max_retries: int = 5) -> int:
        """Publish atomically; on a concurrent-commit conflict, rebase
        this transaction's delta onto the new base and retry (bounded),
        raising only when the commits provably overlap — the Iceberg
        commit-retry semantics that let ingest and maintenance (e.g. a
        squash/compact of another table, or of disjoint buckets) run
        concurrently at scale.

        Writes ONE shard JSON per dirty (table, bucket) plus the small
        root manifest — commit metadata cost is O(touched buckets), not
        O(total live files). Shards are immutable and published before
        the root link; a crash (or a lost retry) in between leaves only
        unreferenced shard files, which vacuum() collects."""
        attempt = 0
        while True:
            version = self.base["version"] + 1
            for name, b in sorted(self._dirty):
                t = self.tables[name]
                entries = self._bucket_cache[(name, b)]
                shards = t["shards"]
                if not entries:
                    shards.pop(b, None)
                    continue
                rel = os.path.join(SHARD_DIR, name,
                                   f"{self.txn_id}-v{version}-{b}.json")
                full = os.path.join(self.cat.root, rel)
                os.makedirs(os.path.dirname(full), exist_ok=True)
                with open(full, "w") as f:
                    json.dump(entries, f)
                shards[b] = rel
            # per-table change chain: last_change[t] = newest version
            # that changed t's rows; change_chain[t] = the previous one
            # (for tables THIS commit changes) — lets changes() walk
            # O(delta commits) manifests instead of O(window)
            last_change = dict(self.base.get("last_change", {}))
            chain: dict[str, int] = {}
            for op in self._ops:
                if op.get("op") in ("merge", "append", "replace") \
                        and op.get("table"):
                    nm = op["table"]
                    if nm not in chain:
                        chain[nm] = int(last_change.get(nm, 0))
                    last_change[nm] = version
            manifest = {"version": version,
                        "tables": self.tables,
                        "checkpoint": self.checkpoint,
                        "tags": self.tags,
                        "lineage": self.lineage,
                        "ops": self._ops,
                        "footprint": self._footprint(),
                        "last_change": last_change,
                        "change_chain": chain}
            tmp = self.cat._manifest_path(version) + f".{self.txn_id}.tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            final = self.cat._manifest_path(version)
            try:
                os.link(tmp, final)  # atomic create-if-absent
                return version
            except FileExistsError:
                if attempt >= max_retries:
                    raise RuntimeError(
                        f"lake: commit conflict at version {version} "
                        f"(gave up after {attempt} rebases)")
                attempt += 1
                self._rebase()  # raises RuntimeError on true conflict
            finally:
                os.unlink(tmp)
