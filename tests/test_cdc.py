"""CDC engine semantics: exactly-once MERGE, idempotent re-apply,
out-of-order offsets, deletes, schema evolution, checkpoint/resume,
crash injection, lineage/metrics, and the sha256 golden parity gate."""

import functools
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from grate_spark.cdc.events import (fixture_events, synthetic_doc_events,
                                    expected_final_blobs)
from grate_spark.cdc.lake import LakeCatalog, merge_schemas, widen_type
from grate_spark.cdc.pipeline import CdcPipeline

SF = os.environ.get("GRATE_TEST_SF", "/root/testdata/sf0.001")
REF = "/root/reference/testdata"

CONTENT_COLS = ["repo", "path", "sheet", "row_id", "cells",
                "content_sha256", "error"]


def state_fingerprint(df, cols=None):
    """Order-independent table-state hash for equality assertions."""
    cols = cols or CONTENT_COLS
    return (df.select(
        F.sha2(F.concat_ws("\x1f",
                           *[F.coalesce(F.col(c).cast("string"),
                                        F.lit("\x00")) for c in cols]),
               256).alias("h"))
        .agg(F.sha2(F.concat_ws("", F.sort_array(F.collect_list("h"))),
                    256).alias("state"))
        .collect()[0]["state"])


# --------------------------------------------------------------------------
# lake unit tests

def test_widen_type_chain():
    assert widen_type(IntegerType(), LongType()).simpleString() == "bigint"
    assert widen_type(LongType(), DoubleType()).simpleString() == "double"
    assert widen_type(DoubleType(), StringType()).simpleString() == "string"
    assert widen_type(StringType(), IntegerType()).simpleString() == "string"


def test_merge_schemas_adds_and_widens():
    old = StructType([StructField("k", StringType()),
                      StructField("v", IntegerType())])
    new = StructType([StructField("k", StringType()),
                      StructField("v", DoubleType()),
                      StructField("extra", LongType())])
    m = merge_schemas(old, new)
    assert [f.name for f in m.fields] == ["k", "v", "extra"]
    assert m["v"].dataType.simpleString() == "double"


def test_lake_append_and_read(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    txn = cat.begin()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    txn.append("t", df)
    v = txn.commit()
    assert v == 1
    got = cat.read("t").orderBy("id").collect()
    assert [(r["id"], r["s"]) for r in got] == [(1, "a"), (2, "b")]


def test_lake_merge_replace(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    txn = cat.begin()
    base = spark.createDataFrame(
        [("r", "p1", 0, "x"), ("r", "p1", 1, "y"), ("r", "p2", 0, "z")],
        "repo string, path string, row_id int, v string")
    txn.merge_replace_keys("t", base, base.select("repo", "path"),
                           ("repo", "path"), n_buckets=4)
    txn.commit()

    # replace p1 with ONE row (sheet shrank), delete p2, insert p3
    txn2 = cat.begin()
    new = spark.createDataFrame([("r", "p1", 0, "X"), ("r", "p3", 0, "w")],
                                "repo string, path string, row_id int, "
                                "v string")
    keys = spark.createDataFrame([("r", "p1"), ("r", "p2"), ("r", "p3")],
                                 "repo string, path string")
    txn2.merge_replace_keys("t", new, keys, ("repo", "path"), n_buckets=4)
    txn2.commit()

    got = sorted((r["path"], r["row_id"], r["v"])
                 for r in cat.read("t").collect())
    assert got == [("p1", 0, "X"), ("p3", 0, "w")]


def test_lake_merge_null_key(spark, tmp_path):
    """A key set holding a null (e.g. an event whose repo is null) is
    small enough for the driver-side marker write, which cannot order
    None against strings: it takes the Spark write and commits."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [("r", "p1", 0, "x"), (None, "p2", 0, "y"), ("q", "p3", 0, "z")],
        "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=4, approx_keys=3)
    txn.commit()
    got = sorted((r["path"], r["repo"], r["v"])
                 for r in cat.read("t").collect())
    assert got == [("p1", "r", "x"), ("p2", None, "y"), ("p3", "q", "z")]


def test_marker_writer_branches_write_identical_files(spark, tmp_path):
    """The marker writer's driver-side (pyarrow) and Spark branches
    write the same file for the same marker set: rows, row order,
    column names and arrow types, over string, bigint and int keys. A
    small key set holding a null takes the Spark branch."""
    import pyarrow.parquet as pq

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    t = {"key_cols": ["s", "b", "i"], "schema_id": 0}
    keys = [("b", 2, 1), ("a", 5, -3), ("é", -1, 0), ("a", 5, -4),
            ("a", -9, 2), ("Z", 0, 0)]
    schema = "s string, b bigint, i int"
    df = spark.createDataFrame(keys, schema)
    txn = cat.begin()

    def written(entries):
        assert len(entries) == 1 and entries[0]["bytes"] > 0
        path = os.path.join(cat.root, entries[0]["path"])
        return (pq.ParquetFile(path).metadata.created_by,
                pq.read_table(path))

    # a merge's key set stamped with its seq, through both branches; a
    # set that carries its own seq column (squash, compaction shrink)
    by_driver, driver = written(
        txn._write_markers("t", t, df, approx_keys=len(keys), seq=7))
    by_spark, on_spark = written(txn._write_markers("t", t, df, seq=7))
    _by, with_seq = written(txn._write_markers(
        "t", t, df.withColumn("seq", F.lit(7).cast("long"))))
    assert "parquet-cpp" in by_driver and "parquet-mr" in by_spark
    for other in (on_spark, with_seq):
        assert driver.column_names == other.column_names \
            == ["s", "b", "i", "seq"]
        assert driver.schema.types == other.schema.types
        assert driver.to_pylist() == other.to_pylist()
    assert [tuple(r.values()) for r in driver.to_pylist()] \
        == sorted(k + (7,) for k in keys)

    with_null = df.union(spark.createDataFrame([(None, 1, 1)], schema))
    by, got = written(txn._write_markers("t", t, with_null,
                                         approx_keys=len(keys) + 1, seq=7))
    assert "parquet-mr" in by
    assert got.to_pylist()[0]["s"] is None


def test_lake_read_rejects_pre_shard_manifest(spark, tmp_path):
    """A manifest that lists a bucket's files inline (no ``shards``
    pointers) is a form no writer produces: reading it raises KeyError
    instead of returning a table."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "lake"
    cat = LakeCatalog(spark, str(root))
    rel = os.path.join("data", "t", "old", "part-0.parquet")
    os.makedirs(root / "data" / "t" / "old")
    pq.write_table(pa.table({"k": ["a"], "v": [1]}), str(root / rel))
    schema = StructType([StructField("k", StringType()),
                         StructField("v", LongType())])
    manifest = {"version": 1, "checkpoint": {}, "lineage": [],
                "tables": {"t": {
                    "schemas": [schema.json()], "schema_id": 0,
                    "key_cols": ["k"], "n_buckets": 1, "markers": {},
                    "files": {"0": [{"path": rel, "schema_id": 0}]}}}}
    with open(cat._manifest_path(1), "w") as f:
        json.dump(manifest, f)
    with pytest.raises(KeyError):
        cat.read("t")


def test_lake_schema_evolution_on_merge(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    txn = cat.begin()
    v1 = spark.createDataFrame([("a", 1)], "k string, n int")
    txn.merge_replace_keys("t", v1, v1.select("k"), ("k",), n_buckets=2)
    txn.commit()

    txn2 = cat.begin()
    v2 = spark.createDataFrame([("b", 2.5, "new")],
                               "k string, n double, extra string")
    txn2.merge_replace_keys("t", v2, v2.select("k"), ("k",), n_buckets=2)
    txn2.commit()

    df = cat.read("t")
    assert df.schema["n"].dataType.simpleString() == "double"
    assert "extra" in df.columns
    rows = {r["k"]: (r["n"], r["extra"]) for r in df.collect()}
    assert rows["a"] == (1.0, None)      # old file upcast + null-filled
    assert rows["b"] == (2.5, "new")


def _three_version_lake(spark, tmp_path):
    """v1: insert p1(2 rows)+p2; v2: replace p1 (shrink), delete p2,
    insert p3; v3: compact. Returns the catalog."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    txn = cat.begin()
    base = spark.createDataFrame(
        [("r", "p1", 0, "x"), ("r", "p1", 1, "y"), ("r", "p2", 0, "z")],
        "repo string, path string, row_id int, v string")
    txn.merge_replace_keys("t", base, base.select("repo", "path"),
                           ("repo", "path"), n_buckets=4)
    txn.commit()
    txn2 = cat.begin()
    new = spark.createDataFrame([("r", "p1", 0, "X"), ("r", "p3", 0, "w")],
                                "repo string, path string, row_id int, "
                                "v string")
    keys = spark.createDataFrame([("r", "p1"), ("r", "p2"), ("r", "p3")],
                                 "repo string, path string")
    txn2.merge_replace_keys("t", new, keys, ("repo", "path"), n_buckets=4)
    txn2.commit()
    txn3 = cat.begin()
    txn3.compact("t")
    txn3.commit()
    return cat


def test_lake_time_travel_read_version(spark, tmp_path):
    cat = _three_version_lake(spark, tmp_path)
    assert cat.current_version() == 3

    v1 = sorted((r["path"], r["row_id"], r["v"])
                for r in cat.read_version("t", 1).collect())
    assert v1 == [("p1", 0, "x"), ("p1", 1, "y"), ("p2", 0, "z")]
    v2 = sorted((r["path"], r["row_id"], r["v"])
                for r in cat.read_version("t", 2).collect())
    assert v2 == [("p1", 0, "X"), ("p3", 0, "w")]
    # compaction is logically invisible: v3 == v2 == current
    v3 = sorted((r["path"], r["row_id"], r["v"])
                for r in cat.read_version("t", 3).collect())
    assert v3 == v2
    cur = sorted((r["path"], r["row_id"], r["v"])
                 for r in cat.read("t").collect())
    assert cur == v2
    with pytest.raises(KeyError, match="no manifest"):
        cat.read_version("t", 99)


def test_lake_changes_feed(spark, tmp_path):
    cat = _three_version_lake(spark, tmp_path)

    c1 = cat.changes("t", 0, 1).collect()
    assert sorted((r["path"], r["row_id"], r["_change_type"],
                   r["_commit_version"]) for r in c1) == [
        ("p1", 0, "upsert", 1), ("p1", 1, "upsert", 1),
        ("p2", 0, "upsert", 1)]

    c2 = cat.changes("t", 1, 2).collect()
    # p1 shrank to one row (upsert), p2 deleted (key-only row), p3 new
    assert sorted((r["path"], r["row_id"], r["_change_type"])
                  for r in c2) == [
        ("p1", 0, "upsert"), ("p2", None, "delete"), ("p3", 0, "upsert")]
    del_row = next(r for r in c2 if r["_change_type"] == "delete")
    assert del_row["repo"] == "r" and del_row["v"] is None

    # compact commit produces no logical changes
    assert cat.changes("t", 2, 3).count() == 0
    # open-ended poll from v1 == union of v2+v3 deltas
    assert cat.changes("t", 1).count() == len(c2)
    # empty/degenerate window
    assert cat.changes("t", 3).count() == 0


def test_lake_changes_apply_reproduces_snapshot(spark, tmp_path):
    """The CDC-out contract: applying the changelog (upserts replace a
    key's rows wholesale, deletes drop the key) onto the from-snapshot
    reproduces the to-snapshot."""
    cat = _three_version_lake(spark, tmp_path)
    base = cat.read_version("t", 1)
    delta = cat.changes("t", 1, 2)
    touched = delta.select("repo", "path").distinct()
    applied = (base.join(touched, ["repo", "path"], "left_anti")
               .unionByName(delta.filter(F.col("_change_type") != "delete")
                            .drop("_change_type", "_commit_version")))
    assert state_fingerprint(applied, ["repo", "path", "row_id", "v"]) \
        == state_fingerprint(cat.read_version("t", 2),
                             ["repo", "path", "row_id", "v"])


def test_lake_changes_replace_refuses(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([("r", "p", 1)],
                               "repo string, path string, n int")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    txn2 = cat.begin()
    txn2.create_or_replace("t", df, ("repo", "path"), n_buckets=2)
    txn2.commit()
    with pytest.raises(ValueError, match="replaced"):
        cat.changes("t", 0).collect()
    # but a window that excludes the replace commit still reads fine
    assert cat.changes("t", 0, 1).count() == 1


def test_lake_changes_pipeline_end_to_end(spark, tmp_path):
    """The changelog composes with the real CDC pipeline: replaying a
    fixture event log batch-by-batch, changes() between the versions of
    two consecutive commits reflects exactly that batch's file keys."""
    events = synthetic_doc_events(spark, SF)
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False)
    v0 = pipe.lake.current_version()
    n = events.count()
    pipe.replay(events, batch_size=max(1, n // 2))
    v1 = pipe.lake.current_version()
    delta = pipe.lake.changes("results", v0, v1)
    # newest-commit-wins reconstruction of the live table from the
    # feed alone: a key's final state is whatever its LAST commit in
    # the window said (all upsert rows of that commit, or gone on
    # delete) — must equal the MoR snapshot read
    from pyspark.sql import Window
    w = Window.partitionBy("repo", "path")
    rebuilt = (delta
               .withColumn("_vmax", F.max("_commit_version").over(w))
               .filter((F.col("_commit_version") == F.col("_vmax"))
                       & (F.col("_change_type") != "delete"))
               .drop("_change_type", "_commit_version", "_vmax"))
    w_cols = ["repo", "path", "sheet", "row_id", "content_sha256"]
    assert state_fingerprint(rebuilt, w_cols) \
        == state_fingerprint(pipe.results(), w_cols)


def test_python_encode_state_matches_jvm_writer(spark, tmp_path):
    """The arrow-native fused writer (extract+pyarrow-encode in the
    Python worker, manifest-registered files) and the JVM writer
    (Arrow row transfer + parquet-mr via DataFrame.write) must produce
    IDENTICAL visible state — content columns, lineage columns, wide
    view, and error rows alike — across a multi-batch I/U/D replay."""
    events = synthetic_doc_events(spark, SF)
    n = events.count()
    fps = {}
    for mode, enc in (("fused", True), ("jvm", False)):
        pipe = CdcPipeline(spark, str(tmp_path / mode), n_buckets=8,
                           wide_view=True, python_encode=enc)
        assert pipe.python_encode is enc
        pipe.replay(events, batch_size=max(1, n // 3))
        cols = CONTENT_COLS + ["fmt", "sheet_idx", "types", "formats",
                               "src_offset", "batch_id"]
        fps[mode] = (state_fingerprint(pipe.results(), cols),
                     state_fingerprint(pipe.results_wide(),
                                       ["repo", "path", "row_id",
                                        "c001", "c002", "c003"]),
                     pipe.results().count())
    assert fps["fused"] == fps["jvm"]


def test_lake_compaction_preserves_state(spark, tmp_path):
    """compact() folds MoR markers into data files without changing the
    visible table state, and clears all markers. The rewritten files
    carry the ``_seq`` of the version the compaction began from, and a
    later merge still supersedes their rows."""
    import pyarrow.parquet as pq

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    txn = cat.begin()
    base = spark.createDataFrame(
        [("r", "p1", 0, "x"), ("r", "p2", 0, "z")],
        "repo string, path string, row_id int, v string")
    txn.merge_replace_keys("t", base, base.select("repo", "path"),
                           ("repo", "path"), n_buckets=4)
    txn.commit()
    txn2 = cat.begin()
    upd = spark.createDataFrame([("r", "p1", 0, "X")],
                                "repo string, path string, row_id int, "
                                "v string")
    txn2.merge_replace_keys("t", upd, upd.select("repo", "path"),
                            ("repo", "path"), n_buckets=4)
    txn2.commit()
    before = sorted((r["path"], r["v"]) for r in cat.read("t").collect())

    txn3 = cat.begin()
    txn3.compact("t")
    v3 = txn3.commit()
    after = sorted((r["path"], r["v"]) for r in cat.read("t").collect())
    assert before == after == [("p1", "X"), ("p2", "z")]
    assert cat.manifest()["tables"]["t"]["markers"] == {}
    seqs = set()
    for entries in cat.table_files("t").values():
        for e in entries:
            seqs.update(pq.read_table(os.path.join(cat.root, e["path"]),
                                      columns=["_seq"])
                        .column("_seq").to_pylist())
    assert seqs == {v3 - 1}

    txn4 = cat.begin()
    fix = spark.createDataFrame([("r", "p2", 0, "Z")],
                                "repo string, path string, row_id int, "
                                "v string")
    txn4.merge_replace_keys("t", fix, fix.select("repo", "path"),
                            ("repo", "path"), n_buckets=4)
    txn4.commit()
    assert sorted((r["path"], r["v"]) for r in cat.read("t").collect()) \
        == [("p1", "X"), ("p2", "Z")]


def test_compact_writes_key_sorted_data_files(spark, tmp_path):
    """Maintenance rewrites (compact) key-sort rows within each data
    file [Iceberg: rewrite_data_files with a sort order], so parquet
    row-group stats carry tight key ranges and a point lookup inside a
    large compacted bucket prunes to a row group, not the whole file.
    The hot ingest path is unaffected (file-level footer bounds only)."""
    import pyarrow.parquet as pq

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    # enough keys that every bucket holds several, in scrambled order
    rows = [("r", f"p{(i * 37) % 97:02d}", i, f"v{i}") for i in range(97)]
    df = spark.createDataFrame(
        rows, "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=4)
    txn.commit()
    txn = cat.begin()
    txn.compact("t")
    txn.commit()

    t = cat.manifest()["tables"]["t"]
    n_files = 0
    for b, entries in cat.table_files("t").items():
        for e in entries:
            tbl = pq.read_table(os.path.join(cat.root, e["path"]),
                                columns=["repo", "path"])
            keys = list(zip(tbl.column("repo").to_pylist(),
                            tbl.column("path").to_pylist()))
            assert keys == sorted(keys), \
                f"bucket {b} file {e['path']} not key-sorted"
            n_files += 1
    assert n_files >= 4
    # state preserved under the sort
    got = sorted(r["path"] for r in cat.read("t").collect())
    assert got == sorted({p for _, p, *_ in rows})
    assert t["markers"] == {}


def test_commit_metadata_scales_with_batch_not_table(spark, tmp_path):
    """A commit writes the small root manifest plus one shard per
    TOUCHED bucket — growing the rest of the table must not grow the
    metadata bytes of a single-bucket commit (the Iceberg manifest-list
    property the 10^10-event design needs)."""
    from grate_spark.cdc.lake import _bucket_expr

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    nb = 8

    # split candidate keys by bucket so seed traffic NEVER touches the
    # hot key's bucket
    cand = spark.createDataFrame([(f"k{i}",) for i in range(120)],
                                 "k string")
    bk = {r["k"]: r["b"] for r in cand.select(
        "k", _bucket_expr(("k",), nb).alias("b")).collect()}
    hot = "k0"
    seeds = [k for k, b in bk.items() if b != bk[hot]]
    assert len(seeds) >= 60

    def merge(pairs):
        txn = cat.begin()
        df = spark.createDataFrame(pairs, "k string, v int")
        txn.merge_replace_keys("t", df, df.select("k"), ("k",),
                               n_buckets=nb)
        txn.commit()

    def meta_bytes(fn):
        """(root_bytes, shard_bytes) newly written under _commits by
        fn()."""
        root = os.path.join(str(tmp_path / "lake"), "_commits")
        shard_root = os.path.join(root, "shards")
        def snap():
            out = {}
            for dp, _dn, fns in os.walk(root):
                for f in fns:
                    p = os.path.join(dp, f)
                    out[p] = os.path.getsize(p)
            return out
        before = snap()
        fn()
        new = {p: sz for p, sz in snap().items() if p not in before}
        shards = sum(sz for p, sz in new.items()
                     if p.startswith(shard_root))
        return sum(new.values()) - shards, shards

    for i in range(6):
        merge([(k, i) for k in seeds[i * 10:(i + 1) * 10]])
    root_small, shards_small = meta_bytes(lambda: merge([(hot, 1)]))
    files_small = sum(len(fs) for fs in cat.table_files("t").values())

    # triple the live-file population of the OTHER buckets
    n_grow = 18
    for i in range(n_grow):
        merge([(k, 100 + i) for k in seeds[(i % 6) * 10:(i % 6) * 10 + 10]])
    root_big, shards_big = meta_bytes(lambda: merge([(hot, 2)]))
    files_big = sum(len(fs) for fs in cat.table_files("t").values())

    assert files_big >= files_small * 2.5
    # the manifest-list property: the single-bucket commit's SHARD
    # bytes track that bucket's own history only — unchanged while the
    # rest of the table tripled
    assert shards_big <= shards_small * 1.5 + 100, (shards_small,
                                                    shards_big)
    # the root's only growth term is the marker list: ONE bounded entry
    # per commit since compaction (reset by compact()), never a
    # function of the 240 data files the other buckets gained — an
    # inline full-file listing would have grown ~100 B per file
    assert root_big - root_small <= 250 * (n_grow + 1), (root_small,
                                                         root_big)

    # untouched buckets keep their exact shard pointers across the
    # single-bucket commit
    shards_before = dict(cat.manifest()["tables"]["t"]["shards"])
    merge([(hot, 3)])
    shards_after = dict(cat.manifest()["tables"]["t"]["shards"])
    hb = str(bk[hot])
    assert shards_after[hb] != shards_before[hb]
    for b in shards_before:
        if b != hb:
            assert shards_after[b] == shards_before[b]

    # state stays correct through it all
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert got[hot] == 3


def test_lake_vacuum_removes_orphans_keeps_live(spark, tmp_path):
    """After compact, vacuum drops superseded files; the table still
    reads identically."""
    import glob
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([("r", "p", 0, "x")],
                               "repo string, path string, row_id int, "
                               "v string")
    for i in range(3):  # three merges -> superseded generations
        txn = cat.begin()
        upd = spark.createDataFrame([("r", "p", 0, f"v{i}")],
                                    "repo string, path string, "
                                    "row_id int, v string")
        txn.merge_replace_keys("t", upd, upd.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    txn = cat.begin()
    txn.compact("t")
    txn.commit()
    before = cat.read("t").collect()
    n_files_before = len(glob.glob(str(tmp_path / "lake/data/**/*.parquet"),
                                   recursive=True))
    stats = cat.vacuum(keep_manifests=1, min_age_seconds=0.0)
    assert stats["files_removed"] > 0
    n_files_after = len(glob.glob(str(tmp_path / "lake/data/**/*.parquet"),
                                  recursive=True))
    assert n_files_after < n_files_before
    after = cat.read("t").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert after[0]["v"] == "v2"


def test_tabular_suffix_regex_case_insensitive(spark):
    """CDC path filter must accept FOO.XLSX like is_tabular_path does —
    a case-sensitive regex silently dropped uppercase-extension events
    from ingest while the non-CDC path accepted them."""
    from grate_spark.extract import TABULAR_SUFFIX_RE, is_tabular_path
    from pyspark.sql import functions as F
    paths = ["a/B.XLSX", "a/b.Xls", "c.CSV", "d.TsV",
             "e.xlsx", "readme.MD", "f.csv.bak"]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    kept = {r["path"] for r in
            df.filter(F.col("path").rlike(TABULAR_SUFFIX_RE)).collect()}
    assert kept == {p for p in paths if is_tabular_path(p)}
    assert "a/B.XLSX" in kept


def test_lake_vacuum_spares_inflight_txn_staging(spark, tmp_path):
    """vacuum must not delete files staged by a not-yet-committed
    Transaction: that txn would otherwise publish a manifest pointing
    at deleted files, corrupting the table."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1,)], "id int")
    txn0 = cat.begin()
    txn0.append("t", df)
    txn0.commit()
    # stage a second append but don't commit yet
    txn = cat.begin()
    txn.append("t", spark.createDataFrame([(2,)], "id int"))
    # default age threshold: freshly staged files survive the sweep
    cat.vacuum(keep_manifests=1)
    txn.commit()
    got = sorted(r["id"] for r in cat.read("t").collect())
    assert got == [1, 2]


def test_lake_commit_conflict(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(1,)], "id int")
    t1 = cat.begin()
    t2 = cat.begin()
    t1.append("t", df)
    t2.append("t", df)
    t1.commit()
    with pytest.raises(RuntimeError, match="conflict"):
        t2.commit()


# --------------------------------------------------------------------------
# pipeline semantics over the fixture event log

BASIC_TSV = ("a\tb\tc\td\n1\tHello\t42.0\t0.0\n2\tWorld\t99.1\t0.01\n"
             "3\tThis\t7e8\t0.001\n4\tTests\t2.4e-8\t0.0001\n"
             "5\tText\t0.0001\t0.00001")
BASIC2_TSV = ("a\tb\tc\td\n1\tHello\t42.00\t0.00000\n"
              "2\tWorld\t99.10\t0.01000\n3\tThis\t7E+08\t0.00100\n"
              "4\tTests\t2.4E-08\t0.00010\n5\tText\t0.00010\t0.00001\n")
MULTI_TEST_TSV = "".join(
    "\t".join(row) + "\n" for row in (
        ("name", "qty", "price", "when", "flag", "ratio", "code"),
        ("apple", "1", "0.5", "July 11, 2004", "TRUE", "1/2", "A1"),
        ("pear", "42", "1.25", "11 Jul 00", "FALSE", "42 1/3", "B2"),
        ("fig", "", "", "", "", "", ""),
        ("plum", "1000000000000", "7", "9-Sep", "TRUE", "9999 9/10", "C3"),
        ("kiwi", "-3", "2.5e-3", "Jun-42", "FALSE", "3/4", "D4")))


@functools.cache
def fixture_blobs() -> dict[str, bytes]:
    """The fixture set ``fixture_events`` scripts its history over:
    grate's testdata when it is checked out, else an in-repo stand-in
    under the names the tests use — basic.tsv and basic2.tsv (its
    update), a 7-column multi_test.tsv, the synthetic BIFF workbook as
    testing.xls (deleted by the script) and a generated basic.xlsx."""
    if os.path.isdir(REF):
        blobs = {}
        for fn in os.listdir(REF):
            if fn.endswith((".xls", ".xlsx", ".csv", ".tsv")):
                with open(os.path.join(REF, fn), "rb") as f:
                    blobs[fn] = f.read()
        return blobs
    from grate_spark.cdc.bench import _csv_body_to_xlsx
    from tests.test_xls_synthetic import build_workbook
    return {"basic.tsv": BASIC_TSV.encode(),
            "basic2.tsv": BASIC2_TSV.encode(),
            "multi_test.tsv": MULTI_TEST_TSV.encode(),
            "testing.xls": build_workbook(),
            "basic.xlsx": _csv_body_to_xlsx(
                BASIC_TSV.replace("\t", ","))}


@pytest.fixture(scope="module")
def fixture_replayed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cdc_fixtures"))
    pipe = CdcPipeline(spark, root, n_buckets=8)
    events = fixture_events(spark, fixture_blobs())
    stats = pipe.replay(events, batch_size=10)
    return pipe, events, stats


needs_ref = pytest.mark.skipif(not os.path.isdir(REF),
                               reason="reference testdata not available")


def test_replay_final_paths(fixture_replayed):
    pipe, _, _ = fixture_replayed
    res = pipe.results()
    paths = {r["path"] for r in res.select("path").distinct().collect()}
    # testing.xls deleted; README.md filtered (non-tabular);
    # corrupt.xlsx present as an error row
    assert "testing.xls" not in paths
    assert "README.md" not in paths
    assert "corrupt.xlsx" in paths
    err = pipe.results().filter(F.col("path") == "corrupt.xlsx").collect()
    assert len(err) == 1 and err[0]["error"] is not None


def test_replay_update_wins(fixture_replayed):
    """basic.tsv was updated to basic2.tsv's content — final rows must be
    the v2 content, proving per-path replace + latest-offset-wins."""
    pipe, _, _ = fixture_replayed
    got = (pipe.results().filter(F.col("path") == "basic.tsv")
           .orderBy("row_id").select("cells").collect())
    want = [ln.split("\t")
            for ln in fixture_blobs()["basic2.tsv"].decode().splitlines()]
    assert [r["cells"] for r in got] == want


@needs_ref
def test_replay_sha256_golden_parity(fixture_replayed):
    """The BASELINE correctness gate: per-row sha256 of the tab-joined
    rendered cells for the csv/tsv fixtures must equal the sha256 of the
    golden file's own lines — 100% match rate."""
    import hashlib
    pipe, _, _ = fixture_replayed
    res = pipe.results().filter(F.col("path").endswith(".tsv")
                                | F.col("path").endswith(".csv"))
    got = {(r["path"], r["row_id"]): r["content_sha256"]
           for r in res.collect()}
    n_checked = 0
    for fn, golden in [("basic.tsv", "basic2.tsv"),  # updated content!
                       ("basic2.tsv", "basic2.tsv"),
                       ("testing.tsv", "testing.tsv"),
                       ("multi_test.tsv", "multi_test.tsv")]:
        with open(os.path.join(REF, golden)) as f:
            lines = f.read().splitlines()
        for i, ln in enumerate(lines):
            want = hashlib.sha256(ln.encode()).hexdigest()
            assert got[(fn, i)] == want, (fn, i)
            n_checked += 1
    assert n_checked > 30  # sanity: the gate actually ran


def test_replay_idempotent_reapply(spark, tmp_path):
    """Applying the same batch range twice yields the identical final
    state (the exactly-once invariant under at-least-once delivery)."""
    root = str(tmp_path / "lake")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    events = fixture_events(spark, fixture_blobs())
    hwm = events.agg(F.max("offset")).collect()[0][0]
    pipe.apply_batch(events, 0, hwm, batch_id=1)
    s1 = state_fingerprint(pipe.results())
    pipe.apply_batch(events, 0, hwm, batch_id=1)  # duplicate delivery
    s2 = state_fingerprint(pipe.results())
    assert s1 == s2


def test_replay_batchsize_invariance(spark, tmp_path):
    """One giant batch vs many small batches converge to the same state
    (out-of-order tolerant within the windowed dedup)."""
    events = fixture_events(spark, fixture_blobs())
    pipe_a = CdcPipeline(spark, str(tmp_path / "a"), n_buckets=8,
                         wide_view=False)
    pipe_a.replay(events)  # single batch
    pipe_b = CdcPipeline(spark, str(tmp_path / "b"), n_buckets=8,
                         wide_view=False)
    pipe_b.replay(events, batch_size=3)  # many batches
    cols = ["repo", "path", "sheet", "row_id", "cells", "content_sha256",
            "error"]
    assert state_fingerprint(pipe_a.results(), cols) == \
        state_fingerprint(pipe_b.results(), cols)


def test_checkpoint_resume(spark, tmp_path):
    """Stop mid-replay, build a NEW pipeline over the same lake dir, and
    finish — the checkpoint in the manifest drives the resume."""
    events = fixture_events(spark, fixture_blobs())
    root = str(tmp_path / "lake")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    pipe.replay(events, batch_size=5, max_batches=2)
    ck = pipe.lake.checkpoint()
    assert 0 < int(ck["global"]) < events.count()

    pipe2 = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    pipe2.replay(events, batch_size=5)
    ref = CdcPipeline(spark, str(tmp_path / "ref"), n_buckets=8,
                      wide_view=False)
    ref.replay(events)
    assert state_fingerprint(pipe2.results()) == \
        state_fingerprint(ref.results())


def test_crash_before_commit_is_invisible(spark, tmp_path):
    """Data files staged but manifest never published: the snapshot is
    unchanged and a re-run converges to the correct state."""
    events = fixture_events(spark, fixture_blobs())
    root = str(tmp_path / "lake")
    pipe = CdcPipeline(spark, root, n_buckets=8, wide_view=False)
    pipe.replay(events, batch_size=8, max_batches=1)
    v_before = pipe.lake.current_version()

    # simulate crash: stage a merge, skip commit
    txn = pipe.lake.begin()
    df = spark.createDataFrame([("x", "y.csv", "s", 0, ["1"], ["string"],
                                 ["General"])],
                               "repo string, path string, sheet string, "
                               "row_id long, cells array<string>, "
                               "types array<string>, "
                               "formats array<string>")
    txn.merge_replace_keys("results", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=8)
    del txn  # never committed

    assert pipe.lake.current_version() == v_before
    assert pipe.results().filter(F.col("repo") == "x").count() == 0

    # re-run to completion; orphan files stay invisible
    pipe.replay(events, batch_size=8)
    ref = CdcPipeline(spark, str(tmp_path / "ref"), n_buckets=8,
                      wide_view=False)
    ref.replay(events)
    assert state_fingerprint(pipe.results()) == \
        state_fingerprint(ref.results())


def test_lineage_and_metrics(fixture_replayed):
    pipe, events, stats = fixture_replayed
    lin = pipe.lake.lineage()
    assert len(lin) >= 2
    # offsets covered contiguously, per-partition stats present
    assert lin[0]["lo"] == 0
    for a, b in zip(lin, lin[1:]):
        assert b["lo"] == a["hi"]
    assert any(e["partitions"] for e in lin)
    # how each committed batch's extract+write stage was packed
    par = pipe.spark.sparkContext.defaultParallelism
    committed = [e for e in lin if "n_rows" in e]
    assert committed
    for e in committed:
        assert 1 <= e["tasks"] <= par
        assert 1 <= e["max_task_events"]
    m = pipe.metrics()
    total_events = m.agg(F.sum("n_events")).collect()[0][0]
    # metrics count tabular events only
    tab = events.filter(F.col("path").rlike(r"\.(xlsx?|[ct]sv)$")).count()
    assert total_events == tab
    assert m.filter(F.col("n_error_rows") > 0).count() >= 1


def test_wide_view_schema_evolution_fixtures(fixture_replayed):
    """multi_test has 7 columns, basic 4 — the wide table must have
    widened to the max and carry NULLs for narrow sheets."""
    pipe, _, _ = fixture_replayed
    wide = pipe.results_wide()
    assert "c007" in wide.columns
    row = wide.filter((F.col("path") == "basic2.tsv")
                      & (F.col("row_id") == 1)).collect()[0]
    assert row["c001"] == "1" and row["c007"] is None


def test_streaming_foreachbatch_matches_batch_replay(spark, tmp_path):
    """The Structured Streaming path (file-source + foreachBatch) and
    the batch replay loop converge to the identical table state."""
    events = fixture_events(spark, fixture_blobs())
    # WAL-ordered delivery: one file per offset chunk, written in order
    ev_dir = str(tmp_path / "events_stream")
    os.makedirs(ev_dir)
    collected = events.orderBy("offset").collect()
    schema = events.schema
    chunk = 8
    for i in range(0, len(collected), chunk):
        spark.createDataFrame(collected[i:i + chunk], schema) \
            .coalesce(1).write.parquet(f"{ev_dir}/chunk={i:04d}")
    # register chunks as one dir of parquet files (two-level glob)
    import glob as _glob
    files_dir = str(tmp_path / "flat")
    os.makedirs(files_dir)
    n = 0
    for part in sorted(_glob.glob(f"{ev_dir}/chunk=*/part-*.parquet")):
        os.link(part, os.path.join(files_dir, f"{n:04d}.parquet"))
        n += 1

    pipe_s = CdcPipeline(spark, str(tmp_path / "lake_s"), n_buckets=8,
                         wide_view=False)
    pipe_s.run_streaming(files_dir, schema,
                         str(tmp_path / "spark_ckpt"),
                         max_files_per_trigger=2)

    pipe_b = CdcPipeline(spark, str(tmp_path / "lake_b"), n_buckets=8,
                         wide_view=False)
    pipe_b.replay(events)
    assert state_fingerprint(pipe_s.results()) == \
        state_fingerprint(pipe_b.results())


# --------------------------------------------------------------------------
# synthetic documents replay: oracle-style end-to-end state check

def test_synthetic_replay_matches_expected(spark, tmp_path):
    events = synthetic_doc_events(spark, SF)
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=16,
                       wide_view=True)
    pipe.replay(events, batch_size=max(8, events.count() // 3))

    # expected: extract the expected final blob set directly
    from grate_spark.operators.extraction import (extract_files,
                                                  with_content_sha)
    expected = with_content_sha(
        extract_files(expected_final_blobs(spark, SF)))
    cols = ["repo", "path", "row_id", "cells", "content_sha256"]
    assert state_fingerprint(pipe.results(), cols) == \
        state_fingerprint(expected, cols)

    # schema evolution happened: v2 blobs add a 4th column
    assert "c004" in pipe.results_wide().columns
    # v1-only paths (never updated) have NULL c004 beyond their width
    v1_only = (pipe.results_wide()
               .filter(F.pmod(F.xxhash64("path"), F.lit(3)) != 0)
               .filter(F.col("row_id") >= 1))
    assert v1_only.filter(F.col("c004").isNotNull()).count() == 0
    assert v1_only.count() > 0


def test_replay_hyperlink_encrypted_date1904_full_gate(spark, tmp_path):
    """Hyperlink, RC4-encrypted, and Date1904 workbooks flowing through
    the FULL replay path (events -> winners -> UDTF -> MERGE) must land
    byte-identical to direct library extraction — these decode paths
    were previously unit-tested only."""
    import base64

    from grate_spark.extract import extract_blob
    from tests.test_xls_synthetic import (build_workbook,
                                          EXPECTED_FIRST_ROWS)

    blobs = {"hyper.xls": build_workbook(),
             "enc.xls": build_workbook(encrypt=True),
             "epoch1904.xls": build_workbook(date1904=True)}
    rows = [(i + 1, i % 2, "I", "synth", p, f"c{i}", "xls",
             base64.b64encode(b).decode("ascii"))
            for i, (p, b) in enumerate(sorted(blobs.items()))]
    events = spark.createDataFrame(
        rows, "offset bigint, partition int, op string, repo string, "
              "path string, commit string, lang string, content string")
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False)
    pipe.replay(events, batch_size=None)
    res = pipe.results()
    assert res.filter(F.col("error").isNotNull()).count() == 0

    got = {}
    for r in res.collect():
        got.setdefault(r["path"], {})[r["row_id"]] = r["cells"]
    # only the visible sheet survives the hidden/dialog filters
    sheets = {r["sheet"] for r in res.select("sheet").distinct().collect()}
    assert sheets == {"Visible"}
    for p in ("hyper.xls", "enc.xls"):
        cells = [got[p][i] for i in range(6)]
        assert cells == EXPECTED_FIRST_ROWS, p
    # the 1904-epoch date renders against the 1904 epoch (1900 would
    # give 04-09-00)
    assert got["epoch1904.xls"][6][0] == "04-10-04"
    # full parity: replay state == direct library extraction, per blob
    for p, raw in blobs.items():
        direct = extract_blob(f"synth/{p}", raw)
        want = {i: r[0] for i, r in enumerate(direct.tables[0].rows)}
        assert got[p] == want, p


def test_marker_growth_switches_to_shuffle_join(spark, tmp_path):
    """Many merges with NO compaction: once the cumulative marker set
    exceeds the broadcast budget, the MoR read must fall back to a
    shuffle join and still produce latest-writer-wins state."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"),
                      broadcast_marker_bytes=1)  # force the fallback
    for i in range(6):
        txn = cat.begin()
        upd = spark.createDataFrame(
            [("r", f"p{k}", 0, f"v{i}") for k in range(4)],
            "repo string, path string, row_id int, v string")
        txn.merge_replace_keys("t", upd, upd.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    # with auto-broadcast off, only an explicit hint could broadcast;
    # past the budget the hint must be absent -> sort-merge join
    confs = {"spark.sql.autoBroadcastJoinThreshold": "-1",
             "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = cat.read("t")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        got = sorted((r["path"], r["v"]) for r in df.collect())
        assert got == [(f"p{k}", "v5") for k in range(4)]
        # under the default budget the hint IS applied (forced even
        # with auto-broadcast off) and state reads identically
        cat2 = LakeCatalog(spark, str(tmp_path / "lake"))
        df2 = cat2.read("t")
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan2, plan2
        got2 = sorted((r["path"], r["v"]) for r in df2.collect())
        assert got2 == got
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_replay_window_fallback_matches_broadcast_path(spark, tmp_path):
    """The large-batch fallback (full-row latest-wins window) must
    produce the identical final state as the broadcast-winners path."""
    events = synthetic_doc_events(spark, SF)
    p1 = CdcPipeline(spark, str(tmp_path / "l1"), n_buckets=4,
                     wide_view=False)  # broadcast path (default budget)
    p1.replay(events, batch_size=None)
    p2 = CdcPipeline(spark, str(tmp_path / "l2"), n_buckets=4,
                     wide_view=False, broadcast_winners_max=0)  # window
    p2.replay(events, batch_size=None)
    f1 = state_fingerprint(p1.results())
    f2 = state_fingerprint(p2.results())
    assert f1 == f2


def test_duplicate_offset_delivery_extracts_once(spark, tmp_path):
    """Redelivery of the SAME offset inside one batch must not double
    rows: the part-stats dup detector routes the batch to the window
    path, whose row_number keeps one copy."""
    rows = [(1, 0, "I", "r", "a.csv", "c1", "csv", "x,y\n1,2"),
            (1, 0, "I", "r", "a.csv", "c1", "csv", "x,y\n1,2"),  # dup
            (2, 0, "I", "r", "b.csv", "c2", "csv", "x\n9")]
    events = spark.createDataFrame(
        rows, "offset bigint, partition int, op string, repo string, "
              "path string, commit string, lang string, content string")
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=2,
                       wide_view=False)
    pipe.replay(events, batch_size=None)
    got = pipe.results().filter(F.col("path") == "a.csv").collect()
    keys = [(r["sheet"], r["row_id"]) for r in got]
    assert len(keys) == len(set(keys)), f"duplicated rows: {keys}"


def test_duplicate_offset_across_partitions_extracts_once(spark, tmp_path):
    """The same offset redelivered under TWO different `partition`
    values must still be detected (global countDistinct via rollup, not
    a sum of per-partition distincts) and routed to the window path."""
    rows = [(1, 0, "I", "r", "a.csv", "c1", "csv", "x,y\n1,2"),
            (1, 1, "I", "r", "a.csv", "c1", "csv", "x,y\n1,2"),  # dup, other partition
            (2, 0, "I", "r", "b.csv", "c2", "csv", "x\n9")]
    events = spark.createDataFrame(
        rows, "offset bigint, partition int, op string, repo string, "
              "path string, commit string, lang string, content string")
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=2,
                       wide_view=False)
    pipe.replay(events, batch_size=None)
    got = pipe.results().filter(F.col("path") == "a.csv").collect()
    keys = [(r["sheet"], r["row_id"]) for r in got]
    assert len(keys) == len(set(keys)), f"duplicated rows: {keys}"


def _skew_events(spark, n_files=256, n_rows=4000):
    """Max-skew fixture: every path belongs to ONE hot repo and (with
    n_buckets=1) lands in one merge bucket."""
    body = "\n".join(f"{i},v{i},w{i}" for i in range(n_rows))
    rows = [(i + 1, i % 4, "I", "hot", f"f{i:04d}.csv", f"c{i}", "csv",
             "a,b,c\n" + body) for i in range(n_files)]
    return spark.createDataFrame(
        rows, "offset bigint, partition int, op string, repo string, "
              "path string, commit string, lang string, content string")


def test_salted_hot_bucket_state_and_speedup(spark, tmp_path):
    """A batch whose events all hash to one merge bucket must not
    serialize the fused extract->write behind one task: the salt plan
    sub-splits the hot bucket. Gate BOTH identical lake state and a
    real (>=2x at local[8]) wall-clock win over the unsalted plan."""
    import time

    events = _skew_events(spark)
    times = {"salted": [], "unsalted": []}
    fps = {}
    n_files = {}
    # best-of-3 per mode: the sandbox VM has documented 30-40% CPU-steal
    # swings (plus whatever else shares the box during a suite run), so
    # a single-sample wall-clock gate would flake; min-of-N is the
    # standard steal-resistant estimator, and the loop exits early the
    # first time the gate holds
    for attempt in range(3):
        for mode, salted in (("unsalted", False), ("salted", True)):
            pipe = CdcPipeline(spark,
                               str(tmp_path / f"{mode}{attempt}"),
                               n_buckets=1, wide_view=False,
                               salt_buckets=salted)
            t0 = time.perf_counter()
            pipe.replay(events, batch_size=None)
            times[mode].append(time.perf_counter() - t0)
            fps[mode] = state_fingerprint(pipe.results())
            n_files[mode] = sum(len(fs) for fs in
                                pipe.lake.table_files("results").values())
        if min(times["salted"]) * 2.0 <= min(times["unsalted"]):
            break
    assert fps["salted"] == fps["unsalted"]
    # the salt plan actually split the hot bucket into multiple files
    assert n_files["salted"] > 1
    assert n_files["unsalted"] == 1
    assert min(times["salted"]) * 2.0 <= min(times["unsalted"]), (
        f"expected >=2x speedup, got {times}")


def _task_loads(plan, counts):
    """Events per task of a ``_pack_tasks`` plan, with each bucket's
    count spread over its sub-splits as the packer does."""
    loads = {}
    for bk, ts in plan.items():
        n, c = len(ts), counts[bk]
        for i, t in enumerate(ts):
            loads[t] = loads.get(t, 0) + c // n + (i < c % n)
    return loads


def test_pack_tasks_uniform_batch_bound(spark):
    """A uniform batch over many buckets splits no bucket and packs
    them onto at most one task per core by event count, within the
    list-scheduling bound: heaviest task <= mean load + largest share.
    A hot bucket is split, at most once per core; with
    salt_buckets=False nothing ever is. Same counts, same plan."""
    import random

    pipe = CdcPipeline(spark, "/tmp/unused-pack-tasks", n_buckets=64)
    par = pipe.n_partitions
    rnd = random.Random(7)
    uniform = {bk: rnd.randint(1, 3) for bk in range(0, 128, 3)}
    n = sum(uniform.values())
    plan, loads = pipe._pack_tasks(uniform, n)
    assert all(len(ts) == 1 for ts in plan.values())
    assert len(loads) == min(len(uniform), par)
    assert {t for ts in plan.values() for t in ts} == set(range(len(loads)))
    assert sorted(_task_loads(plan, uniform).values()) == sorted(loads)
    assert sum(loads) == n
    assert max(loads) <= n / len(loads) + max(uniform.values())
    assert pipe._pack_tasks(dict(reversed(uniform.items())), n) \
        == (plan, loads)

    hot = {0: 9_000, 1: 500, 2: 500}
    plan, loads = pipe._pack_tasks(hot, 10_000)
    assert 1 < len(plan[0]) <= par
    assert len(plan[1]) == 1 and len(plan[2]) == 1
    assert pipe._pack_tasks(hot, 10_000) == (plan, loads)
    pipe.salt_buckets = False
    plan, loads = pipe._pack_tasks(hot, 10_000)
    assert all(len(ts) == 1 for ts in plan.values())
    assert len(loads) == min(3, par) and max(loads) == 9_000


def test_pack_tasks_give_each_sub_split_its_own_task(spark):
    """The blob exchange places a hot bucket split 8 ways on 8
    distinct tasks, each holding one sub-split, and a task that holds
    several buckets keeps each row on its bucket's task."""
    from grate_spark.cdc.pipeline import _task_id

    pipe = CdcPipeline(spark, "/tmp/unused-pack-tasks", n_buckets=16)
    pipe.n_partitions = 8
    counts = {0: 256, 3: 5, 9: 5}
    plan, loads = pipe._pack_tasks(counts, 266)
    assert len(loads) == 8 and len(plan[0]) == 8
    assert len(set(plan[0])) == 8
    df = spark.createDataFrame(
        [(bk, f"f{i:04d}.csv") for bk, n in counts.items()
         for i in range(n)], "b int, path string")
    got = (df.repartitionById(len(loads), _task_id(plan, F.col("b")))
           .groupBy(F.spark_partition_id().alias("task"), "b")
           .agg(F.count("*").alias("n")).collect())
    hot = sorted(r["n"] for r in got if r["b"] == 0)
    assert len(hot) == 8 and sum(hot) == 256
    assert sorted(r["task"] for r in got if r["b"] == 0) == list(range(8))
    for bk in (3, 9):
        assert [(r["task"], r["n"]) for r in got if r["b"] == bk] \
            == [(plan[bk][0], 5)]


@pytest.mark.parametrize("python_encode", [True, False])
def test_packed_tasks_write_bucket_pure_files(spark, tmp_path,
                                              python_encode):
    """A batch that touches more buckets than there are cores, one of
    them hot: packing puts several buckets on one task and splits the
    hot one over several. Every registered data file of results and
    results_wide still holds only rows of the bucket it is registered
    under, and read_key on every key returns the rows that direct
    extraction of its blob yields."""
    from urllib.parse import unquote, urlparse

    from grate_spark.cdc.events import EVENT_COLS
    from grate_spark.cdc.lake import _bucket_expr
    from grate_spark.cdc.pipeline import (MERGE_KEY, RESULTS_TABLE,
                                          WIDE_TABLE)
    from grate_spark.operators.extraction import (extract_files,
                                                  with_content_sha)

    par = spark.sparkContext.defaultParallelism
    nb = 2 * par
    cand = spark.createDataFrame(
        [(f"r{i % 7}", f"f{i:04d}.csv") for i in range(40 * nb)],
        "repo string, path string")
    by_bucket: dict[int, list] = {}
    for r in cand.select("repo", "path", _bucket_expr(MERGE_KEY, nb)
                         .alias("b")).collect():
        by_bucket.setdefault(r["b"], []).append((r["repo"], r["path"]))
    hot = max(by_bucket, key=lambda b: len(by_bucket[b]))
    keys = by_bucket[hot][:2 * par] + [
        ks[0] for b, ks in sorted(by_bucket.items()) if b != hot]
    events = spark.createDataFrame(
        [(i + 1, i % 3, "I", repo, path, f"c{i}", "csv",
          f"a,b\n{i},{repo}\n{i + 1},{path}")
         for i, (repo, path) in enumerate(keys)], list(EVENT_COLS))
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=nb,
                       python_encode=python_encode)
    pipe.replay(events)
    lin = pipe.lake.lineage()[-1]
    assert lin["tasks"] <= par < len(lin["buckets"]) == nb
    assert len(pipe.lake.table_files(RESULTS_TABLE)[str(hot)]) > 1

    for table in (RESULTS_TABLE, WIDE_TABLE):
        registered = {
            os.path.join(pipe.lake.root, e["path"]): int(b)
            for b, es in pipe.lake.table_files(table).items() for e in es}
        got = (spark.read.parquet(*registered)
               .select(F.input_file_name().alias("f"),
                       _bucket_expr(MERGE_KEY, nb).alias("b"))
               .distinct().collect())
        assert {unquote(urlparse(r["f"]).path) for r in got} \
            == set(registered), table
        for r in got:
            assert registered[unquote(urlparse(r["f"]).path)] \
                == r["b"], (table, r)

    cols = ["sheet", "row_id", "cells", "content_sha256", "error"]
    want: dict[tuple, list] = {}
    for r in with_content_sha(extract_files(events)).collect():
        want.setdefault((r["repo"], r["path"]), []).append(
            tuple(r[c] for c in cols))
    assert set(want) == set(keys)
    for (repo, path), rows in want.items():
        got = pipe.lake.read_key(RESULTS_TABLE,
                                 {"repo": repo, "path": path}).collect()
        assert sorted((tuple(r[c] for c in cols) for r in got),
                      key=repr) == sorted(rows, key=repr), (repo, path)


def test_fixture_replay_matches_direct_extraction(spark, tmp_path):
    """Replaying the fixture log with either writer lands exactly the
    rows that direct extraction of the log's final blobs yields (the
    latest event per path, deletes and non-tabular paths dropped)."""
    from pyspark.sql import Window

    from grate_spark.extract import TABULAR_SUFFIX_RE
    from grate_spark.operators.extraction import (extract_files,
                                                  with_content_sha)

    events = fixture_events(spark, fixture_blobs())
    w = Window.partitionBy("repo", "path").orderBy(F.desc("offset"))
    final = (events.withColumn("_rn", F.row_number().over(w))
             .filter((F.col("_rn") == 1) & (F.col("op") != "D")
                     & F.col("path").rlike(TABULAR_SUFFIX_RE)))
    cols = ["repo", "path", "sheet", "row_id", "cells", "content_sha256",
            "error"]
    want = state_fingerprint(with_content_sha(extract_files(final)), cols)
    for enc in (True, False):
        pipe = CdcPipeline(spark, str(tmp_path / f"enc{enc}"), n_buckets=8,
                           wide_view=False, python_encode=enc)
        pipe.replay(events, batch_size=4)
        assert state_fingerprint(pipe.results(), cols) == want, enc


def test_replay_non_tabular_only_range_advances_checkpoint(spark, tmp_path):
    """ADVICE r4 (high): grouping-sets aggregation over ZERO input rows
    yields ZERO output rows, so a batch range containing only
    non-tabular paths used to raise StopIteration inside apply_batch and
    wedge the replay at that offset range forever. It must instead take
    the committed:False path and advance the checkpoint."""
    from grate_spark.cdc.events import EVENT_COLS
    rows = [
        (1, 0, "I", "r", "README.md", "c1", "md", "hello"),
        (2, 0, "I", "r", "notes.txt", "c2", "txt", "world"),
        (3, 0, "I", "r", "data.csv", "c3", "csv", "a,b\n1,2"),
    ]
    events = spark.createDataFrame(rows, list(EVENT_COLS))
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False)
    # batch 1 covers offsets (0,2]: both events non-tabular -> empty
    # batch after the suffix filter; batch 2 covers the csv
    stats = pipe.replay(events, batch_size=2)
    assert int(pipe.lake.checkpoint()["global"]) == 3
    skipped = [s for s in stats if not s.get("committed")]
    committed = [s for s in stats if s.get("committed")]
    assert len(skipped) == 1 and skipped[0]["n_events"] == 0
    assert len(committed) == 1 and committed[0]["n_events"] == 1
    # both grid rows of the csv blob (header + data line) landed
    assert pipe.results().filter(F.col("path") == "data.csv").count() == 2


@pytest.mark.parametrize("python_encode", [True, False])
def test_replay_releases_winners_cache(spark, tmp_path, python_encode):
    """Every batch's cached rows and winner set, prefetched or not, are
    released by the end of a multi-batch replay, with either writer: a
    long-lived session tailing a log must not accumulate CacheManager
    entries."""
    def cache_mgr_empty():
        return bool(spark._jsparkSession.sharedState()
                    .cacheManager().isEmpty())

    spark.catalog.clearCache()  # deterministic baseline under -p ordering
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False, python_encode=python_encode)
    stats = pipe.replay(fixture_events(spark, fixture_blobs()),
                        batch_size=3)
    assert len(stats) >= 3
    assert cache_mgr_empty()


def test_failed_prefetch_of_discarded_range_does_not_abort_replay(
        spark, tmp_path):
    """The prefetch of batch i+1's read-only jobs runs while batch i
    merges. When batch i's commit moves the checkpoint past that range
    (here: a wrapped apply_batch that also applies the next range), the
    prefetch is discarded, and one that raised must not abort the
    replay."""
    import threading

    events = fixture_events(spark, fixture_blobs())
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False)
    real_precompute = pipe._precompute_from_batch
    prefetches = []

    def flaky_precompute(batch):
        if threading.current_thread().name.startswith("cdc-prefetch"):
            prefetches.append(batch)
            if len(prefetches) == 2:  # batch 2's range, (3, 6]
                raise RuntimeError("injected prefetch failure")
        return real_precompute(batch)

    real_apply = pipe.apply_batch

    def apply_and_run_ahead(events, lo, hi, batch_id, prefetched=None):
        res = real_apply(events, lo, hi, batch_id, prefetched=prefetched)
        if batch_id == 1:
            assert real_apply(events, hi, hi + 4, 2)["committed"]
        return res

    pipe._precompute_from_batch = flaky_precompute
    pipe.apply_batch = apply_and_run_ahead
    pipe.replay(events, batch_size=3)
    assert len(prefetches) >= 2
    hwm = events.agg(F.max("offset")).collect()[0][0]
    assert int(pipe.lake.checkpoint()["global"]) == hwm

    ref = CdcPipeline(spark, str(tmp_path / "ref"), n_buckets=4,
                      wide_view=False)
    ref.replay(events)
    assert state_fingerprint(pipe.results()) == \
        state_fingerprint(ref.results())


def test_ingest_reads_no_grate_env_switch():
    """The ingest path is configured by constructor arguments only: no
    module under grate_spark/ except the cdc/bench.py harness reads a
    GRATE_* environment variable."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "grate_spark"
    readers = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if re.search(r"GRATE_\w+", p.read_text(encoding="utf-8")))
    assert readers == [os.path.join("cdc", "bench.py")]


def test_typed_column_rejects_unknown_target(spark):
    """ADVICE r4: an unrecognized Scan target must fail loudly, not
    degrade to an empty strict-tag list / silent string passthrough."""
    from grate_spark.operators.postprocess import typed_column
    df = spark.createDataFrame([(["1"], "i")], "cells array<string>, types string")
    with pytest.raises(ValueError, match="unsupported target"):
        typed_column(df, 1, "decimal")
    with pytest.raises(ValueError, match="unsupported target"):
        typed_column(df, 1, "decimal", strict=True)


def test_compact_after_write_raises_not_assert(spark, tmp_path):
    """ADVICE r4: compact()'s ordering precondition must survive
    python -O (RuntimeError, not a bare assert)."""
    lake = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([("r", "p", 1)], "repo string, path string, v int")
    txn = lake.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), 4)
    txn.commit()
    txn2 = lake.begin()
    txn2.merge_replace_keys("t", df, df.select("repo", "path"),
                            ("repo", "path"), 4)
    with pytest.raises(RuntimeError, match="must precede"):
        txn2.compact("t")


def test_incremental_compaction_rewrites_only_chosen_buckets(spark, tmp_path):
    """compact(name, buckets=[...]) folds only the chosen buckets'
    markers into data: table state is unchanged, unchosen buckets'
    shard pointers are byte-identical, the marker set shrinks to the
    unchosen buckets' keys, and later merges still supersede the
    rewritten rows (seq stamping)."""
    from grate_spark.cdc.lake import _bucket_expr

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    nb = 8
    rows = [("r", f"p{i}", 0, f"v{i}") for i in range(40)]
    base = spark.createDataFrame(
        rows, "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", base, base.select("repo", "path"),
                           ("repo", "path"), n_buckets=nb)
    txn.commit()
    # update every key -> markers in every touched bucket
    upd = spark.createDataFrame(
        [("r", f"p{i}", 0, f"V{i}") for i in range(40)],
        "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", upd, upd.select("repo", "path"),
                           ("repo", "path"), n_buckets=nb)
    txn.commit()

    counts = cat.marker_bucket_counts("t")
    assert sum(counts.values()) == 40 and len(counts) > 2
    chosen = sorted(counts)[:2]
    before_state = sorted((r["path"], r["v"])
                          for r in cat.read("t").collect())
    shards_before = dict(cat.manifest()["tables"]["t"]["shards"])

    txn = cat.begin()
    txn.compact("t", buckets=chosen)
    txn.commit()

    t = cat.manifest()["tables"]["t"]
    # unchosen buckets: shard pointers byte-identical
    for b, rel in shards_before.items():
        if int(b) not in chosen:
            assert t["shards"][b] == rel
        else:
            assert t["shards"][b] != rel
    # markers now cover only unchosen buckets' keys
    counts_after = cat.marker_bucket_counts("t")
    assert set(counts_after) == set(counts) - set(chosen)
    assert sum(counts_after.values()) == 40 - sum(
        counts[b] for b in chosen)
    # visible state unchanged
    assert sorted((r["path"], r["v"])
                  for r in cat.read("t").collect()) == before_state

    # a later merge must still supersede the seq-stamped rewritten rows
    victim = next(r["path"] for r in base.select(
        "path", _bucket_expr(("repo", "path"), nb).alias("b")
    ).collect() if r["b"] == chosen[0])
    fix = spark.createDataFrame([("r", victim, 0, "FINAL")],
                                "repo string, path string, row_id int, "
                                "v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", fix, fix.select("repo", "path"),
                           ("repo", "path"), n_buckets=nb)
    txn.commit()
    got = {r["path"]: r["v"] for r in cat.read("t").collect()}
    assert got[victim] == "FINAL" and len(got) == 40


def test_replay_auto_compaction_is_incremental(spark, tmp_path):
    """The replay loop's marker-growth trigger compacts only the
    marker-dense buckets and preserves the replayed state."""
    events = fixture_events(spark, fixture_blobs())
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=8,
                       wide_view=False)
    # force the trigger on every replay: any marker file fires it
    pipe.replay(events, compact_after_markers=0,
                compact_after_marker_bytes=0)
    fp_compacted = state_fingerprint(pipe.results())
    ref = CdcPipeline(spark, str(tmp_path / "ref"), n_buckets=8,
                      wide_view=False)
    ref.replay(events, compact_after_markers=None)
    assert fp_compacted == state_fingerprint(ref.results())


def test_wide_view_width_guard_spillover(spark, tmp_path):
    """One pathological over-wide sheet must not widen results_wide past
    the cap: positions past wide_max_cols land in a single c_overflow
    array and the row still round-trips losslessly."""
    from grate_spark.cdc.events import EVENT_COLS
    from grate_spark.cdc.pipeline import WIDE_TABLE

    wide_cells = [str(i) for i in range(30)]
    body = ",".join(wide_cells) + "\nx,y"
    events = spark.createDataFrame(
        [(1, 0, "I", "r", "wide.csv", "c1", "csv", body),
         (2, 0, "I", "r", "slim.csv", "c2", "csv", "a,b\n1,2")],
        list(EVENT_COLS))
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=True, wide_max_cols=8)
    pipe.replay(events)

    wide = pipe.results_wide()
    ccols = [c for c in wide.columns if c.startswith("c0")]
    assert len(ccols) == 8 and "c_overflow" in wide.columns
    assert len(wide.columns) == 4 + 8 + 1  # keys + cap + spillover

    r0 = wide.filter((F.col("path") == "wide.csv")
                     & (F.col("row_id") == 0)).collect()[0]
    got = [r0[f"c{i + 1:03d}"] for i in range(8)] + list(r0["c_overflow"])
    assert got == wide_cells
    # the narrow row of the same sheet: overflow slice is empty
    r1 = wide.filter((F.col("path") == "wide.csv")
                     & (F.col("row_id") == 1)).collect()[0]
    assert [r1["c001"], r1["c002"]] == ["x", "y"]
    assert list(r1["c_overflow"]) == []
    # the slim sheet's rows: overflow NULL-or-empty, values intact
    s = wide.filter((F.col("path") == "slim.csv")
                    & (F.col("row_id") == 1)).collect()[0]
    assert [s["c001"], s["c002"]] == ["1", "2"]


# --------------------------------------------------------------------------
# file-level key bounds (data skipping) + point lookups

def test_scan_entries_bounds_prune_jvm_writer(spark, tmp_path):
    """Files written by the JVM writer carry footer-derived key bounds
    in the manifest; a point read consults them and skips files whose
    [min,max] range excludes the key — Iceberg-style data skipping on
    top of bucket pruning."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    a = spark.createDataFrame(
        [("aaa", f"p{i}", i, "x") for i in range(4)],
        "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", a, a.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    z = spark.createDataFrame(
        [("zzz", f"p{i}", i, "y") for i in range(4)],
        "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", z, z.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()

    full = cat.scan_entries("t")
    assert full and all(e.get("bounds") for e in full)
    pruned = cat.scan_entries("t", key_eq={"repo": "aaa"})
    # every file from the zzz-only merge is skipped by its repo bounds
    assert 0 < len(pruned) < len(full)
    assert all(e["bounds"]["repo"][0] <= "aaa" <= e["bounds"]["repo"][1]
               for e in pruned)

    got = sorted((r["path"], r["row_id"], r["v"]) for r in
                 cat.read("t", key_eq={"repo": "aaa"}).collect())
    want = sorted((r["path"], r["row_id"], r["v"]) for r in
                  cat.read("t").filter(F.col("repo") == "aaa").collect())
    assert got == want and len(got) == 4


def test_fused_writer_bounds_and_read_key(spark, tmp_path):
    """The fused arrow-native writer computes the same bounds in-task
    (no driver footer reads); read_key() routes a full-key lookup to
    one bucket AND skips bound-excluded files, returning exactly the
    filtered-snapshot rows."""
    from grate_spark.cdc.events import EVENT_COLS
    from grate_spark.cdc.pipeline import RESULTS_TABLE

    rows = [(i + 1, 0, "I", "repoA", f"a{i}.csv", "c1", "csv",
             f"k,v\n{i},a") for i in range(3)]
    rows += [(i + 4, 0, "I", "repoZ", f"z{i}.csv", "c2", "csv",
              f"k,v\n{i},z") for i in range(3)]
    events = spark.createDataFrame(rows, list(EVENT_COLS))
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False, python_encode=True)
    # two batches -> repoA files and repoZ files land in separate
    # commits, so per-file repo bounds are tight
    pipe.replay(events, batch_size=3)

    cat = pipe.lake
    full = cat.scan_entries(RESULTS_TABLE)
    assert all(e.get("bounds") for e in full)
    pruned = cat.scan_entries(RESULTS_TABLE,
                              key_eq={"repo": "repoA", "path": "a1.csv"})
    assert 0 < len(pruned) < len(full)

    got = cat.read_key(RESULTS_TABLE,
                       {"repo": "repoA", "path": "a1.csv"})
    want = (cat.read(RESULTS_TABLE)
            .filter((F.col("repo") == "repoA")
                    & (F.col("path") == "a1.csv")))
    assert state_fingerprint(got) == state_fingerprint(want)
    assert got.count() == 2  # header row 0 + data row

    # a key that bounds exclude everywhere scans zero files but still
    # answers (empty) correctly
    none = cat.read_key(RESULTS_TABLE,
                        {"repo": "nope", "path": "a1.csv"})
    assert none.count() == 0
    assert cat.scan_entries(RESULTS_TABLE,
                            key_eq={"repo": "nope"}) == []


# --------------------------------------------------------------------------
# marker squash (O(markers) maintenance, no data rewrite)

def test_squash_markers_preserves_state(spark, tmp_path):
    """squash_markers folds N per-commit marker files into one holding
    max(seq) per key: read state identical, marker entry count -> 1,
    data files untouched, old marker files vacuumable, changes() still
    serves the pre-squash history."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    for i in range(4):
        df = spark.createDataFrame(
            [("r", f"p{j}", i, f"v{i}") for j in range(i + 1)],
            "repo string, path string, row_id int, v string")
        txn = cat.begin()
        txn.merge_replace_keys("t", df, df.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    t = cat.manifest()["tables"]["t"]
    n_before = sum(len(fs) for fs in t["markers"].values())
    assert n_before == 4
    data_before = sorted(e["path"] for es in
                         cat.table_files("t").values() for e in es)
    before = state_fingerprint(cat.read("t"),
                               ["repo", "path", "row_id", "v"])

    txn = cat.begin()
    assert txn.squash_markers("t") == 4
    v = txn.commit()

    t = cat.manifest()["tables"]["t"]
    entries = [e for fs in t["markers"].values() for e in fs]
    assert len(entries) == 1
    assert state_fingerprint(cat.read("t"),
                             ["repo", "path", "row_id", "v"]) == before
    data_after = sorted(e["path"] for es in
                        cat.table_files("t").values() for e in es)
    assert data_after == data_before          # no data rewrite
    # squash is logically invisible to the changelog
    assert cat.changes("t", v - 1, v).count() == 0
    assert cat.changes("t", 0, v).count() > 0
    # old marker files are unreferenced now -> vacuum collects them
    removed = cat.vacuum(keep_manifests=1, min_age_seconds=0)
    assert removed["files_removed"] >= n_before
    assert state_fingerprint(cat.read("t"),
                             ["repo", "path", "row_id", "v"]) == before


def test_replay_auto_squash_markers(spark, tmp_path):
    """The replay maintenance pass squashes marker files when their
    count outgrows the threshold but data compaction isn't warranted."""
    from grate_spark.cdc.events import EVENT_COLS
    from grate_spark.cdc.pipeline import RESULTS_TABLE

    rows = [(i + 1, 0, "I", "r", f"f{i}.csv", "c", "csv",
             f"k,v\n{i},x") for i in range(6)]
    events = spark.createDataFrame(rows, list(EVENT_COLS))
    pipe = CdcPipeline(spark, str(tmp_path / "lake"), n_buckets=4,
                       wide_view=False)
    pipe.replay(events, batch_size=1,
                compact_after_markers=10_000,
                compact_after_marker_bytes=1 << 40,
                squash_after_marker_files=3)
    t = pipe.lake.manifest()["tables"][RESULTS_TABLE]
    entries = [e for fs in t.get("markers", {}).values() for e in fs]
    assert len(entries) == 1                  # squashed, not compacted
    assert pipe.results().count() == 12       # 6 files x 2 rows


# --------------------------------------------------------------------------
# bucket-spec evolution (rebucket)

def test_rebucket_preserves_state_and_routes(spark, tmp_path):
    """rebucket() rewrites the table under a new bucket count: read
    state identical, markers folded, n_buckets flipped, point lookups
    route through the NEW spec, the changelog ignores the op, and old
    files become vacuumable."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    for i in range(3):
        df = spark.createDataFrame(
            [(f"r{j}", f"p{j}", i, f"v{i}") for j in range(6)],
            "repo string, path string, row_id int, v string")
        txn = cat.begin()
        txn.merge_replace_keys("t", df, df.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    before = state_fingerprint(cat.read("t"),
                               ["repo", "path", "row_id", "v"])
    v0 = cat.current_version()

    txn = cat.begin()
    txn.rebucket("t", 16)
    v1 = txn.commit()

    t = cat.manifest()["tables"]["t"]
    assert t["n_buckets"] == 16
    assert not any(e for fs in t.get("markers", {}).values() for e in fs)
    assert state_fingerprint(cat.read("t"),
                             ["repo", "path", "row_id", "v"]) == before
    # point lookup routes by the new spec (bucket id can exceed old nb)
    got = cat.read_key("t", {"repo": "r3", "path": "p3"}).collect()
    assert [(r["row_id"], r["v"]) for r in got] == [(2, "v2")]
    # rebucket is logically invisible to the changelog
    assert cat.changes("t", v0, v1).count() == 0
    # superseded layout is unreferenced -> vacuumable; state survives
    removed = cat.vacuum(keep_manifests=1, min_age_seconds=0)
    assert removed["files_removed"] > 0
    assert state_fingerprint(cat.read("t"),
                             ["repo", "path", "row_id", "v"]) == before


def test_rebucket_guards(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([("r", "p", 1, "v")],
                               "repo string, path string, row_id int, "
                               "v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    txn = cat.begin()
    with pytest.raises(ValueError):
        txn.rebucket("t", 0)
    with pytest.raises(KeyError):
        txn.rebucket("nope", 4)
    # must be the txn's first op on the table
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    with pytest.raises(RuntimeError):
        txn.rebucket("t", 4)


@pytest.mark.parametrize("maintenance", ["compact", "compact_buckets",
                                         "rebucket"])
def test_merge_after_maintenance_in_one_txn(spark, tmp_path, maintenance):
    """A merge staged after a compaction or rebucket in the same txn
    supersedes the rewritten rows: one row per key, the merged value."""
    from grate_spark.cdc.lake import _bucket_expr

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    schema = "repo string, path string, row_id int, v string"
    for tag in ("a", "b"):
        df = spark.createDataFrame(
            [("r", f"p{i}", 0, f"{tag}{i}") for i in range(12)], schema)
        txn = cat.begin()
        txn.merge_replace_keys("t", df, df.select("repo", "path"),
                               ("repo", "path"), n_buckets=4)
        txn.commit()

    fix = spark.createDataFrame([("r", "p3", 0, "c3"), ("r", "p7", 0, "c7")],
                                schema)
    txn = cat.begin()
    if maintenance == "compact":
        txn.compact("t")
    elif maintenance == "rebucket":
        txn.rebucket("t", 8)
    else:
        fixed = {r["b"] for r in fix.select(_bucket_expr(
            ("repo", "path"), 4).alias("b")).collect()}
        txn.compact("t", buckets=sorted(fixed))
    txn.merge_replace_keys("t", fix, fix.select("repo", "path"),
                           ("repo", "path"), n_buckets=4)
    txn.commit()

    want = sorted((f"p{i}", {3: "c3", 7: "c7"}.get(i, f"b{i}"))
                  for i in range(12))
    assert sorted((r["path"], r["v"]) for r in cat.read("t").collect()) \
        == want
    for key in ("p3", "p7"):
        got = cat.read_key("t", {"repo": "r", "path": key}).collect()
        assert [r["v"] for r in got] == ["c" + key[1:]]


def test_pipeline_follows_manifest_bucket_spec(spark, tmp_path):
    """A rebucketed lake keeps ingesting correctly even when the
    pipeline was constructed with a stale n_buckets: writers follow
    the manifest's spec, so marker routing, bounds pruning and point
    lookups stay consistent across the evolution."""
    from grate_spark.cdc.events import EVENT_COLS
    from grate_spark.cdc.pipeline import RESULTS_TABLE

    root = str(tmp_path / "lake")
    rows = [(i + 1, 0, "I", "r", f"f{i}.csv", "c", "csv",
             f"k,v\n{i},a") for i in range(4)]
    pipe = CdcPipeline(spark, root, n_buckets=4, wide_view=False)
    pipe.replay(spark.createDataFrame(rows, list(EVENT_COLS)))

    txn = pipe.lake.begin()
    txn.rebucket(RESULTS_TABLE, 16)
    txn.commit()

    # stale constructor arg: the pipeline must pick up 16 from the
    # manifest, not write with 4
    pipe2 = CdcPipeline(spark, root, n_buckets=4, wide_view=False)
    assert pipe2.n_buckets == 16
    more = [(i + 5, 0, "U" if i < 2 else "I", "r", f"f{i}.csv", "c2",
             "csv", f"k,v\n{i},b") for i in range(6)]
    pipe2.replay(spark.createDataFrame(more, list(EVENT_COLS)))

    live = pipe2.results().filter(F.col("row_id") >= 1)
    got = sorted((r["path"], r["cells"][1]) for r in live.collect())
    want = sorted([(f"f{i}.csv", "b") for i in range(6)])
    assert got == want
    # point lookup through the evolved spec returns the updated row
    one = pipe2.lake.read_key(RESULTS_TABLE,
                              {"repo": "r", "path": "f1.csv"}) \
        .filter(F.col("row_id") == 1).collect()
    assert [r["cells"][1] for r in one] == ["b"]


# --------------------------------------------------------------------------
# snapshot tags (named refs, GC-exempt)

def test_tag_pins_snapshot_across_ingest_and_vacuum(spark, tmp_path):
    """tag() pins a version under a stable name: reads through the tag
    never move as ingest continues, and vacuum keeps the tagged
    manifest AND its data files alive while collecting the rest;
    untag() releases them."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    cols = ["repo", "path", "row_id", "v"]
    for i in range(2):
        df = spark.createDataFrame(
            [("r", f"p{j}", i, f"v{i}") for j in range(3)],
            "repo string, path string, row_id int, v string")
        txn = cat.begin()
        txn.merge_replace_keys("t", df, df.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    pinned = state_fingerprint(cat.read("t"), cols)

    txn = cat.begin()
    txn.tag("release-1")          # defaults to the txn's base version
    txn.commit()
    assert cat.snapshot_tags() == {"release-1": 2}

    # ingest moves on; a later compact rewrites the live layout
    df = spark.createDataFrame(
        [("r", f"p{j}", 9, "v9") for j in range(3)],
        "repo string, path string, row_id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    txn = cat.begin()
    txn.compact("t")
    txn.commit()

    head = state_fingerprint(cat.read("t"), cols)
    assert head != pinned
    assert state_fingerprint(cat.read_tag("t", "release-1"),
                             cols) == pinned

    # GC: everything but the head and the tag is collectable; the
    # tagged snapshot must survive and stay byte-identical
    cat.vacuum(keep_manifests=1, min_age_seconds=0)
    assert state_fingerprint(cat.read_tag("t", "release-1"),
                             cols) == pinned
    assert state_fingerprint(cat.read("t"), cols) == head

    # untag -> the pinned version becomes vacuumable
    txn = cat.begin()
    txn.untag("release-1")
    txn.commit()
    assert cat.snapshot_tags() == {}
    cat.vacuum(keep_manifests=1, min_age_seconds=0)
    with pytest.raises(KeyError):
        cat.manifest_at(2)
    assert state_fingerprint(cat.read("t"), cols) == head


def test_tag_guards(spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([("r", "p", 1, "v")],
                               "repo string, path string, row_id int, "
                               "v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=1)
    txn.commit()
    txn = cat.begin()
    with pytest.raises(ValueError):
        txn.tag("")
    with pytest.raises(ValueError):
        txn.tag("future", version=99)
    with pytest.raises(KeyError):
        txn.untag("nope")
    with pytest.raises(KeyError):
        cat.read_tag("t", "nope")


# --------------------------------------------------------------------------
# changelog consumer (downstream sync via changes())

def test_sync_from_changes_incremental(spark, tmp_path):
    """A downstream lake follows the upstream table through the
    changelog: initial sync copies the state, later syncs apply only
    the delta window (upserts + deletes, last commit per key wins),
    an idle poll is a no-op, and the consumer cursor rides the
    downstream lake's transactional checkpoint."""
    from grate_spark.cdc.sync import sync_from_changes

    src = LakeCatalog(spark, str(tmp_path / "src"))
    dst = LakeCatalog(spark, str(tmp_path / "dst"))
    cols = ["repo", "path", "row_id", "v"]

    df = spark.createDataFrame(
        [("r", f"p{j}", 1, "v1") for j in range(4)],
        "repo string, path string, row_id int, v string")
    txn = src.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()

    r1 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r1["applied"] and r1["n_keys"] == 4
    assert state_fingerprint(dst.read("t"), cols) == \
        state_fingerprint(src.read("t"), cols)

    # idle poll: no new upstream commits -> no downstream commit
    v_dst = dst.current_version()
    r2 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert not r2["applied"]
    assert dst.current_version() == v_dst

    # window with an update, a delete, and a re-update of the same key
    # across two commits (the LAST commit must win wholesale)
    up = spark.createDataFrame(
        [("r", "p0", 1, "v2"), ("r", "p0", 2, "v2")],
        "repo string, path string, row_id int, v string")
    txn = src.begin()
    txn.merge_replace_keys("t", up, up.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    # delete p1; shrink p0 back to one row (two more commits)
    txn = src.begin()
    txn.merge_replace_keys(
        "t",
        spark.createDataFrame([], "repo string, path string, "
                                  "row_id int, v string"),
        spark.createDataFrame([("r", "p1")], "repo string, path string"),
        ("repo", "path"), n_buckets=2)
    txn.commit()
    up2 = spark.createDataFrame(
        [("r", "p0", 9, "v3")],
        "repo string, path string, row_id int, v string")
    txn = src.begin()
    txn.merge_replace_keys("t", up2, up2.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()

    r3 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r3["applied"] and r3["from_version"] == r1["to_version"]
    assert state_fingerprint(dst.read("t"), cols) == \
        state_fingerprint(src.read("t"), cols)
    got = {(r["path"], r["row_id"], r["v"])
           for r in dst.read("t").collect()}
    assert ("p0", 9, "v3") in got and ("p0", 1, "v2") not in got
    assert not any(p == "p1" for p, *_ in got)


def test_sync_from_changes_schema_evolution(spark, tmp_path):
    """An upstream column-add flows through the changelog: the
    consumer's merge evolves the downstream schema (old rows read as
    NULL in the new column) without any manual migration."""
    from grate_spark.cdc.sync import sync_from_changes

    src = LakeCatalog(spark, str(tmp_path / "src"))
    dst = LakeCatalog(spark, str(tmp_path / "dst"))

    df = spark.createDataFrame(
        [("r", "p0", 1, "v1")],
        "repo string, path string, row_id int, v string")
    txn = src.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    sync_from_changes(src, dst, "t", n_buckets=2)

    wide = spark.createDataFrame(
        [("r", "p1", 1, "v1", 42)],
        "repo string, path string, row_id int, v string, extra int")
    txn = src.begin()
    txn.merge_replace_keys("t", wide, wide.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    r = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r["applied"]

    cols = ["repo", "path", "row_id", "v", "extra"]
    assert dst.table_schema("t").fieldNames() == \
        src.table_schema("t").fieldNames()
    assert state_fingerprint(dst.read("t"), cols) == \
        state_fingerprint(src.read("t"), cols)
    got = {(r["path"], r["extra"]) for r in dst.read("t").collect()}
    assert got == {("p0", None), ("p1", 42)}


# --------------------------------------------------------------------------
# commit retry with rebase (Iceberg-style optimistic concurrency)

def _mk_rows(spark, *rows):
    return spark.createDataFrame(
        list(rows), "repo string, path string, row_id int, v string")


def test_commit_rebase_disjoint_tables(spark, tmp_path):
    """An ingest merge and concurrent maintenance (marker squash) on
    ANOTHER table both commit — the loser rebases its delta onto the
    winner's manifest instead of failing (the common ingest-vs-
    maintenance race at 10^10 events)."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = _mk_rows(spark, *[("r", f"p{j}", 1, "v1") for j in range(4)])
    for v in ("v1", "v2"):  # two merge commits -> >=2 marker files
        txn = cat.begin()
        d = df.withColumn("v", F.lit(v))
        txn.merge_replace_keys("a", d, d.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    txn = cat.begin()
    txn.merge_replace_keys("b", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    cols = ["repo", "path", "row_id", "v"]
    fp_a = state_fingerprint(cat.read("a"), cols)

    t1 = cat.begin()
    assert t1.squash_markers("a") >= 2
    t2 = cat.begin()
    up = _mk_rows(spark, ("r", "p0", 2, "v3"))
    t2.merge_replace_keys("b", up, up.select("repo", "path"),
                          ("repo", "path"), n_buckets=2)
    v1 = t1.commit()
    v2 = t2.commit()  # conflicts at v1's slot -> rebases -> commits
    assert v2 == v1 + 1
    assert state_fingerprint(cat.read("a"), cols) == fp_a
    got = {(r["path"], r["row_id"], r["v"])
           for r in cat.read("b").collect()}
    assert ("p0", 2, "v3") in got and ("p0", 1, "v1") not in got


def test_commit_rebase_ingest_over_compact_disjoint_buckets(spark,
                                                            tmp_path):
    """Incremental compaction of bucket A and an ingest merge touching
    only bucket B of the SAME table both commit; the rebased ingest's
    rows and markers survive on top of the compacted state."""
    from grate_spark.cdc.lake import _bucket_expr

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    nb = 4
    cand = spark.createDataFrame([(f"p{i}",) for i in range(40)],
                                 "path string")
    bk = {r["path"]: r["b"] for r in cand
          .withColumn("repo", F.lit("r"))
          .select("path", _bucket_expr(("repo", "path"), nb).alias("b"))
          .collect()}
    buckets = sorted(set(bk.values()))
    assert len(buckets) >= 2
    in_a = [p for p, b in bk.items() if b == buckets[0]][:3]
    in_b = [p for p, b in bk.items() if b == buckets[1]][:3]
    seed = _mk_rows(spark, *[("r", p, 1, "v1") for p in in_a + in_b])
    for v in ("v1", "v2"):
        txn = cat.begin()
        d = seed.withColumn("v", F.lit(v))
        txn.merge_replace_keys("t", d, d.select("repo", "path"),
                               ("repo", "path"), n_buckets=nb)
        txn.commit()
    cols = ["repo", "path", "row_id", "v"]

    t1 = cat.begin()
    t1.compact("t", buckets=[buckets[0]])
    t2 = cat.begin()
    up = _mk_rows(spark, ("r", in_b[0], 7, "v9"))
    t2.merge_replace_keys("t", up, up.select("repo", "path"),
                          ("repo", "path"), n_buckets=nb)
    v1 = t1.commit()
    v2 = t2.commit()  # disjoint buckets -> rebase succeeds
    assert v2 == v1 + 1
    got = {(r["path"], r["row_id"], r["v"])
           for r in cat.read("t").collect()}
    assert (in_b[0], 7, "v9") in got
    assert (in_b[0], 1, "v2") not in got  # ingest's marker survived
    for p in in_a:  # compacted bucket intact
        assert (p, 1, "v2") in got


def test_commit_conflict_overlapping_buckets_still_raises(spark,
                                                          tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = _mk_rows(spark, ("r", "p0", 1, "v1"))
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    t1 = cat.begin()
    t2 = cat.begin()
    for t in (t1, t2):
        up = _mk_rows(spark, ("r", "p0", 1, "v2"))
        t.merge_replace_keys("t", up, up.select("repo", "path"),
                             ("repo", "path"), n_buckets=2)
    t1.commit()
    with pytest.raises(RuntimeError, match="conflict"):
        t2.commit()


def test_commit_conflict_exclusive_op_on_touched_table_raises(spark,
                                                              tmp_path):
    """A wholesale op (squash/compact) that lost the race to ANY commit
    touching its table must raise — its rewrite read stale state."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = _mk_rows(spark, ("r", "p0", 1, "v1"), ("r", "p1", 1, "v1"))
    for v in ("v1", "v2"):
        txn = cat.begin()
        d = df.withColumn("v", F.lit(v))
        txn.merge_replace_keys("t", d, d.select("repo", "path"),
                               ("repo", "path"), n_buckets=2)
        txn.commit()
    t1 = cat.begin()
    assert t1.squash_markers("t") >= 2
    t2 = cat.begin()
    up = _mk_rows(spark, ("r", "p0", 2, "v3"))
    t2.merge_replace_keys("t", up, up.select("repo", "path"),
                          ("repo", "path"), n_buckets=2)
    t2.commit()
    with pytest.raises(RuntimeError, match="conflict"):
        t1.commit()


# --------------------------------------------------------------------------
# point-lookup marker bounding + O(delta) changelog walk

def test_point_lookup_marker_scan_bucket_bounded(spark, tmp_path):
    """read_key must bound the MARKER side of the MoR anti-supersede
    join too: the plan re-derives each marker key's bucket with the
    writers' hash expression and filters to the routed bucket (plus
    the exact key equality), so a point lookup never builds the
    table's full cumulative touched-key set."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = _mk_rows(spark, *[("r", f"p{j}", 1, "v1") for j in range(8)])
    for v in ("v1", "v2"):
        txn = cat.begin()
        d = df.withColumn("v", F.lit(v))
        txn.merge_replace_keys("t", d, d.select("repo", "path"),
                               ("repo", "path"), n_buckets=4)
        txn.commit()
    import re

    # bucket-pruned read (no exact key): the marker union must carry
    # the re-derived bucket filter above the marker relation
    pruned = cat.read("t", buckets=[1])
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"pmod\(xxhash64[^\n]*\n[^\n]*"
                  r"Relation \[repo#\d+,path#\d+,seq#\d+L\]", plan)
    assert m, plan[:3000]

    # full-key point lookup: the optimizer folds the bucket filter into
    # the (tighter) exact-key equality on the marker relation
    out = cat.read_key("t", {"repo": "r", "path": "p3"})
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    m = re.search(r"Filter [^\n]*p3[^\n]*\n[^\n]*"
                  r"Relation \[repo#\d+,path#\d+,seq#\d+L\]", plan)
    assert m, plan[:3000]
    rows = out.collect()
    assert {(r["path"], r["v"]) for r in rows} == {("p3", "v2")}


def test_changes_chain_is_o_delta(spark, tmp_path):
    """A consumer polling a long idle window opens O(commits that
    changed the table) manifests, not O(window): 40 commits to another
    table between two changes to the polled one."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    from pyspark.sql.types import IntegerType, StructField, StructType
    df = _mk_rows(spark, ("r", "p0", 1, "v1"))
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    schema = StructType([StructField("k", IntegerType())])
    for i in range(40):  # driver-side appends: cheap commits
        txn = cat.begin()
        txn.append_rows("x", [(i,)], schema)
        txn.commit()
    up = _mk_rows(spark, ("r", "p0", 2, "v2"))
    txn = cat.begin()
    txn.merge_replace_keys("t", up, up.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()

    fresh = LakeCatalog(spark, str(tmp_path / "lake"))  # cold cache
    delta = fresh.changes("t", 0)
    n_upserts = delta.filter(F.col("_change_type") == "upsert").count()
    assert n_upserts == 2
    assert fresh.manifest_reads <= 6, fresh.manifest_reads
    # and a narrow recent window re-reads nothing extra (memoized)
    before = fresh.manifest_reads
    fresh.changes("t", fresh.current_version() - 5)
    assert fresh.manifest_reads <= before + 1


# --------------------------------------------------------------------------
# append-only table sync (changelog consumer)

def test_sync_append_only_table(spark, tmp_path):
    """Append-op windows replay as appends downstream — two appends of
    the SAME key must both survive (last-wins folding would silently
    drop one); a window mixing append and merge ops refuses."""
    from grate_spark.cdc.sync import sync_from_changes

    src = LakeCatalog(spark, str(tmp_path / "src"))
    dst = LakeCatalog(spark, str(tmp_path / "dst"))
    cols = ["repo", "path", "row_id", "v"]
    a1 = _mk_rows(spark, ("r", "p0", 1, "v1"))
    a2 = _mk_rows(spark, ("r", "p0", 2, "v2"))  # same key, new row
    for d in (a1, a2):
        txn = src.begin()
        txn.append("log", d, key_cols=("repo", "path"), n_buckets=2)
        txn.commit()

    r = sync_from_changes(src, dst, "log", n_buckets=2)
    assert r["applied"] and r["n_keys"] == 2
    assert state_fingerprint(dst.read("log"), cols) == \
        state_fingerprint(src.read("log"), cols)
    assert dst.read("log").count() == 2

    # incremental window
    txn = src.begin()
    txn.append("log", _mk_rows(spark, ("r", "p1", 1, "v3")),
               key_cols=("repo", "path"), n_buckets=2)
    txn.commit()
    r2 = sync_from_changes(src, dst, "log", n_buckets=2)
    assert r2["applied"]
    assert state_fingerprint(dst.read("log"), cols) == \
        state_fingerprint(src.read("log"), cols)

    # a mixed window on one table cannot apply as one idempotent step
    txn = src.begin()
    txn.append("log", _mk_rows(spark, ("r", "p2", 1, "v4")),
               key_cols=("repo", "path"), n_buckets=2)
    txn.commit()
    m = _mk_rows(spark, ("r", "p0", 9, "v5"))
    txn = src.begin()
    txn.merge_replace_keys("log", m, m.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    with pytest.raises(ValueError, match="no incremental form"):
        sync_from_changes(src, dst, "log", n_buckets=2)


# --------------------------------------------------------------------------
# wide view under bucket-spec evolution (rebucket)

def test_wide_view_survives_rebucket(spark, tmp_path):
    """After rebucket(results, k) the wide table keeps its own spec;
    the wide merge must not filter rows by a touched set computed
    under the results spec (silent data loss)."""
    from grate_spark.cdc.pipeline import RESULTS_TABLE

    root = str(tmp_path / "lake")
    pipe = CdcPipeline(spark, root, n_buckets=4, wide_view=True)
    events = fixture_events(spark, fixture_blobs())
    n = events.count()
    pipe.replay(events, batch_size=max(2, n // 2), max_batches=1)

    txn = pipe.lake.begin()
    txn.rebucket(RESULTS_TABLE, 8)
    txn.commit()

    pipe2 = CdcPipeline(spark, root, n_buckets=4, wide_view=True)
    pipe2.replay(events, batch_size=max(2, n // 2))

    res_keys = {(r["repo"], r["path"], r["sheet"], r["row_id"])
                for r in pipe2.results()
                .filter(F.col("error").isNull()).collect()}
    wide_keys = {(r["repo"], r["path"], r["sheet"], r["row_id"])
                 for r in pipe2.results_wide().collect()}
    assert wide_keys == res_keys


# --------------------------------------------------------------------------
# tag guards vs vacuum expiry

def test_tag_expired_version_rejected_and_vacuum_skips_missing(
        spark, tmp_path):
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = _mk_rows(spark, ("r", "p0", 1, "v1"))
    for i in range(5):
        txn = cat.begin()
        d = df.withColumn("v", F.lit(f"v{i}"))
        txn.merge_replace_keys("t", d, d.select("repo", "path"),
                               ("repo", "path"), n_buckets=1)
        txn.commit()
    cat.vacuum(keep_manifests=2, min_age_seconds=0)
    txn = cat.begin()
    with pytest.raises(ValueError, match="expired"):
        txn.tag("old", version=1)

    # a tag whose manifest disappeared externally must not wedge GC
    txn = cat.begin()
    txn.tag("pin", version=cat.current_version())
    txn.commit()
    os.unlink(cat._manifest_path(cat.snapshot_tags()["pin"]))
    cat._man_cache.clear()
    out = cat.vacuum(keep_manifests=2, min_age_seconds=0)
    assert "manifests_pruned" in out  # completed without raising


def test_sync_recopy_on_non_incremental_windows(spark, tmp_path):
    """Windows with no row-level incremental form (a wholesale replace,
    or mixed append+merge) re-copy the upstream snapshot when asked,
    and later windows resume incremental application from there."""
    from grate_spark.cdc.sync import sync_from_changes

    src = LakeCatalog(spark, str(tmp_path / "src"))
    dst = LakeCatalog(spark, str(tmp_path / "dst"))
    cols = ["repo", "path", "row_id", "v"]
    df = _mk_rows(spark, ("r", "p0", 1, "v1"), ("r", "p1", 1, "v1"))
    txn = src.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    rep = _mk_rows(spark, ("r", "p9", 1, "v9"))
    txn = src.begin()
    txn.create_or_replace("t", rep, ("repo", "path"), n_buckets=2)
    txn.commit()

    with pytest.raises(ValueError):
        sync_from_changes(src, dst, "t", n_buckets=2)
    r = sync_from_changes(src, dst, "t", n_buckets=2,
                          on_non_incremental="recopy")
    assert r["applied"] and r.get("recopied") and r["n_keys"] == 1
    assert state_fingerprint(dst.read("t"), cols) == \
        state_fingerprint(src.read("t"), cols)

    # incremental resumes after the recopy
    up = _mk_rows(spark, ("r", "p9", 2, "v10"))
    txn = src.begin()
    txn.merge_replace_keys("t", up, up.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    r2 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r2["applied"] and not r2.get("recopied")
    assert state_fingerprint(dst.read("t"), cols) == \
        state_fingerprint(src.read("t"), cols)


def test_sync_crash_replay_is_idempotent(spark, tmp_path):
    """A consumer that crashes after reading a window but before its
    (atomic) apply+cursor commit re-polls the SAME window on restart;
    re-applying it must be a no-op for converged state (the MoR merge
    replaces each key's rows with identical rows, deletes re-tombstone
    already-absent keys). Simulated by rolling the downstream cursor
    back and polling again."""
    from grate_spark.cdc.sync import sync_from_changes

    src = LakeCatalog(spark, str(tmp_path / "src"))
    dst = LakeCatalog(spark, str(tmp_path / "dst"))
    cols = ["repo", "path", "row_id", "v"]
    df = _mk_rows(spark, ("r", "p0", 1, "v1"), ("r", "p1", 1, "v1"),
                  ("r", "p2", 1, "v1"))
    txn = src.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    r1 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r1["applied"]

    # window: update p0, then delete p1 (two upstream commits)
    up = _mk_rows(spark, ("r", "p0", 1, "v2"))
    txn = src.begin()
    txn.merge_replace_keys("t", up, up.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()
    txn = src.begin()
    txn.merge_replace_keys(
        "t",
        spark.createDataFrame([], "repo string, path string, "
                                  "row_id int, v string"),
        spark.createDataFrame([("r", "p1")], "repo string, path string"),
        ("repo", "path"), n_buckets=2)
    txn.commit()
    r2 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r2["applied"]
    want = state_fingerprint(dst.read("t"), cols)
    assert want == state_fingerprint(src.read("t"), cols)

    # crash-replay: roll the cursor back to before the window and poll
    # again — the identical window re-applies onto converged state
    txn = dst.begin()
    txn.set_checkpoint({"sync:t": r2["from_version"]})
    txn.commit()
    r3 = sync_from_changes(src, dst, "t", n_buckets=2)
    assert r3["applied"]
    assert r3["from_version"] == r2["from_version"]
    assert r3["to_version"] == r2["to_version"]
    assert state_fingerprint(dst.read("t"), cols) == want
    got = {(r["path"], r["v"]) for r in dst.read("t").collect()}
    assert ("p0", "v2") in got and not any(p == "p1" for p, _ in got)


def test_changes_batched_plan_matches_per_op(spark, tmp_path):
    """Big-window changelog reads take the batched O(schema-groups)
    plan (one scan per (kind, schema) + one delete anti-join, commit
    versions recovered from stage dirs); its output must be row-for-row
    identical to the per-op plan across merges, delete-only commits,
    and a mid-window schema evolution. The lake root deliberately
    contains a "data" path segment — the stage-dir capture must anchor
    on the END of the file path, not the first "data" component."""
    cat = LakeCatalog(spark, str(tmp_path / "data" / "lake"))
    for i in range(9):
        txn = cat.begin()
        if i == 5:  # delete-only commit
            d = spark.createDataFrame([], "repo string, path string, "
                                          "row_id int, v string")
            keys = _mk_rows(spark, ("r", "p1", 0, "")) \
                .select("repo", "path")
        else:
            cols = "repo string, path string, row_id int, v string"
            if i >= 7:  # schema evolution: extra column
                d = spark.createDataFrame(
                    [("r", f"p{i % 4}", 1, f"v{i}", i)],
                    cols + ", extra int")
            else:
                d = spark.createDataFrame(
                    [("r", f"p{i % 4}", 1, f"v{i}")], cols)
            keys = d.select("repo", "path")
        txn.merge_replace_keys("t", d, keys, ("repo", "path"),
                               n_buckets=2)
        txn.commit()

    cols = ["repo", "path", "row_id", "v", "extra",
            "_change_type", "_commit_version"]
    per_op = cat.changes("t", 0, batch_min=10**9)
    batched = cat.changes("t", 0, batch_min=1)
    assert set(per_op.columns) == set(batched.columns)
    assert state_fingerprint(per_op, cols) == \
        state_fingerprint(batched, cols)
    # the batched plan really is op-count-independent: FILE scans are
    # one per (kind, schema) group on the row side and one per schema
    # on the marker side (each referenced again by the delete
    # anti-join) — 8 parquet relations here for 9 commits with a
    # mid-window schema evolution, and STILL 8 at 900 commits; the
    # per-op plan carries one subtree per op (~17 already at 9). The
    # broadcast (stage dir -> version) LocalRelations are driver-tiny
    # and excluded from the scan count.
    plan = batched._jdf.queryExecution().optimizedPlan().toString()
    n_batched = plan.count("Relation [") - plan.count("LocalRelation")
    assert n_batched <= 8, plan[:2000]
    per_op_plan = per_op._jdf.queryExecution().optimizedPlan().toString()
    assert per_op_plan.count("Relation [") >= 2 * n_batched
    # and version recovery must be the broadcast join, never a
    # per-row literal-map scan (O(window) per row on big windows)
    assert "map_keys" not in plan and "element_at" not in plan
    # and a window slice behaves identically too
    s1 = cat.changes("t", 3, batch_min=10**9)
    s2 = cat.changes("t", 3, batch_min=1)
    assert state_fingerprint(s1, cols) == state_fingerprint(s2, cols)


def test_commit_conflict_delete_only_merge_same_key(spark, tmp_path):
    """A delete-only merge stages NO data files, but its marker-touched
    buckets still count in the conflict footprint: losing the race to
    a concurrent write of the same key must raise, not rebase — the
    staged marker keeps the old commit sequence, and on a seq tie the
    MoR read keeps the row, so a rebased delete would silently lose."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = _mk_rows(spark, ("r", "p0", 1, "v1"))
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=2)
    txn.commit()

    t1 = cat.begin()
    up = _mk_rows(spark, ("r", "p0", 1, "v2"))
    t1.merge_replace_keys("t", up, up.select("repo", "path"),
                          ("repo", "path"), n_buckets=2)
    t2 = cat.begin()
    empty = spark.createDataFrame([], "repo string, path string, "
                                      "row_id int, v string")
    t2.merge_replace_keys("t", empty,
                          spark.createDataFrame([("r", "p0")],
                                                "repo string, "
                                                "path string"),
                          ("repo", "path"), n_buckets=2)
    t1.commit()
    with pytest.raises(RuntimeError, match="conflict"):
        t2.commit()
    # the winner's write is intact
    got = {(r["path"], r["v"]) for r in cat.read("t").collect()}
    assert got == {("p0", "v2")}


def test_py_xxhash64_bit_parity_with_jvm(spark):
    """Round-6 gate (VERDICT r5 item 5): the driver-side Python replay
    of Spark's XxHash64 — used by read_key to route point lookups
    without a 1-row Spark job — is bit-identical to the JVM expression
    over a randomized corpus (empty/short/block-sized/multi-byte-UTF-8
    strings, signed longs, chained columns)."""
    import random
    import string as _string

    from pyspark.sql import functions as F

    from grate_spark.cdc.lake import py_xxhash64

    random.seed(13)
    pool = _string.printable + "ü日本語𝔘"

    def rnd_str():
        n = random.choice([0, 1, 3, 4, 7, 8, 15, 16, 31, 32, 33, 64,
                           200])
        return "".join(random.choice(pool) for _ in range(n))

    rows = [(rnd_str(), rnd_str(), random.randint(-2 ** 62, 2 ** 62),
             random.randint(-2 ** 31, 2 ** 31 - 1),
             random.randint(-2 ** 15, 2 ** 15 - 1),
             random.randint(-2 ** 7, 2 ** 7 - 1))
            for _ in range(400)]
    df = spark.createDataFrame(rows, "a string, b string, c long, "
                                     "i int, s smallint, t tinyint")
    got = df.select(F.xxhash64("a").alias("h1"),
                    F.xxhash64("a", "b").alias("h2"),
                    F.xxhash64("c").alias("h3"),
                    F.xxhash64("a", "b", "c").alias("h4"),
                    F.xxhash64("i").alias("h5"),
                    F.xxhash64("s").alias("h6"),
                    F.xxhash64("t").alias("h7"),
                    F.xxhash64("a", "i", "s", "t").alias("h8")).collect()
    for (a, b, c, i, s_, t), r in zip(rows, got):
        assert py_xxhash64([a], ["string"]) == r["h1"]
        assert py_xxhash64([a, b], ["string", "string"]) == r["h2"]
        assert py_xxhash64([c], ["bigint"]) == r["h3"]
        assert py_xxhash64([a, b, c],
                           ["string", "string", "bigint"]) == r["h4"]
        assert py_xxhash64([i], ["int"]) == r["h5"]
        assert py_xxhash64([s_], ["smallint"]) == r["h6"]
        assert py_xxhash64([t], ["tinyint"]) == r["h7"]
        assert py_xxhash64([a, i, s_, t], ["string", "int", "smallint",
                                           "tinyint"]) == r["h8"]
    # unsupported type / null -> None (caller falls back to the JVM)
    assert py_xxhash64([None], ["string"]) is None
    assert py_xxhash64([1.5], ["double"]) is None


def test_read_key_routes_without_spark_job(spark, tmp_path):
    """Building a full-key point lookup plan must not run any Spark
    job: the bucket route comes from the gate-tested Python xxhash64
    (the old path paid a 1-row job per lookup)."""
    from grate_spark.cdc.lake import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame(
        [("r%d" % i, "p%d" % i, i) for i in range(50)],
        "repo string, path string, v long")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("repo", "path"),
                           ("repo", "path"), n_buckets=8)
    txn.commit()

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    plan = cat.read_key("t", {"repo": "r7", "path": "p7"})
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "read_key ran a Spark job while planning"
    got = plan.collect()
    assert [(r["repo"], r["path"], r["v"]) for r in got] == \
        [("r7", "p7", 7)]


def test_read_key_int_keyed_table(spark, tmp_path):
    """A point lookup on an int-keyed table routes to the bucket the
    writer used (Spark hashes int keys with the 4-byte hashInt) and
    returns the row."""
    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)],
                               "id int, v string")
    txn = cat.begin()
    txn.merge_replace_keys("t", df, df.select("id"), ("id",), n_buckets=8)
    txn.commit()
    for i in (0, 7, 23, 39):
        got = cat.read_key("t", {"id": i}).collect()
        assert [(r["id"], r["v"]) for r in got] == [(i, f"v{i}")]
