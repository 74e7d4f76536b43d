"""Seeded input generators for the benchmark.

Everything here is pure Python + pyarrow, so inputs are made without
Spark and the program under test receives only the materialized
parquet. The same seed gives byte-identical inputs; another seed gives
different ones (file-to-blob assignment, U/D selection, malformed
files, table values).
"""

from __future__ import annotations

import hashlib
import io
import random
import zipfile

import pyarrow as pa

EVENT_SCHEMA = pa.schema([
    ("offset", pa.int64()), ("partition", pa.int32()), ("op", pa.string()),
    ("repo", pa.string()), ("path", pa.string()), ("commit", pa.string()),
    ("lang", pa.string()), ("content", pa.string()),
])

LANGS = ("en", "de", "fr", "es", "zh")
# log repos and partitions, as in cdc/bench.py's generator
N_REPOS = 16
N_PARTITIONS = 16
WORDS = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "query", "column", "data", "join", "filter", "group",
         "order", "customer", "stream", "small", "big", "vector")


def stable_hash(*parts) -> int:
    """64-bit hash that, unlike ``hash()``, is the same in every process."""
    h = hashlib.blake2b(repr(parts).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


# -- minimal xlsx writer ------------------------------------------------------

_NS_PKG = "http://schemas.openxmlformats.org/package/2006/relationships"
_NS_DOC = ("http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships")
_NS_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_XLSX_PARTS = (
    ("_rels/.rels",
     f'<?xml version="1.0"?><Relationships xmlns="{_NS_PKG}">'
     f'<Relationship Id="rId1" Type="{_NS_DOC}/officeDocument" '
     'Target="xl/workbook.xml"/></Relationships>'),
    ("xl/workbook.xml",
     f'<?xml version="1.0"?><workbook xmlns="{_NS_MAIN}" '
     f'xmlns:r="{_NS_DOC}"><sheets><sheet name="data" sheetId="1" '
     'r:id="rId1"/></sheets></workbook>'),
    ("xl/_rels/workbook.xml.rels",
     f'<?xml version="1.0"?><Relationships xmlns="{_NS_PKG}">'
     f'<Relationship Id="rId1" Type="{_NS_DOC}/worksheet" '
     'Target="worksheets/sheet1.xml"/></Relationships>'),
)


def csv_to_xlsx(body: str) -> bytes:
    """One-sheet workbook holding the CSV body's cells: integers as
    numeric cells, everything else as inline strings. Fixed zip
    timestamps keep the bytes deterministic."""
    lines = body.split("\n")
    ncols = lines[0].count(",") + 1
    out = [f'<?xml version="1.0"?><worksheet xmlns="{_NS_MAIN}">'
           f'<dimension ref="A1:{chr(64 + ncols)}{len(lines)}"/><sheetData>']
    for ri, line in enumerate(lines, start=1):
        out.append(f'<row r="{ri}">')
        for ci, val in enumerate(line.split(",")):
            ref = f"{chr(65 + ci)}{ri}"
            if val.lstrip("-").isdigit():
                out.append(f'<c r="{ref}" t="n"><v>{val}</v></c>')
            else:
                out.append(f'<c r="{ref}" t="inlineStr"><is><t>{val}</t>'
                           '</is></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        parts = _XLSX_PARTS + (("xl/worksheets/sheet1.xml", "".join(out)),)
        for name, data in parts:
            z.writestr(zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0)),
                       data.encode())
    return buf.getvalue()


# -- the change log -----------------------------------------------------------

def event_log(seed: int, n_files: int, rows_per_file: int,
              batch_size: int) -> pa.Table:
    """An I/U/D change log of ``n_files`` tabular blobs, with the event
    kinds, rates and mixed formats of
    ``grate_spark.cdc.bench.bench_events``: even files CSV, odd files
    xlsx (base64, as the repo table carries binary content).

    Every file is inserted once (rows ``doc_id,lang,n_chars``); a third
    of them is later updated with a widened, perturbed version (extra
    ``quality`` column); a tenth is deleted, after its update if it has
    one. One xlsx file in every 50 is malformed (a truncated zip, which
    the extractor turns into an error row) and is never updated or
    deleted. The seed salts which rows land in which file and which
    files are updated, deleted or malformed.

    The log is cut for a tail that replays ``batch_size`` offsets per
    batch, as the pipeline does: the first batch holds only inserts;
    every later batch holds up to 30 % updates and deletes of files
    inserted in earlier batches (a quarter of them deletes) and is
    filled with new inserts in file order, so each tick of a tail mixes
    I, U and D. A file's next event always lands in a later batch than
    its previous one, so no batch touches a key twice. The log ends
    with the batch in which the inserts run out.
    """
    import base64
    from collections import deque

    rng = random.Random(seed)
    n_rows = n_files * rows_per_file
    files: list[list[tuple[int, str, int]]] = [[] for _ in range(n_files)]
    for doc_id in range(n_rows):
        fid = stable_hash(seed, "file", doc_id) % n_files
        files[fid].append((doc_id, rng.choice(LANGS),
                           rng.randint(40, 600)))

    def bad(fid: int) -> bool:
        return fid % 50 == 2 * (stable_hash(seed, "bad", fid // 50) % 25) + 1

    def blob(fid: int, version: int) -> str:
        if version == 1:
            lines = ["doc_id,lang,n_chars"] + [
                f"{d},{lang},{n}" for d, lang, n in files[fid]]
        else:
            lines = ["doc_id,lang,n_chars,quality"] + [
                f"{d},{lang},{n + 1},{n % 7}" for d, lang, n in files[fid]]
        body = "\n".join(lines)
        if fid % 2 == 0:
            return body
        data = csv_to_xlsx(body)
        if bad(fid):
            data = data[:len(data) // 2]
        return base64.b64encode(data).decode("ascii")

    # the events still to come per file, after its insert
    follow = {fid: [op for op, pick in (
        ("U", stable_hash(seed, "upd", fid // 3) % 3 == fid % 3),
        ("D", stable_hash(seed, "del", fid // 10) % 10 == fid % 10))
        if pick and not bad(fid)] for fid in range(n_files)}
    inserts = deque(range(n_files))
    ready = {"U": deque(), "D": deque()}
    cap = batch_size * 3 // 10
    order: list[tuple[int, str]] = []
    while inserts:
        n_d = min(len(ready["D"]), max(1, cap // 4))
        batch = [(ready["D"].popleft(), "D") for _ in range(n_d)]
        batch += [(ready["U"].popleft(), "U")
                  for _ in range(min(len(ready["U"]), cap - n_d))]
        while inserts and len(batch) < batch_size:
            batch.append((inserts.popleft(), "I"))
        rng.shuffle(batch)
        order += batch
        for fid, _ in batch:
            if follow[fid]:
                ready[follow[fid].pop(0)].append(fid)

    cols: dict[str, list] = {f.name: [] for f in EVENT_SCHEMA}
    for off, (fid, op) in enumerate(order, 1):
        is_xlsx = fid % 2 == 1
        repo = f"bench-repo-{fid % N_REPOS}"
        cols["offset"].append(off)
        cols["partition"].append(stable_hash("part", repo) % N_PARTITIONS)
        cols["op"].append(op)
        cols["repo"].append(repo)
        cols["path"].append(f"f{fid}.{'xlsx' if is_xlsx else 'csv'}")
        if op == "D":
            cols["commit"].append("del")
            cols["lang"].append("csv")
            cols["content"].append(None)
        else:
            version = 1 if op == "I" else 2
            cols["commit"].append(f"v{version}-{fid}")
            cols["lang"].append("xlsx" if is_xlsx else "csv")
            cols["content"].append(blob(fid, version))
    return pa.table(cols, schema=EVENT_SCHEMA)


# -- the query tables ---------------------------------------------------------

def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables ``grate_spark.queries`` reads, with the column
    types and value domains of the repo's TPC-H-ish test data. Row
    counts scale with ``sf`` (lineitem ~ 6M x sf); documents and
    embeddings stay at 500 rows, as in that data."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_orders = max(500, int(1_500_000 * sf))
    n_line = max(2000, int(6_000_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adjs = np.array(["small", "red", "blue", "large", "shiny", "green",
                     "old", "new"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "panel", "valve",
                      "spring", "pipe"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)],
                                          " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})

    epoch = np.datetime64("1995-01-01")
    odate = epoch + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": prios[rng.integers(0, 5, n_orders)]})
    l_order = rng.integers(0, n_orders, n_line)
    ship = odate[l_order] + rng.integers(1, 122, n_line).astype(
        "timedelta64[D]")
    qty = rng.integers(1, 51, n_line).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"))})

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, n_events // 67),
                                         n_events), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup",
                                "error"])[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS),
                                         int(rng.integers(8, 90)))])
             for _ in range(500)]
    # a few near-duplicate documents so the dedup/similarity queries
    # have pairs to find
    for i in range(0, 500, 25):
        texts[i + 1] = texts[i] + " " + str(words[i % len(WORDS)])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(500), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, 500)],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, 500)
    centroids = rng.normal(0, 1, (10, 64))
    emb = centroids[labels] + rng.normal(0, 0.6, (500, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(500), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out
