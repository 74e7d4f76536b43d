"""Reference model of the lake state an event log must produce.

The latest offset wins per ``(repo, path)``; a ``D`` removes the key;
an ``I``/``U`` replaces the key's rows with what ``extract_blob`` makes
of the blob (one error row when it raises). Rows are
``(repo, path, sheet, row_id, cells)`` tuples, the identity and content
the benchmark hashes. Pure Python, no Spark.
"""

from __future__ import annotations

import pyarrow as pa

from stats import state_hash

Key = tuple[str, str]


def blob_rows(repo: str, path: str, content, lang) -> tuple[list, bool]:
    """(rows, is_error) for one blob, as the extraction operator emits
    them: visible sheets only, row ids from 0 (the header row)."""
    from grate_spark.extract import extract_blob

    try:
        res = extract_blob(path, content, lang)
    except Exception:  # the operator turns any failure into one error row
        return [(repo, path, None, -1, None)], True
    rows = []
    for table in res.tables:
        if table.hidden:
            continue
        for rid, (cells, _types, _fmts) in enumerate(table.rows):
            rows.append((repo, path, table.name, rid, list(cells)))
    return rows, False


class LakeModel:
    """Applies offset ranges of a log in order, like the replay."""

    def __init__(self, log: pa.Table):
        cols = log.to_pydict()
        self._events = sorted(zip(cols["offset"], cols["op"], cols["repo"],
                                  cols["path"], cols["content"],
                                  cols["lang"]))
        self.state: dict[Key, tuple[list, bool]] = {}
        self.version_hi = 0

    def apply(self, hi: int) -> set[Key]:
        """Apply events with ``version_hi < offset <= hi``; returns the
        keys the range touched."""
        winners: dict[Key, tuple] = {}
        for off, op, repo, path, content, lang in self._events:
            if self.version_hi < off <= hi:
                winners[(repo, path)] = (op, content, lang)
        for key, (op, content, lang) in winners.items():
            if op == "D":
                self.state.pop(key, None)
            else:
                self.state[key] = blob_rows(key[0], key[1], content, lang)
        self.version_hi = max(self.version_hi, hi)
        return set(winners)

    def rows(self, key: Key) -> list:
        return list(self.state.get(key, ([], False))[0])

    def summary(self) -> dict:
        rows = [r for rs, _ in self.state.values() for r in rs]
        return {"rows": len(rows),
                "error_rows": sum(1 for _, err in self.state.values()
                                  if err),
                "hash": state_hash(rows)}


def lake_summary(table: pa.Table) -> dict:
    """The same summary over rows read back from the lake (an Arrow
    table with repo, path, sheet, row_id, cells, error)."""
    cols = table.to_pydict()
    rows = list(zip(cols["repo"], cols["path"], cols["sheet"],
                    cols["row_id"], cols["cells"]))
    return {"rows": len(rows),
            "error_rows": sum(1 for e in cols["error"] if e is not None),
            "hash": state_hash(rows)}
