"""Tests of the benchmark's own arithmetic, generators and model.

    python3 -m pytest perfbench/tests -q

No Spark session is started here.
"""

import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pytest  # noqa: E402

import gen  # noqa: E402
from model import LakeModel  # noqa: E402
from oracle import rowset  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import (percentile, self_times, state_hash,  # noqa: E402
                   summary, tail_percentile)


@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0),
    (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) >= 1000


def test_summary_reports_a_tail_only_with_ten_samples_beyond():
    assert summary([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0}
    assert "p75" not in summary([1.0] * 39)
    s = summary([float(i) for i in range(1, 41)])
    assert s["p75"] == 30.0 and s["n"] == 40
    assert set(summary([float(i) for i in range(100)])) == {"n", "median",
                                                            "p90"}


def test_percentile_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(vals, 50) == 3.0
    assert percentile(vals, 100) == 5.0
    assert percentile(vals, 1) == 1.0
    assert percentile(list(range(1, 101)), 75) == 75
    with pytest.raises(ValueError):
        percentile([], 50)


def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, 10), _span(1, 3, 0), _span(5, 6, 0), _span(1, 2, 1)]
    assert self_times(spans) == pytest.approx([7, 1, 1, 1])


def test_self_time_counts_overlapping_children_once():
    # two children on different threads overlap in [2, 4]
    spans = [_span(0, 10), _span(1, 4, 0), _span(2, 6, 0)]
    assert self_times(spans)[0] == pytest.approx(5)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, 4), _span(3, 8, 0)]
    assert self_times(spans)[0] == pytest.approx(3)


def test_state_hash_is_order_independent_and_content_sensitive():
    rows = [("r", "a.csv", "a.csv", 0, ["x", "y"]),
            ("r", "a.csv", "a.csv", 1, ["1", "2"]),
            ("r", "b.csv", None, -1, None)]
    assert state_hash(rows) == state_hash(list(reversed(rows)))
    changed = rows[:1] + [("r", "a.csv", "a.csv", 1, ["1", "3"])] + rows[2:]
    assert state_hash(changed) != state_hash(rows)
    # a multiset: a duplicated row changes the hash
    assert state_hash(rows + rows[:1]) != state_hash(rows)
    # cells order within a row matters
    swapped = [("r", "a.csv", "a.csv", 0, ["y", "x"])] + rows[1:]
    assert state_hash(swapped) != state_hash(rows)


def test_event_log_is_deterministic_per_seed():
    a = gen.event_log(7, 40, 10, 20)
    b = gen.event_log(7, 40, 10, 20)
    c = gen.event_log(8, 40, 10, 20)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.schema == gen.EVENT_SCHEMA
    offsets = a.column("offset").to_pylist()
    assert offsets == list(range(1, len(offsets) + 1))
    ops = a.column("op").to_pylist()
    assert ops.count("I") == 40 and "U" in ops and "D" in ops


@pytest.mark.parametrize("seed,n_files,batch", [
    (1, 60, 20), (2, 60, 20), (3, 300, 60), (4, 300, 60), (5, 130, 24)])
def test_event_log_batches_mix_ops_and_never_touch_a_key_twice(
        seed, n_files, batch):
    from model import blob_rows

    d = gen.event_log(seed, n_files, 3, batch).to_pydict()
    events = list(zip(d["op"], d["repo"], d["path"], d["content"],
                      d["lang"]))
    batches = [events[i:i + batch] for i in range(0, len(events), batch)]
    assert {e[0] for e in batches[0]} == {"I"}
    for b in batches[1:-1]:  # the last may be short
        assert len(b) == batch and {e[0] for e in b} == {"I", "U", "D"}
        assert sum(e[0] != "I" for e in b) <= batch * 3 // 10
    history: dict = {}
    for n, b in enumerate(batches):
        keys = [(e[1], e[2]) for e in b]
        assert len(set(keys)) == len(keys)
        for op, repo, path, _, _ in b:
            history.setdefault((repo, path), []).append(op)
    for ops in history.values():
        assert ops in (["I"], ["I", "U"], ["I", "D"], ["I", "U", "D"])
    # one malformed xlsx blob per 50 files, an error row, never replaced
    bad = [(r, p) for op, r, p, c, lang in events
           if op == "I" and blob_rows(r, p, c, lang)[1]]
    assert 1 <= len(bad) and n_files // 50 <= len(bad) <= -(-n_files // 50)
    assert all(p.endswith(".xlsx") and history[(r, p)] == ["I"]
               for r, p in bad)


def test_seed_salts_selection_and_assignment():
    a = gen.event_log(1, 60, 10, 20).to_pydict()
    b = gen.event_log(2, 60, 10, 20).to_pydict()
    sel = {(p, o) for p, o in zip(a["path"], a["op"]) if o != "I"}
    assert sel != {(p, o) for p, o in zip(b["path"], b["op"]) if o != "I"}
    first = {p: c for p, c, o in zip(a["path"], a["content"], a["op"])
             if o == "I"}
    assert first != {p: c for p, c, o in zip(b["path"], b["content"],
                                             b["op"]) if o == "I"}


def test_tables_are_deterministic_per_seed():
    a, b, c = gen.tables(3, 0.001), gen.tables(3, 0.001), gen.tables(4, 0.001)
    assert set(a) == {"region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_model_latest_offset_wins_and_delete_removes():
    log = gen.event_log(5, 60, 4, 20)
    d = log.to_pydict()
    model = LakeModel(log)
    touched = model.apply(len(d["offset"]))
    assert touched == set(zip(d["repo"], d["path"]))
    deleted = {(r, p) for r, p, o in zip(d["repo"], d["path"], d["op"])
               if o == "D"}
    updated = {(r, p) for r, p, o in zip(d["repo"], d["path"], d["op"])
               if o == "U"} - deleted
    assert deleted and updated
    assert set(model.state) == touched - deleted
    for key in updated:  # the widened version won
        assert model.rows(key)[0][4] == ["doc_id", "lang", "n_chars",
                                         "quality"]
    summary = model.summary()
    assert summary["rows"] == sum(len(model.rows(k)) for k in model.state)
    # the malformed blob of the first 50 files
    assert summary["error_rows"] >= 1
    assert summary["error_rows"] == sum(1 for rs, err in model.state.values()
                                        if err)


def test_model_applies_offset_ranges_in_order():
    log = gen.event_log(5, 60, 4, 20)
    n = log.num_rows
    whole, stepwise = LakeModel(log), LakeModel(log)
    whole.apply(n)
    for hi in range(10, n + 10, 10):
        stepwise.apply(min(hi, n))
    assert whole.summary() == stepwise.summary()


def test_xlsx_blobs_extract_to_the_csv_cells():
    from model import blob_rows

    body = "doc_id,lang,n_chars\n1,en,40\n2,de,-3"
    csv_rows, _ = blob_rows("r", "f.csv", body, "csv")
    xlsx_rows, err = blob_rows("r", "f.xlsx", gen.csv_to_xlsx(body), "xlsx")
    assert not err
    # the xlsx reader also emits a trailing all-blank row
    assert [r[4] for r in xlsx_rows if any(r[4])] == [r[4] for r in csv_rows]


def test_lookup_keys_take_each_op_then_spread():
    from workloads import LOOKUPS, _lookup_keys

    touched = {("r", f"f{i:02d}"): "I" for i in range(20)}
    touched[("r", "f07")] = "U"
    touched[("r", "f13")] = "D"
    picks = _lookup_keys(touched)
    assert len(picks) == len(set(picks)) == LOOKUPS
    assert picks[:3] == [("r", "f13"), ("r", "f07"), ("r", "f00")]
    assert picks[3] == ("r", "f06")  # keys[1 * 19 // 3]
    assert _lookup_keys({("r", "a"): "I"}) == [("r", "a")]


def test_rowset_normalizes_like_the_oracle_test():
    got = rowset(["b", "a"], [(1.0, 2), (None, 3)])
    want = rowset(["a", "b"], [(3, None), (2, 1.0000001)])
    assert got == want
    # int vs float stays a mismatch
    assert rowset(["a"], [(1,)]) != rowset(["a"], [(1.0,)])


def test_tracer_parents_follow_the_calling_thread():
    class Box:
        def outer(self):
            self.inner()
            t = threading.Thread(target=self.inner)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()

        def inner(self):
            pass

    tr = Tracer()
    tr.wrap(Box, "outer", "outer")
    tr.wrap(Box, "inner", "inner")
    try:
        Box().outer()
        tr.enabled = False
        Box().inner()
    finally:
        tr.restore()
    names = [(s["name"], s["parent"]) for s in tr.spans]
    assert names == [("outer", None), ("inner", 0), ("inner", None)]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert "traced" not in Box.inner.__qualname__
