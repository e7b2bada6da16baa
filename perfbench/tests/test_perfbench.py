"""The benchmark's own tests: generator determinism, that every output
check catches a corrupted output, the tail-percentile rule, self-time
arithmetic and the event-log roll-up. Pure Python, no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine

import checks  # noqa: E402
import gen  # noqa: E402
import spans as tr  # noqa: E402


@pytest.fixture(scope="module")
def cur():
    return gen.CurationInputs(5, 120, n_vectors=200, n_queries=20)


@pytest.fixture(scope="module")
def ing():
    return gen.IngestInputs(5, n_keys=500, batch_rows=200, merge_rows=40, probes=16)


# ---------------------------------------------------------------- generator


def test_curation_inputs_repeat_for_a_seed(cur, tmp_path):
    again = gen.CurationInputs(5, 120, n_vectors=200, n_queries=20)
    assert again.doc_rows == cur.doc_rows
    assert again.planted_pairs == cur.planted_pairs
    assert again.exact_topk == cur.exact_topk
    assert (again.vectors == cur.vectors).all()
    a, b = cur.write(str(tmp_path / "a")), again.write(str(tmp_path / "b"))
    for key in a:
        assert filecmp.cmp(a[key], b[key], shallow=False), key
    other = gen.CurationInputs(6, 120, n_vectors=200, n_queries=20)
    assert other.doc_rows != cur.doc_rows


def test_ingest_inputs_repeat_for_a_seed(ing):
    again = gen.IngestInputs(5, n_keys=500, batch_rows=200, merge_rows=40, probes=16)
    assert again.dim_csv == ing.dim_csv
    for i in range(3):
        assert again.batch(i) == ing.batch(i)
        assert again.merge_batch(i) == ing.merge_batch(i)
        assert again.probe_keys(i) == ing.probe_keys(i)
    other = gen.IngestInputs(6, n_keys=500, batch_rows=200, merge_rows=40, probes=16)
    assert other.batch(0) != ing.batch(0)


def test_planted_properties(cur, ing):
    # near-dup copies sit at a known Jaccard, above the threshold
    assert cur.planted_pairs
    assert all(gen.jaccard(cur.clean[a], cur.clean[b]) >= gen.NEAR_DUP_THRESHOLD for a, b in cur.planted_pairs)
    assert all(len({cur.clean[d] for d in g}) == 1 for g in cur.exact_groups)
    assert cur.markup_docs > 0
    text, good, n_bad = ing.batch(0)
    assert n_bad == 1 and len(good) == 199 and len(text.splitlines()) == 201
    assert all(len(r) == len(gen.TABLE_COLUMNS) for r in good)
    merge_keys = [r[0] for r in ing.merge_batch(0)]
    assert len(merge_keys) == len(set(merge_keys))


# ------------------------------------------------------------------- checks


def _as_dicts(rows):
    return [dict(zip(gen.TABLE_COLUMNS, r)) for r in rows]


def test_check_rows_catches_corruption(ing):
    _, good, _ = ing.batch(1)
    want = (len(good), gen.multiset_hash(good))
    assert checks.check_rows("out", *want, _as_dicts(good)) == []
    assert checks.check_rows("out", *want, _as_dicts(good[1:]))
    assert checks.check_rows("out", *want, _as_dicts(good + good[:1]))
    changed = list(good)
    changed[3] = changed[3][:4] + (changed[3][4] + 1,) + changed[3][5:]
    assert checks.check_rows("out", *want, _as_dicts(changed))
    # the order of rows does not matter
    assert checks.check_rows("out", *want, _as_dicts(good[::-1])) == []


def test_check_quarantine():
    assert checks.check_quarantine(0, 5, 5) == []
    assert checks.check_quarantine(0, 4, 5)


def test_check_pairs_and_kept_catch_corruption(cur):
    pairs = set(cur.planted_pairs)
    errs, recall = checks.check_pairs(cur, pairs)
    assert errs == [] and recall == 1.0
    a = cur.near_groups[0][0]
    b = next(d for d in cur.clean if cur.group_of[d] != cur.group_of[a])
    errs, _ = checks.check_pairs(cur, pairs | {(min(a, b), max(a, b))})
    assert any("across planted groups" in e for e in errs)
    errs, recall = checks.check_pairs(cur, set(sorted(pairs)[: len(pairs) // 2]))
    assert recall < checks.DEDUP_RECALL_FLOOR and errs

    want = checks.expected_kept(cur, pairs)
    kept = {d: {"text": cur.clean[d], "lang_pred": "en", "quality_score": 0.5} for d in want}
    assert checks.check_kept(cur, pairs, kept) == []
    g = cur.exact_groups[0]
    row = {"text": cur.clean[g[0]], "lang_pred": "en", "quality_score": 0.5}
    assert checks.check_kept(cur, pairs, {**kept, g[0]: row, g[1]: row})  # two of one exact group
    single = next(d for d in want if len(cur.groups[cur.group_of[d]]) == 1)
    assert checks.check_kept(cur, pairs, {d: r for d, r in kept.items() if d != single})
    assert checks.check_kept(cur, pairs, {**kept, single: {**kept[single], "text": "<p>x</p>"}})
    assert checks.check_kept(cur, pairs, {**kept, single: {**kept[single], "lang_pred": "de"}})
    assert checks.check_kept(cur, pairs, {**kept, single: {**kept[single], "quality_score": 1.5}})


def test_check_ann_catches_corruption(cur):
    exact = {q: sorted(cur.exact_topk[q]) for q in cur.query_ids}
    errs, hits, recall = checks.check_ann(cur, exact)
    assert errs == [] and recall == 1.0 and hits == len(cur.query_ids) * cur.k
    q0 = cur.query_ids[0]
    assert checks.check_ann(cur, {**exact, q0: [q0] + exact[q0][1:]})[0]
    assert checks.check_ann(cur, {**exact, q0: exact[q0] + [10**9]})[0]
    assert checks.check_ann(cur, {q: [] for q in cur.query_ids})[0]  # recall floor


def test_lookup_and_replay_checks_catch_corruption(ing):
    model = gen.TableModel()
    _, first, _ = ing.batch(0)
    model.upsert(first)
    before = dict(model.state)
    _, good, _ = ing.batch(1)
    model.upsert(good)
    model.merge(ing.merge_batch(1))
    keys = ing.probe_keys(1)
    rows = [model.state.get(k) or (k,) + (None,) * 5 for k in keys]
    assert any(r[1] is not None for r in rows) and any(r[1] is None for r in rows)
    assert checks.check_lookup(model, keys, rows) == []
    assert checks.check_lookup(model, keys, rows[1:])
    assert checks.check_lookup(model, keys, rows + rows[:1])
    # a stale row (the state before the last batch) is caught
    hot = next(i for i, k in enumerate(keys) if k in before and before[k] != model.state[k])
    assert checks.check_lookup(model, keys, rows[:hot] + [before[keys[hot]]] + rows[hot + 1 :])
    state = list(model.state.values())
    assert checks.check_replay(model, state) == []
    assert checks.check_replay(model, state[1:])
    bumped = [state[0][:4] + (state[0][4] + 1,) + state[0][5:]] + state[1:]
    assert checks.check_replay(model, bumped)


def test_model_last_write_and_merge_rules():
    m = gen.TableModel([(1, 1, 10, "a", 5, "r")])
    m.upsert([(1, 3, 30, "c", 1, "r"), (1, 2, 20, "b", 1, "r"), (2, 4, 40, "d", 2, None)])
    assert m.state[1] == (1, 3, 30, "c", 1, "r")  # highest seq in the batch wins
    m.merge([(1, 2, 99, "z", 7, None), (3, 9, 1, "n", 3, "q")])
    assert m.state[1] == (1, 3, 99, "z", 8, "r")  # sum, max, last (NULL keeps the old value)
    assert m.state[3] == (3, 9, 1, "n", 3, "q")


# -------------------------------------------------------------------- trace


def test_tail_needs_ten_samples_beyond():
    assert tr.tail(list(range(1, 20))) is None  # 19 samples: 9 beyond the median
    assert tr.tail(list(range(1, 21))) == (50.0, 10, 10)
    pct, value, beyond = tr.tail(list(range(1, 201)))
    assert (pct, value, beyond) == (95.0, 190, 10)
    assert tr.tail(list(range(1, 1001)))[0] == 99.0
    assert tr.tail(list(range(1, 10001)))[0] == 99.9


def _span(sid, layer, start, end, parent=None):
    return tr.Span(f"s{sid}", layer, start, end, parent, sid)


def test_self_time_subtracts_child_coverage():
    spans = [
        _span(0, "streaming", 0.0, 10.0),
        _span(1, "ndb", 1.0, 3.0, parent=0),
        _span(2, "ndb", 2.0, 5.0, parent=0),  # overlaps span 1: covered 1..5
        _span(3, "io", 2.5, 4.0, parent=2),  # grandchild: only span 2 loses it
        _span(4, "ndb", 8.0, 12.0, parent=0),  # runs past its parent: clipped
    ]
    own = tr.self_times(spans)
    assert own["streaming"] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own["ndb"] == pytest.approx(2.0 + (3.0 - 1.5) + 4.0)
    assert own["io"] == pytest.approx(1.5)


def test_tracer_records_nesting_only_when_enabled():
    t = tr.Tracer("r", active=True)
    with t.span("a", "pipeline"):
        pass
    assert t.spans == []
    t.enabled = True
    with t.span("a", "pipeline"):
        with t.span("b", "io"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]


def test_event_log_rollup(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "io"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "run-uuid"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Failed": False},
            "Task Metrics": {
                "Executor CPU Time": 2_000_000_000,
                "JVM GC Time": 500,
                "Memory Bytes Spilled": 7,
                "Disk Bytes Spilled": 3,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Info": {"Failed": True}, "Task Metrics": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {}, "Task Metrics": {"Executor CPU Time": 1}},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    out = tr.read_event_log(str(path), lambda g: g if g == "io" else ("streaming" if g == "run-uuid" else None))
    assert out["io"] == {
        "tasks": 1,
        "failed_tasks": 0,
        "shuffle_write_bytes": 100,
        "spill_bytes": 10,
        "executor_cpu_s": 2.0,
        "gc_s": 0.5,
        "jobs": 1,
    }
    assert out["streaming"]["failed_tasks"] == 1 and out["streaming"]["jobs"] == 1
    assert set(out) == {"io", "streaming"}


def test_benchmark_spec_matches_the_contract():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.NAMES)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
