"""Tests of the benchmark's own arithmetic, on small fixed inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import re

import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs, ledger, workloads


def test_union_length_merges_overlaps_and_gaps():
    assert ledger.union_length([]) == 0
    assert ledger.union_length([(0, 1), (2, 3)]) == 2
    assert ledger.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert ledger.union_length([(1, 3), (0, 10), (4, 5)]) == 10
    assert ledger.union_length([(0, 1), (1, 2)]) == 2


def test_self_time_subtracts_covered_part_only():
    assert ledger.self_time((0, 10), []) == 10
    assert ledger.self_time((0, 10), [(1, 3), (2, 4), (8, 12)]) == 10 - 3 - 2
    assert ledger.self_time((0, 10), [(-5, -1), (11, 12)]) == 10


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def _tracer_with_unit(monkeypatch):
    """unit [0,10]: stage a [0,4] holding table t [1,3]; table m [5,6]
    outside any stage; stage b [6,9]."""
    clock = FakeClock()
    monkeypatch.setattr(ledger.time, "perf_counter", clock)
    tr = ledger.Tracer()
    with tr.span("unit", "unit") as unit:
        with tr.span("a", "stage"):
            clock.now = 1
            with tr.span("overwrite:a", "table"):
                clock.now = 3
            clock.now = 4
        clock.now = 5
        with tr.span("metrics.flush", "metrics"):
            with tr.span("append:metrics", "table"):
                clock.now = 6
        with tr.span("b", "stage"):
            clock.now = 9
        clock.now = 10
    return tr, unit


def test_unit_ledger_sums_to_wall(monkeypatch):
    tr, unit = _tracer_with_unit(monkeypatch)
    lg = ledger.unit_ledger(tr, unit)
    assert lg["wall_s"] == 10
    assert lg["stage_s"] == 7
    assert lg["out_of_stage_table_s"] == 1
    assert lg["unattributed_s"] == 2
    assert lg["stage_s"] + lg["out_of_stage_table_s"] + lg["unattributed_s"] == lg["wall_s"]
    assert lg["stage_cover"] == pytest.approx(0.7)
    assert lg["self_s"]["a"] == 2  # 4 s minus the 2 s table write
    assert lg["self_s"]["unit"] == 10 - 4 - 1 - 3


def _job(job_id, stages, span=None):
    props = {ledger.SPAN_PROPERTY: span} if span is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": props}


def _task(stage, run_ms, gc_ms=0, read=0, written=0, spill=0, sent=None):
    acc = []
    if sent is not None:
        acc = [{"Name": ledger.PY_SENT, "Update": str(sent)},
               {"Name": ledger.PY_RETURNED, "Update": "10"}]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def test_task_metrics_follow_job_tags():
    events = [
        _job(0, [0, 1], span="3"),
        _task(0, 1500, gc_ms=100, written=40),
        _task(1, 500, read=40, sent=90),
        # stage 1 reused by a later job with another tag: first owner wins
        _job(1, [1, 2], span="4"),
        _task(2, 250, spill=7),
        _job(2, [5]),
        _task(5, 1000),
    ]
    by_span = ledger.task_metrics_by_span(events)
    assert by_span["3"] == {"tasks": 2, "task_s": 2.0, "gc_s": 0.1, "shuffle_bytes": 80,
                            "spill_bytes": 0, "arrow_bytes": 100, "py_tasks": 1}
    assert by_span["4"]["tasks"] == 1 and by_span["4"]["spill_bytes"] == 7
    assert by_span[""]["task_s"] == 1.0


def test_read_events_reads_plain_and_rolling_logs(tmp_path):
    (tmp_path / "local-1").write_text('{"Event": "a"}\n\n{"Event": "b"}\n')
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    (rolling / "events_1_local-2").write_text('{"Event": "c"}\n')
    (rolling / "appstatus_local-2").write_text("")
    events = [e["Event"] for e in ledger.read_events(str(tmp_path))]
    assert sorted(events) == ["a", "b", "c"] and events.index("a") < events.index("b")


def test_subtree_totals_include_nested_spans(monkeypatch):
    tr, unit = _tracer_with_unit(monkeypatch)
    a = next(s for s in tr.spans if s.name == "a")
    table = next(s for s in tr.spans if s.name == "overwrite:a")
    by_span = {str(a.id): {"tasks": 2}, str(table.id): {"tasks": 3}, "": {"tasks": 50}}
    assert ledger.subtree_totals(tr, a, by_span)["tasks"] == 5
    assert ledger.subtree_totals(tr, unit, by_span)["tasks"] == 5


def test_pairwise_f1_counts_pairs():
    labeled = [("a", "b", True), ("a", "c", False), ("c", "d", True), ("e", "f", False)]
    clusters = {"a": 1, "b": 1, "c": 1, "d": 2}  # e, f unassigned → singletons
    r = checks.pairwise_f1(labeled, clusters)
    assert (r["tp"], r["fp"], r["fn"]) == (1, 1, 1)
    assert r["f1"] == pytest.approx(0.5)
    assert checks.pairwise_f1([], {})["f1"] == 1.0


def _brute_clustering_f1(pred, truth):
    tp = fp = fn = 0
    for x, y in itertools.combinations(sorted(truth), 2):
        same_p = pred.get(x, ("s", x)) == pred.get(y, ("s", y))
        same_t = truth[x] == truth[y]
        tp += same_p and same_t
        fp += same_p and not same_t
        fn += same_t and not same_p
    return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0


def test_clustering_f1_matches_pair_enumeration():
    truth = {i: i // 3 for i in range(10)}
    pred = {0: 0, 1: 0, 2: 5, 3: 5, 4: 5, 5: 5, 7: 9, 8: 9}
    assert checks.clustering_f1(pred, truth) == pytest.approx(_brute_clustering_f1(pred, truth))
    assert checks.clustering_f1(truth, truth) == 1.0


def test_digest_ignores_order_but_not_multiplicity():
    rows = [("a", 1), ("b", 2), ("c", 3)]
    assert checks.digest(rows) == checks.digest(list(reversed(rows)))
    assert checks.digest(rows) != checks.digest(rows + [("a", 1)])
    assert checks.digest(rows) != checks.digest([("a", 1), ("b", 2), ("c", 4)])
    assert checks.digest([]) == "0:0000000000000000"


def test_documents_differ_only_in_order_across_seeds(tmp_path):
    a = inputs.documents(str(tmp_path / "a"), 200, 1)
    b = inputs.documents(str(tmp_path / "b"), 200, 2)
    ta = pq.read_table(a["path"])
    tb = pq.read_table(b["path"])
    cols = ta.column_names
    assert checks.digest(checks.read_rows(ta, cols)) == checks.digest(checks.read_rows(tb, cols))
    assert ta.column("doc_id").to_pylist() != tb.column("doc_id").to_pylist()


def test_recorded_exact_outputs_match_python_oracle():
    """The recorded outputs of the two exact near-dup queries equal a
    brute-force pure-Python recomputation over the same documents:
    3-word-shingle Jaccard ≥ 0.5 pairs, and connected components of
    token Jaccard ≥ 0.95 pairs labelled by their minimum doc id."""
    rows, _ = inputs.documents_content(workloads.N_DOCS)
    toks = {r["doc_id"]: [t for t in re.split("[^a-z0-9]+", r["text"].lower()) if t] for r in rows}
    tset = {k: set(v) for k, v in toks.items()}
    sh = {k: {" ".join(v[i : i + 3]) for i in range(len(v) - 2)} for k, v in toks.items()}
    parent = {k: k for k in toks}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    pairs, in_edge = [], set()
    for a, b in itertools.combinations(sorted(toks), 2):
        if len(tset[a] & tset[b]) * 100 >= 95 * len(tset[a] | tset[b]):
            in_edge.update((a, b))
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        inter, union = len(sh[a] & sh[b]), len(sh[a] | sh[b])
        if inter * 100 >= 50 * union:
            pairs.append((a, b, inter, union))
    clusters = [(k, find(k)) for k in sorted(in_edge)]
    recorded = workloads.recorded_neardup()
    assert recorded["n_docs"] == workloads.N_DOCS
    assert recorded["outputs"]["minhash_pairs"]["digest"] == checks.digest(pairs)
    assert recorded["outputs"]["cc_jaccard_clusters"]["digest"] == checks.digest(clusters)
