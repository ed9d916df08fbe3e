"""Self-tests of the benchmark: input determinism, span arithmetic, failure
counting, the event-log reader, and a tiny smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen.near_dup_corpus(s, 200) for s in (7, 7, 8))
    assert a.table.equals(b.table) and a.clusters == b.clusters
    assert not a.table.equals(c.table)
    sa, sb, sc = (gen.star_schema(s, 0.001) for s in (7, 7, 8))
    assert all(sa[t].equals(sb[t]) for t in sa)
    assert not all(sa[t].equals(sc[t]) for t in sa)
    ba = gen.stream_batches(7, a, 3, 10)
    bb = gen.stream_batches(7, b, 3, 10)
    bc = gen.stream_batches(8, a, 3, 10)
    assert all(x.equals(y) for x, y in zip(ba, bb))
    assert not all(x.equals(y) for x, y in zip(ba, bc))


def test_near_dup_corpus_plants_clusters_and_unique_ids():
    c = gen.near_dup_corpus(3, 300)
    ids = c.table.column("doc_id").to_pylist()
    assert sorted(ids) == list(range(300))
    assert c.clusters and all(2 <= len(k) <= 5 for k in c.clusters)
    batches = gen.stream_batches(3, c, 2, 12)
    new = [i for b in batches for i in b.column("doc_id").to_pylist()]
    assert new == list(range(300, 324))


def test_union_length_and_self_times():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10)], 2, 4) == 2
    assert spans.union_length([]) == 0
    # op [0, 10] with children [1, 4] and [5, 8], a grandchild [2, 3]
    # under the first child, then the next op
    s = [spans.Span("op", 0, 10, None, "r"),
         spans.Span("a", 1, 4, 0, "r"),
         spans.Span("b", 5, 8, 0, "r"),
         spans.Span("a.x", 2, 3, 1, "r"),
         spans.Span("next", 10, 12, None, "r")]
    st = spans.self_times(s)
    assert st == [4, 2, 3, 1, 2]
    assert spans.descendants(s, 0) == [0, 1, 2, 3]
    # the self times of one op's spans add up to the op's wall
    assert sum(st[i] for i in spans.descendants(s, 0)) == 10
    # overlapping children are subtracted once, by their union
    both = [spans.Span("op", 0, 10, None, "r"),
            spans.Span("a", 1, 4, 0, "r"),
            spans.Span("b", 3, 6, 0, "r")]
    assert spans.self_times(both)[0] == 5


def test_tracer_records_nested_spans_only_when_enabled():
    off = spans.Tracer("r", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []
    on = spans.Tracer("r", enabled=True)
    with on.span("op"):
        with on.span("child"):
            pass
    assert [(x.name, x.parent) for x in on.spans] == [("op", None),
                                                      ("child", 0)]
    assert all(x.end >= x.start for x in on.spans)


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return []


class _FakeSc:
    def setJobGroup(self, group, desc):
        self.group = group

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return _FakeTracker()


class _FakeSpark:
    sparkContext = _FakeSc()


def test_planted_wrong_hash_and_exceptions_count_as_failed_ops():
    h = workloads.Harness(_FakeSpark(), spans.Tracer("r", enabled=False))
    rows, cols = [(1, 2, 0.75), (3, 4, 0.9)], ["id_a", "id_b", "jaccard"]
    right = oracle.digest(list(reversed(rows)), cols)
    planted = oracle.Expected(right.rows, "0" * 64)
    ok, _ = h.op("good", lambda g: rows,
                 lambda out: oracle.digest(out, cols) == right)
    bad, _ = h.op("planted", lambda g: rows,
                  lambda out: oracle.digest(out, cols) == planted)

    def boom(g):
        raise RuntimeError("op failed")

    err, _ = h.op("raises", boom, lambda out: True)
    assert (ok.ok, bad.ok, err.ok) == (True, False, False)
    assert ok.groups != bad.groups


def test_digest_ignores_row_and_column_order_but_not_float_bits():
    a = oracle.digest([(1, 0.5), (2, 0.25)], ["x", "y"])
    b = oracle.digest([(0.25, 2), (0.5, 1)], ["y", "x"])
    c = oracle.digest([(1, 0.5), (2, 0.25000000000000006)], ["x", "y"])
    assert a == b and a != c and a.rows == 2


def test_verify_input_rows_reads_the_node_below_the_verify():
    leaf = {"nodeName": "Scan", "children": [], "metrics": [
        {"name": "number of output rows", "accumulatorId": 3}]}
    agg = {"nodeName": "HashAggregate", "children": [leaf], "metrics": [
        {"name": "number of output rows", "accumulatorId": 2}]}
    wrap = {"nodeName": "ShuffleQueryStage", "children": [agg],
            "metrics": []}
    verify = {"nodeName": "MapInPandas", "children": [wrap], "metrics": [
        {"name": "number of output rows", "accumulatorId": 1}]}
    plan = {"nodeName": "AdaptiveSparkPlan", "children": [verify],
            "metrics": []}
    assert spans.verify_input_rows(plan, {1: 5, 2: 40, 3: 900}) == 40
    assert spans.verify_input_rows(leaf, {}) is None


def test_event_log_reader(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g", "spark.sql.execution.id": "4"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 1100, "Completion Time": 1900}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}},
         "Task Info": {"Accumulables": [
             {"ID": 9, "Name": "data sent to Python workers", "Update": "100"},
             {"ID": 8, "Name": "number of output rows", "Update": 7}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
    ]
    (tmp_path / "local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in events))
    ev = spans.read_event_log(str(tmp_path))
    assert ev.jobs[0] == ["g", 1.0, 2.0, [0], 4]
    assert ev.stages[0] == (1.1, 1.9)
    assert ev.shuffle_write[0] == 64 and ev.python_bytes[0] == 100
    assert ev.accum == {9: 100, 8: 7}


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "near_dup", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0 and p.stdout == ""


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_smoke_run(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", trace, "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    key = "per_layer" if trace == "1" else "end_to_end"
    assert set(out["metrics"]) == {m["name"] for m in bench[key]}
    for m in bench[key]:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
