"""Measurement plumbing: spans around public calls, Spark job counters
read through ``StatusTracker``, and the Spark event-log reader.

Spans are kept in memory and written once, at the end of a run.  A span's
self time is its duration minus the part of its interval that its child
spans cover, so the self times of one op's spans sum to the op's wall.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when ``enabled``; with tracing off, ``span`` only
    yields, so untraced runs pay one branch per public call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent,
                               self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals, lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Total length covered by ``intervals`` (start, end) within [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.end - s.start - union_length(children.get(i, ()), s.start, s.end)
            for i, s in enumerate(spans)]


def descendants(spans: list[Span], root: int) -> list[int]:
    """Indices of ``root`` and every span below it."""
    out, frontier = [root], {root}
    for i in range(root + 1, len(spans)):
        if spans[i].parent in frontier:
            out.append(i)
            frontier.add(i)
    return out


class JobCounter:
    """Spark jobs, stages and tasks of one job group, read back through
    ``StatusTracker`` after the group's work has finished."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def counts(self, groups) -> tuple[int, int, int]:
        jobs = stages = tasks = 0
        for g in groups:
            for j in self.tracker.getJobIdsForGroup(g):
                info = self.tracker.getJobInfo(j)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
        return jobs, stages, tasks


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class EventLog:
    jobs: dict          # job id -> (group, start s, end s, [stage ids], exec id)
    stages: dict        # stage id -> (submit s, complete s)
    shuffle_write: dict  # stage id -> bytes
    python_bytes: dict  # stage id -> bytes
    accum: dict         # accumulator id -> summed task updates
    plans: dict         # SQL execution id -> final plan tree


def read_event_log(directory: str) -> EventLog:
    """Parse the one uncompressed, non-rolling event log in ``directory``."""
    import glob

    ev = EventLog({}, {}, {}, {}, {}, {})
    for path in glob.glob(f"{directory}/*"):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    ev.jobs[e["Job ID"]] = [
                        props.get("spark.jobGroup.id"),
                        e["Submission Time"] / 1000.0, None,
                        list(e["Stage IDs"]),
                        None if eid is None else int(eid)]
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in ev.jobs:
                        ev.jobs[e["Job ID"]][2] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    if "Submission Time" in info:
                        ev.stages[info["Stage ID"]] = (
                            info["Submission Time"] / 1000.0,
                            info["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    m = e.get("Task Metrics") or {}
                    w = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    ev.shuffle_write[sid] = ev.shuffle_write.get(sid, 0) + w
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        upd = a.get("Update")
                        if upd is None:
                            continue
                        try:
                            upd = int(upd)
                        except (TypeError, ValueError):
                            continue
                        ev.accum[a["ID"]] = ev.accum.get(a["ID"], 0) + upd
                        if a.get("Name") in _PY_BYTES:
                            ev.python_bytes[sid] = \
                                ev.python_bytes.get(sid, 0) + upd
                elif kind.endswith("SQLExecutionStart") or \
                        kind.endswith("SQLAdaptiveExecutionUpdate"):
                    ev.plans[e["executionId"]] = e["sparkPlanInfo"]
    return ev


def _rows_metric(node) -> int | None:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    return None


def verify_input_rows(plan, accum: dict) -> int | None:
    """Rows entering the pair-verify ``MapInPandas`` of a plan: the output
    row count of the first node below it that counts rows (the band-join
    dedup aggregate, or the size-pruning filter on the attach path)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node["nodeName"].startswith("MapInPandas"):
            below = list(node["children"])
            while below:
                child = below.pop(0)
                acc = _rows_metric(child)
                if acc is not None:
                    return accum.get(acc, 0)
                below.extend(child["children"])
        stack.extend(node["children"])
    return None


PER_LAYER = (
    ("core.minhash_text.s", "s"), ("core.minhash_text.bytes", "bytes"),
    ("core.euclidean.s", "s"), ("core.verify.s", "s"),
    ("functions.lsh_udfs.s", "s"), ("functions.core_same_rows.s", "s"),
    ("functions.boundary_ratio", "ratio"), ("functions.python_bytes", "bytes"),
    ("operators.self_dedup.s", "s"), ("operators.similarity_join.s", "s"),
    ("operators.dedup_keep_first.s", "s"),
    ("operators.candidate_pairs", "count"), ("operators.verified_pairs", "count"),
    ("operators.verify_pass_rate", "ratio"),
    ("plans.get_spark.s", "s"), ("plans.cold_setup.s", "s"),
    ("plans.warmup.s", "s"), ("process.peak_rss_mb", "MB"),
    ("driver.plan_build.s", "s"), ("driver.plan_build_jobs", "count"),
    ("driver.gap_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.stage_busy_s", "s"), ("spark.shuffle_write_bytes", "bytes"),
    ("sources.index_build.s", "s"), ("sources.index_extend.s", "s"),
    ("sources.index_files", "count"), ("sources.index_bytes", "bytes"),
    ("streaming.drain.s", "s"), ("streaming.add_batch_ms", "ms"),
    ("streaming.commit_ms", "ms"), ("streaming.planning_ms", "ms"),
    ("trace.overhead_s", "s"), ("trace.unaccounted_s", "s"),
)


def layer_report(ops, spans: list[Span], ev: EventLog, layer: dict, *,
                 get_spark: float, warmup: float, overhead: float) -> dict:
    """Every ``PER_LAYER`` metric as ``name -> (value, unit)``; a metric
    the workload does not exercise reads 0."""
    n = max(len(ops), 1)
    gaps, busy, shuffle, unaccounted = [], [], [], []
    python_bytes = 0
    st = self_times(spans)
    for op in ops:
        jobs = [j for j in ev.jobs.values()
                if j[0] in op.groups and j[2] is not None]
        job_s = union_length([(j[1], j[2]) for j in jobs], op.start, op.end)
        gaps.append(op.wall - job_s)
        sids = {s for j in jobs for s in j[3] if s in ev.stages}
        busy.append(union_length([ev.stages[s] for s in sids]))
        shuffle.append(sum(ev.shuffle_write.get(s, 0) for s in sids))
        python_bytes += sum(ev.python_bytes.get(s, 0) for s in sids)
        if op.span is not None:
            covered = sum(st[i] for i in descendants(spans, op.span))
            unaccounted.append(abs(op.wall - covered))
    out = {name: 0.0 for name, _ in PER_LAYER}
    for kind in ("operators.self_dedup", "operators.similarity_join",
                 "operators.dedup_keep_first"):
        walls = [o.wall for o in ops if o.kind == kind]
        out[f"{kind}.s"] = median(walls)
    cand = []
    for op in ops:
        if op.kind != "operators.self_dedup":
            continue
        eids = {j[4] for j in ev.jobs.values()
                if j[0] in op.groups and j[4] is not None}
        rows = [verify_input_rows(ev.plans[e], ev.accum)
                for e in sorted(eids) if e in ev.plans]
        rows = [r for r in rows if r is not None]
        if rows:
            cand.append(rows[-1])
    out.update(layer)
    out.update({
        "plans.get_spark.s": get_spark,
        "plans.warmup.s": warmup,
        "driver.gap_s": sum(gaps) / n,
        "spark.jobs": sum(o.jobs for o in ops) / n,
        "spark.stages": sum(o.stages for o in ops) / n,
        "spark.tasks": sum(o.tasks for o in ops) / n,
        "spark.stage_busy_s": sum(busy) / n,
        "spark.shuffle_write_bytes": sum(shuffle) / n,
        "functions.python_bytes": python_bytes,
        "trace.overhead_s": overhead,
        "trace.unaccounted_s": max(unaccounted, default=0.0),
    })
    if cand:
        out["operators.candidate_pairs"] = median(cand)
        if out["operators.candidate_pairs"]:
            out["operators.verify_pass_rate"] = (
                out["operators.verified_pairs"] / out["operators.candidate_pairs"])
    units = dict(PER_LAYER)
    return {k: (float(out[k]), units[k]) for k, _ in PER_LAYER}
