"""Profile a streaming gate query's wall-clock breakdown.

Attaches a StreamingQueryListener (records every progress event's
durationMs + state-operator metrics + start/termination timestamps),
runs the named gate query end-to-end the way bench.py does, and prints:

  * total wall (query function call, bench methodology incl. terminal)
  * per-streaming-query: start->termination wall, per-batch durationMs
    (addBatch / getBatch / latestOffset / queryPlanning / walCommit /
    commitOffsets / triggerExecution), state-store metrics
  * the residual = function wall - sum(streaming walls), i.e. setup
    (scratch clear, plan construction, index ensure) + read-back/terminal

Usage: python3 scripts/profile_streaming.py <query> [<query> ...] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _await_terminations(events: list[dict], timeout_s: float = 30.0) -> None:
    """Listener events arrive asynchronously: wait (bounded) until every
    stream that reported a start also reported its termination, so one
    run's late progress never lands in the next run's stitch."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        started = {e["id"] for e in events if e["kind"] == "start"}
        ended = {e["id"] for e in events if e["kind"] == "term"}
        if started <= ended:
            return
        time.sleep(0.05)
    print(f"!! listener: {len(started - ended)} stream(s) reported no "
          f"termination within {timeout_s:.0f}s")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--runs", type=int, default=1,
                    help="runs per query (default 1)")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql.streaming import StreamingQueryListener

    from lsh_spark.plans import get_spark

    spark = get_spark(app_name="lsh_spark-stream-profile")
    spark.sparkContext.setLogLevel("ERROR")

    events: list[dict] = []

    class Rec(StreamingQueryListener):
        def onQueryStarted(self, e):
            events.append({"kind": "start", "id": str(e.id),
                           "name": e.name, "t": time.time()})

        def onQueryProgress(self, e):
            p = e.progress
            events.append({
                "kind": "progress", "id": str(p.id), "batch": p.batchId,
                "t": time.time(),
                "durationMs": dict(p.durationMs),
                "numInputRows": p.numInputRows,
                "stateOperators": [
                    {"numRowsTotal": s.numRowsTotal,
                     "commitTimeMs": getattr(s, "allUpdatesTimeMs", None),
                     "memoryUsedBytes": s.memoryUsedBytes}
                    for s in p.stateOperators],
            })

        def onQueryTerminated(self, e):
            events.append({"kind": "term", "id": str(e.id),
                           "t": time.time()})

        def onQueryIdle(self, e):
            pass

    spark.streams.addListener(Rec())

    import bench
    import __spark_entry__ as entry

    qs = entry.queries()
    spark.range(1000).count()

    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}")
            continue
        for r in range(args.runs):
            events.clear()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            t_build = time.perf_counter() - t0
            if name in bench._NOOP_TERMINAL:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t_total = time.perf_counter() - t0
            spark.catalog.clearCache()
            _await_terminations(events)
            # stitch per-stream walls
            streams: dict[str, dict] = {}
            for e in events:
                s = streams.setdefault(e["id"], {"batches": []})
                if e["kind"] == "start":
                    s["t_start"] = e["t"]
                    s["name"] = e.get("name")
                elif e["kind"] == "term":
                    s["t_term"] = e["t"]
                elif e["kind"] == "progress":
                    s["batches"].append(e)
            print(f"\n=== {name} run {r}: total {t_total:.3f}s "
                  f"(build+drain {t_build:.3f}s, terminal "
                  f"{t_total - t_build:.3f}s)")
            stream_wall = 0.0
            for sid, s in streams.items():
                w = s.get("t_term", 0) - s.get("t_start", 0)
                stream_wall += max(w, 0)
                print(f"  stream {s.get('name') or sid[:8]}: "
                      f"wall {w:.3f}s, {len(s['batches'])} batches")
                for b in s["batches"]:
                    dm = b["durationMs"]
                    so = b["stateOperators"]
                    extra = (f" state={json.dumps(so)}" if so else "")
                    print(f"    batch {b['batch']}: rows={b['numInputRows']}"
                          f" durationMs={json.dumps(dm, sort_keys=True)}"
                          f"{extra}")
            print(f"  non-stream residual (setup + read-back + terminal): "
                  f"{t_total - stream_wall:.3f}s")
    spark.stop()


if __name__ == "__main__":
    main()
