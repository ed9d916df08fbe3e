"""lsh_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
into a per-process scratch root under ``.perfbench_scratch/`` (cleared at
start and at exit); warehouse, checkpoints, Spark local dirs and temp
files all live there.  The session is built only through
``lsh_spark.get_spark``; isolation settings reach Spark from outside, via
``PYSPARK_SUBMIT_ARGS``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs one untraced pass, then restarts the session with the
Spark event log on and runs one traced pass, and reports the per-layer
metrics plus the tracing overhead.  Spans of the traced pass are written
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# session restarts per run, timed after the passes in the warm JVM;
# setup_s is their median (the cold JVM start is plans.cold_setup.s)
RESTARTS = 6


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def become_subreaper() -> None:
    """Have orphaned descendants (Python workers, helper processes)
    re-parented to this process instead of init, so that
    ``reap_descendants`` can stop them and wait for each."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0,
                                            0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def reap_descendants(grace: float = 5.0) -> None:
    """Wait until no process is left below this one: give them ``grace``
    seconds to end on their own, then SIGTERM, and SIGKILL 5 s later."""
    t0, last = time.monotonic(), None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - t0
        if waited > grace:
            sig = signal.SIGTERM if waited < grace + 5 else signal.SIGKILL
            if (kids, sig) != last:
                log(f"stopping leftover processes {kids} with {sig.name}")
                last = (kids, sig)
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def isolate(root: str) -> str:
    """Create this process's scratch root, sweep the roots of dead runs,
    and point every Spark/Python scratch location into it."""
    base = os.path.join(root, ".perfbench_scratch")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        live = name.isdigit() and int(name) != os.getpid() \
            and _pid_alive(int(name))
        if not live:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    scratch = os.path.join(base, str(os.getpid()))
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(scratch, sub))
    tmp = os.path.join(scratch, "tmp")
    os.environ.update({
        "PERFBENCH_SCRATCH": scratch,
        "TMPDIR": tmp,
        "LSH_SPARK_LOCAL_DIR": os.path.join(scratch, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir=file:{scratch}/warehouse "
            "--conf spark.ui.showConsoleProgress=false "
            # no JVM perf-data file under the system /tmp
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"),
    })
    os.chdir(scratch)
    return scratch


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr,
          flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Session:
    """The Spark session under test and the JVM process behind it."""

    def __init__(self, app: str):
        self.app = app
        self.spark = None

    def setup(self) -> tuple[float, float]:
        """(Re)build the session; returns (set-up seconds, get_spark
        seconds).  Set-up covers get_spark, register_all and the first
        action."""
        from lsh_spark import get_spark, register_all

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=self.app)
        t_gs = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        register_all(self.spark)
        self.spark.range(1000).count()
        return time.perf_counter() - t0, t_gs

    def enable_event_log(self, path: str) -> None:
        """Spark reads ``spark.*`` JVM system properties into every new
        SparkConf, so the next session logs events; no library conf
        changes."""
        system = self.spark.sparkContext._jvm.java.lang.System
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", f"file:{path}"),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            system.setProperty(k, v)

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def warm_up(workload, spark, harness) -> float:
    """One untimed, unchecked pass: the JIT, the Python workers and the
    operators' first-call paths warm up before timing starts."""
    ps = workload.run_pass(spark, harness, warm=True)
    log(f"warm-up {ps.wall:.3f}s")
    return ps.wall


def passes_for(workload, spark, harness, seconds: float) -> list:
    """Closed loop: repeat the workload's fixed pass while the next one
    still fits in ``seconds``; at least one pass."""
    out = []
    t0 = time.perf_counter()
    while True:
        ps = workload.run_pass(spark, harness)
        out.append(ps)
        log(f"pass {ps.wall:.3f}s: " + " ".join(
            f"{o.kind}={o.wall:.3f}{'' if o.ok else '!'}" for o in ps.ops))
        if time.perf_counter() - t0 + ps.wall > seconds:
            return out


def run(args) -> dict:
    import spans
    import workloads

    scratch = os.environ["PERFBENCH_SCRATCH"]
    wl = workloads.WORKLOADS[args.workload](scratch, args.seed, args.tiny)
    t = time.perf_counter()
    wl.prepare()
    log(f"prepared in {time.perf_counter() - t:.2f}s: {wl.sizes()}")
    sess = Session(f"perfbench-{args.workload}")
    run_id = f"{args.workload}-{args.seed}"
    done = []  # every checked pass
    try:
        cold_s, _ = sess.setup()
        log(f"cold setup {cold_s:.3f}s")
        harness = workloads.Harness(sess.spark, spans.Tracer(run_id, False))
        warm_s = warm_up(wl, sess.spark, harness)
        passes = passes_for(wl, sess.spark, harness, args.seconds)
        done += passes
        setups, get_spark = [], []
        for _ in range(RESTARTS):
            s, g = sess.setup()
            setups.append(s)
            get_spark.append(g)
        log("setups " + " ".join(f"{s:.3f}" for s in setups))
        if not args.trace:
            walls = [o.wall for ps in passes for o in ps.ops]
            metrics = {
                "setup_s": (spans.median(setups), "s"),
                "wall_s": (spans.median([ps.wall for ps in passes]), "s"),
                "op_p50_s": (spans.median(walls), "s"),
            }
        else:
            untraced = spans.median([ps.wall for ps in passes])
            evdir = os.path.join(scratch, "eventlog")
            sess.enable_event_log(evdir)
            sess.setup()
            warm_up(wl, sess.spark,
                    workloads.Harness(sess.spark, spans.Tracer(run_id, False)))
            tracer = spans.Tracer(run_id, True)
            harness = workloads.Harness(sess.spark, tracer)
            traced = wl.run_pass(sess.spark, harness)
            done.append(traced)
            layer = wl.layer_metrics([traced])
            layer["process.peak_rss_mb"] = (vm_hwm_mb(sess.jvm_pid())
                                            + vm_hwm_mb("self"))
            layer["plans.cold_setup.s"] = cold_s
            sess.close()  # flushes the event log
            metrics = spans.layer_report(
                traced.ops, tracer.spans, spans.read_event_log(evdir), layer,
                get_spark=spans.median(get_spark), warmup=warm_s,
                overhead=traced.wall - untraced)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{run_id}-spans.jsonl"))
    finally:
        sess.close()
    all_ops = [o for ps in done for o in ps.ops]
    failed = sum(not o.ok for o in all_ops)
    log(f"{len(done)} passes, {len(all_ops)} ops, {failed} failed")
    return {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("near_dup", "query_mix", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs, for the benchmark's self-tests")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lsh_spark", "__init__.py")):
        print(f"perfbench: no lsh_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    become_subreaper()
    # a SIGTERM still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = isolate(ROOT)
    try:
        result = run(args)
    finally:
        reap_descendants()
        os.chdir(ROOT)
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
