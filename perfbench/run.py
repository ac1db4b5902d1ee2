"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) in a single process on a ``local[4]``
session. Human-readable lines come first; the last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the ``end_to_end`` metrics of BENCHMARK.json;
with ``--trace 1`` the run also records Spark's event log and benchmark-side
spans, reports the ``per_layer`` metrics, and writes spans, self times, the
per-layer table and its overhead against the last untraced run of the same
workload to ``perfbench/.results/trace_<workload>.json``. Scratch data goes
under ``perfbench/.work``; nothing is written outside the checkout. On every
way out, the run stops the Spark JVM and its Python workers and waits until
each has ended.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = f"{HERE}/.results"
CORES = 4
# The driver heap is fixed and touched at start-up, so peak RSS does not
# swing with when G1 decides to grow the heap.
DRIVER_MEMORY = "2g"
PR_SET_CHILD_SUBREAPER = 36
# How long the JVM and its workers get to exit on their own before they are
# sent SIGTERM, and then SIGKILL.
EXIT_GRACE_S = 20.0


def _prepare_env(work: str) -> None:
    """What must be set before the JVM starts: Python workers import the
    engine from the repo root (they fail with ModuleNotFoundError when the
    benchmark starts elsewhere), the session is pinned to local[4], and
    temporary files stay inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    sys.path.insert(0, ROOT)


def _become_subreaper() -> None:
    """Make orphaned descendants (Python workers whose JVM has exited) the
    children of this process instead of init's, so it can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # still waits for the descendants it can see


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the process shutdown


def _descendants() -> list[int]:
    """Pids of every process below this one, zombies too, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_processes(spark) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on EOF)
    and wait until every descendant process has ended and been reaped
    (orphans are re-parented here, see ``_become_subreaper``), escalating to
    SIGTERM and then SIGKILL for any that outlive the grace period."""
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # keep going: the processes must still end
            print(f"spark.stop failed: {e}", file=sys.stderr)
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()
    start = time.time()
    sent = None
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        waited = time.time() - start
        sig = signal.SIGKILL if waited > EXIT_GRACE_S else signal.SIGTERM if waited > EXIT_GRACE_S / 2 else None
        if sig is not None and sig != sent:
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        if waited > EXIT_GRACE_S + 10:
            raise RuntimeError(f"processes {left} did not exit")
        time.sleep(0.05)


def _peak_rss_mb(pids) -> float:
    """Sum of the peak resident set size (VmHWM) of the processes, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024


class Context:
    """What a workload gets: the session, its directories and its budget."""

    def __init__(self, args, work: str, spans):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.sf_dir = f"{work}/tables"
        self.table_scale = 0.001 if args.smoke else 0.1
        self.spans = spans
        self.timeout = 150.0
        self.t_setup = time.perf_counter()
        self.setup_s = 0.0

    def start_session(self) -> None:
        from kafka_etl_consumer_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": f"{self.work}/tmp",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if self.trace:
            os.makedirs(f"{self.work}/eventlog")
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        with self.spans.span("session.get_spark"):
            self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def setup_done(self) -> None:
        """Marks the end of set-up: session, inputs and warm-up."""
        self.setup_s = time.perf_counter() - self.t_setup


def _overhead(workload: str, traced: dict) -> dict:
    """Traced minus untraced, relative to untraced, for each end-to-end
    metric of the last untraced run of this workload in this checkout."""
    try:
        with open(f"{RESULTS}/untraced_{workload}.json") as fh:
            base = json.load(fh)
    except FileNotFoundError:
        return {}
    return {k: (traced[k] - v) / v for k, v in base.items() if k in traced and v}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny analytics tables (scale 0.001), for the smoke test")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        bench = json.load(fh)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}

    work = f"{HERE}/.work/{args.workload}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    import workloads
    from spans import Spans

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    spans = Spans(enabled=bool(args.trace))
    ctx = Context(args, work, spans)
    _become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        with spans.span("run", trace="run", workload=args.workload):
            with spans.span("setup"):
                ctx.start_session()
            res = workloads.WORKLOADS[args.workload](ctx)
            e2e = {"setup_s": ctx.setup_s, "peak_rss_mb": _peak_rss_mb([os.getpid(), ctx.jvm_pid]), **res.e2e}
    finally:
        _stop_processes(getattr(ctx, "spark", None))

    os.makedirs(RESULTS, exist_ok=True)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"failed_ops_share {res.failed / max(res.attempted, 1):.6f} unit share "
          f"({res.failed} failed of {res.attempted} operations)")
    for note in res.notes:
        print(note)
    for k, v in e2e.items():
        print(f"{k} {v:.6g} {units.get(k, '')}")
    if args.trace:
        import layers

        metrics = layers.per_layer(ctx, res, spans)
        overhead = _overhead(args.workload, e2e)
        for k, v in overhead.items():
            print(f"trace overhead {k} {v:+.1%}")
        if not overhead:
            print("trace overhead: no untraced run of this workload recorded yet")
        report = {"workload": args.workload, "seed": args.seed, "per_layer": metrics,
                  "end_to_end_traced": e2e, "overhead_vs_untraced": overhead,
                  "self_time_s": spans.self_times(), "spans": spans.rows}
        with open(f"{RESULTS}/trace_{args.workload}.json", "w") as fh:
            json.dump(report, fh, indent=1)
        wanted = [m["name"] for m in bench["per_layer"]]
    else:
        metrics = e2e
        with open(f"{RESULTS}/untraced_{args.workload}.json", "w") as fh:
            json.dump(e2e, fh)
        wanted = [m["name"] for m in bench["end_to_end"]]
    missing = [k for k in wanted if k not in metrics]
    if missing:
        print(f"missing metrics: {missing}")
    print(json.dumps({
        "correct": res.failed == 0 and not missing,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in wanted if k in metrics},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
