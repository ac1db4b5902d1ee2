"""Per-layer metrics of a traced run.

Sources, all read from outside the engine:

* Spark's own event log (``spark.eventLog.enabled``, uncompressed, one file):
  jobs, stages and tasks with their executor metrics, SQL executions with
  their AQE re-plans, and the SQL metrics of Python and write nodes;
* ``StreamingQueryProgress`` of the measured ingest queries;
* the benchmark-side spans and ``statusTracker`` job-group counts;
* single-threaded ``avro_codec`` microbenchmarks on the seeded payloads.

Each metric covers the workload's measured phase: the timed query passes for
``query_mix``, the measured ingest queries for ``ingest_trickle``. The
``ingest.*`` and ``sink.*`` metrics of ``query_mix`` come from its ingest
probe, and ``plans.*`` of ``ingest_trickle`` from its verification queries.
"""

from __future__ import annotations

import ast
import json
import os
import statistics
import time
from collections import defaultdict

import gen
import workloads

from kafka_etl_consumer_spark.avro_codec import (
    decode_record,
    decode_record_resolved,
    encode_record,
    parse_schema,
)

CORES = 4
_PY_RUN, _PY_BOOT, _PY_SENT = (
    "time to run Python workers", "time to start Python workers", "data sent to Python workers")
_TASK_COMMIT, _JOB_COMMIT = "task commit time", "job commit time"


class EventLog:
    """The parts of one application's event log the benchmark reduces."""

    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.execs: dict[int, dict] = {}
        self.metric_type: dict[int, tuple[str, str]] = {}  # accumulator -> (name, type)
        self.driver_acc: dict[int, list[tuple[int, float]]] = defaultdict(list)  # exec -> updates
        for line in lines:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                ex = p.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "submit": e["Submission Time"], "group": p.get("spark.jobGroup.id"),
                    "exec": int(ex) if ex is not None else None,
                    "query": p.get("sql.streaming.queryId"), "batch": p.get("streaming.sql.batchId"),
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerTaskEnd":
                self._task(e)
            elif ev.endswith("SQLExecutionStart"):
                self.execs[e["executionId"]] = {"start": e["time"], "aqe": 0}
                self._plan(e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveExecutionUpdate"):
                self.execs[e["executionId"]]["aqe"] += 1
                self._plan(e["sparkPlanInfo"])
            elif ev.endswith("SQLAdaptiveSQLMetricUpdates"):
                for m in e["sqlPlanMetrics"]:
                    self.metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])
            elif ev.endswith("DriverAccumUpdates"):
                self.driver_acc[e["executionId"]].extend(e["accumUpdates"])

    def _plan(self, plan) -> None:
        if isinstance(plan, str):  # some Spark versions log the plan as a repr
            plan = ast.literal_eval(plan)
        for m in plan["metrics"]:
            self.metric_type[m["accumulatorId"]] = (m["name"], m["metricType"])
        for c in plan["children"]:
            self._plan(c)

    def _task(self, e) -> None:
        s = self.stages[e["Stage ID"]]
        m = e.get("Task Metrics") or {}
        s["tasks"] += 1
        s["run_ms"] += m.get("Executor Run Time", 0)
        s["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        s["gc_ms"] += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        s["last_finish"] = max(s["last_finish"], e["Task Info"].get("Finish Time", 0))
        for a in e["Task Info"].get("Accumulables", []):
            if a.get("Metadata") != "sql":  # SQL metrics; their updates are strings
                continue
            name, value = a.get("Name", ""), float(a["Update"])
            kind = self.metric_type.get(a["ID"], (name, ""))[1]
            s["sql:" + name] += value / 1e6 if kind == "nsTiming" else value

    def reduce(self, job_ids, wall_s: float) -> dict[str, float]:
        """``exec.*`` metrics over the given jobs, ``wall_s`` being the wall
        time they ran in."""
        jobs = [self.jobs[j] for j in job_ids]
        stage_ids = {s for j in jobs for s in j["stages"] if s in self.stages}
        tot = defaultdict(float)
        for s in stage_ids:
            for k, v in self.stages[s].items():
                if k != "last_finish":
                    tot[k] += v
        execs = {j["exec"] for j in jobs if j["exec"] is not None and j["exec"] in self.execs}
        first_job = {}
        for j in jobs:
            if j["exec"] in execs:
                first_job[j["exec"]] = min(first_job.get(j["exec"], j["submit"]), j["submit"])
        gaps = [first_job[x] - self.execs[x]["start"] for x in execs]
        return {
            "exec.sql_executions": len(execs), "exec.jobs": len(jobs), "exec.stages": len(stage_ids),
            "exec.tasks": tot["tasks"], "exec.aqe_replans": sum(self.execs[x]["aqe"] for x in execs),
            "exec.plan_to_first_job_ms": statistics.median(gaps) if gaps else 0.0,
            "exec.executor_run_ms": tot["run_ms"], "exec.executor_cpu_ms": tot["cpu_ms"],
            "exec.jvm_gc_ms": tot["gc_ms"], "exec.shuffle_read_bytes": tot["shuffle_read"],
            "exec.shuffle_write_bytes": tot["shuffle_write"], "exec.spill_bytes": tot["spill"],
            "exec.python_total_ms": tot["sql:" + _PY_RUN], "exec.python_boot_ms": tot["sql:" + _PY_BOOT],
            "exec.python_data_sent_bytes": tot["sql:" + _PY_SENT],
            "exec.overhead_ms": wall_s * 1000 - tot["run_ms"] / CORES,
        }

    def driver_metric(self, exec_id: int, name: str) -> float:
        return sum(v for i, v in self.driver_acc.get(exec_id, [])
                   if self.metric_type.get(i, ("", ""))[0] == name)


def read_event_log(directory: str) -> EventLog:
    (name,) = os.listdir(directory)
    with open(f"{directory}/{name}") as fh:
        return EventLog(fh)


def codec_micro(seed: int, spans, n: int = 4000, reps: int = 3) -> dict[str, float]:
    """Single-threaded ``avro_codec`` cost per record on the seeded payloads
    (both topics, in their staged mix), median of ``reps`` timings."""
    batch = gen.AvroStream(seed).batch(n)
    trees = {t: parse_schema(a) for t, a in gen.AVSC.items()}
    pairs = [(trees[t], bytes(v)) for t, v in zip(batch.column("topic").to_pylist(),
                                                 batch.column("value").to_pylist())]
    records = [(tree, decode_record(tree, v)) for tree, v in pairs]

    def timed(name, fn):
        times = []
        for _ in range(reps):
            with spans.span(f"avro_codec.{name}"):
                t = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t)
        return statistics.median(times) / n * 1e6

    return {
        "avro_codec.decode_us_per_rec": timed("decode", lambda: [decode_record(t, v) for t, v in pairs]),
        "avro_codec.decode_resolved_us_per_rec": timed(
            "decode_resolved", lambda: [decode_record_resolved(t, t, v) for t, v in pairs]),
        "avro_codec.encode_us_per_rec": timed("encode", lambda: [encode_record(t, r) for t, r in records]),
    }


def _ingest_layers(log: EventLog, run: workloads.IngestRun, landed: int) -> dict[str, float]:
    out = workloads.stream_layer_metrics(run, landed)
    qids = set(run.query_ids)
    per_batch: dict[tuple, list[int]] = defaultdict(list)
    for jid, j in log.jobs.items():
        if j["query"] in qids and j["batch"] is not None:
            per_batch[(j["query"], j["batch"])].append(jid)
    data = {(b["query_id"], str(b["batch_id"])) for b in run.batches()}
    per_batch = {k: v for k, v in per_batch.items() if k in data}
    out["ingest.jobs_per_batch"] = statistics.median(len(v) for v in per_batch.values()) if per_batch else 0
    py, write, task_commit, job_commit = [], [], [], []
    for jobs in per_batch.values():
        r = log.reduce(jobs, 0.0)
        py.append(r["exec.python_total_ms"])
        write.append(r["exec.executor_run_ms"] - r["exec.python_total_ms"])
        stages = [s for jid in jobs for s in log.jobs[jid]["stages"] if s in log.stages]
        task_commit.append(sum(log.stages[s]["sql:" + _TASK_COMMIT] for s in stages))
        execs = {log.jobs[jid]["exec"] for jid in jobs}
        job_commit.append(sum(log.driver_metric(x, _JOB_COMMIT) for x in execs if x is not None))
    if run.layout == "hive":
        # FileStreamSink's write statistics are not plan metrics; its job
        # commit is the batch's _spark_metadata entry, written after the
        # last write task finished
        job_commit = []
        for (qid, batch), jobs in per_batch.items():
            topic = run.query_ids[qid]
            meta = f"{run.out}/{topic}/_spark_metadata/{batch}"
            last = max(log.stages[s]["last_finish"] for jid in jobs
                       for s in log.jobs[jid]["stages"] if s in log.stages)
            if os.path.exists(meta):
                job_commit.append(os.path.getmtime(meta) * 1000 - last)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out.update({"ingest.decode_python_ms": med(py), "ingest.write_ms": med(write),
                "sink.task_commit_ms": med(task_commit), "sink.job_commit_ms": med(job_commit)})
    files = [f"{d}/{f}" for d, _, fs in os.walk(run.out) for f in fs
             if f.endswith(".parquet") and "/_" not in d[len(run.out):]]
    out["sink.files_landed"] = len(files)
    out["sink.bytes_landed"] = sum(os.path.getsize(f) for f in files)
    out["sink.records_per_file"] = landed / max(len(files), 1)
    return out


def _batch_spans(spans, run: workloads.IngestRun) -> None:
    """One span per micro-batch, from its progress event, under the
    innermost benchmark span that was open when the batch started."""
    for b in run.batches():
        open_then = [r for r in spans.rows if r["start"] <= b["start"] <= r["end"]]
        parent = max(open_then, key=lambda r: r["start"], default=None)
        spans.add("ingest.batch", b["start"], b["end"], parent,
                  f"batch:{b['topic']}:{b['batch_id']}", topic=b["topic"], batch_id=b["batch_id"])


def per_layer(ctx, res, spans) -> dict[str, float]:
    """Per-layer metrics of a finished traced run (its session stopped, so
    the event log is complete)."""
    _batch_spans(spans, res.ingest_run)
    log = read_event_log(f"{ctx.work}/eventlog")
    out = {"session.start_s": ctx.session_start_s}
    out.update(codec_micro(ctx.seed, spans))
    out.update(_ingest_layers(log, res.ingest_run, res.ingest_landed))
    if res.query_groups:  # query_mix: the timed passes
        groups = {f"{g}:{k}" for g in res.query_groups for k in ("build", "exec")}
        jobs = [j for j, v in log.jobs.items() if v["group"] in groups]
    else:  # ingest_trickle: the measured queries' micro-batches
        qids = set(res.ingest_run.query_ids)
        jobs = [j for j, v in log.jobs.items() if v["query"] in qids]
    out.update(log.reduce(jobs, res.measure_end - res.measure_start))
    out["plans.build_s"] = statistics.median(b for b, _ in res.build)
    out["plans.build_jobs"] = statistics.fmean(n for _, n in res.build)
    return out
