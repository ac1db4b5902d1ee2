"""The benchmark's workloads and the measurements they share.

Every workload runs in one process with one ``local[4]`` session and reports
every end-to-end metric, each measured on that workload's own activity:

* ``ingest_trickle`` lands a fixed publishing schedule through
  ``ingest(layout="reference")`` and times its verification queries over
  the landed tables as its queries;
* ``query_mix`` runs warm passes over ``QUERIES`` and then drains a staged
  backlog through ``ingest(layout="hive")`` (the ingest probe).

See README.md for the metric-by-workload table.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter
from datetime import datetime, timezone

import gen
import numpy as np
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_etl_consumer_spark.fixtures import ITEM_VIEW_EVENT_TOPIC
from kafka_etl_consumer_spark.schema.registry import DictSchemaRegistry
from kafka_etl_consumer_spark.streaming.ingest import ingest
from tests.oracle_util import _canon_cell

ENVELOPE = T.StructType(
    [T.StructField("topic", T.StringType()), T.StructField("value", T.BinaryType())]
)
REGISTRY = DictSchemaRegistry(gen.AVSC)

# A staged backlog drains with this many files per micro-batch.
BACKLOG_FILES_PER_TRIGGER = 8
# Open-loop trickle: one 500-record file every 0.5 s (1k records/s), for
# twice --seconds. A file's landing latency depends on where it falls
# against micro-batches of about 1.2 s; ten or more batches average that out.
# At 2k records/s the reference layout fell behind on 4 cores, so latency
# measured a growing queue and swung with host speed.
TRICKLE_FILE_RECORDS = 500
TRICKLE_PERIOD_S = 0.5
TRICKLE_WINDOW_PER_SECOND = 2
# query_mix ingest probe: a backlog of this many records per second of
# --seconds (80k at 10 s), in 2,500-record files: four micro-batches per topic.
PROBE_RECORDS_PER_SECOND = 8_000
PROBE_FILE_RECORDS = 2_500
# The verification queries take about 0.2 s each; 20 passes of three give
# 60 samples, enough for a steady p90.
VERIFY_PASSES = 20
# query_mix runs warm passes for twice --seconds: a pass takes 2.5-4.5 s,
# and a shorter window left its query times at the mercy of a few passes.
MIX_WINDOW_PER_SECOND = 2

QUERY_LIST = (
    "q1_pricing_summary q6_forecast_revenue filter_project win_session funnel_steps "
    "udf_pandas_cosine sketch_hll_distinct set_union ingest_roundtrip_decode"
).split()

_PHASES = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch", "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def quantile(values, q: float, grid: int = 64) -> float:
    """Harrell–Davis estimate of the q-quantile: a mean of all order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) density. Samples here
    cluster with gaps (nine distinct queries; files landing in the same
    micro-batch), where a single order statistic jumps between clusters
    from run to run. Too few samples for the weights (n+1 <= 1/q or
    1/(1-q)) fall back to linear interpolation."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    if a <= 1 or b <= 1:
        pos = q * (n - 1)
        lo = int(pos)
        hi = min(lo + 1, n - 1)
        return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))
    # Beta CDF at i/n by the trapezoid rule on a grid of ``grid`` steps per sample
    t = np.linspace(0.0, 1.0, grid * n + 1)
    log_pdf = (a - 1) * np.log(t[1:-1]) + (b - 1) * np.log1p(-t[1:-1])
    pdf = np.zeros_like(t)
    pdf[1:-1] = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    return float(np.diff(cdf[::grid] / cdf[-1]) @ xs)


def _iso(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def expected_delta(after: dict, before: dict) -> dict:
    return {t: {k: v - before[t][k] for k, v in after[t].items()} for t in after}


class IngestRun:
    """One ``ingest()`` call over a file-stream stand-in for Kafka, with the
    bookkeeping that maps staged files to the micro-batches that landed them."""

    def __init__(self, spark, work: str, name: str, layout: str, max_files: int | None = None):
        self.spark, self.layout, self.max_files = spark, layout, max_files
        base = f"{work}/{name}"
        self.src, self.out, self.ckpt, self.tmp = (f"{base}/{d}" for d in ("src", "out", "ckpt", "tmp"))
        for d in (self.src, self.tmp):
            os.makedirs(d, exist_ok=True)
        self.due: dict[str, float] = {}  # file name -> when it was due
        self.late: list[float] = []  # publisher lateness per file, s
        self.payload_bytes = 0
        self.lag_samples: list[int] = []
        self.queries = []
        self._cache: dict[tuple[str, int], list[str]] = {}  # shared with the lag sampler
        self._lock = threading.Lock()

    def stage(self, table, name: str, due: float | None = None) -> None:
        gen.write_envelopes(table, f"{self.src}/{name}", self.tmp)
        self.payload_bytes += _payload_bytes(table)
        if due is not None:
            self.late.append(time.time() - due)
            self.due[name] = due

    def start(self) -> None:
        reader = self.spark.readStream.schema(ENVELOPE)
        if self.max_files:
            reader = reader.option("maxFilesPerTrigger", self.max_files)
        self.t0 = time.time()
        self.queries = ingest(reader.parquet(self.src), REGISTRY, self.out, list(gen.TOPICS),
                              self.ckpt, trigger="0 seconds", layout=self.layout)

    def committed(self, topic: str) -> dict[str, int]:
        """Staged file name -> id of the committed batch that read it."""
        ck = f"{self.ckpt}/{topic}"
        try:
            ids = sorted(int(f) for f in os.listdir(f"{ck}/commits") if f.isdigit())
        except FileNotFoundError:
            return {}
        out = {}
        with self._lock:
            for b in ids:
                if (topic, b) not in self._cache:
                    # every tenth entry of the source log is a compaction of
                    # all earlier ones, named <batchId>.compact
                    log = f"{ck}/sources/0/{b}"
                    with open(log if os.path.exists(log) else f"{log}.compact") as fh:
                        entries = [json.loads(line) for line in fh.read().splitlines()[1:]]
                    self._cache[(topic, b)] = [
                        os.path.basename(e["path"]) for e in entries if e["batchId"] == b
                    ]
                for name in self._cache[(topic, b)]:
                    out[name] = b
        return out

    def landed_files(self) -> int:
        return min(len(self.committed(t)) for t in gen.TOPICS)

    def sample_lag(self, published: int) -> None:
        self.lag_samples.append(published - self.landed_files())

    def wait_landed(self, n_files: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while self.landed_files() < n_files:
            for q in self.queries:
                if q.exception() is not None:
                    raise RuntimeError(f"ingest query failed: {q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"{self.landed_files()}/{n_files} files landed after {timeout}s")
            time.sleep(0.05)

    def stop(self) -> None:
        """Stop the queries and keep their progress and ids."""
        for q in self.queries:
            q.stop()
        self.query_ids = {str(q.id): t for t, q in zip(gen.TOPICS, self.queries)}
        self._batches = self._read_batches()

    def batches(self) -> list[dict]:
        """One row per data micro-batch of each topic query, from its
        ``StreamingQueryProgress``."""
        return self._batches

    def _read_batches(self) -> list[dict]:
        rows = []
        for topic, q in zip(gen.TOPICS, self.queries):
            for p in q.recentProgress:
                d = dict(p.durationMs or {})
                if "addBatch" not in d:
                    continue
                start = _iso(p.timestamp)
                rows.append({"topic": topic, "query_id": str(p.id), "batch_id": int(p.batchId),
                             "start": start, "end": start + d["triggerExecution"] / 1000.0,
                             "num_input_rows": int(p.numInputRows or 0), "durations": d})
        return rows

    def landed_at(self) -> dict[str, float]:
        """Staged file name -> when the last topic's batch holding it committed."""
        end = {(b["topic"], b["batch_id"]): b["end"] for b in self.batches()}
        out: dict[str, float] = {}
        for topic in gen.TOPICS:
            for name, b in self.committed(topic).items():
                out[name] = max(out.get(name, 0.0), end[(topic, b)])
        return out

    def landed_bytes(self) -> int:
        total = 0
        for dirpath, dirnames, files in os.walk(self.out):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            total += sum(os.path.getsize(f"{dirpath}/{f}") for f in files if f.endswith(".parquet"))
        return total

    def read_topic(self, topic: str):
        reader = self.spark.read
        if self.layout == "reference":
            reader = reader.option("recursiveFileLookup", "true")
        return reader.parquet(f"{self.out}/{topic}")


def _payload_bytes(table) -> int:
    return int(pc.sum(pc.binary_length(table.column("value"))).as_py() or 0)


def _crc_sum(col: str):
    return F.sum(F.crc32(F.col(col).cast("binary")))


def _identity(seq: str):
    return [F.count(F.lit(1)), F.countDistinct(seq), F.sum(seq)]


# One verification query per entry: topic, the aggregates, and what they
# yield. The ItemViewEvent table holds 80% of the rows, so its checks are
# split over two queries; with one query per topic the median query time
# would sit between two clusters of equal size and jump between them.
VERIFY_QUERIES = [
    (ITEM_VIEW_EVENT_TOPIC, lambda: _identity("baseProperties.timestamp"), ("rows", "distinct", "seq")),
    (ITEM_VIEW_EVENT_TOPIC,
     lambda: [_crc_sum("baseProperties.url"), _crc_sum("baseProperties.uid"), _crc_sum("itemId"),
              F.sum("price")],
     ("url_crc", "uid_crc", "item_crc", "price")),
    (gen.METRIC_TOPIC,
     lambda: _identity("seq") + [_crc_sum("host"), F.sum("memMb"), F.sum(F.size("latencyUs"))],
     ("rows", "distinct", "seq", "host_crc", "mem_mb", "latency_len")),
]


def verify_landed(run: IngestRun, expected: dict, spans, timed: list[float] | None = None,
                  passes: int = 1, builds: list | None = None) -> tuple[int, int]:
    """Check the landed tables against the generator: row counts, no
    duplicate sequence numbers, and the key-field checksums. Returns
    (landed rows, failed records). When ``timed`` is given, appends one
    build+execute time per query to it and (build seconds, build jobs) to
    ``builds``."""
    sc = run.spark.sparkContext
    pass_times = []
    for p in range(passes):
        got: dict[str, dict[str, int]] = {t: {} for t in gen.TOPICS}
        t_pass = time.perf_counter()
        for k, (topic, aggs, names) in enumerate(VERIFY_QUERIES):
            group = f"verify:{id(run)}:{p}:{k}"
            sc.setJobGroup(f"{group}:build", "verify")
            t = time.perf_counter()
            with spans.span("verify.query", trace=group, topic=topic):
                with spans.span("plans.build", topic=topic):
                    df = run.read_topic(topic).agg(*aggs())
                built = time.perf_counter()
                sc.setJobGroup(f"{group}:exec", "verify")
                with spans.span("exec.collect", topic=topic):
                    row = df.collect()[0]
            if timed is not None:
                timed.append(time.perf_counter() - t)
                builds.append((built - t, len(sc.statusTracker().getJobIdsForGroup(f"{group}:build"))))
            got[topic].update(zip(names, (int(v or 0) for v in row)))
        pass_times.append(time.perf_counter() - t_pass)
    failed, landed = 0, 0
    for topic, g in got.items():
        exp = expected[topic]
        landed += g["rows"]
        failed += abs(exp["rows"] - g["rows"]) + (g["rows"] - g["distinct"])
        if g["rows"] == exp["rows"] == g["distinct"] and any(g[k] != exp[k] for k in gen.CHECKSUMS[topic]):
            failed += g["rows"]
    run.verify_pass_s = pass_times
    return landed, failed


def ingest_metrics(run: IngestRun, landed: int, open_loop: bool = False) -> dict:
    """End-to-end ingest metrics of one measured ``IngestRun``. A backlog's
    rate is what landed over the time to land all of it; an open loop's is
    the steady landing rate: the share of files landed after the first
    commit, over the time from the first commit to the last (the files are
    of equal size)."""
    at = run.landed_at()
    lat = [at[f] - run.due[f] for f in run.due]
    first, last = min(at.values()), max(at.values())
    share, elapsed = 1.0, last - run.t0
    if open_loop and last > first:
        share = sum(at[f] > first for f in run.due) / len(run.due)
        elapsed = last - first
    return {
        "ingest_records_per_s": landed * share / elapsed,
        "ingest_mb_per_s": run.payload_bytes * share / 1e6 / elapsed,
        "landed_bytes_per_input_byte": run.landed_bytes() / run.payload_bytes,
        "land_latency_p50_s": quantile(lat, 0.5),
        "land_latency_p90_s": quantile(lat, 0.9),
    }


def stream_layer_metrics(run: IngestRun, landed: int) -> dict:
    """Per-layer ``streaming.ingest`` metrics from the progress events."""
    bs = run.batches()
    out = {"ingest.batches": len(bs), "ingest.records_per_batch": landed / max(len(bs), 1)}
    for name, key in _PHASES.items():
        vals = [b["durations"].get(key, 0) for b in bs]
        out[f"ingest.{name}"] = statistics.median(vals) if vals else 0.0
    out["ingest.source_rows_per_landed_row"] = sum(b["num_input_rows"] for b in bs) / max(landed, 1)
    out["ingest.source_lag_files"] = statistics.fmean(run.lag_samples) if run.lag_samples else 0.0
    return out


def _lag_sampler(run: IngestRun, published, stop: threading.Event) -> threading.Thread:
    def loop():
        while not stop.wait(0.2):
            run.sample_lag(published())

    t = threading.Thread(target=loop, daemon=True)
    t.start()
    return t


def run_backlog(spark, work: str, stream: gen.AvroStream, n_records: int, spans, name: str,
                timeout: float, file_records: int) -> tuple[IngestRun, dict]:
    """Stage ``n_records`` as one backlog, drain it through
    ``ingest(layout="hive")`` and return the run with the records it must land."""
    before = stream.expected()
    run = IngestRun(spark, work, name, "hive", BACKLOG_FILES_PER_TRIGGER)
    n_files = max(1, round(n_records / file_records))
    with spans.span(f"gen.stage:{name}"):
        for k in range(n_files):
            run.stage(stream.batch(file_records), f"b{k:05d}.parquet")
    expected = expected_delta(stream.expected(), before)
    with spans.span(f"ingest.drain:{name}"):
        with spans.span("ingest.start"):
            run.start()
        run.due = dict.fromkeys((f"b{k:05d}.parquet" for k in range(n_files)), run.t0)
        stop = threading.Event()
        sampler = _lag_sampler(run, lambda: n_files, stop)
        try:
            run.wait_landed(n_files, timeout)
        finally:
            stop.set()
            sampler.join(timeout=5)
            run.stop()
    return run, expected


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Result:
    """What one workload measured: end-to-end metrics, per-layer inputs and
    the operation counts behind ``failed_ops_share``."""

    def __init__(self):
        self.e2e: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.ingest_run: IngestRun | None = None  # the measured ingest phase
        self.ingest_landed = 0
        self.query_groups: list[str] = []  # job groups of the measured queries
        self.build: list[tuple[float, int]] = []  # (seconds, jobs) per measured query build
        self.measure_start = self.measure_end = 0.0

    def queries(self, times: list[float], pass_s: list[float]) -> None:
        self.e2e["query_p50_s"] = quantile(times, 0.5)
        self.e2e["query_p90_s"] = quantile(times, 0.9)
        self.e2e["mix_pass_s"] = statistics.median(pass_s)
        self.notes.append(f"queries: {len(times)} timed, {len(pass_s)} passes")


def _verify_into(res: Result, run: IngestRun, expected: dict, spans, timed=None, passes=1) -> int:
    landed, failed = verify_landed(run, expected, spans, timed, passes, res.build)
    published = sum(e["rows"] for e in expected.values())
    res.attempted += published
    res.failed += min(failed, published)
    return landed


def ingest_trickle(ctx) -> Result:
    res = Result()
    n_files = max(2, round(ctx.seconds * TRICKLE_WINDOW_PER_SECOND / TRICKLE_PERIOD_S))
    with ctx.spans.span("gen.pools"):
        stream = gen.AvroStream(ctx.seed)
    with ctx.spans.span("warmup"):
        wrun = IngestRun(ctx.spark, ctx.work, "warmup", "reference")
        before = stream.expected()
        for k in range(2):
            wrun.stage(stream.batch(TRICKLE_FILE_RECORDS), f"w{k}.parquet")
        wexp = expected_delta(stream.expected(), before)
        wrun.start()
        try:
            wrun.wait_landed(2, ctx.timeout)
        finally:
            wrun.stop()
        _verify_into(res, wrun, wexp, ctx.spans)
    with ctx.spans.span("gen.schedule"):
        before = stream.expected()
        tables = [stream.batch(TRICKLE_FILE_RECORDS) for _ in range(n_files)]
        exp = expected_delta(stream.expected(), before)
    ctx.setup_done()
    run = IngestRun(ctx.spark, ctx.work, "trickle", "reference")
    res.measure_start = time.time()
    with ctx.spans.span("measure"):
        with ctx.spans.span("ingest.start"):
            run.start()
        published = [0]
        stop = threading.Event()
        sampler = _lag_sampler(run, lambda: published[0], stop)
        t_sched = time.time()
        try:
            for k, table in enumerate(tables):
                due = t_sched + k * TRICKLE_PERIOD_S
                time.sleep(max(0.0, due - time.time()))
                run.stage(table, f"t{k:05d}.parquet", due)
                published[0] += 1
            run.wait_landed(n_files, ctx.timeout)
        finally:
            stop.set()
            sampler.join(timeout=5)
            run.stop()
        run.t0 = t_sched
    res.measure_end = time.time()
    times: list[float] = []
    with ctx.spans.span("verify"):
        landed = _verify_into(res, run, exp, ctx.spans, times, VERIFY_PASSES)
    res.e2e.update(ingest_metrics(run, landed, open_loop=True))
    res.queries(times, run.verify_pass_s)
    res.notes.append(f"publisher lateness max {max(run.late) * 1000:.1f} ms over {len(run.late)} files")
    res.ingest_run, res.ingest_landed = run, landed
    return res


def _canon(v):
    """tests/oracle_util's cell canonicalisation, made hashable: Arrow
    arrays arrive as ndarrays and structs as dicts."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return _canon_cell(v)


def _canon_rows(pdf) -> Counter:
    cols = []
    for c in sorted(pdf.columns):
        s = pdf[c]
        if s.dtype.kind == "f":  # vectorised twin of round(v, 9) / "NaN"
            a = s.to_numpy(dtype="float64")
            v = np.round(a, 9).astype(object)
            v[np.isnan(a)] = "NaN"
        else:
            v = [_canon(x) for x in s.astype(object)]
        cols.append(v)
    return Counter(zip(*cols))


def oracle_check(spark_df, con, sql: str, name: str) -> None:
    """The ``tests/oracle_util.compare`` contract — same column names up to
    case, same row count, same multiset of canonical rows — with column-wise
    canonicalisation, so a 150k-row result checks in well under a second."""
    sp = spark_df.toPandas()
    du = con.execute(sql).fetchdf()
    if sorted(map(str.lower, sp.columns)) != sorted(map(str.lower, du.columns)):
        raise ValueError(f"{name}: column mismatch spark={sorted(sp.columns)} duckdb={sorted(du.columns)}")
    if len(sp) != len(du):
        raise ValueError(f"{name}: row count spark={len(sp)} duckdb={len(du)}")
    a, b = _canon_rows(sp), _canon_rows(du)
    if a != b:
        raise ValueError(f"{name}: {sum((a - b).values())} row mismatches; first: {list((a - b))[:2]}")


def _run_query(ctx, QUERIES, name: str, group: str, res: Result) -> float:
    """Build and execute one registry query into the noop sink; returns
    build plus execute seconds."""
    sc = ctx.spark.sparkContext
    with ctx.spans.span("query", trace=group, query=name):
        sc.setJobGroup(f"{group}:build", name)
        t = time.perf_counter()
        with ctx.spans.span("plans.build", query=name):
            df = QUERIES[name](ctx.spark, ctx.sf_dir)
        built = time.perf_counter()
        sc.setJobGroup(f"{group}:exec", name)
        with ctx.spans.span("exec.noop", query=name):
            df.write.format("noop").mode("overwrite").save()
        done = time.perf_counter()
    res.build.append((built - t, len(sc.statusTracker().getJobIdsForGroup(f"{group}:build"))))
    res.query_groups.append(group)
    return done - t


def query_mix(ctx) -> Result:
    res = Result()
    names = QUERY_LIST
    with ctx.spans.span("gen.tables"):
        gen.write_tables(ctx.sf_dir, ctx.seed, ctx.table_scale)
    with ctx.spans.span("gen.pools"):
        stream = gen.AvroStream(ctx.seed)
    with ctx.spans.span("plans.import"):
        from kafka_etl_consumer_spark.plans import ORACLES, QUERIES
        from tests.oracle_util import duckdb_connection
    sc = ctx.spark.sparkContext
    # the untimed pass: warm-up, and each query checked once against its oracle
    with ctx.spans.span("warmup"):
        con = duckdb_connection(ctx.sf_dir)
        for name in names:
            res.attempted += 1
            try:
                sc.setJobGroup(f"oracle:{name}", name)
                with ctx.spans.span("oracle.compare", trace=f"oracle:{name}", query=name):
                    oracle_check(QUERIES[name](ctx.spark, ctx.sf_dir), con, ORACLES[name], name)
            except Exception as e:  # a wrong or failing query is a failed operation
                res.failed += 1
                res.notes.append(f"oracle mismatch: {name}: {str(e)[:300]}")
        con.close()
        # the first noop execution of each plan still compiles: one more
        # untimed pass, so the timed passes are warm
        for name in names:
            _run_query(ctx, QUERIES, name, f"warm:{name}", Result())
    ctx.setup_done()
    times, pass_s = [], []
    res.measure_start = time.time()
    with ctx.spans.span("measure"):
        while not pass_s or time.time() - res.measure_start < ctx.seconds * MIX_WINDOW_PER_SECOND:
            t = time.perf_counter()
            for name in names:
                res.attempted += 1
                try:
                    times.append(_run_query(ctx, QUERIES, name, f"mix:{len(pass_s)}:{name}", res))
                except Exception as e:
                    res.failed += 1
                    res.notes.append(f"query failed: {name}: {str(e)[:300]}")
            pass_s.append(time.perf_counter() - t)
    res.measure_end = time.time()
    res.queries(times, pass_s)
    sc.setJobGroup("probe", "ingest probe")
    with ctx.spans.span("probe"):
        run, exp = run_backlog(ctx.spark, ctx.work, stream, ctx.seconds * PROBE_RECORDS_PER_SECOND,
                               ctx.spans, "probe", ctx.timeout, PROBE_FILE_RECORDS)
        landed = _verify_into(res, run, exp, ctx.spans)
    res.e2e.update(ingest_metrics(run, landed))
    res.ingest_run, res.ingest_landed = run, landed
    return res


WORKLOADS = {"ingest_trickle": ingest_trickle, "query_mix": query_mix}
