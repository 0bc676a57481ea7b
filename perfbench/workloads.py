"""The benchmark's workloads. Each drives the program only through its
public surface: `session.get_spark`, `sources.kafka.decode_avro_value` /
`flatten_payload`, `operators.windowed_agg.tumbling_window_agg` /
`finalize_for_sink`, Structured Streaming `writeStream.foreachBatch` and
`recentProgress`, `sql.ksql.translate_ksql`, and the query registry
(`__spark_entry__.queries()` / `oracle_sql()`).

A workload runs in a `Phase`: one Spark session, traced or not. It returns
a `Result` with the end-to-end metrics, the operation counts and, when
traced, the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import tables
from measure import TreeSampler, Tracer, median, percentile
from weather import TOPICS, WEATHER_AVSC, StreamSpec, expected_windows

HERE = os.path.dirname(os.path.abspath(__file__))

# paced phase: open loop, 1,000 rows/s over two topics in 250 ms ticks,
# 100 stations x 2 metrics, 5% of events 5-120 s late (earlier windows).
PACED_RATE = 1000
PACED_TICK_MS = 250
PACED_STATIONS = 100
PACED_WARM_S = 3.0
LATENCY_LIMIT_MS = 10_000
# drain phase: backlog of 10,000 rows per run second in 5,000-row files,
# 50,000 stations x 2 metrics, 10% of events 1-4 min out of order,
# at most 3 files per topic per trigger.
DRAIN_ROWS_PER_S = 10_000
DRAIN_ROWS_PER_FILE = 5_000
DRAIN_STATIONS = 50_000
DRAIN_FILES_PER_TRIGGER = 3
DRAIN_EPOCH_MS = 1_717_200_000_000  # 2024-06-01 00:00 UTC
# batch inputs: the sizes of the repository's sf0.1 test tables
BATCH_EVENTS = 100_000
BATCH_DOCS = 5_000

# query -> the table it reads
RELATIONAL = {
    "weather_window_agg": "events",
    "ksql_windowed_table": "events",
    "union_streams_agg": "events",
}
CURATION = {
    "dedup_minhash_lsh": "documents",
    "text_quality_scores": "documents",
}
BATCH_QUERIES = {**RELATIONAL, **CURATION}
TABLES = ("events", "documents")
KSQL_STATEMENT = """
CREATE TABLE weather_agg AS
SELECT metric, stationId,
       TIMESTAMPTOSTRING(WINDOWSTART, 'yyyy-MM-dd HH:mm:ss') AS window_start,
       LATEST_BY_OFFSET(value) AS latest_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       COUNT(*) AS message_count
FROM weather_stream
WINDOW TUMBLING (SIZE 1 MINUTES)
GROUP BY metric, stationId
EMIT CHANGES;
"""


@dataclass
class Result:
    e2e: dict[str, float]
    attempted: int
    failed: int
    wrong: int  # operations whose output did not match the reference
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    digests: dict = field(default_factory=dict)  # batch: query -> row digest


@dataclass
class Phase:
    spark: object
    seed: int
    seconds: int
    work: str
    tracer: Tracer
    sampler: TreeSampler
    # batch: row digests of an earlier, oracle-checked phase on the same
    # inputs; when set, outputs are checked against them instead of DuckDB
    expected: dict | None = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


# ----------------------------------------------------------------- streams


def build_stream(spark, in_dir: str, max_files: int | None):
    """file stream per topic -> decode -> flatten -> union -> 1-minute
    tumbling window x (metric, stationId) -> sink columns."""
    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.operators.windowed_agg import (
        finalize_for_sink,
        tumbling_window_agg,
    )
    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        flatten_payload,
    )

    parts = []
    for topic in TOPICS:
        reader = spark.readStream.schema("value binary")
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        raw = reader.parquet(os.path.join(in_dir, topic))
        rec = flatten_payload(decode_avro_value(raw, WEATHER_AVSC))
        parts.append(rec.withColumn("ts", F.to_timestamp("timeObserved")))
    unioned = parts[0].unionByName(parts[1])
    agged = tumbling_window_agg(
        unioned,
        ts_col="ts",
        window_duration="1 minute",
        keys=("metric", "stationId"),
        value_col="value",
        order_col="producer_ts",
    )
    return finalize_for_sink(agged)


class Sink:
    """foreachBatch body: materializes each update batch in this process and
    keeps it, so the latest row per (window, keys) can be checked after
    the stream drains."""

    def __init__(self) -> None:
        self.frames: list = []
        self.end: dict[int, float] = {}
        self.write_ms: list[float] = []
        self.retried = 0

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        pdf = batch_df.drop("processing_end_ts", "window_end").toPandas()
        pdf["batch_id"] = batch_id
        if batch_id in self.end:
            self.retried += 1
        self.frames.append(pdf)
        t1 = time.time()
        self.end[batch_id] = t1
        self.write_ms.append((t1 - t0) * 1000)

    def latest(self):
        import pandas as pd

        df = pd.concat(self.frames, ignore_index=True)
        df = df.sort_values("batch_id", kind="stable")
        return df.drop_duplicates(["window_start", "metric", "stationId"], keep="last")


def check_windows(sink: Sink, spec: StreamSpec) -> tuple[int, int]:
    """(mismatched groups, events in them): sink's latest row per key
    against the recomputation from the generated records."""
    got = sink.latest()
    want = expected_windows(spec)
    m = want.merge(
        got, on=["window_start", "metric", "stationId"], how="outer",
        suffixes=("", "_got"), indicator=True,
    )
    bad = m["_merge"] != "both"
    for col in ("avg_value", "min_value", "max_value", "message_count", "min_producer_ts"):
        bad |= m[col] != m[f"{col}_got"]
    events = m.loc[bad, "message_count"].fillna(m.loc[bad, "message_count_got"])
    return int(bad.sum()), int(events.sum())


def _spawn_loadgen(spec: StreamSpec, out: str, work: str) -> tuple[subprocess.Popen, str]:
    spec_path = os.path.join(work, "spec.json")
    report = os.path.join(work, "loadgen.json")
    with open(spec_path, "w") as f:
        f.write(spec.to_json())
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), spec_path, out, report],
        cwd=HERE,
    )
    return proc, report


def _wait(proc: subprocess.Popen, timeout: float) -> None:
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("load generator timed out")
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")


def _start(ph: Phase, df, name: str, sink: Sink):
    return (
        df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ph.fresh(f"{name}-ckpt"))
        .queryName(f"perfbench_{name}")
        .start()
    )


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress if p.numInputRows > 0]


def _trigger_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000


def _source_rows(p: dict) -> dict[str, int]:
    """numInputRows per topic of one progress record."""
    out = {}
    for s in p["sources"]:
        topic = next(t for t in TOPICS if t in s["description"])
        out[topic] = int(s["numInputRows"])
    return out


# order of the durationMs phases inside one micro-batch trigger
TRIGGER_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets")


def _stream_layers(ph: Phase, progress: list[dict], sink: Sink, parent: int) -> dict[str, float]:
    """Per-trigger phases as child spans of trigger spans (laid end to end
    in execution order: progress reports durations, not start times), and
    their medians as layer metrics."""
    phases = {
        "sources.latest_offset_ms": "latestOffset",
        "sources.get_batch_ms": "getBatch",
        "streaming.trigger_ms": "triggerExecution",
        "streaming.add_batch_ms": "addBatch",
        "streaming.query_planning_ms": "queryPlanning",
        "streaming.wal_commit_ms": "walCommit",
        "streaming.commit_offsets_ms": "commitOffsets",
    }
    for p in progress:
        end = _trigger_end(p)
        dur = p["durationMs"]
        t = end - dur.get("triggerExecution", 0) / 1000
        sid = ph.tracer.add("streaming.trigger", t, end, parent,
                            batch=p["batchId"], rows=p["numInputRows"])
        for phase in TRIGGER_PHASES:
            if phase in dur:
                ph.tracer.add(f"streaming.{phase}", t, t + dur[phase] / 1000, sid)
                t += dur[phase] / 1000
    out = {
        metric: median(p["durationMs"].get(key, 0) for p in progress)
        for metric, key in phases.items()
    }
    state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    last = state[-1] if state else {}
    out.update({
        "streaming.batches": len(progress),
        "streaming.rows_per_batch": median(p["numInputRows"] for p in progress),
        "streaming.state_rows_total": last.get("numRowsTotal", 0),
        "streaming.state_memory_bytes": last.get("memoryUsedBytes", 0),
        "streaming.state_commit_ms": median(s.get("commitTimeMs", 0) for s in state),
        "sink.write_ms": median(sink.write_ms),
        "sink.rows_emitted": sum(len(f) for f in sink.frames),
    })
    return out


def _latencies(progress, sink, due_of_file, rows_per_file) -> tuple[list, list]:
    """Per event (due time -> sink end of its batch), in ms, with the file
    index of each event. Each topic's files are consumed in landing
    order, so a batch's per-topic row count says which files it read."""
    lat, files = [], []
    done = {t: 0 for t in TOPICS}
    for p in sorted(progress, key=lambda p: p["batchId"]):
        end = sink.end.get(p["batchId"])
        for topic, rows in _source_rows(p).items():
            first = done[topic] // rows_per_file
            done[topic] += rows
            for i in range(first, done[topic] // rows_per_file):
                if end is not None:
                    lat.append((end * 1000 - due_of_file(i), rows_per_file))
                    files.append(i)
    return lat, files


def _weighted(pairs, q: float) -> float:
    vals = np.repeat([v for v, _ in pairs], [w for _, w in pairs])
    return percentile(vals.tolist(), q)


def warm_stream(ph: Phase) -> None:
    """Run the stream pipeline once over a small landed backlog
    (availableNow), so the measured phase starts with loaded classes and
    compiled code paths."""
    spec = StreamSpec("backlog", 0, int(time.time() * 1000), 2, 200, 50, 0.1,
                      60_000, 120_000, epoch_ms=DRAIN_EPOCH_MS, span_ms=120_000)
    out = ph.fresh("warm-in")
    proc, _ = _spawn_loadgen(spec, out, ph.fresh("warm-gen"))
    _wait(proc, 60)
    sink = Sink()
    df = build_stream(ph.spark, out, None)
    q = (
        df.writeStream.outputMode("update").foreachBatch(sink)
        .option("checkpointLocation", ph.fresh("warm-ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)


def stream_paced(ph: Phase) -> Result:
    rows_per_file = PACED_RATE * PACED_TICK_MS // 1000 // len(TOPICS)
    n_files = int((PACED_WARM_S + ph.seconds) * 1000 / PACED_TICK_MS)
    out = ph.fresh("paced-in")
    for t in TOPICS:
        os.makedirs(os.path.join(out, t))
    sink = Sink()
    q = _start(ph, build_stream(ph.spark, out, None), "paced", sink)
    t0_ms = int(time.time() * 1000) + 1500
    spec = StreamSpec("paced", ph.seed, t0_ms, n_files, rows_per_file,
                      PACED_STATIONS, 0.05, 5_000, 120_000, tick_ms=PACED_TICK_MS)
    gen, report = _spawn_loadgen(spec, out, ph.fresh("paced-gen"))
    ph.sampler.exclude = {gen.pid}
    with ph.tracer.span("stream_paced") as span:
        time.sleep(max(0.0, t0_ms / 1000 + PACED_WARM_S - time.time()))
        ph.sampler.start()
        m0 = time.time()
        _wait(gen, PACED_WARM_S + ph.seconds + 60)
        q.processAllAvailable()
        cpu, rss = ph.sampler.stop()
        progress = _progress(q)
        q.stop()
    with open(report) as f:
        late = json.load(f)["late_ms"]

    first = int(PACED_WARM_S * 1000 / PACED_TICK_MS)
    lat, files = _latencies(progress, sink, spec.due_ms, rows_per_file)
    measured = [x for x, i in zip(lat, files) if i >= first]
    processed_files = {i for i in files if i >= first}
    n_measured = (n_files - first) * rows_per_file * len(TOPICS)
    unprocessed = n_measured - sum(w for _, w in measured)
    slow = sum(w for v, w in measured if v > LATENCY_LIMIT_MS)
    bad_groups, bad_events = check_windows(sink, spec)
    wrong = bad_events + sink.retried
    trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in progress
            if p["batchId"] in sink.end and _trigger_end(p) >= m0]
    res = Result(
        e2e={
            "latency_p50_ms": _weighted(measured, 50),
            "latency_p95_ms": _weighted(measured, 95),
            "pass_s": sum(trig) / len(trig),
            "cpu_s": cpu,
            "rss_peak_mb": rss,
        },
        attempted=n_measured,
        failed=min(n_measured, unprocessed + slow + wrong),
        wrong=wrong,
        detail={"late_ms_max": max(late), "bad_groups": bad_groups,
                "files_measured": len(processed_files), "job_groups": [f"stream-{q.id}-"]},
    )
    if ph.traced:
        res.layers = _stream_layers(ph, progress, sink, span)
        lags, done = [], 0
        for p in sorted(progress, key=lambda p: p["batchId"]):
            done += p["numInputRows"]
            end = _trigger_end(p)
            due_files = min(n_files, int((end * 1000 - t0_ms) // PACED_TICK_MS) + 1)
            if end * 1000 < spec.due_ms(n_files - 1):
                lags.append(due_files * rows_per_file * len(TOPICS) - done)
        res.layers.update({
            "sources.input_lag_rows_max": max(lags, default=0),
            "sources.input_lag_rows_final": lags[-1] if lags else 0,
            "loadgen.late_ms": max(late),
        })
    return res


def stream_drain(ph: Phase) -> Result:
    rows = DRAIN_ROWS_PER_S * ph.seconds
    files = max(1, rows // DRAIN_ROWS_PER_FILE // len(TOPICS))
    spec = StreamSpec("backlog", ph.seed, int(time.time() * 1000), files,
                      DRAIN_ROWS_PER_FILE, DRAIN_STATIONS, 0.10, 60_000, 240_000,
                      epoch_ms=DRAIN_EPOCH_MS, span_ms=5 * 60_000)
    out = ph.fresh("drain-in")
    gen, report = _spawn_loadgen(spec, out, ph.fresh("drain-gen"))
    _wait(gen, 120)
    with open(report) as f:
        late = json.load(f)["late_ms"]
    sink = Sink()
    df = build_stream(ph.spark, out, DRAIN_FILES_PER_TRIGGER)
    with ph.tracer.span("stream_drain") as span:
        ph.sampler.exclude = set()
        ph.sampler.start()
        t0 = time.time()
        q = _start(ph, df, "drain", sink)
        q.processAllAvailable()
        t1 = time.time()
        cpu, rss = ph.sampler.stop()
        progress = _progress(q)
        q.stop()
    total = spec.total_rows()
    done = sum(p["numInputRows"] for p in progress)
    bad_groups, bad_events = check_windows(sink, spec)
    wrong = bad_events + sink.retried
    res = Result(
        e2e={
            "rows_per_s": total / (t1 - t0),
            "cpu_s": cpu,
            "rss_peak_mb": rss,
        },
        attempted=total,
        failed=min(total, abs(total - done) + wrong),
        wrong=wrong,
        detail={"late_ms_max": max(late), "bad_groups": bad_groups,
                "batches": len(progress), "job_groups": [f"stream-{q.id}-"]},
    )
    if ph.traced:
        res.layers = _stream_layers(ph, progress, sink, span)
    return res


# ------------------------------------------------------------------- batch


def warm_batch(ph: Phase, names) -> None:
    """Run every query of the pass once on small tables."""
    import __spark_entry__ as entry

    d = ph.fresh("batch-warm")
    tables.write_tables(d, 0, 2_000, 60)
    qs = entry.queries()
    # one client thread per query: the first run of each is mostly
    # one-off class loading and code generation, which overlap
    with ThreadPoolExecutor(len(names)) as pool:
        for f in [pool.submit(lambda n=n: qs[n](ph.spark, d).collect()) for n in names]:
            f.result()


def batch(ph: Phase, names: dict[str, str]) -> Result:
    import __spark_entry__ as entry

    d = ph.fresh("batch-in")
    tables.write_tables(d, ph.seed, BATCH_EVENTS, BATCH_DOCS)
    qs = entry.queries()
    sc = ph.spark.sparkContext
    rng = np.random.default_rng([ph.seed, 31])
    passes = []
    build, plan, exe, build_jobs = {}, {}, {}, {}
    errors, last_rows = 0, {}
    ph.sampler.exclude = set()
    ph.sampler.start()
    with ph.tracer.span("batch"):
        # a fixed number of passes, so every run and commit does the same
        # work; --seconds sets it (3 at 12 s)
        for _ in range(max(2, ph.seconds // 4)):
            p0 = time.time()
            with ph.tracer.span("pass", n=len(passes)):
                for n in rng.permutation(list(names)).tolist():
                    t0 = time.time()
                    try:
                        group = f"{n}:{len(passes)}"
                        if ph.traced:
                            sc.setJobGroup(f"{group}:build", n)
                        with ph.tracer.span(f"plans.build.{n}"):
                            df = qs[n](ph.spark, d)
                        t1 = time.time()
                        if ph.traced:
                            build_jobs.setdefault(n, []).append(
                                len(sc.statusTracker().getJobIdsForGroup(f"{group}:build")))
                            sc.setJobGroup(f"{group}:exec", n)
                            with ph.tracer.span(f"plans.plan.{n}"):
                                df._jdf.queryExecution().executedPlan()
                        t2 = time.time()
                        with ph.tracer.span(f"plans.exec.{n}"):
                            rows = df.collect()
                        t3 = time.time()
                    except Exception as exc:  # a failed query is a counted failure
                        print(f"query {n} failed: {exc}", file=sys.stderr)
                        errors += 1
                        continue
                    last_rows[n] = (df.columns, rows)
                    build.setdefault(n, []).append(t1 - t0)
                    plan.setdefault(n, []).append(t2 - t1)
                    exe.setdefault(n, []).append(t3 - t2)
            passes.append(time.time() - p0)
    cpu, rss = ph.sampler.stop()
    if ph.traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
    c0 = time.time()
    digests = {n: digest(cols, rows) for n, (cols, rows) in last_rows.items()}
    if ph.expected is None:
        wrong = check_oracle(d, digests)
    else:
        wrong = sum(digests.get(n) != want for n, want in ph.expected.items())
    check_s = time.time() - c0
    attempted = len(passes) * len(names)
    # one latency per query: the median over the passes of its build, plan
    # and action time. The queries' costs differ several-fold, so a median
    # over them would be one query's time: p50 is their geometric mean (the
    # typical query), p95 their 95th percentile, interpolated (mostly the
    # slowest query)
    query_s = {n: median(build[n]) + median(plan[n]) + median(exe[n]) for n in build}
    lat = np.array(list(query_s.values())) * 1000
    exec_s = sum(median(exe[n]) for n in exe)
    res = Result(
        e2e={
            # 0 when every run of every query failed
            "latency_p50_ms": float(np.exp(np.log(lat).mean())) if len(lat) else 0.0,
            "latency_p95_ms": float(np.percentile(lat, 95)) if len(lat) else 0.0,
            "rows_per_s": sum(table_rows(d, names[n]) for n in exe) / exec_s if exec_s else 0.0,
            "pass_s": median(passes),
            "cpu_s": cpu / len(passes),
            "rss_peak_mb": rss,
        },
        attempted=attempted,
        failed=min(attempted, errors + wrong * len(passes)),
        wrong=wrong,
        detail={"passes": len(passes), "errors": errors, "check_s": check_s,
                "job_groups": [f"{n}:" for n in names], "query_s": query_s},
        digests=digests,
    )
    if ph.traced:
        for n in names:
            res.layers[f"plans.build_s.{n}"] = median(build.get(n, []))
            res.layers[f"plans.plan_s.{n}"] = median(plan.get(n, []))
            res.layers[f"plans.exec_s.{n}"] = median(exe.get(n, []))
            if n in CURATION:
                res.layers[f"llm.build_jobs.{n}"] = median(build_jobs.get(n, []))
    return res


def table_rows(d: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.read_metadata(os.path.join(d, f"{table}.parquet")).num_rows


def digest(cols, rows) -> tuple:
    """Row count, sorted column names and the order-insensitive value hash
    of `tools.check_correctness.canon_rows`."""
    from tools.check_correctness import canon_rows

    return len(rows), tuple(sorted(cols)), canon_rows(list(cols), rows)[0]


def check_oracle(d: str, digests: dict) -> int:
    """Number of queries whose rows differ from their DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(d, t)}.parquet'"
            )
        oracles = entry.oracle_sql()
        wrong = 0
        for n, got in digests.items():
            res = con.execute(oracles[n])
            if digest([c[0] for c in res.description], res.fetchall()) != got:
                print(f"query {n}: result differs from its oracle", file=sys.stderr)
                wrong += 1
        return wrong
    finally:
        con.close()


# ------------------------------------------------------------- layer probes


def probes(ph: Phase, names) -> dict[str, float]:
    """Isolated calls into single layers, traced runs only: `decode`, the
    Avro decode + flatten of a fixed sample of 30,000 drain records;
    `window_agg`, the window aggregate on the same records pre-decoded;
    `translate`, ksql translation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkksqldbbenchmark_spark.operators.windowed_agg import tumbling_window_agg
    from sparkksqldbbenchmark_spark.sources.kafka import decode_avro_value, flatten_payload
    from sparkksqldbbenchmark_spark.sql.ksql import translate_ksql

    spec = StreamSpec("backlog", ph.seed, 0, 3, DRAIN_ROWS_PER_FILE, DRAIN_STATIONS,
                      0.10, 60_000, 240_000, epoch_ms=DRAIN_EPOCH_MS, span_ms=5 * 60_000)
    raw_dir, rows_dir = ph.fresh("probe-raw"), ph.fresh("probe-rows")
    batches = [spec.batch(i, t) for i in range(spec.files) for t in range(len(TOPICS))]
    values = [v for b in batches for v in b.framed_values()]
    pq.write_table(pa.table({"value": pa.array(values, pa.binary())}),
                   os.path.join(raw_dir, "part.parquet"))
    pq.write_table(pa.table({
        "metric": [b.metric for b in batches for _ in range(len(b))],
        "stationId": np.concatenate([b.station for b in batches]),
        "value": np.concatenate([b.cents / 100 for b in batches]),
        "producer_ts": np.concatenate([b.producer_ts for b in batches]),
        "ts": pa.array(np.concatenate([b.event_ms for b in batches]) * 1000, pa.timestamp("us", tz="UTC")),
    }), os.path.join(rows_dir, "part.parquet"))
    spark = ph.spark

    def timed(build) -> float:
        times = []
        for _ in range(3):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        return median(times)

    out = {}
    if "decode" in names:
        with ph.tracer.span("probe.decode"):
            dec = timed(lambda: flatten_payload(
                decode_avro_value(spark.read.parquet(raw_dir), WEATHER_AVSC)))
        out["sources.decode_rows_per_s"] = len(values) / dec
    if "window_agg" in names:
        with ph.tracer.span("probe.window_agg"):
            out["operators.window_agg_s"] = timed(lambda: tumbling_window_agg(
                spark.read.parquet(rows_dir), keys=("metric", "stationId"), order_col="producer_ts"))
    if "translate" in names:
        t = []
        for _ in range(200):
            t0 = time.perf_counter()
            translate_ksql(KSQL_STATEMENT, ts_col="ts", offset_col="offset")
            t.append((time.perf_counter() - t0) * 1000)
        out["sql.translate_ms"] = median(t)
    return out


def stream(ph: Phase) -> Result:
    """The paced phase, then the backlog drain, in one warmed session.
    Latency and the per-trigger time come from the paced phase, the
    drain rate from the drain; CPU and memory cover both."""
    paced, drain = stream_paced(ph), stream_drain(ph)
    res = Result(
        e2e={
            **paced.e2e,
            "rows_per_s": drain.e2e["rows_per_s"],
            "cpu_s": paced.e2e["cpu_s"] + drain.e2e["cpu_s"],
            "rss_peak_mb": max(paced.e2e["rss_peak_mb"], drain.e2e["rss_peak_mb"]),
        },
        attempted=paced.attempted + drain.attempted,
        failed=paced.failed + drain.failed,
        wrong=paced.wrong + drain.wrong,
        layers=paced.layers,
        detail={"paced": paced.detail, "drain": drain.detail,
                "cpu_s": [paced.e2e["cpu_s"], drain.e2e["cpu_s"]],
                "rss_mb": [paced.e2e["rss_peak_mb"], drain.e2e["rss_peak_mb"]],
                "job_groups": paced.detail["job_groups"] + drain.detail["job_groups"],
                "late_ms_max": paced.detail["late_ms_max"]},
    )
    for key in ("streaming.batches", "streaming.rows_per_batch", "streaming.state_rows_total",
                "streaming.state_memory_bytes", "streaming.state_commit_ms"):
        if key in drain.layers:
            res.layers[key] = drain.layers[key]
    return res


# name -> (warm-up, measurement, layer probes of its traced run)
WORKLOADS = {
    "stream": (warm_stream, stream, ("decode", "window_agg")),
    "batch": (lambda ph: warm_batch(ph, BATCH_QUERIES), lambda ph: batch(ph, BATCH_QUERIES),
              ("window_agg", "translate")),
}
