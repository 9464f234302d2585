"""event_stream (open loop): a generator thread writes seeded event
files into a watched directory at a fixed offered rate, each event
stamped with the time its file was due. Two Structured Streaming
queries read that directory:

- ``transform``: a spec compiled once with
  ``plans.pipeline_spec.compile_pipeline`` (select / with / filter /
  collate over ``props``), applied per micro-batch in a foreachBatch
  that writes through ``sources.sinks.write_partitioned``;
- ``cursor``: ``streaming.stateful.per_key_cursor``, the Python
  state store, whose updated cursors the foreachBatch collects.

An event's latency is the time its batch's sink callback finished
minus its creation stamp. State-store work, per-trigger overhead and
sink writes dominate; operator kernels do little.
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Ctx, setup
from tracing import median, tail

FILES_PER_S = 4.0  # offered rate: 4 files/s x 500 events = 2000 events/s
EVENTS_PER_FILE = 500
N_USERS = 100
DRAIN_TIMEOUT_S = 60.0
# A set-up here takes about 3 s warm (against 1 s for corpus_batch's),
# so fewer of them fit the time a run may take.
SETUP_REPS = 3
# A fixed micro-batch interval, longer than a batch takes. Run back to
# back, the two queries' batches contend for the cores and latency
# follows every change in host load; on a 2-second clock a batch took
# 0.7-2.3 s on a busy host, so batches overran the clock and queued.
TRIGGER_S = 3.0
TRIGGER = f"{TRIGGER_S:g} seconds"
# Spark fires a processing-time trigger at whole multiples of its
# interval since the epoch. The generator starts this far past such an
# instant, so every run offers its files at the same phase of the
# trigger clock (mid-way between two files' due times, never at a
# trigger), and the wait for the next trigger does not vary by run.
PHASE_S = 0.5 / FILES_PER_S
QUERY_NAMES = ("transform", "cursor")
SPEC = {
    "ops": [
        {
            "op": "select",
            "exprs": {
                "event_id": "event_id",
                "user_id": "user_id",
                "ts": "ts",
                "event_type": "event_type",
                "value": "value",
                "created_us": "created_us",
                "doc": "from_json(props, 'k INT, tags ARRAY<STRUCT<src: STRING, lvl: INT>>')",
            },
        },
        {"op": "with", "exprs": {"k": "doc.k", "value_band": "CAST(floor(value / 25) AS INT)"}},
        {"op": "filter", "expr": "event_type != 'error' AND doc.k < 80"},
        {"op": "collate", "column": "doc", "path": "tags.src", "as": "srcs"},
        {"op": "drop", "columns": ["doc"]},
    ]
}
SPARK_SCHEMA = (
    "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, value DOUBLE, "
    "event_type STRING, props STRING, created_us BIGINT"
)


def write_file(seed: int, k: int, due: float, staging: str, incoming: str) -> None:
    """Write stream file k, each event stamped with ``due`` (epoch s)."""
    cols = gen.event_file_rows(seed, k, EVENTS_PER_FILE, N_USERS)
    cols["created_us"] = np.full(EVENTS_PER_FILE, int(due * 1e6), dtype=np.int64)
    name = file_name(k)
    tmp = os.path.join(staging, name)
    pq.write_table(pa.table(cols, schema=gen.EVENT_SCHEMA), tmp)
    os.rename(tmp, os.path.join(incoming, name))  # atomic: never half-read


def file_name(k: int) -> str:
    return f"ev-{k:05d}.parquet"


class Generator(threading.Thread):
    """Writes file k at ``t0 + (k - 1) / FILES_PER_S`` (k = 1..n), stamped
    with that due time, whether or not the queries keep up. ``t0`` is
    ``PHASE_S`` after the next trigger instant."""

    def __init__(self, seed: int, staging: str, incoming: str, n_files: int):
        super().__init__(name="event-generator", daemon=True)
        self.seed, self.staging, self.incoming, self.n_files = seed, staging, incoming, n_files
        self.due: dict[int, float] = {}  # file -> due (epoch s)
        self.late: list[float] = []  # seconds each file landed after its due time
        self.t0 = 0.0

    def run(self) -> None:
        self.t0 = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + PHASE_S
        for k in range(1, self.n_files + 1):
            due = self.t0 + (k - 1) / FILES_PER_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            write_file(self.seed, k, due, self.staging, self.incoming)
            self.due[k] = due
            self.late.append(time.time() - due)


def batch_of_file(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's own log in
    the query checkpoint (plain and compacted entries)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def progress_metrics(progress: list, name: str) -> dict[str, float]:
    busy = [p for p in progress if p.numInputRows > 0]

    def dur(key: str) -> float:
        return median([float(p.durationMs.get(key, 0)) for p in busy])

    ops = [p.stateOperators[0] for p in busy if p.stateOperators]
    return {
        f"streaming.{name}.trigger_ms": dur("triggerExecution"),
        f"streaming.{name}.add_batch_ms": dur("addBatch"),
        f"streaming.{name}.query_planning_ms": dur("queryPlanning"),
        f"streaming.{name}.wal_commit_ms": dur("walCommit"),
        f"streaming.{name}.state_rows": float(ops[-1].numRowsTotal) if ops else 0.0,
        f"streaming.{name}.state_bytes": float(ops[-1].memoryUsedBytes) if ops else 0.0,
        f"streaming.{name}.state_commit_ms": median([float(o.commitTimeMs) for o in ops]),
        f"streaming.{name}.input_rows_per_s": median([float(p.inputRowsPerSecond) for p in busy]),
    }


def expected_transform(seed: int, files: list[int]) -> set[tuple]:
    """(event_id, k, srcs) of every event the spec keeps, computed in
    plain Python from the generator's own rows."""
    keep = set()
    for k in files:
        cols = gen.event_file_rows(seed, k, EVENTS_PER_FILE, N_USERS)
        for eid, kind, props in zip(cols["event_id"], cols["event_type"], cols["props"]):
            doc = json.loads(props)
            if kind != "error" and doc["k"] < 80:
                keep.add((int(eid), doc["k"], tuple(t["src"] for t in doc["tags"])))
    return keep


class Streams:
    """Both queries over one watched directory, and what their sink
    callbacks saw: the time each batch was emitted, and the cursors."""

    def __init__(self, ctx: Ctx, spark, spec, base: str):
        self.ctx, self.spark, self.spec, self.base = ctx, spark, spec, base
        self.incoming, self.staging, self.sink = (
            os.path.join(base, d) for d in ("incoming", "staging", "sink")
        )
        for d in (self.incoming, self.staging):
            os.makedirs(d)
        self.emitted: dict[str, dict[int, float]] = {q: {} for q in QUERY_NAMES}
        self.cursors: dict[int, tuple] = {}
        self.queries: dict = {}

    def transform_batch(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from mito_spark.sources.sinks import write_partitioned

        tr = self.ctx.tracer
        with tr.span("plans.apply"):
            out = self.spec(df).withColumn("batch_id", F.lit(batch_id))
        with tr.span("sources.write_partitioned"):
            write_partitioned(out, self.sink, "event_type", mode="append")
        self.emitted["transform"][batch_id] = time.time()

    def cursor_batch(self, df, batch_id: int) -> None:
        for r in df.collect():
            self.cursors[r["user_id"]] = (r["n_events"], r["first_ts"], r["last_ts"], r["total_value"])
        self.emitted["cursor"][batch_id] = time.time()

    def start(self) -> "Streams":
        """Write the warm-up file, start both queries, and wait until
        both have emitted it: the stream's set-up, which starts the
        queries' Python workers and state store."""
        from mito_spark.streaming.stateful import per_key_cursor

        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        write_file(self.ctx.seed, 0, time.time(), self.staging, self.incoming)

        def source():
            return self.spark.readStream.schema(SPARK_SCHEMA).parquet(self.incoming)

        with self.ctx.tracer.span("streaming.per_key_cursor"):
            cursor_df = per_key_cursor(source())
        self.queries["transform"] = (
            source().writeStream.foreachBatch(self.transform_batch)
            .trigger(processingTime=TRIGGER)
            .option("checkpointLocation", os.path.join(self.base, "ckpt-transform")).start()
        )
        self.queries["cursor"] = (
            cursor_df.writeStream.outputMode("update").foreachBatch(self.cursor_batch)
            .trigger(processingTime=TRIGGER)
            .option("checkpointLocation", os.path.join(self.base, "ckpt-cursor")).start()
        )
        if not self.wait_for([file_name(0)], DRAIN_TIMEOUT_S, poll=0.01):
            raise RuntimeError(f"the warm-up file was not emitted within {DRAIN_TIMEOUT_S:.0f} s")
        return self

    def emit_times(self, name: str) -> dict[str, float]:
        """File -> time the query's sink callback finished its batch."""
        batches = batch_of_file(os.path.join(self.base, f"ckpt-{name}"))
        done = self.emitted[name]
        return {f: done[b] for f, b in batches.items() if b in done}

    def wait_for(self, files: list[str], timeout: float, poll: float = 0.1) -> bool:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(set(files) <= self.emit_times(q).keys() for q in QUERY_NAMES):
                return True
            time.sleep(poll)
        return False

    def stop(self) -> dict[str, list]:
        """Stop both queries; return each one's progress reports."""
        progress = {n: list(q.recentProgress) for n, q in self.queries.items()}
        for q in self.queries.values():
            q.stop()
        return progress


def prepare(ctx: Ctx) -> dict:
    from mito_spark.plans.pipeline_spec import compile_pipeline

    reps = itertools.count()

    def start(spark) -> Streams:
        with ctx.tracer.span("plans.compile_pipeline"):
            spec = compile_pipeline(SPEC)
        return Streams(ctx, spark, spec, os.path.join(ctx.work, f"stream-{next(reps)}")).start()

    ctx.e2e["setup_s"], streams = setup(ctx, SETUP_REPS, [], start, Streams.stop)
    return {"streams": streams}


def measure(ctx: Ctx, state: dict) -> float:
    """One open-loop run on the queries the last set-up started:
    ``ctx.seconds`` of offered load, drain, then the untimed checks.
    Returns the wall time from the generator's start until every
    offered event was emitted by both queries."""
    from pyspark.sql import functions as F

    tr, spark, streams = ctx.tracer, ctx.spark, state["streams"]
    since = time.perf_counter()
    n_files = max(int(ctx.seconds * FILES_PER_S), 1)
    generator = Generator(ctx.seed, streams.staging, streams.incoming, n_files)
    total = (n_files + 1) * EVENTS_PER_FILE
    names = [file_name(k) for k in range(n_files + 1)]
    try:
        generator.start()
        generator.join()
        t_stop = time.time()
        drained = streams.wait_for(names, DRAIN_TIMEOUT_S)
        t_end = time.time()
    finally:
        progress = streams.stop()
    if not drained:
        errors = [str(q.exception()) for q in streams.queries.values() if q.exception()]
        ctx.report.append(f"WRONG stream did not drain within {DRAIN_TIMEOUT_S:.0f} s {errors}")

    # latency of each measured file's events: its batch's emit time minus
    # their stamp (a file never emitted counts as emitted when the wait
    # gave up). The events of one file share one latency, so a file is
    # one sample.
    emits = {q: streams.emit_times(q) for q in QUERY_NAMES}
    lat: dict[str, list[float]] = {n: [] for n in QUERY_NAMES + ("visible",)}
    backlog = 0
    last_visible = generator.t0
    for k, due in generator.due.items():
        emit = {q: emits[q].get(names[k], t_end) for q in QUERY_NAMES}
        visible = max(emit.values())
        for q in QUERY_NAMES:
            lat[q].append(emit[q] - due)
        lat["visible"].append(visible - due)
        backlog += EVENTS_PER_FILE if visible > t_stop else 0
        last_visible = max(last_visible, visible)
    wall = last_visible - generator.t0

    # checks, untimed
    with tr.suspended():
        ctx.attempted += total
        want = expected_transform(ctx.seed, [0, *sorted(generator.due)])
        got_rows = []
        if os.path.isdir(streams.sink):
            got_rows = spark.read.parquet(streams.sink).select("event_id", "k", "srcs").collect()
        got = [(r["event_id"], r["k"], tuple(r["srcs"])) for r in got_rows]
        bad_transform = len(set(got) ^ want) + (len(got) - len(set(got)))
        truth = (
            spark.read.schema(SPARK_SCHEMA).parquet(streams.incoming)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.min("ts").alias("first"),
                 F.max("ts").alias("last"), F.sum("value").alias("total"))
            .collect()
        )
        bad_cursor = 0
        for r in truth:
            c = streams.cursors.get(r["user_id"])
            if c is None or c[:3] != (r["n"], r["first"], r["last"]) or not math.isclose(
                c[3], r["total"], rel_tol=1e-9
            ):
                bad_cursor += r["n"]
        bad_cursor += len(set(streams.cursors) - {r["user_id"] for r in truth})
        ctx.failed += min(total, bad_transform + bad_cursor)
        if bad_transform or bad_cursor:
            ctx.report.append(f"WRONG sink rows off by {bad_transform}, cursor events off by {bad_cursor}")
        sink_files = len(glob.glob(os.path.join(streams.sink, "**", "*.parquet"), recursive=True))

    n = len(lat["visible"])
    p50, (tl, label) = median(lat["visible"]), tail(lat["visible"])
    ctx.e2e["pass_wall_s"] = wall
    ctx.e2e["latency_p50_s"] = p50
    ctx.e2e["latency_tail_s"] = tl
    ctx.note("offered_events_per_s", FILES_PER_S * EVENTS_PER_FILE, "1/s", f"{n_files} files")
    for q in QUERY_NAMES:
        q50, (qt, ql) = median(lat[q]), tail(lat[q])
        ctx.note(f"{q}_latency_p50_s", q50, "s", f"n={n} files")
        ctx.note(f"{q}_latency_{ql}_s", qt, "s", f"n={n} files")
        ctx.layers[f"{q}_latency_p50_s"] = q50
        ctx.layers[f"{q}_latency_tail_s"] = qt
    ctx.note("visible_latency_p50_s", p50, "s", f"n={n} files, emitted by both queries")
    ctx.note(f"visible_latency_{label}_s", tl, "s", f"n={n} files")
    ctx.note("stream_backlog_events", backlog, "count", "at generator stop")
    ctx.note("generator_late_ms", 1e3 * max(generator.late), "ms", "max")
    ctx.layers["stream_backlog_events"] = backlog
    ctx.layers["stream.generator_late_ms"] = 1e3 * max(generator.late)
    ctx.layers["plans.apply_s"] = median(tr.durations("plans.apply", since))
    ctx.layers["sources.sink_write_s"] = median(tr.durations("sources.write_partitioned", since))
    ctx.layers["sources.sink_files"] = sink_files
    for name in QUERY_NAMES:
        ctx.layers.update(progress_metrics(progress[name], name))
    return wall
