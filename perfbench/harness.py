"""What every workload shares: the run context, the Spark set-up that
``setup_s`` times, and the forced action that times a query."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from tracing import Tracer, median

# The benchmark's host has 4 cores: one Spark process on at most 4
# local cores; the stream's file generator gets one thread.
CORES = min(4, os.cpu_count() or 1)


@dataclass
class Ctx:
    work: str  # this run's scratch directory (inside the checkout)
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def note(self, name: str, value: float, unit: str, extra: str = "") -> None:
        """A line of the human-readable report printed above the result."""
        self.report.append(f"{name:34s} {value:14.6f} {unit:7s} {extra}".rstrip())


def setup(ctx: Ctx, reps: int, tables: list[tuple[str, str]], start=None, stop=None):
    """Start Spark and resolve the workload's tables ``reps`` times
    (stopping the session in between); only the first launches the
    JVM, so the median is a warm set-up. ``start(spark)`` is
    set-up work the workload adds (starting its streaming queries),
    timed with the rest; ``stop(started)`` undoes it before the next
    set-up stops the session. Returns the median seconds and what the
    last ``start`` returned, which the measurement goes on to use."""
    from mito_spark.engine import get_spark, load_table

    tr = ctx.tracer
    times = []
    started = None
    for _ in range(reps):
        if ctx.spark is not None:
            if stop is not None:
                stop(started)
            ctx.spark.stop()
        t0 = time.perf_counter()
        with tr.span("engine.get_spark"):
            spark = get_spark("perfbench", shuffle_partitions=CORES)
        with tr.span("engine.load_table"):
            for sf_dir, name in tables:
                load_table(spark, sf_dir, name)
        took = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        if start is not None:
            t0 = time.perf_counter()
            started = start(spark)
            took += time.perf_counter() - t0
        times.append(took)
    for name in ("engine.get_spark", "engine.load_table"):
        ctx.layers[f"{name}_s"] = median(tr.durations(name))
    ctx.note("setup_s", median(times), "s", "median of: " + " ".join(f"{t:.3f}" for t in times))
    return median(times), started


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM
    to exit: it exits when the pipe to its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def force(ctx: Ctx, df):
    """Materialise ``df``: cache it and run a noop write over it, so
    the result can be read back for the (untimed) check without
    running the query again. Caching plans the query (the cache holds
    its executed plan), so that step is the ``spark.plan`` span and the
    write is ``spark.exec``; traced and untraced runs do the same work."""
    tr = ctx.tracer
    with tr.span("spark.plan"):
        df = df.persist()
    with tr.span("spark.exec"):
        df.write.format("noop").mode("overwrite").save()
    return df
