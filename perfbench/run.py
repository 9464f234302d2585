"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from ``--seed`` under ``.bench_work/`` in the
checkout, sets up Spark, measures for ``--seconds`` (at least one
whole unit of work), checks the program's outputs, and prints a
human-readable report followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones. With ``--trace 1`` the same run
is traced: it prints the per-layer metrics (every name in PER_LAYER;
0 where the workload does not reach that layer) and writes the spans
to ``.bench_work/traces/``. The tracing overhead is the traced run's
``trace.pass_wall_s`` minus the untraced runs' ``pass_wall_s``.

Exits non-zero without printing a result when the program under test
is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import stream  # noqa: E402
from harness import CORES, Ctx, stop_spark  # noqa: E402
from tracing import Tracer, install_action_hooks  # noqa: E402

WORKLOADS = {"corpus_batch": corpus, "event_stream": stream}
END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}
LAYERS = ("engine", "plans", "functions", "sources", "streaming", "operators", "spark")


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("error_rate"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = ["engine.get_spark_s", "engine.load_table_s"]
    for q in corpus.QUERIES:
        names += [f"{corpus.layer_of(q)}.{q}_s", f"{corpus.layer_of(q)}.{q}_rows"]
    names += ["batch_wall_s", "query_latency_p50_s", "query_latency_tail_s"]
    names += ["checks.one_ulp_matches", "checks.error_rate"]
    names += ["spark.plan_s", "spark.exec_s"]
    for q in stream.QUERY_NAMES:
        names += [f"{q}_latency_p50_s", f"{q}_latency_tail_s"]
    names += ["stream_backlog_events", "stream.generator_late_ms"]
    names += ["plans.apply_s", "sources.sink_write_s", "sources.sink_files"]
    for q in stream.QUERY_NAMES:
        names += [
            f"streaming.{q}.{m}"
            for m in (
                "trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms",
                "state_rows", "state_bytes", "state_commit_ms", "input_rows_per_s",
            )
        ]
    names += [f"self.{layer}_s" for layer in LAYERS]
    names += ["trace.pass_wall_s"]
    return names


PER_LAYER = {name: _unit(name) for name in per_layer_names()}


def configure_env(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers (started by the JVM, from whatever shell launched
    this) import the program from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, root)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([root] + ([pythonpath] if pythonpath else []))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{CORES}]"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}".strip()
    os.chdir(work)  # spark-warehouse / metastore_db, if anything makes them


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "mito_spark"))
    ):
        print(f"perfbench: no mito_spark program under {root}", file=sys.stderr)
        return 2
    bench = os.path.join(root, ".bench_work")
    work = os.path.join(bench, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(root, work)

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(work=work, seed=args.seed, seconds=args.seconds, tracer=tracer)
    mod = WORKLOADS[args.workload]
    try:
        state = mod.prepare(ctx)
        if args.trace:
            remove_hooks = install_action_hooks(tracer)
            try:
                ctx.layers["trace.pass_wall_s"] = mod.measure(ctx, state)
            finally:
                remove_hooks()
            ctx.layers["spark.plan_s"] = sum(tracer.durations("spark.plan"))
            ctx.layers["spark.exec_s"] = sum(tracer.durations("spark.exec"))
            for layer, secs in tracer.self_times().items():
                ctx.layers[f"self.{layer}_s"] = secs
            traces = os.path.join(bench, "traces")
            os.makedirs(traces, exist_ok=True)
            tracer.write(os.path.join(traces, f"{args.workload}-s{args.seed}-{tracer.run_id}.jsonl"))
        else:
            mod.measure(ctx, state)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)

    missing = [n for n in END_TO_END if n not in ctx.e2e]
    if missing:
        print("\n".join(ctx.report), file=sys.stderr)
        print(f"perfbench: {args.workload} measured nothing for {missing}", file=sys.stderr)
        return 1
    error_rate = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    ctx.layers["checks.error_rate"] = error_rate
    ctx.note("error_rate", error_rate, "ratio", f"{ctx.failed} of {ctx.attempted} ops")
    print(f"== {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} cores={CORES}")
    for line in ctx.report:
        print(line)
    if args.trace:
        metrics = {n: {"value": float(ctx.layers.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(ctx.e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
