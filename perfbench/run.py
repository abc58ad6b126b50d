"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` a traced run records spans around
the calls into each layer, reads Spark's own counters, and reports the
per-layer metrics (spans and a per-layer table go to
``perfbench/results/``). The exit code is 1 when an output check fails
and 2 when the checkout holds no program to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_batch", "stream_loop", "curate_serve")


class Ctx:
    """What a workload gets and fills in."""

    def __init__(self, spark, seed: int, seconds: float, work: str, tr, rss, cpus: int):
        self.spark, self.seed, self.seconds, self.work = spark, seed, seconds, work
        self.tr, self.rss, self.cpus = tr, rss, cpus
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.peaks: list[float] = []
        self.walls: list[float] = []
        self.latencies_ms: list[float] = []
        self.rates: list[float] = []
        self.gen_s = 0.0
        self.layer: dict[str, float] = {}
        self.layer_counts: dict[str, float] = {}
        self.dropped: dict[str, str] = {}
        self.notes: dict[str, object] = {}

    def check_task_time(self, name: str, value_s: float, wall_s: float) -> float:
        from core import checked_task_time

        v = checked_task_time(name, value_s, self.cpus, wall_s, self.dropped)
        return 0.0 if v is None else v


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kinesis_producer_spark")):
        print(f"no kinesis_producer_spark package beside {HERE}: run from a source checkout",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(HERE, ".work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Keep every file the run writes inside the checkout. Size the session
    # from the host (as the repository's tests do) with Spark's default
    # 1 GB driver heap: memory stays small and heap growth stays bounded.
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # no /tmp/hsperfdata
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path[:0] = [ROOT, HERE]
    try:
        return measure(args, run_id, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass


def measure(args, run_id: str, work: str, cpus: int) -> int:
    """The untraced pass gives the end-to-end metrics. A traced run adds a
    traced pass of the same workload (its end-to-end values minus the
    untraced ones are the tracing overhead) and, where the workload has
    one, a single-threaded (``local[1]``) reference pass."""
    import core

    module = __import__(f"wl_{args.workload.split('_')[0]}")
    with core.RssSampler() as rss:
        spark, get_spark_s, warm_s = core.start_session(cpus)
        try:
            ctx = Ctx(spark, args.seed, args.seconds, os.path.join(work, "untraced"),
                      core.Tracer(False), rss, cpus)
            # The spark.* counters cover the untraced pass: the traced pass
            # adds the tracer's own work (noop prefixes, counting queries).
            # The marks are read outside the pass's timed intervals.
            marks = (core.stage_marks(spark), core.sql_execution_count(spark)) if args.trace else None
            t0 = time.perf_counter()
            module.run(ctx)
            if args.trace:
                core.spark_counters(ctx, *marks, time.perf_counter() - t0)
                # half the work keeps a traced run well inside its time limit
                tctx = Ctx(spark, args.seed, args.seconds / 2, os.path.join(work, "traced"),
                           core.Tracer(True, run_id, spark), rss, cpus)
                tctx.layer.update(ctx.layer)
                tctx.dropped.update(ctx.dropped)
                tctx.notes["untraced_wall_samples_s"] = [round(w, 3) for w in ctx.walls]
                module.run(tctx)
                if hasattr(module, "local1"):
                    # A context rebuild in the running JVM: the package's
                    # UDF objects are bound to the JVM that first ran them.
                    # The warm JVM favours the local[1] pass.
                    spark.stop()
                    spark = core.get_session(1)
                    core.first_udf_action(spark)
                    lctx = Ctx(spark, args.seed, args.seconds, os.path.join(work, "local1"),
                               core.Tracer(False), rss, 1)
                    tctx.layer.update(module.local1(lctx))
        finally:
            core.stop_session(spark)
    e2e = end_to_end(ctx, get_spark_s + warm_s)
    problems = ctx.problems + (tctx.problems if args.trace else [])
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    _v, lat_pct, lat_n = core.tail(ctx.latencies_ms)
    print(f"# {args.workload} seed={args.seed}: latency tail = p{lat_pct:.1f} of {lat_n} samples; "
          f"{len(ctx.walls)} wall samples; input generation {ctx.gen_s:.2f} s; "
          f"set-up {get_spark_s:.3f} + {warm_s:.3f} s; {ctx.notes}")
    if args.trace:
        traced = end_to_end(tctx, e2e["setup_s"][0])
        tctx.layer["bench.trace_overhead_frac"] = traced["wall_s"][0] / e2e["wall_s"][0] - 1.0
        metrics = layer_metrics(tctx, get_spark_s, warm_s)
        write_results(args, run_id, tctx, e2e, traced, metrics)
    else:
        metrics = e2e
    out = {
        "correct": not problems,
        "attempted": int(ctx.attempted + (tctx.attempted if args.trace else 0)),
        "failed": int(ctx.failed + (tctx.failed if args.trace else 0)),
        "metrics": {k: {"value": core.finite(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def end_to_end(ctx, setup_s: float) -> dict[str, tuple[float, str]]:
    import core

    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (core.median(ctx.walls), "s"),
        "latency_p50_ms": (core.median(ctx.latencies_ms), "ms"),
        "latency_tail_ms": (core.tail(ctx.latencies_ms)[0], "ms"),
        "drain_rps": (core.median(ctx.rates), "1/s"),
        "peak_rss_mb": (core.median(ctx.peaks), "MB"),
    }


def declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def layer_metrics(ctx, get_spark_s: float, warm_s: float) -> dict[str, tuple[float, str]]:
    """Every declared per-layer metric. A layer the workload does not
    exercise did no work, so its metrics read 0."""
    values = dict(ctx.layer)
    values["session.get_spark_s"] = get_spark_s
    values["session.worker_warm_s"] = warm_s
    return {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in declared("per_layer")}


def write_results(args, run_id, ctx, e2e, traced, metrics) -> None:
    res = os.path.join(HERE, "results")
    os.makedirs(res, exist_ok=True)
    ctx.tr.dump(os.path.join(res, f"spans-{args.workload}-{args.seed}.json"))
    with open(os.path.join(res, f"layers-{args.workload}-{args.seed}.json"), "w") as fh:
        json.dump({"run_id": run_id,
                   "untraced_end_to_end": {k: v for k, (v, _u) in e2e.items()},
                   "traced_end_to_end": {k: v for k, (v, _u) in traced.items()},
                   "tracing_overhead": {k: traced[k][0] - v for k, (v, _u) in e2e.items()},
                   "self_time_s": {n: ctx.tr.self_time(n) for n in sorted({s.name for s in ctx.tr.spans})},
                   "per_layer": {k: v for k, (v, _u) in metrics.items()},
                   "dropped_counters": ctx.dropped, "notes": ctx.notes}, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
