"""One workload in one fresh process: generate the seeded inputs, start
Spark, run the workload, check its outputs, write a result file.

``run.py`` starts this with the environment Spark's workers need; run
that instead of this file.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, before the heavy imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("text_lifecycle", "ann_lifecycle")


def _stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway and its JVM, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--tmp", required=True)
    p.add_argument("--result", required=True)
    p.add_argument("--spans", default=None)
    p.add_argument("--scale", type=float, default=1.0)
    args = p.parse_args(argv)

    import importlib

    sys.path.insert(0, HERE)
    import gen
    from common import Ctx, now
    from spans import OFF, Tracer

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    t = now()
    inputs = os.path.join(args.tmp, "inputs")
    model = gen.write_inputs(args.workload, args.seed, inputs, scale=args.scale)
    gen_s = now() - t

    from hadoop_search_spark.session import get_spark

    t = now()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    get_spark_s = now() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext) if args.trace else OFF
        work = os.path.join(args.tmp, "work")
        os.makedirs(work, exist_ok=True)
        ctx = Ctx(spark, tracer, args.seconds, inputs, work, model)
        module = importlib.import_module(args.workload)
        module.run(ctx)
        setup_s = (ctx.first_op or now()) - T0 - gen_s
        if args.trace:
            tracer.resolve()
            module.per_layer(tracer, ctx)
            ctx.layers["session.get_spark_s"] = get_spark_s
            ctx.layers["spark.failed_tasks"] = float(
                sum(r.get("failed_tasks", 0) for r in tracer.spans)
            )
            ctx.layers["tracing.overhead_pct"] = ctx.overhead_pct
            if args.spans:
                tracer.write(args.spans)
            metrics = {
                m["name"]: float(ctx.layers.get(m["name"], 0.0))
                for m in bench["per_layer"]
            }
        else:
            ctx.metrics["setup_s"] = setup_s
            ctx.metrics["ok_ratio"] = (ctx.attempted - ctx.failed) / max(1, ctx.attempted)
            metrics = {
                m["name"]: float(ctx.metrics[m["name"]])
                for m in bench["end_to_end"] if m["name"] != "peak_rss_mb"
            }
        ctx.named["setup_s"] = (setup_s, "s")
        ctx.named["failed_ratio"] = (ctx.failed / max(1, ctx.attempted), "ratio")
        result = {
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "problems": ctx.problems,
            "metrics": metrics,
            "named": ctx.named,
        }
        with open(args.result, "w", encoding="utf-8") as f:
            json.dump(result, f)
    finally:
        _stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
