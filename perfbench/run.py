"""chomper_spark benchmark: one workload, one seed, one JSON result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload cow_bulk_upsert --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a separate
run that records spans and Spark's event log and prints the per-layer
metrics instead.  The last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {name: {"value": v, "unit": u}}}

Load model: one process, Spark ``local[4]``, one client waiting on each
call (closed loop).  Inputs are generated in-process from ``--seed``.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is removed before exit; a traced run also leaves its spans in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "events_per_s": "1/s",
    "batch_p50_s": "s",
    "lookup_p50_ms": "ms",
    "scan_s": "s",
    "written_mb": "MB",
}


def start_session(work: str, trace: bool):
    from chomper_spark.session import get_spark

    conf = {
        # a deployment setting: the host is shared, and the tables here
        # are small; everything else is the engine's session default
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file, so the standard library can read it
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark("perfbench", master="local[4]", shuffle_partitions=4, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the JVM ends when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(w, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "wall_s": w.wall_s,
        "events_per_s": w.events / w.write_s,
        "batch_p50_s": statistics.median(w.batch_s),
        "lookup_p50_ms": statistics.median(w.lookup_ms),
        "scan_s": statistics.median(w.scan_s),
        "written_mb": w.written_bytes / 1e6,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "chomper_spark", "operators", "merge.py")):
        print("perfbench: run from the root of a chomper_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    import layers
    import spans as tr
    from oracle import Checks
    from workloads import WORKLOADS, jvm_peak_rss_mb

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # the Spark JVM and its Python workers inherit these
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM (the launcher too): temp files in the run dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        tracer = tr.Tracer(spark.sparkContext, args.workload, bool(args.trace))
        checks = Checks()
        w = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer, checks)
        t = time.perf_counter()
        w.prepare()
        setup_s = session_s + (time.perf_counter() - t)
        gc0 = tr.jvm_gc_seconds(spark)
        with tracer.span("timed") as timed:
            w.run()
        rss_mb = jvm_peak_rss_mb(spark)
        gc_s = tr.jvm_gc_seconds(spark) - gc0
        t = time.perf_counter()
        w.check()
        w.close()
        print(f"perfbench: session {session_s:.1f}s, inputs {w.feed_gen_s:.1f}s, "
              f"set-up {setup_s:.1f}s, timed {w.wall_s:.1f}s, checks "
              f"{time.perf_counter() - t:.1f}s", file=sys.stderr)
        if timed is not None:
            for s in tracer.spans:  # stream triggers are added after the run
                if s["name"] == "trigger":
                    s["parent"] = timed["id"]
        stop_session(spark)
        spark = None

        if args.trace:
            jobs, stages = tr.parse_event_log(os.path.join(work, "eventlog"))
            attr = tr.Attribution(tracer.spans, jobs, stages)
            extras = dict(w.extras, **{"feed.gen_s": w.feed_gen_s, "spark.jvm_gc_s": gc_s,
                                       "spark.jvm_peak_rss_mb": rss_mb,
                                       "trace.untimed_s": w.untimed_s})
            per_layer = layers.compute(attr, timed["id"], extras)
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            out = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(out, "w") as fh:
                json.dump({"spans": tracer.spans, "jobs": len(jobs),
                           "unattributed_jobs": attr.unattributed,
                           "self_s": {s["id"]: attr.self_s(s["id"]) for s in tracer.spans},
                           "per_layer": {k: {"value": v, "base": b} for k, (v, b) in per_layer.items()}},
                          fh, indent=1, default=str)
            print(f"# spans and per-layer figures: {os.path.relpath(out, root)}")
            for name, (value, base) in per_layer.items():
                unit, base_of = layers.METRICS[name]
                print(f"# {name:36s} {value:14.4f} {unit:6s} base={base} {base_of}")
            metrics = {k: {"value": v, "unit": layers.METRICS[k][0]} for k, (v, _) in per_layer.items()}
        else:
            samples = {"events": w.events, "batch_s": w.batch_s, "lookup_ms": w.lookup_ms,
                       "scan_s": w.scan_s}
            print(f"# samples: {json.dumps(samples)}")
            values = end_to_end(w, setup_s)
            for name, v in values.items():
                print(f"# {name:20s} {v:14.4f} {END_TO_END[name]}")
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        print(json.dumps({"correct": checks.failed == 0, "attempted": checks.attempted,
                          "failed": checks.failed, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
