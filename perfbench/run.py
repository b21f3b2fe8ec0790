#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout; everything it writes stays under
``.bench_work/`` there. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``). The lines before it are the environment record and the
workload's own named metrics. Exit code 0 when every correctness check
passed, 1 on a mismatch, 2 when the engine is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")
HEAP = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: sf0.001 tables and small lake cycles (smoke tests)")
    p.add_argument("--corrupt", action="store_true",
                   help="tamper with one expected result (negative test)")
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout; size the session to this machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed-size heap, so the JVM's resident set follows what the
    # workload touches rather than the collector's resizing choices
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.system.home={tmp}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.chdir(ROOT)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's max RSS."""
    jvm_kb = 0
    try:
        pid = spark._jvm.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except Exception:
        pass
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def env_record(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
    }


def stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    spec = json.load(open(SPEC))
    try:
        import bench
        from perfbench import workloads as W
        from perfbench.trace import Tracer
    except ImportError as e:  # the engine is not in this directory
        print(f"cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2

    ctx = W.Ctx(args.seed, work, tiny=args.size == "tiny", corrupt=args.corrupt)
    from jde_to_datalake_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.perf_counter() - t0
    try:
        env = env_record(spark, args.seed)
        env["probe_before"] = bench._host_probe(spark)
        wl = W.WORKLOADS[args.workload](ctx, spark)
        setup_s = session_s + wl.setup()
        tracer = None
        if args.trace:
            # untraced, traced, untraced, a third of the time each: the
            # overhead is the traced round against the mean of the
            # rounds on either side
            third = args.seconds / 3
            tracer = Tracer(spark, enabled=True)
            windows = [wl.window(Tracer(), third), wl.window(tracer, third)]
            tracer.close()  # unhooks py4j and every wrapped method
            windows.append(wl.window(Tracer(), third))
        else:
            windows = [wl.window(Tracer(), args.seconds)]
        t_gate = time.perf_counter()
        mismatches = wl.gate()
        env["gate_s"] = time.perf_counter() - t_gate
        env["probe_after"] = bench._host_probe(spark)
        rss = peak_rss_mb(spark)
    finally:
        stop(spark)

    final = windows[1] if args.trace else windows[0]
    attempted = sum(len(w.latencies_ms) for w in windows) + wl.gated_ops()
    failed = len(mismatches)
    lat = final.latencies_ms
    named = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB"),
             "failed_frac": (failed / max(attempted, 1), "fraction"),
             "timed_ops": (len(lat), "count"),
             **final.named}
    print("env " + json.dumps(env))
    print("named " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in named.items()}))
    print("ops " + json.dumps({k: {"median_ms": statistics.median(v), "n": len(v)}
                               for k, v in final.ops.items() if v}))
    for m in mismatches:
        print(f"MISMATCH {m}")

    if args.trace:
        layers = {"session.start_s": session_s, **final.layers,
                  **W.span_layers(tracer, final)}
        base = (windows[0].round_s + windows[2].round_s) / 2
        layers["trace.overhead_ms"] = (final.round_s - base) * 1e3
        layers["trace.wall_s"] = final.wall_s
        out_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-{args.seed}.json"),
                    {"env": env, "layers": layers,
                     "named": {k: v for k, (v, _u) in named.items()}})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "round_s": final.round_s,
            "op_geomean_ms": statistics.geometric_mean(lat),
            "peak_rss_mb": rss,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
