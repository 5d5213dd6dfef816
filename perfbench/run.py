#!/usr/bin/env python3
"""Same-host benchmark of the feature_extraction_spark library.

Usage, from the repository root:

    python3 perfbench/run.py --workload pit_backfill --seed 1 --seconds 15 --trace 0

One process drives ``local[nproc]`` as a closed loop with one client: each
operation starts when the previous one has finished. The run builds its
inputs from ``--seed`` and sets up: session start, the input build
repeated ``SETUP_REPS`` times, one-off set-up such as an index build, and
warm-up operations. It then measures for ``--seconds`` and checks the
outputs outside the timed window. It prints a report line with every
sample and host facts, then, as the last line, the result object.

With ``--trace 1`` it then restarts the SparkContext in the same JVM
with the event log on and repeats the operation with spans around the
calls into each layer. It then reports the per-layer metrics instead of
the end-to-end ones. The metric names are those of ``BENCHMARK.json``.

Everything the run writes stays under ``.perfbench/`` in the working
directory: scratch tables (removed at the end), and each run's report
and spans in ``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
TRACE_REPS = 2
MIN_OPS = 3


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def load_spec() -> dict:
    """BENCHMARK.json, after checking that layers.json maps every per-layer
    metric (by its full name or by its layer) to the metrics it moves."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        mapped = json.load(f)["map"]
    unmapped = [m["name"] for m in spec["per_layer"]
                if m["name"] not in mapped and m["name"].rsplit(".", 1)[0] not in mapped]
    if unmapped:
        raise ValueError(f"per-layer metrics missing from layers.json: {unmapped}")
    return spec


def spark_conf(work: str, event_log: str | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        # uncompressed: the default zstd codec needs a Python package the
        # reader would not have
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    return conf


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def host_facts(spark, cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": cores,
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        "load_avg": os.getloadavg(),
    }


def measure(wl, spark, seconds: float):
    """Closed loop for ``seconds`` (at least ``MIN_OPS`` operations):
    (latencies_s, rows, window_s, failed)."""
    lat, rows, failed = [], 0, 0
    t0 = time.monotonic()
    while (time.monotonic() - t0 < seconds or len(lat) + failed < MIN_OPS) and (
        not wl.exhausted()
    ):
        a = time.monotonic()
        try:
            rows += wl.op(spark)
            lat.append(time.monotonic() - a)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            failed += 1
            if failed > 3:
                break
    return lat, rows, time.monotonic() - t0, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        spec = load_spec()
        from perfbench.workloads import WORKLOADS
    except (ImportError, OSError, ValueError) as e:
        print(f"perfbench: cannot load the library or BENCHMARK.json: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", run_id)
    out_dir = os.path.join(base, "out")
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    # keep every temporary file in the checkout: Python's, and those of the
    # JVMs spark-submit starts (the launcher too), without perf-data files
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        return run(args, spec, run_id, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec, run_id, work, out_dir) -> int:
    from feature_extraction_spark.session import get_spark
    from perfbench.tracing import EventLog, Tracer
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    spark = get_spark(f"perfbench-{run_id}", cores=cores, extra_conf=spark_conf(work))
    session_s = time.monotonic() - t0
    try:
        wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
        build_s = []
        for _ in range(SETUP_REPS):
            a = time.monotonic()
            wl.build(spark)
            build_s.append(time.monotonic() - a)
        a = time.monotonic()
        wl.prepare(spark)
        prepare_s = time.monotonic() - a
        a = time.monotonic()
        wl.load(spark)
        load_s = time.monotonic() - a
        a = time.monotonic()
        wl.warmup(spark)
        warmup_s = time.monotonic() - a
        setup_s = session_s + median(build_s) + prepare_s + load_s + warmup_s

        lat, rows, window_s, failed = measure(wl, spark, args.seconds)
        a = time.monotonic()
        try:
            problems = wl.check(spark)
        except Exception as e:  # a check that crashes is a failed check
            traceback.print_exc()
            problems = [f"check raised {e!r}"]
        check_s = time.monotonic() - a
        facts = host_facts(spark, cores)
        rss_mb = jvm_peak_rss_mb(spark) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)

        op_ms = [x * 1000 for x in lat]
        e2e = {
            "rows_per_s": rows / window_s if window_s else 0.0,
            "op_ms_p50": median(op_ms),
            "setup_s": setup_s,
            "peak_rss_mb": rss_mb,
        }
        attempted = len(lat) + failed + 1  # the operations and the check
        failed += 1 if problems else 0
        report = {
            "run_id": run_id,
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": facts,
            "closed_loop_clients": 1,
            "rows_per_op": wl.rows,
            "input_bytes": wl.input_bytes,
            "samples": {
                "op_ms": [round(x, 3) for x in op_ms],
                "op_ms_p90": quantile(op_ms, 0.9),
                "setup_build_s": [round(x, 3) for x in build_s],
                "setup_session_s": round(session_s, 3),
                "setup_prepare_s": round(prepare_s, 3),
                "setup_load_s": round(load_s, 3),
                "setup_warmup_s": round(warmup_s, 3),
            },
            "n_ops": len(lat),
            "window_s": round(window_s, 3),
            "check_s": round(check_s, 3),
            "failed_frac": failed / attempted,
            "problems": problems,
            **wl.report(),
            "end_to_end": e2e,
        }
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

        if args.trace:
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            spark = get_spark(f"perfbench-{run_id}-traced", cores=cores,
                              extra_conf=spark_conf(work, event_log=log_dir))
            wl.load(spark)
            wl.op(spark)  # the new context's first jobs, untraced
            tracer = Tracer(spark, run_id)
            lt = wl.trace(spark, tracer, TRACE_REPS)
            stop_jvm(spark)
            spark = None
            tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
            layers = lt.metrics(EventLog(log_dir).counters())
            values = dict(lt.extra)
            for layer, row in layers.items():
                for field, v in row.items():
                    values[f"{layer}.{field}"] = v
            values["trace_overhead_frac"] = (
                values["pass.full_s"] * 1000 / e2e["op_ms_p50"] - 1.0
                if e2e["op_ms_p50"] else 0.0)
            values["setup.session_s"] = session_s
            values["setup.build_s"] = median(build_s)
            values["setup.prepare_s"] = prepare_s
            values["setup.warmup_s"] = warmup_s
            unknown = sorted(set(values) - {m["name"] for m in spec["per_layer"]})
            if unknown:
                raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
            metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
            report["per_layer"] = {k: v["value"] for k, v in metrics.items()}
    finally:
        if spark is not None:
            stop_jvm(spark)

    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
