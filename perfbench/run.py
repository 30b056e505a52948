"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One run:

1. starts a Spark session (``local[k]``, k = min(4, cores); shuffle
   partitions = k; the file-split settings of ``bench.py``) with every
   scratch directory inside ``.bench_runs/<run>/`` of the checkout;
2. sets up the workload: inputs generated from ``--seed``, the base
   state, warm-up operations. All of that is ``setup_s``;
3. runs operations back to back (closed loop, one client) until
   ``--seconds`` have passed and the last round-robin pass is complete,
   so every run holds the same mix of operations;
4. checks the outputs (see ``workloads.py``); a mismatch counts every
   operation of the run as failed;
5. prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json. ``--trace
1`` wraps the layers' public functions in spans, attributes Spark jobs to
operations by job id, reports the per-layer metrics, and writes the spans
to ``.bench_runs/traces/<workload>-seed<n>.json``.

The run directory is removed at the end; the Spark JVM is stopped and
waited for.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import PKG, WORKLOADS  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)


def session_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        # bench.py's split settings: the star tables are single small files
        "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
        "spark.sql.files.openCostInBytes": "262144",
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(run_dir: str):
    from lab6_real_time_event_driven_data_pipeline_for_an_e_commerce_shop_spark.session import (
        build_session,
    )

    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")
    spark = build_session(app_name="perfbench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS, extra_conf=session_conf(run_dir))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    kb = 0
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            kb = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def by_kind(lat: list[float], kinds: list[str]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for x, kind in zip(lat, kinds):
        out.setdefault(kind, []).append(x)
    return out


def stationary(lat: list[float], kinds: list[str], bound: float) -> bool:
    """First and last fifth of the timed operations agree within bound.
    Each latency is first divided by the median of its kind (the query
    name in a round robin), so a fifth holding slower queries is not
    read as drift."""
    groups = by_kind(lat, kinds)
    norm = [x / statistics.median(groups[kind]) for x, kind in zip(lat, kinds)]
    k = max(1, len(norm) // 5)
    first, last = statistics.median(norm[:k]), statistics.median(norm[-k:])
    return abs(last - first) <= bound * first


def latency(lat: list[float], kinds: list[str]) -> float:
    """The median latency of each kind of operation, geometric mean over
    the kinds. One kind (a medallion cycle): the median. A round robin of
    queries: each query counts once, and one query's noise moves the
    figure by its 1/12 share instead of shifting which query the overall
    median lands on."""
    return statistics.geometric_mean(
        [statistics.median(v) for v in by_kind(lat, kinds).values()])


def tail(lat: list[float]) -> dict | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond
    it, or None when the run is too short for any."""
    for p in (99, 95, 90, 75):
        if len(lat) * (100 - p) >= 1000:
            return {"p": p, "s": statistics.quantiles(lat, n=100)[p - 1]}
    return None


def bounds() -> dict[str, float]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}


def run(args) -> dict:
    run_dir = os.path.join(ROOT, ".bench_runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_session(run_dir)
    try:
        wl = WORKLOADS[args.workload](spark, os.path.join(run_dir, "data"), args.seed)
        wl.setup()
        for k in range(wl.warmup_ops):
            wl.prepare(k)
            wl.op(k)
        setup_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            wl.trace(tracer)
        per_op: list[dict] = []
        lat: list[float] = []
        k = wl.warmup_ops
        start = time.perf_counter()
        while True:
            wl.prepare(k)
            if tracer is not None:
                tracer.op, before = k, (dict(tracer.counters), tracer.hook_s, time.process_time())
            with tracer.span("op") if tracer is not None else contextlib.nullcontext():
                a = time.perf_counter()
                wl.op(k)
                lat.append(time.perf_counter() - a)
            if tracer is not None:
                per_op.append(op_metrics(spark, tracer, k, before, lat[-1]))
            k += 1
            if (time.perf_counter() - start >= args.seconds
                    and (k - wl.warmup_ops) % wl.pass_ops == 0):
                break
        if tracer is not None:
            tracer.restore()

        problems = wl.check(k)
        kinds = [wl.kind(i) for i in range(wl.warmup_ops, k)]
        steady = stationary(lat, kinds, bounds()["latency_s"])
        n = len(lat)
        summary = {"workload": args.workload, "seed": args.seed, "ops": n,
                   "stationary": steady, "problems": problems, "latency_tail": tail(lat),
                   "latencies_s": [round(x, 4) for x in lat]}
        if tracer is not None:
            # medians over operations; memo events are sparse, so their mean
            values = {name: (statistics.fmean if name.startswith("cache.") else statistics.median)(
                          [m[name] for m in per_op])
                      for name in PER_LAYER if name in per_op[0]}
            values["proc.peak_rss_mb"] = jvm_peak_rss_mb(spark)
            values["trace.latency_s"] = latency(lat, kinds)
            values["pipeline.silver_partitions"] = wl.silver_partitions()
            metrics = {name: {"value": values[name], "unit": unit}
                       for name, unit in PER_LAYER.items()}
            trace_dir = os.path.join(ROOT, ".bench_runs", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
                        {"summary": summary, "per_op": per_op, "metrics": values})
        else:
            metrics = {
                "latency_s": {"value": latency(lat, kinds), "unit": "s"},
                "ops_per_s": {"value": n / sum(lat), "unit": "1/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
            }
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps(summary))
    if not steady:
        print(f"warning: first and last fifth of {n} operations differ by more "
              "than the latency bound", file=sys.stderr)
    return {"correct": not problems, "attempted": n, "failed": n if problems else 0,
            "metrics": metrics}


# per-layer metric -> unit; every traced run reports all of them
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.listing_jobs": "count", "spark.listing_tasks": "count",
    "spark.input_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "pipeline.ingest_s": "s", "pipeline.promote_s": "s", "pipeline.gold_s": "s",
    "pipeline.record_s": "s", "pipeline.silver_partitions": "count",
    "upsert.merge_s": "s", "upsert.merge_calls": "count",
    "upsert.check_unique_s": "s", "upsert.enumerate_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "cache.hits": "count", "cache.misses": "count", "cache.persisted_rdds": "count",
    "driver.py_cpu_s": "s", "proc.peak_rss_mb": "MB",
    "trace.coverage": "ratio", "trace.hook_s": "s", "trace.latency_s": "s",
}

# span name -> per-layer metric of its self time
SELF_TIME = {
    "pipeline.ingest": "pipeline.ingest_s", "pipeline.promote": "pipeline.promote_s",
    "pipeline.gold": "pipeline.gold_s", "pipeline.run_cycle": "pipeline.record_s",
    "upsert.merge": "upsert.merge_s", "upsert.check_unique": "upsert.check_unique_s",
    "upsert.enumerate": "upsert.enumerate_s",
    "queries.build": "queries.build_s", "queries.exec": "queries.exec_s",
}


def op_metrics(spark, tracer, k, before, latency) -> dict:
    counters0, hook0, cpu0 = before
    cpu_s = time.process_time() - cpu0  # before the status-store reads below
    op_span = next(s for s in reversed(tracer.spans) if s["op"] == k and s["name"] == "op")
    m = {f"spark.{name}": v for name, v in
         tracer.spark_counts(op_span["job_lo"], op_span["job_hi"]).items()}
    selfs = tracer.self_times(k)
    for span_name, metric in SELF_TIME.items():
        m[metric] = selfs.get(span_name, 0.0)
    for name in ("upsert.merge_calls", "cache.hits", "cache.misses"):
        m[name] = tracer.counters.get(name, 0) - counters0.get(name, 0)
    m["cache.persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
    m["driver.py_cpu_s"] = cpu_s
    # share of the operation inside named layer spans (not the op's own gap)
    m["trace.coverage"] = 1.0 - selfs.get("op", 0.0) / latency
    m["trace.hook_s"] = tracer.hook_s - hook0
    m["jobs_by_span"] = tracer.jobs_by_span(k)
    m["latency_s"] = latency
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 1
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
