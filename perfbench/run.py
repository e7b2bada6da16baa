#!/usr/bin/env python3
"""Benchmark runner for the engine: one seeded workload per run.

    python3 perfbench/run.py --workload etl_ingest --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Set-up runs from process start to the
end of the workload's untimed warm-up steps: interpreter, imports, the
seed's inputs generated, the Spark session and its JVM started, inputs
landed and the warm-up steps run, the first of them cold; setup_s is
that time. The run then
drives the workload closed-loop with one client for --seconds and
checks every output. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list (span times, job-group-tagged Spark event-log counters,
tracing overhead). The lines before it give the same figures and the
workload-specific ones by name and unit. The exit code is non-zero
when any output is wrong or any engine call fails.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAMES = ("etl_ingest", "llm_curation")
# Layers whose Spark jobs the benchmark tags; the event-log counters
# are rolled up for each.
TAGGED_LAYERS = ("pipeline", "io", "ops.text", "ops.dedup", "ops.similarity", "ndb", "streaming")


def proc_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def describe(e: Exception) -> str:
    lines = str(e).strip().splitlines()
    return f"{type(e).__name__}: {lines[0] if lines else ''}"


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others: a
    run with a high share ran on a slowed host."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def set_environment(tmp: str, trace: bool) -> None:
    """Run hygiene, all through the environment the engine reads."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tmp = os.path.join(ROOT, ".perfbench", "tmp", str(os.getpid()))
    load_before = loadavg()
    try:
        set_environment(tmp, bool(args.trace))
        return run(args, spec, tmp, load_before)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(args, spec: dict, tmp: str, load_before: list[float]) -> int:
    # engine imports come after set_environment: the session module
    # reads SPARK_GRAFT_CPUS when imported
    sys.path.insert(0, ROOT)
    from dbitool_spark.session import get_session

    import spans as tr
    import workloads

    ticks_before = cpu_ticks()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = tr.Tracer(run_id, active=bool(args.trace))
    w = workloads.WORKLOADS[args.workload](tracer, args.seed)
    attempted = failed = 0
    errors: list[str] = []

    def do_step():
        """One step. An engine exception counts as a failed operation
        and ends the run: returns None."""
        nonlocal attempted, failed
        attempted += 1
        try:
            rows, job, engine, errs = w.step()
        except Exception as e:
            failed += 1
            errors.append(f"step {attempted}: {describe(e)}")
            print(f"{errors[-1]} (the run stops)", file=sys.stderr, flush=True)
            return None
        print(f"step {attempted}: {job:.3f} s, {len(errs)} errors", file=sys.stderr, flush=True)
        if errs:
            failed += 1
            errors.extend(errs[:5])
        return rows, job, engine

    spark = None
    jobs: list[float] = []
    traced_jobs: list[float] = []
    persisted: list[int] = []
    total_rows = 0
    engine_s = 0.0
    try:
        t0 = time.perf_counter()
        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        w.prepare(spark, os.path.join(tmp, "run"))
        t_warm = time.perf_counter()
        broken = any(do_step() is None for _ in range(w.warmup_steps))
        warmup_s = time.perf_counter() - t_warm
        setup_s = proc_age_s()
        print(f"set-up: {setup_s:.3f} s (session {session_s:.3f} s, warm-up {warmup_s:.3f} s)", file=sys.stderr, flush=True)

        # timed part; a traced run interleaves untraced and traced steps
        # in blocks of four (u t t u), so a drift over the run biases
        # neither side of the tracing overhead
        if args.trace:
            tracer.sc = spark.sparkContext
        n = 0
        t_start = time.perf_counter()
        while not broken:
            tracer.enabled = bool(args.trace) and n % 4 in (1, 2)
            res = do_step()
            traced, tracer.enabled = tracer.enabled, False
            if res is None:
                broken = True
                break
            rows, job, engine = res
            (traced_jobs if traced else jobs).append(job)
            if traced:
                gc.collect()
                persisted.append(w.persisted_rdds())
            total_rows += rows
            engine_s += engine
            n += 1
            if time.perf_counter() - t_start >= args.seconds and (n % 4 == 0 or not args.trace):
                break

        if not broken:  # a failed step leaves incomplete outputs behind
            attempted += 1
            try:
                final_errs = w.finish()
            except Exception as e:
                final_errs = [f"final checks: {describe(e)}"]
            if final_errs:
                failed += 1
                errors.extend(final_errs)
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            stop_spark(spark)
    load_after = loadavg()
    steal, total = (after - before for after, before in zip(cpu_ticks(), ticks_before))
    steal_share = steal / total if total else 0.0

    job_p50 = tr.median_or_zero(jobs)
    report = {
        "setup_s": (setup_s, "s"),
        # rows over the time spent in engine calls: the benchmark's own
        # generation and checks between them are not engine throughput
        "rows_per_s": (total_rows / engine_s if engine_s else 0.0, "rows/s"),
        "job_p50_s": (job_p50, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "error_rate": (failed / attempted, "fraction"),
        "warmup_s": (warmup_s, "s"),
    }
    tail = tr.tail(jobs)
    report.update(w.report())

    if args.trace:
        layer = w.layer_metrics()
        layer["session.start_s"] = session_s
        layer["session.warmup_s"] = warmup_s
        layer["session.peak_rss_mb"] = peak_rss
        layer["ops.cache.persisted_rdds_after"] = max(persisted, default=0)
        steps = max(1, w.traced_steps)
        path = os.path.join(tmp, "eventlog", app_id)

        def layer_of_group(g):
            if g in TAGGED_LAYERS:
                return g
            return "streaming" if g in getattr(w, "stream_run_ids", ()) else None

        counters = tr.read_event_log(path, layer_of_group)
        # a pipeline's jobs all start in its io modules, which tag them
        # io; a workload that runs no pipeline reports 0
        if layer.get("pipeline.run_s"):
            layer["pipeline.spark_jobs"] = sum(counters.get(g, {}).get("jobs", 0) for g in ("pipeline", "io")) / steps
        for lay in TAGGED_LAYERS:
            c = counters.get(lay, {})
            for name in tr.COUNTERS:
                layer[f"{lay}.{name}"] = c.get(name, 0.0) / steps
        own = tr.self_times(tracer.spans)
        for lay in TAGGED_LAYERS:
            layer[f"{lay}.self_s"] = own.get(lay, 0.0) / steps
        layer["trace.overhead_s"] = tr.median_or_zero(traced_jobs) - job_p50
        tracer.dump(
            os.path.join(ROOT, ".perfbench", "traces", run_id + ".json"),
            {
                "layer_metrics": layer,
                "event_log_counters": counters,
                "load_before": load_before,
                "load_after": load_after,
                "cpu_steal_share": steal_share,
            },
        )
        wanted = spec["per_layer"]
        unknown = set(layer) - {m["name"] for m in wanted}
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        # a layer this workload does not call reports 0
        values = {m["name"]: layer.get(m["name"], 0.0) for m in wanted}
    else:
        wanted = spec["end_to_end"]
        values = {m["name"]: report[m["name"]][0] for m in wanted}

    for name, (value, unit) in report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    if tail is None:
        print(f"{args.workload} job_tail_s = n/a ({len(jobs)} samples; a tail needs >= 20)")
    else:
        print(f"{args.workload} job_tail_s = {tail[1]:.6g} s (p{tail[0]:g}, {tail[2]} of {len(jobs)} samples beyond)")
    print(f"{args.workload} loadavg before {load_before} after {load_after}, cpu steal {steal_share:.1%} of the run")
    for e in errors[:20]:
        print(f"{args.workload} ERROR {e}")
    correct = failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
