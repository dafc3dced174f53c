#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one process, ``local[n]``.

    python3 perfbench/run.py --workload crawl|graph|stream --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Prints a table of every metric, then as the
last stdout line one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import procstat  # noqa: E402  (stdlib only; the program is imported later)

# host steal before set-up (the interpreter's own start-up steal is negligible)
_STEAL_AT_START = procstat.host_cpu_s()[1]

SLOTS = min(4, len(os.sched_getaffinity(0)))
# checks that fail because of known faults in the program (README "Known
# faults"); every other failing check makes the run incorrect
KNOWN_FAULTS = {"communities_layout_invariant", "edges_have_batch_schema"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("crawl", "graph", "stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, trace: bool):
    """The program's own session factory, on local[SLOTS], with every
    scratch file inside the work directory."""
    from graphrag_mrkr_2_spark.session import get_spark

    import layers

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the program's own heap knob (default 8g); 2g bounds the tree's memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(layers.event_log_conf(log_dir))
    spark = get_spark(
        app_name="perfbench", master=f"local[{SLOTS}]", shuffle_partitions=SLOTS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the session is up once a Python worker has run a task
    spark.range(SLOTS, numPartitions=SLOTS).mapInPandas(lambda it: it, "id long").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then its JVM (which exits when its stdin closes), and
    wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    spark = start_session(work, args.trace == 1)
    age = procstat.process_age_s()
    setup = procstat.Meter((time.perf_counter() - age, 0.0, _STEAL_AT_START)).stop()
    # the benchmark's own modules load after set-up, so they do not count in it
    import layers
    from workloads import WORKLOADS

    tracer = layers.Tracer(spark)
    wl = WORKLOADS[args.workload](spark, work, args.seed, tracer)
    try:
        t0 = time.perf_counter()
        wl.stage()
        t1 = time.perf_counter()
        wl.warm_up()
        t2 = time.perf_counter()
        rounds, checks = measure(wl, tracer, args)
        checks.update(stage_s=t1 - t0, warmup_s=t2 - t1)
        extra = {}
        if args.trace:
            from kernels import kernel_timings

            extra = kernel_timings(_leiden_sample())
    finally:
        stop_session(spark)
    attempted = sum(r["commits"] + len(r["checks"]) for r in rounds)
    failed = sum(1 for r in rounds for name, msg in r["checks"] if msg and name in KNOWN_FAULTS)
    wrong = [(n, m) for r in rounds for n, m in r["checks"] if m and n not in KNOWN_FAULTS]
    plain = [r for r in rounds if not r["traced"]]
    job_s = statistics.median(r["job_s"] for r in plain)
    if args.trace:
        traced = [r for r in rounds if r["traced"]]
        metrics = layers.layer_metrics(
            tracer, os.path.join(work, "eventlog"), SLOTS, [r["pass"] for r in traced]
        )
        metrics.update(extra)
        metrics["trace.overhead_s"] = statistics.median(r["job_s"] for r in traced) - job_s
        metrics["host.busy_core_s"] = checks["host_busy"]
        metrics["host.steal_core_s"] = checks["host_steal"]
        trace_file = os.path.join(ROOT, ".bench_traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        tracer.dump(trace_file)
        units = {k: _unit(k) for k in metrics}
    else:
        increments = [statistics.median(r["increments"]) for r in plain if r["increments"]]
        metrics = {
            "setup_s": setup.unstolen(),
            "job_s": job_s,
            "docs_per_s": wl.docs / job_s,
            "increment_s": statistics.median(increments) if increments else job_s,
            "cpu_s": statistics.median(r["cpu_s"] for r in plain),
            "peak_rss_mb": checks["peak_rss"] / 2**20,
        }
        units = {"setup_s": "s", "job_s": "s", "docs_per_s": "1/s", "increment_s": "s",
                 "cpu_s": "s", "peak_rss_mb": "MB"}
    report(args, rounds, metrics, units, checks, wl.info)
    return {
        "correct": not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def measure(wl, tracer, args):
    """Closed loop: one pass, its checks, the next pass... until another
    round would overrun ``--seconds``. With tracing, passes alternate
    traced / untraced; the untraced ones are the overhead's baseline."""
    rounds = []
    busy0, steal0 = procstat.host_cpu_s()
    start = time.perf_counter()
    while True:
        k = len(rounds)
        traced = bool(args.trace) and k % 2 == 0
        tracer.enabled, tracer.pass_no = traced, k
        t0 = time.perf_counter()
        meter = procstat.Meter()
        out = wl.run_pass(k)
        meter.stop()
        tracer.enabled = False
        checks = wl.check(out)
        wl.drop(out["root"])
        rounds.append({
            "pass": k, "traced": traced, "job_s": meter.unstolen(), "cpu_s": meter.cpu,
            "wall_s": meter.wall, "steal_s": meter.steal,
            "increments": out["increments"], "commits": out["commits"],
            "checks": checks, "round_s": time.perf_counter() - t0,
        })
        elapsed = time.perf_counter() - start
        typical = statistics.median(r["round_s"] for r in rounds)
        enough = len(rounds) >= (2 if args.trace else 1)
        if enough and elapsed + typical > args.seconds:
            break
    busy1, steal1 = procstat.host_cpu_s()
    return rounds, {"host_busy": busy1 - busy0, "host_steal": steal1 - steal0,
                    "window_s": time.perf_counter() - start,
                    "peak_rss": procstat.tree_peak_rss_bytes()}


def _leiden_sample():
    from workloads import layout_edges

    return list(layout_edges().itertuples(index=False, name=None))


def _unit(name: str) -> str:
    q = name.rsplit(".", 1)[-1]
    if q.endswith("_us"):
        return "us"
    if q.endswith("_s"):
        return "s"
    if q.endswith("_mb"):
        return "MB"
    if q in ("jobs_per_commit", "extract_passes"):
        return "ratio"
    return "count"


def report(args, rounds, metrics, units, checks, info) -> None:
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} slots={SLOTS} "
          f"passes={len(rounds)} stage_s={checks['stage_s']:.2f} "
          f"warmup_s={checks['warmup_s']:.2f} window_s={checks['window_s']:.2f}")
    print(f"host busy_core_s={checks['host_busy']:.2f} steal_core_s={checks['host_steal']:.2f}")
    for r in rounds:
        print(f"  pass {r['pass']} traced={int(r['traced'])} job_s={r['job_s']:.3f} "
              f"wall_s={r['wall_s']:.3f} steal_core_s={r['steal_s']:.2f} cpu_s={r['cpu_s']:.2f} "
              f"increments={[round(x, 2) for x in r['increments']]}")
    ops: dict[str, list[int]] = {}
    for r in rounds:
        ops.setdefault("commit", [0, 0])[0] += r["commits"]
        for name, msg in r["checks"]:
            tally = ops.setdefault(name, [0, 0])
            tally[0] += 1
            tally[1] += bool(msg)
    for name, (n, bad) in ops.items():
        tag = " (known fault)" if name in KNOWN_FAULTS else ""
        print(f"  op {name}: attempted={n} failed={bad}{tag}")
    shown = set()
    for r in rounds:
        for name, msg in r["checks"]:
            if msg and name not in shown:
                shown.add(name)
                print(f"  {'KNOWN' if name in KNOWN_FAULTS else 'WRONG'} {name}: {msg}")
    for name, value in info.items():
        print(f"  {name} = {value}")
    for k in sorted(metrics):
        print(f"  {k} = {metrics[k]:.6g} {units[k]}")


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        import graphrag_mrkr_2_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    os.makedirs(work)
    try:
        result = run(args, work)
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
