"""One benchmark run of one workload.

Started by ``run.py`` as the leader of its own session, so the Spark
JVM, the PySpark daemon and its Python workers are in that session too.
Writes a JSON result file that ``run.py`` turns into metrics; everything
else goes to the log.

Phases:

1. setup: ``get_spark`` with the pinned settings ``--starts`` times,
   each time in a new JVM, then input synthesis ``SYNTH_REPS`` times;
   the medians count;
2. warm-up: ``WARMUP_PASSES`` untimed passes, which pay for class
   loading, code generation, JIT compilation and Python-worker start-up
   (the first pass takes 1.5-2x the steady time);
3. timed passes for ``--seconds`` (at least ``MIN_TIMED``), each from a
   clean cache, each checked after its clock stops. The first of them
   still runs 5-15% above the steady time; runs of the same code share
   that offset. Every pass, the warm-up included, must run the same
   Spark jobs (and, traced, the same per-span jobs and shuffle bytes)
   as the first.

With ``--trace 1`` the session also writes an uncompressed event log,
every layer call runs under its own job group, and after ``spark.stop()``
the log is folded into per-span counters.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from proc import SessionCpu, mem_total_kb
from tracing import SPAN_METRICS, SPANS, Tracer, counters_by_group, pass_jobs, read_event_log, span_rows

# ---- pinned run settings (recorded with every result)
CORES = min(2, len(os.sched_getaffinity(0)))
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = CORES
DRIVER_MEM = "1g"  # FFCL_DRIVER_MEM; the engine's 48g default exceeds small hosts
EXTRA_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # a fixed-size heap, and the C1 JIT only: C2 keeps compiling through
    # the timed passes and makes cpu_s and pass times drift (README.md)
    "spark.driver.extraJavaOptions": f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM}",
}

SYNTH_REPS = 3
WARMUP_PASSES = 1
MIN_TIMED = 1


def settings(starts: int) -> dict:
    return {
        "master": MASTER,
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "FFCL_DRIVER_MEM": DRIVER_MEM,
        **EXTRA_CONF,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "session_starts": starts,
        "synth_reps": SYNTH_REPS,
        "warmup_passes": WARMUP_PASSES,
        "min_timed_passes": MIN_TIMED,
    }


def stop_jvm(spark) -> None:
    """Stop the session and wait until its JVM has exited, so that the
    next ``get_spark`` starts a cold JVM, as a new process would."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--starts", type=int, required=True)
    ap.add_argument("--launch-ts", type=float, required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)

    os.environ["FFCL_DRIVER_MEM"] = DRIVER_MEM
    from ffcl_spark import get_spark
    from workloads import WORKLOADS

    conf = dict(EXTRA_CONF)
    event_dir = os.path.join(args.work_dir, "eventlog")
    if traced:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
                "spark.eventLog.compress": "false",
            }
        )
    session_cpu = SessionCpu(os.getsid(0)).start()

    # ---- 1. setup
    import_s = time.time() - args.launch_ts  # interpreter start and imports
    start_s = []
    for _ in range(args.starts):
        if start_s:
            stop_jvm(spark)
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"ffcl_bench:{args.workload}",
            master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        start_s.append(time.perf_counter() - t0)
    sc = spark.sparkContext
    tracer = Tracer(sc, traced)
    tracer.record("session.get_spark", "call_s", statistics.median(start_s))
    wl = WORKLOADS[args.workload](spark, args.seed, tracer, os.path.join(args.work_dir, "out"))
    synth_s = []
    for _ in range(SYNTH_REPS):
        t0 = time.perf_counter()
        wl.make_inputs()
        synth_s.append(time.perf_counter() - t0)
    setup_s = import_s + statistics.median(start_s) + statistics.median(synth_s)
    print(
        f"[{time.time() - args.launch_ts:7.2f}] setup {setup_s:.3f} s: import {import_s:.3f} s, "
        f"start {start_s}, synth {synth_s}",
        flush=True,
    )
    wl.prepare_checks()

    attempted = failed = 0
    problems: list[str] = []

    def one_pass(pass_id: str) -> dict:
        nonlocal attempted, failed
        # every pass starts from a cache that holds only the inputs
        spark.catalog.clearCache()
        wl.recache_inputs()
        tracer.begin_pass(pass_id)
        cpu0 = session_cpu.read()
        t0 = time.perf_counter()
        try:
            result, error = wl.run_pass(), None
        except Exception:  # a failed pass is counted, not fatal
            result, error = None, traceback.format_exc()
        dt = time.perf_counter() - t0
        cpu = session_cpu.read() - cpu0
        jobs = pass_jobs(sc, tracer.pass_group())
        tracer.begin_pass(pass_id + "-check")
        if error is None:
            try:
                n, bad, found = wl.check(result)
            except Exception:
                n, bad, found = wl.units_per_pass, wl.units_per_pass, [traceback.format_exc()]
        else:
            n, bad, found = wl.units_per_pass, wl.units_per_pass, [error]
        attempted += n
        failed += bad
        problems.extend(f"{pass_id}: {p}" for p in found)
        print(
            f"[{time.time() - args.launch_ts:7.2f}] pass {pass_id}: {dt:.3f} s, "
            f"cpu {cpu:.3f} s, jobs {jobs}, failed {bad}/{n}",
            flush=True,
        )
        return {"id": pass_id, "seconds": dt, "cpu_s": cpu, "jobs": jobs}

    # ---- 2. warm-up
    warm = [one_pass(f"w{i}") for i in range(WARMUP_PASSES)]

    # ---- 3. timed passes
    timed = []
    t_start = time.perf_counter()
    while len(timed) < MIN_TIMED or time.perf_counter() - t_start < args.seconds:
        timed.append(one_pass(f"t{len(timed)}"))

    session_cpu.close()
    spark.stop()
    print(f"[{time.time() - args.launch_ts:7.2f}] stopped", flush=True)

    # Spark's own counters must repeat exactly between identical passes,
    # warm-up included; a difference means a pass measured a cache
    ref, later = warm[0], warm[1:] + timed
    differs = set()
    spans = {}
    if traced:
        counters = counters_by_group(read_event_log(event_dir))
        per_pass = {}
        for p in warm + timed:
            per_pass[p["id"]] = span_rows(tracer, counters, p["id"])
            p["jobs"] = sum(v["jobs"] for k, v in counters.items() if k.startswith(p["id"] + "|"))
        for name in SPANS:
            spans[name] = {
                m: statistics.median(per_pass[p["id"]][name][m] for p in timed) for m in SPAN_METRICS
            }
            first = per_pass[ref["id"]][name]
            for p in later:
                row = per_pass[p["id"]][name]
                if (row["jobs"], row["shuffle_mb"]) != (first["jobs"], first["shuffle_mb"]):
                    differs.add(p["id"])
                    problems.append(f"{p['id']}: {name} jobs/shuffle_mb differ from {ref['id']}")
        spans["session.get_spark"] = span_rows(tracer, counters, "setup")["session.get_spark"]
    for p in later:
        if p["jobs"] != ref["jobs"]:
            differs.add(p["id"])
            problems.append(f"{p['id']}: {p['jobs']} jobs, {ref['id']} ran {ref['jobs']}")
    failed += len(differs)

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "traced": traced,
        "settings": settings(args.starts),
        "docs": wl.n_docs,
        "setup_s": setup_s,
        "import_s": import_s,
        "start_s": start_s,
        "synth_s": synth_s,
        "warmup_s": [p["seconds"] for p in warm],
        "passes": timed,
        "attempted": attempted,
        "failed": failed,
        "problems": problems[:20],
        "spans": spans,
    }
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    for p in problems[:20]:
        print("PROBLEM", p, file=sys.stderr)


if __name__ == "__main__":
    main()
