"""ffcl_spark benchmark: one workload, one seed, one Spark process.

    python3 benchmark/run.py --workload spatial_pipeline --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Prints each metric with its unit, then,
as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics (``docs_per_s``, ``cpu_s``, ``peak_rss_mb``,
``setup_s``); ``fail_frac`` is printed as a line and carried by
``failed``/``attempted``. ``--trace 1`` runs the workload untraced and
then traced, and reports the per-span metrics of the traced run and the
tracing overhead against the untraced one.

Isolation: the workload runs in ``worker.py``, started as the leader of
a new session, so its Spark JVM, the PySpark daemon and the Python
workers are in that session. CPU time and resident memory are read for
the whole session from ``/proc``. On timeout every process of the
session is killed, and the run ends only after all of them have exited.
Each run starts with an empty, benchmark-owned ``SPARK_LOCAL_DIRS``
under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

from proc import session_pids, session_rss_bytes  # noqa: E402
from tracing import layer_metrics  # noqa: E402

WORKLOADS = ("spatial_pipeline", "density_cluster")
DEADLINE_S = 170  # a whole invocation, both children in trace mode
# cold session starts in an untraced run's setup (the median counts);
# the traced mode reports no setup_s, so its children start once
SESSION_STARTS = 2
EXIT_WAIT_S = 30  # for the JVM to exit after the driver has


class RunFailed(Exception):
    pass


class PeakRss(threading.Thread):
    """Samples the session's resident memory every 250 ms, keeps the peak."""

    def __init__(self, sid: int):
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.25):
            self.peak = max(self.peak, session_rss_bytes(self.sid))


def wait_session_gone(sid: int, timeout: float) -> bool:
    end = time.monotonic() + timeout
    while session_pids(sid):
        if time.monotonic() > end:
            return False
        time.sleep(0.1)
    return True


def kill_session(sid: int) -> None:
    end = time.monotonic() + EXIT_WAIT_S
    while time.monotonic() < end:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_child(args, trace: int, deadline: float) -> dict:
    """Run one worker to completion; return its result with the session's
    peak RSS. Raises RunFailed if it fails or runs out of time."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # no hsperfdata under /tmp; JVM temp files stay in the run dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--starts", str(1 if args.trace else SESSION_STARTS),
        "--work-dir", run_dir, "--result", result_path,
    ]
    log_path = os.path.join(WORK, f"worker-{args.workload}-seed{args.seed}-trace{trace}.log")
    with open(log_path, "w") as log:
        launch = time.time()
        child = subprocess.Popen(
            cmd + ["--launch-ts", repr(launch)], cwd=ROOT, env=env,
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = PeakRss(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the JVM outlives its driver for a few seconds; the run is
            # over only when the whole session has gone
            if code is None or not wait_session_gone(child.pid, EXIT_WAIT_S):
                kill_session(child.pid)
            sampler.stop.set()
            sampler.join()
    shutil.rmtree(os.path.join(run_dir, "local"), ignore_errors=True)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RunFailed(f"worker {reason}; log {log_path}:\n{tail}")
    with open(result_path) as fh:
        res = json.load(fh)
    res["peak_rss_mb"] = sampler.peak / 1e6
    return res


def docs_per_s(res: dict) -> float:
    return statistics.median(res["docs"] / p["seconds"] for p in res["passes"])


def end_to_end(res: dict) -> dict:
    return {
        "docs_per_s": (docs_per_s(res), "docs/s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in res["passes"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "setup_s": (res["setup_s"], "s"),
    }


def per_layer(untraced: dict, traced: dict) -> dict:
    out = {}
    for name, unit in layer_metrics():
        span, m = name.rsplit(".", 1)
        out[name] = (traced["spans"][span][m], unit)
    base, with_trace = docs_per_s(untraced), docs_per_s(traced)
    out["trace.untraced_docs_per_s"] = (base, "docs/s")
    out["trace.traced_docs_per_s"] = (with_trace, "docs/s")
    out["trace.overhead_pct"] = (100.0 * (base - with_trace) / base, "%")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ffcl_spark", "__init__.py")):
        print(f"no ffcl_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S
    try:
        if args.trace:
            # the overhead baseline: an untraced run of the same inputs,
            # made right before the traced one
            untraced = run_child(args, 0, time.monotonic() + DEADLINE_S / 2)
            res = run_child(args, 1, deadline)
            runs = [untraced, res]
            metrics = per_layer(untraced, res)
        else:
            res = run_child(args, 0, deadline)
            runs = [res]
            metrics = end_to_end(res)
        attempted = sum(r["attempted"] for r in runs)
        failed = sum(r["failed"] for r in runs)
        problems = [p for r in runs for p in r["problems"]]
    except RunFailed as exc:
        print(exc, file=sys.stderr)
        return 1

    for p in problems:
        print("check failed:", p, file=sys.stderr)
    print("settings", json.dumps(res["settings"], sort_keys=True))
    print(f"passes {len(res['passes'])} timed, warm-up {len(res['warmup_s'])}; docs {res['docs']}")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(f"fail_frac {failed / attempted:.6g} 1 ({failed}/{attempted})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
