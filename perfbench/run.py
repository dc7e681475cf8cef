"""Benchmark of the query catalog: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload pairs_graph --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py``) on ``local[$SPARK_GRAFT_CPUS]``
(default: every core) against the fixed tables in ``perfbench/data``.
A run starts ``SESSIONS`` fresh processes (``worker.py``) one after
another. Each gives one set-up sample, timed from spawn to a live
session that has run one trivial job, and one cold-pass sample; only
the last goes on to the warm passes. ``setup_s`` and ``cold_pass_s``
are the medians of these samples: a cold pass is one execution per
query, and single samples of it spread by up to a fifth between runs
on a shared 4-vCPU host.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, each metric ``{"value", "unit"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. A JSON artifact with the host record, every
execution, the spans and per-query layers is written under
``perfbench/results/``. The exit code is non-zero, and no result line
is printed, when any process fails.
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
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.workloads import DEFAULT_SF, WORKLOADS, data_dir  # noqa: E402

TIMEOUT_S = 170.0
SESSIONS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "rerun_pass_s": "s",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.scan_ms": "ms",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "operators.exchange_count": "count",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_ms": "ms",
    "operators.fetch_wait_ms": "ms",
    "operators.agg_build_ms": "ms",
    "operators.partial_agg_ratio": "ratio",
    "operators.sort_ms": "ms",
    "operators.hashjoin_build_ms": "ms",
    "operators.broadcast_ms": "ms",
    "operators.codegen_ms": "ms",
    "operators.python_rows": "count",
    "operators.python_bytes": "bytes",
    "operators.python_stage_ms": "ms",
    "operators.spill_bytes": "bytes",
    "caching.cached_bytes_peak": "bytes",
    "caching.inmemory_scan_rows": "count",
    "caching.released": "count",
    "deliver.rows": "count",
    "deliver.ms": "ms",
    "session.jobs": "count",
    "session.stages": "count",
    "session.tasks": "count",
    "session.executor_run_ms": "ms",
    "session.cpu_utilization": "ratio",
    "session.gc_ms": "ms",
    "session.jvm_peak_rss_mb": "MB",
    "session.py_peak_rss_mb": "MB",
    "failed_frac": "ratio",
    "trace.overhead_s": "s",
    "trace.harvest_s": "s",
    "trace.sql_share": "ratio",
    "trace.reconcile_max_err": "ratio",
}


class RunFailed(RuntimeError):
    pass


def _env() -> dict[str, str]:
    """Environment for every Spark process: the package importable by
    the driver and by Spark's Python workers whatever the current
    directory, and all scratch files kept inside the checkout."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    work = os.path.join(HERE, ".work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if o
    )
    return env


def _signal_group(pgid: int, sig: int) -> bool:
    try:
        os.killpg(pgid, sig)
        return True
    except ProcessLookupError:
        return False


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait until every process of the worker's session (its JVM and
    Python workers) has exited; kill what outlives ``grace_s``. The
    worker itself must already be waited for, or its zombie keeps the
    group alive."""
    end = time.perf_counter() + grace_s
    while _signal_group(pgid, 0):
        if time.perf_counter() > end:
            _signal_group(pgid, signal.SIGKILL)
        time.sleep(0.05)


def _clear_scratch() -> None:
    """Remove what a killed session leaves in its scratch directories."""
    for sub in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(HERE, ".work", sub), ignore_errors=True)


def _spawn(args: list[str], deadline: float) -> tuple[float, float, dict]:
    """Run ``worker.py args`` until it has printed READY and its result
    line; then kill its session (JVM and Python workers), whose graceful
    shutdown would only add seconds to the run, and wait for every
    process of it to end. Returns (seconds from spawn to READY, seconds
    from spawn to the end of the session, the parsed result). Raises
    RunFailed if the worker exits first; a worker still running at
    ``deadline`` is killed."""
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args]
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        cmd, cwd=os.path.join(HERE, ".work"), env=_env(),
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    watchdog = threading.Timer(
        max(0.0, deadline - t0), _signal_group, (proc.pid, signal.SIGKILL)
    )
    watchdog.start()
    setup_s = result = None
    try:
        for line in proc.stdout:
            if setup_s is None and line.strip() == "READY":
                setup_s = time.perf_counter() - t0
            elif setup_s is not None and line.startswith("{"):
                result = line.strip()
                break
    finally:
        watchdog.cancel()
        _signal_group(proc.pid, signal.SIGKILL)
        proc.stdout.close()
        proc.wait()
        _reap_group(proc.pid)
        _clear_scratch()
    if setup_s is None or result is None:
        raise RunFailed(f"worker exited with {proc.returncode} before its result")
    return setup_s, time.perf_counter() - t0, json.loads(result)


def run(opts) -> dict:
    deadline = time.perf_counter() + TIMEOUT_S
    data = data_dir(opts.sf)
    if not os.path.isdir(data):
        raise RunFailed(f"no input tables at {data}")
    artifact = os.path.join(
        HERE, "results",
        f"{opts.workload}-{opts.sf}-seed{opts.seed}-trace{opts.trace}.json",
    )
    common = ["--workload", opts.workload, "--seed", str(opts.seed), "--data", data]
    if opts.inject_wrong:
        common += ["--inject-wrong", opts.inject_wrong]
    sessions = [_spawn([*common, "--cold-only"], deadline) for _ in range(SESSIONS - 1)]
    sessions.append(_spawn([
        *common, "--seconds", str(opts.seconds), "--trace", str(opts.trace),
        "--artifact", artifact,
    ], deadline))
    summary = sessions[-1][2]
    setups = [setup_s for setup_s, _, _ in sessions]
    colds = [result["end_to_end"]["cold_pass_s"] for _, _, result in sessions]
    attempted = sum(result["attempted"] for _, _, result in sessions)
    failed = sum(result["failed"] for _, _, result in sessions)
    with open(artifact) as f:
        record = json.load(f)
    record["setup_samples_s"] = setups
    record["cold_samples_s"] = colds
    record["spawn_wall_s"] = [wall_s for _, wall_s, _ in sessions]
    record["attempted"], record["failed"] = attempted, failed
    with open(artifact, "w") as f:
        json.dump(record, f, indent=1)

    if opts.trace:
        values = {**summary["per_layer"], "failed_frac": failed / attempted}
        units = PER_LAYER_UNITS
    else:
        values = {**summary["end_to_end"], "setup_s": statistics.median(setups),
                  "cold_pass_s": statistics.median(colds)}
        units = END_TO_END_UNITS
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default=DEFAULT_SF, help="input scale under perfbench/data")
    p.add_argument("--inject-wrong", default=None, help=argparse.SUPPRESS)
    opts = p.parse_args(argv)
    # SIGTERM unwinds through _spawn, which kills the worker's session.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(opts)
    except (RunFailed, OSError, ValueError, KeyError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
