"""One measured run of a workload, in a fresh process and Spark session.

Started by ``run.py``, which times this process from spawn until it
prints ``READY`` (session up, one trivial job done). Protocol, one
closed-loop client issuing one query at a time (``--cold-only`` stops
after step 1 and the check):

1. cold pass: each query once, in the workload's order, in the fresh
   session;
2. warm passes: each query twice back to back. The first execution
   follows ``release_caches()`` so nothing tracked is reused (counts
   toward ``warm_pass_s``); the immediate re-execution keeps its own
   caches (``rerun_pass_s``). Each metric is the sum over queries of
   the per-query median over the measured passes. The first
   ``WARMUP_PASSES`` warm passes are executed and checked but not
   measured. On a 4-vCPU host the first warm passes of a fresh
   session keep the JIT compilers busy for 5-11 s of CPU time each,
   against 2-5 s of wall time, and pass times fall by up to half until
   that backlog clears: after 3-5 passes of each one-query workload
   (two-query workloads took 5 to more than 8). How fast it clears
   depends on the CPU the host leaves free, so a window that starts
   before it has cleared measures the host rather than the workload.
   Measured passes follow until ``--seconds`` have passed since the
   first of them, at least ``MIN_MEASURED``.

An execution is ``QuerySpec.fn(spark, data)`` then ``.toPandas()``.
After the last pass every execution's result is checked against its
DuckDB twin (run once per query), then the host calibration probes run. The last stdout line is a
JSON object with the run's metrics; ``--artifact`` receives the host
record, every execution, the spans and (traced) per-query layers.

With ``--trace 1`` odd measured passes run untraced and even ones
traced, so each traced pass sits between two untraced ones and the
difference estimates the tracing overhead: after each traced
execution (outside its timer) the job, stage and SQL metrics it caused
are harvested, and the re-execution is followed by a noop-sink run of
the same plan to split delivery from compute.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import statistics
import sys
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WARMUP_PASSES = 4
MIN_MEASURED = 4


class Spans:
    """In-memory span log, written out with the artifact at run end."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        self.items.append(
            {"name": name, "start_s": round(start - self._t0, 6),
             "end_s": round(end - self._t0, 6), **attrs}
        )


def _jvm_gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def _codegen_ms(spark) -> float:
    """Approximate total whole-stage codegen compile time so far, from
    Spark's compilation-time histogram (count x reservoir mean)."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return float(h.getCount() * h.getSnapshot().getMean())


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_ticks() -> list[int]:
    """The host's aggregate CPU time counters (user, nice, system, idle,
    iowait, irq, softirq, steal), from /proc/stat; empty where absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _contention(ticks: list[int]) -> dict:
    """Busy and stolen shares of the host's CPU time over the measured
    passes: a run whose figures stray can be checked against them."""
    total = sum(ticks)
    if len(ticks) < 8 or not total:
        return {}
    busy = ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6]
    return {"cpu_busy_share": round(busy / total, 4), "cpu_steal_share": round(ticks[7] / total, 4)}


def _calibrate(spark, data: str) -> dict:
    """The host probes ``bench.py`` records, same fixed workloads: a
    20M-row hash aggregate and a lineitem scan-aggregate, min of 3."""
    from pyspark.sql import functions as F

    def best(fn, n=3):
        out = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            out = min(out, time.perf_counter() - t0)
        return round(out, 3)

    def scan():
        spark.read.parquet(f"{data}/lineitem.parquet").agg(
            F.count("*"), F.sum("l_quantity")
        ).count()

    calib = best(lambda: spark.range(20_000_000).groupBy(
        (F.col("id") % 1024).alias("k")).agg(F.sum("id"), F.count("*")).count())
    scan()
    return {"calib_sec": calib, "calib_scan_sec": best(scan)}


def _host(spark, cores: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores": cores,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class Run:
    def __init__(self, args, spark, registry):
        from frauddetection_spark.operators import caching

        self.args = args
        self.spark = spark
        self.registry = registry
        self.caching = caching
        self.cores = spark.sparkContext.defaultParallelism
        self.spans = Spans()
        self.executions: list[dict] = []
        self.harvester = None
        self.cached_peak = 0.0
        self.released: dict[int, int] = {}  # pass -> tracked caches released
        self.cpu_ticks: list[int] = []  # host CPU time over the measured passes
        self._n = 0

    def execute(self, name: str, phase: str, pass_no: int, traced: bool) -> None:
        """One timed execution: plan build + toPandas."""
        from perfbench.check import fingerprint

        spec = self.registry[name]
        sc = self.spark.sparkContext
        self._n += 1
        build_group, run_group = f"pb{self._n}.build", f"pb{self._n}.run"
        rec = {"query": name, "phase": phase, "pass": pass_no, "traced": traced}
        gc0 = _jvm_gc_ms(self.spark) if traced else 0.0
        cg0 = _codegen_ms(self.spark) if traced else 0.0
        df = pdf = None
        sc.setJobGroup(build_group, build_group)
        started = time.time()
        t0 = time.perf_counter()
        try:
            df = spec.fn(self.spark, self.args.data)
            t1 = time.perf_counter()
            sc.setJobGroup(run_group, run_group)
            pdf = df.toPandas()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, never dropped
            t2 = time.perf_counter()
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            print(f"# {name} {phase} failed: {rec['error']}", file=sys.stderr)
        rec["s"] = t2 - t0
        self.spans.add("plans.build", t0, t1 if pdf is not None else t2, query=name, phase=phase, pass_no=pass_no)
        if pdf is not None:
            rec["build_s"] = t1 - t0
            rec["to_pandas_s"] = t2 - t1
            rec["rows"] = len(pdf)
            self.spans.add("deliver.toPandas", t1, t2, query=name, phase=phase, pass_no=pass_no)
            if name == self.args.inject_wrong:
                pdf = pdf.iloc[1:]
            rec["fingerprint"] = fingerprint(pdf)
        if traced:
            h0 = time.perf_counter()
            gc_ms = _jvm_gc_ms(self.spark) - gc0
            codegen_ms = max(0.0, _codegen_ms(self.spark) - cg0)
            if pdf is not None and phase == "rerun":
                sc.setJobGroup(f"pb{self._n}.noop", f"pb{self._n}.noop")
                n0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                rec["noop_s"] = time.perf_counter() - n0
                self.spans.add("deliver.noop", n0, n0 + rec["noop_s"], query=name, pass_no=pass_no)
            layers = self.harvester.execution(build_group, run_group, started)
            layers["session.gc_ms"] = gc_ms
            layers["operators.codegen_ms"] = codegen_ms
            self.cached_peak = max(self.cached_peak, self.harvester.cached_bytes())
            rec["layers"] = dict(layers)
            self.spans.add("trace.harvest", h0, time.perf_counter(), query=name, pass_no=pass_no)
        self.executions.append(rec)

    def release(self, pass_no: int) -> int:
        t0 = time.perf_counter()
        n = self.caching.release_caches()
        self.spans.add("caching.release_caches", t0, time.perf_counter(), released=n, pass_no=pass_no)
        return n

    def measure(self) -> dict:
        from perfbench.workloads import WORKLOADS, Schedule

        schedule = Schedule(WORKLOADS[self.args.workload], self.args.seed)
        trace = bool(self.args.trace)
        if trace:
            from perfbench.trace import Harvester

            self.harvester = Harvester(self.spark)
        for name in schedule.cold_pass():
            self.execute(name, "cold", 0, traced=False)
        if self.args.cold_only:
            return self.summarise()
        pass_no = 0
        min_passes = WARMUP_PASSES + MIN_MEASURED
        while pass_no < min_passes or time.perf_counter() - measured_from < self.args.seconds:
            if pass_no == WARMUP_PASSES:
                measured_from = time.perf_counter()
                self.cpu_ticks = _cpu_ticks()
            pass_no += 1
            traced = trace and pass_no > WARMUP_PASSES and (pass_no - WARMUP_PASSES) % 2 == 0
            released = 0
            for name in schedule.next_pass():
                released += self.release(pass_no)
                self.execute(name, "warm", pass_no, traced)
                self.execute(name, "rerun", pass_no, traced)
            self.released[pass_no] = released
        self.cpu_ticks = [b - a for a, b in zip(self.cpu_ticks, _cpu_ticks())]
        return self.summarise()

    def check(self) -> None:
        """Mark every execution that differs from its DuckDB twin."""
        from frauddetection_spark.oracle import duckdb_connection
        from perfbench.check import mismatch, twin_fingerprint

        con = duckdb_connection(self.args.data)
        twin_errors = {}
        twins = {}
        for name in {r["query"] for r in self.executions}:
            try:
                twins[name] = twin_fingerprint(con, self.registry[name].oracle)
            except Exception as exc:  # noqa: BLE001 — an unverifiable query fails
                twin_errors[name] = f"twin failed: {exc}"
        con.close()
        for rec in self.executions:
            if "error" in rec:
                continue
            name = rec["query"]
            rec["mismatch"] = twin_errors.get(name) or mismatch(rec["fingerprint"], twins[name])

    def summarise(self) -> dict:
        t0 = time.perf_counter()
        self.check()
        self.spans.add("check.twins", t0, time.perf_counter())
        failed = sum(1 for r in self.executions if r.get("error") or r.get("mismatch"))
        attempted = len(self.executions)

        def per_query_median(phase):
            by_q = defaultdict(list)
            for r in self.executions:
                if r["phase"] == phase and r["pass"] > WARMUP_PASSES:
                    by_q[r["query"]].append(r["s"])
            return sum(statistics.median(v) for v in by_q.values())

        end_to_end = {
            "cold_pass_s": sum(r["s"] for r in self.executions if r["phase"] == "cold"),
            "warm_pass_s": per_query_median("warm"),
            "rerun_pass_s": per_query_median("rerun"),
            "failed_frac": failed / attempted,
        }
        out = {"attempted": attempted, "failed": failed, "end_to_end": end_to_end}
        if self.args.trace:
            out["per_layer"] = self.layer_metrics()
        return out

    def layer_metrics(self) -> dict:
        """Per-layer pass totals: the median over traced warm passes of
        each counter summed over the pass (warm and re-executions)."""
        from perfbench.trace import RECONCILE_TOL, SUMMED, reconcile

        passes = defaultdict(list)
        for r in self.executions:
            if r["pass"] > WARMUP_PASSES:
                passes[r["pass"]].append(r)
        traced = {p: rs for p, rs in passes.items() if rs[0]["traced"]}
        untraced = {p: rs for p, rs in passes.items() if not rs[0]["traced"]}
        totals = []
        worst = 0.0
        for p, rs in traced.items():
            t = defaultdict(float)
            span_ms = 0.0
            for r in rs:
                lay = r.get("layers", {})
                for k in (*SUMMED, "session.gc_ms", "operators.codegen_ms"):
                    t[k] += lay.get(k, 0.0)
                span_ms += r["s"] * 1e3
                t["plans.build_s"] += r.get("build_s", 0.0)
                t["deliver.rows"] += r.get("rows", 0)
                if r["phase"] == "rerun" and "noop_s" in r:
                    t["deliver.ms"] += (r["to_pandas_s"] - r["noop_s"]) * 1e3
                worst = max(worst, reconcile(
                    lay, r["s"] * 1e3, r.get("to_pandas_s", 0.0) * 1e3, self.cores))
            t["operators.partial_agg_ratio"] = (
                t["operators.partial_agg_rows_out"] / t["operators.partial_agg_rows_in"]
                if t["operators.partial_agg_rows_in"] else 0.0
            )
            t["session.cpu_utilization"] = t["session.executor_run_ms"] / (span_ms * self.cores)
            t["caching.released"] = self.released[p]
            t["pass_s"] = span_ms / 1e3
            t["trace.sql_share"] = t["sql_ms"] / span_ms
            totals.append(t)
        med = {k: statistics.median(t[k] for t in totals) for k in totals[0]}
        untraced_s = [sum(r["s"] for r in rs) for rs in untraced.values()]
        harvest_s = sum(
            s["end_s"] - s["start_s"] for s in self.spans.items if s["name"] == "trace.harvest"
        ) / len(traced)
        failed = sum(1 for r in self.executions if r.get("error") or r.get("mismatch"))
        if worst > RECONCILE_TOL:
            print(f"# layer sums do not reconcile: max error {worst:.3f}", file=sys.stderr)
        return {
            **{k: med[k] for k in med if k not in ("sql_ms", "pass_s",
               "operators.partial_agg_rows_in", "operators.partial_agg_rows_out")},
            "session.get_spark_s": self.args.get_spark_s,
            "caching.cached_bytes_peak": self.cached_peak,
            "session.jvm_peak_rss_mb": _jvm_peak_rss_mb(self.spark),
            "session.py_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "failed_frac": failed / len(self.executions),
            "trace.overhead_s": med["pass_s"] - statistics.median(untraced_s),
            "trace.harvest_s": harvest_s,
            "trace.reconcile_max_err": worst,
        }


def _artifact(run: Run, summary: dict, host: dict) -> dict:
    from perfbench.trace import RECONCILE_SLACK_MS, RECONCILE_TOL

    execs = []
    for r in run.executions:
        r = dict(r)
        fp = r.pop("fingerprint", None)
        if fp is not None:
            r["result"] = {"rows": fp.rows, "canon_sha256": fp.canon}
        execs.append(r)
    return {
        "workload": run.args.workload,
        "seed": run.args.seed,
        "seconds": run.args.seconds,
        "trace": run.args.trace,
        "data": os.path.relpath(run.args.data, ROOT),
        "host": host,
        "summary": summary,
        "reconcile_tolerance": {"relative": RECONCILE_TOL, "sql_slack_ms": RECONCILE_SLACK_MS},
        "executions": execs,
        "spans": run.spans.items,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--data")
    p.add_argument("--artifact")
    p.add_argument("--inject-wrong", default=None,
                   help="drop one row from this query's results (tests the check)")
    p.add_argument("--cold-only", action="store_true",
                   help="stop after the cold pass and its check")
    args = p.parse_args(argv)

    from frauddetection_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    args.get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    print("READY", flush=True)
    try:
        from frauddetection_spark.plans.registry import load_all

        t1 = time.perf_counter()
        registry = load_all()
        run = Run(args, spark, registry)
        run.spans.add("session.get_spark", t0, t0 + args.get_spark_s)
        run.spans.add("plans.load_all", t1, time.perf_counter())
        summary = run.measure()
        if not args.cold_only:
            t2 = time.perf_counter()
            host = {**_host(spark, run.cores), **_contention(run.cpu_ticks),
                    **_calibrate(spark, args.data)}
            run.spans.add("host.calibrate", t2, time.perf_counter())
            print(f"# host {json.dumps(host)}", file=sys.stderr)
            if args.artifact:
                os.makedirs(os.path.dirname(args.artifact), exist_ok=True)
                with open(args.artifact, "w") as f:
                    json.dump(_artifact(run, summary, host), f, indent=1, default=str)
        print(json.dumps(summary), flush=True)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
