#!/usr/bin/env python3
"""Oracle-checked, closed-loop benchmark of the flink_tpcds_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client in one process drives
``local[nproc]``: it issues the next query only after the previous
result has been collected and checked against a DuckDB oracle. A run
is: prepare the inputs, compute the oracle answers, set up the session
three times (the median is ``setup_s``), one cold pass, then timed
passes until ``--seconds`` have passed and the workload's minimum
number of timed passes has run. The seed sets the query order of every
pass; the query set never changes.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics, with ``--trace 1`` the per-layer metrics read from Spark's
status stores (see probes.py). Run stamps, pass times, the tail
latency and any failed query go to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUPS = 3
DRIVER_MEM = "3g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}
# Per-layer metrics: per-pass means over the timed passes unless noted.
PER_LAYER_UNITS = {
    "session.start_s": "s",  # median over the set-ups
    "schemas.register_s": "s",  # median over the set-ups
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.plan_s": "s",
    "plans.build_s": "s",
    "plans.cte_cached": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.core_idle_frac": "ratio",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "scan.input_mb": "MB",
    "scan.input_rows": "count",
    "python_udf.run_s": "s",
    "python_udf.boot_s": "s",
    "python_udf.arrow_mb": "MB",
    "streaming.output_mb": "MB",
    "cache.rdds_after_release": "count",  # max over the timed passes
    "cache.mb_after_release": "MB",  # max over the timed passes
    "cold.first_pass_s": "s",  # the cold pass: sum of its query walls
    "memory.peak_rss_mb": "MB",  # VmHWM of the Spark JVM + this process
    "trace.pass_s": "s",  # pass_s of the traced run
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument(
        "--smoke", action="store_true",
        help="self-test size: two queries, the sf0.001 TPC-H fixture",
    )
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def configure_env(nproc: int) -> None:
    """Keep every file the run writes inside the checkout, and give
    the Python workers the repository on their import path."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "pyspark-shell"
    )
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # The repository's local bench posture (bench.py, tests/conftest.py).
    os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"] = "4m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def source_digest() -> str:
    """Digest of the engine sources, standing in for the commit in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "flink_tpcds_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith((".py", ".sql")):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def tail_latency(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples above it."""
    n = len(samples)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    rank = max(1, -(-pct * n // 100))  # nearest-rank percentile
    return {"percentile": pct, "samples": n, "value_s": sorted(samples)[rank - 1]}


class Bench:
    def __init__(self, args: argparse.Namespace, workload, nproc: int):
        self.args = args
        self.wl = workload
        self.nproc = nproc
        self.trace = bool(args.trace)
        self.spark = None
        self.probe = None
        self.info: dict = {}

    # -- one query -------------------------------------------------------
    def run_query(self, name: str, pass_no: int) -> dict:
        spark, probe = self.spark, self.probe
        spark.sparkContext.setJobGroup(f"perfbench-{pass_no}-{name}", name)
        rec: dict = {"query": name, "pass": pass_no, "ok": False}
        cached0 = probe.persistent()[0] if self.trace else 0
        j0 = probe.jobs_started()
        release = None
        try:
            t0 = time.perf_counter()
            df, release = self.wl.build(spark, name)
            t1 = time.perf_counter()
            j1 = probe.jobs_started()
            if self.trace:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t3 = time.perf_counter()
            cached = probe.persistent()[0] - cached0 if self.trace else 0
            t3b = time.perf_counter()
            release()
            release = None
            t4 = time.perf_counter()
        except Exception as e:  # the loop goes on; the failure is counted
            rec["detail"] = f"{type(e).__name__}: {str(e)[:500]}"
            traceback.print_exc(file=sys.stderr)
            return rec
        finally:
            if release is not None:
                release()
        j2 = probe.jobs_started()
        rec.update(
            build=t1 - t0, plan=t2 - t1, execute=t3 - t2, release=t4 - t3b,
            wall=(t3 - t0) + (t4 - t3b), jobs=j2 - j0, build_jobs=j1 - j0,
        )
        detail = self.wl.check(name, list(df.columns), rows)
        if detail is None and j2 == j0:
            detail = "launched no Spark job (a memoized result?)"
        rec["ok"] = detail is None
        rec["detail"] = detail
        if self.trace:
            rec["layers"] = probe.query_layers(j0, j2, df)
            rec["layers"]["plans.cte_cached"] = cached
            rec["cache"] = probe.persistent()
        return rec

    def run_pass(self, pass_no: int, rng: random.Random) -> list[dict]:
        order = rng.sample(self.wl.queries, len(self.wl.queries))
        recs = [self.run_query(name, pass_no) for name in order]
        for r in recs:
            if not r["ok"]:
                print(f"perfbench: FAILED {r['query']} (pass {pass_no}): "
                      f"{r['detail']}", file=sys.stderr)
        return recs

    # -- the run ---------------------------------------------------------
    def execute(self) -> dict:
        from probes import SparkProbe

        from flink_tpcds_spark.session import get_spark

        t = time.perf_counter()
        self.wl.prepare(os.path.join(WORK, "data"), self.args.smoke)
        self.info["fixture_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.wl.compute_oracles()
        self.info["oracle_s"] = time.perf_counter() - t

        setups = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            t1 = time.perf_counter()
            reg = self.wl.register(self.spark)
            setups.append({
                "setup_s": time.perf_counter() - t0,
                "session.start_s": t1 - t0, **reg,
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = SparkProbe(self.spark)

        rng = random.Random(self.args.seed)
        cold = self.run_pass(0, rng)
        warm: list[list[dict]] = []
        t_warm = time.perf_counter()
        while (len(warm) < self.wl.passes
               or time.perf_counter() - t_warm < self.args.seconds):
            warm.append(self.run_pass(1 + len(warm), rng))

        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.info["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        records = cold + [r for p in warm for r in p]
        failed = [r for r in records if not r["ok"]]
        ok_warm = [[r for r in p if r["ok"]] for p in warm]
        pass_s = [sum(r["wall"] for r in p) for p in ok_warm]
        walls = [r["wall"] for p in ok_warm for r in p]

        self.info.update(
            first_pass_s=sum(r["wall"] for r in cold if r["ok"]),
            warm_pass_s=pass_s,
            tail=tail_latency(walls),
            failed=[f"{r['query']}@{r['pass']}: {r['detail']}" for r in failed],
        )
        if self.trace:
            metrics = self.layer_metrics(setups, ok_warm, pass_s)
            units = PER_LAYER_UNITS
        else:
            metrics = {
                "setup_s": statistics.median(s["setup_s"] for s in setups),
                "pass_s": statistics.median(pass_s) if pass_s else 0.0,
                "query_p50_s": statistics.median(walls) if walls else 0.0,
            }
            units = END_TO_END_UNITS
        return {
            "correct": not failed,
            "attempted": len(records),
            "failed": len(failed),
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def layer_metrics(self, setups, ok_warm, pass_s) -> dict[str, float]:
        build_key = "plans" if self.wl.kind == "tpcds" else "queries"
        per_pass: list[dict[str, float]] = []
        for recs, wall in zip(ok_warm, pass_s):
            m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
            for r in recs:
                for k, v in r["layers"].items():
                    m[k] += v
                m["catalyst.plan_s"] += r["plan"]
                m[f"{build_key}.build_s"] += r["build"]
                if build_key == "queries":
                    m["queries.build_jobs"] += r["build_jobs"]
            if wall > 0:
                m["scheduler.core_idle_frac"] = 1 - m["executor.run_s"] / (
                    wall * self.nproc)
            per_pass.append(m)
        out = {k: statistics.fmean(p[k] for p in per_pass) if per_pass else 0.0
               for k in PER_LAYER_UNITS}
        for k in ("session.start_s", "schemas.register_s"):
            out[k] = statistics.median(s[k] for s in setups)
        caches = [r["cache"] for p in ok_warm for r in p] or [(0, 0.0)]
        out["cache.rdds_after_release"] = max(c[0] for c in caches)
        out["cache.mb_after_release"] = max(c[1] for c in caches)
        out["cold.first_pass_s"] = self.info["first_pass_s"]
        out["memory.peak_rss_mb"] = self.info["peak_rss_mb"]
        out["trace.pass_s"] = statistics.median(pass_s) if pass_s else 0.0
        return out

    def shutdown(self) -> None:
        """Stop the session and the gateway JVM, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "flink_tpcds_spark")):
        print(f"perfbench: no flink_tpcds_spark package under {ROOT}; "
              "run from the repository root of a full checkout",
              file=sys.stderr)
        return 2
    import workloads

    try:
        wl = workloads.make(args.workload, smoke=args.smoke)
    except KeyError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    configure_env(nproc)
    sys.path.insert(0, ROOT)
    import pyspark

    load_start = os.getloadavg()
    bench = Bench(args, wl, nproc)
    try:
        result = bench.execute()
    finally:
        bench.shutdown()
    bench.info.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        nproc=nproc, loadavg_start=load_start, loadavg_end=os.getloadavg(),
        source_digest=source_digest(), spark=pyspark.__version__,
        python=platform.python_version(),
    )
    print("perfbench info: " + json.dumps(bench.info), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
