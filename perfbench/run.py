"""Benchmark for the scan runner and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload registry_mix --seed 1 --seconds 8 --trace 0

``--workload all`` runs every workload in turn and prints each metric by
name with its unit, plus the correctness verdict. The last line of standard
output is always one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). See perfbench/README.md for the workloads, the metrics
and which layer moves which metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

MIN_PASSES = 3  # a timed window always holds at least this many passes


def process_age() -> float:
    """Seconds since this process started (Linux ``/proc``, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "c2_duckdb_runner_spark/runner.py", "tests/compare.py")
    )


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """Size the engine to this machine and keep every file it writes inside
    ``work``. ``SPARK_GRAFT_CPUS`` and ``Env_jobs`` default to 32 in the
    program, which on a smaller machine measures the scheduler. The JVM
    options reach both the launcher and the driver JVM; ``-XX:-UsePerfData``
    stops HotSpot from writing its ``/tmp/hsperfdata_*`` file."""
    n = str(cores())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": n,
        "Env_jobs": n,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def spark_confs(work: str, event_log: str | None = None) -> dict[str, str]:
    confs = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    return confs


def set_up(work: str, age_at_start: float):
    """Start the session and import the registry, the way a user's process
    does. Returns the session, the registry's queries and oracles, and the
    set-up timings: process start -> session up -> registry imported, less
    the input generation that ran in between."""
    t0 = time.monotonic()
    from c2_duckdb_runner_spark import session

    spark = session.get_spark("perfbench", extra_confs=spark_confs(work))
    t1 = time.monotonic()
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    t2 = time.monotonic()
    spark.sparkContext.setLogLevel("ERROR")
    start_s = age_at_start + (t1 - t0)
    return spark, queries, oracles, {
        "session.start_s": start_s,
        "registry.import_s": t2 - t1,
        "setup_s": start_s + (t2 - t1),
    }


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    from metrics import MB

    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / MB
    return 0.0


class Context:
    """What a workload needs to run: the session, the registry, the tracer,
    and the traced-run hooks (job groups, Catalyst phase times), which are
    no-ops in an untraced run."""

    def __init__(self, spark, queries, oracles, tracer):
        self.spark, self.queries, self.oracles = spark, queries, oracles
        self.tracer = tracer
        self.traced = False

    def job_group(self, span):
        return self._job_group(span) if self.traced else nullcontext()

    @contextmanager
    def _job_group(self, span):
        from spans import GROUP_PREFIX

        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{span.id}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def plan_probe(self, df) -> None:
        """Traced runs only: plan the DataFrame and record Catalyst's
        analysis + optimization + planning time from its QueryExecution."""
        if not self.traced:
            return
        with self.tracer.span("plan") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            ms = 0
            while it.hasNext():
                ms += it.next()._2().durationMs()
        s.attrs["catalyst_s"] = ms / 1000.0


def run_workload(args, age: float) -> dict:
    import metrics
    import workloads
    from spans import Tracer

    log = workloads.log
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    pin_environment(work)
    wl = workloads.WORKLOADS[args.workload](os.path.join(work, "data"), args.seed)
    t_gen = time.monotonic()
    wl.prepare()
    log(f"{wl.name}: inputs generated in {time.monotonic() - t_gen:.1f}s")

    spark, queries, oracles, setup = set_up(work, age)
    log(f"set-up {setup['setup_s']:.3f}s")
    ctx = Context(spark, queries, oracles, Tracer())
    out = workloads.Outcome()
    try:
        with ctx.tracer.span("warm-up"):
            wl.warm(ctx, out)
        passes = workloads.timed_window(ctx, wl, out, args.seconds, MIN_PASSES)
        log(f"passes {[round(p.seconds, 3) for p in passes]}")
        for op in passes[0].ops:
            log(f"  {op}: {[round(p.ops[op], 3) for p in passes]}")
        result = metrics.end_to_end(passes, setup["setup_s"])
        if args.trace:
            result = traced(args, ctx, wl, out, work, setup, result["query_s"])
    finally:
        stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"{wl.name}: {len(out.failures)} of {out.attempted} operations failed")
    for f in out.failures:
        log(f"FAILED {f}")
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    return {
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": {k: {"value": result[k], "unit": u} for k, u in units.items()},
    }


def traced(args, ctx, wl, out, work, setup, untraced_query_s) -> dict:
    """Restart the session with the event log on (same JVM, so it stays
    JIT-warm), load the fixture tables cold, run a traced window under a
    fresh tracer, then read the log and write the spans."""
    import metrics
    import workloads
    from c2_duckdb_runner_spark import session, tables
    from spans import Tracer, attach_jobs, read_event_log

    event_log = os.path.join(work, "eventlog")
    ctx.spark.stop()
    ctx.spark = session.get_spark(
        "perfbench-traced", extra_confs=spark_confs(work, event_log))
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.traced = True
    ctx.tracer = tracer = Tracer()
    with tracer.span("workload", workload=wl.name):
        if isinstance(wl, workloads.RegistryMix):
            with tracer.span("tables.load") as s, ctx.job_group(s):
                for t in tables.TABLES:
                    tables.load(ctx.spark, wl.data_dir, t)
        with tracer.span("window") as window:
            passes = workloads.timed_window(ctx, wl, out, args.seconds, MIN_PASSES)
    setup = dict(setup, **{"driver.peak_rss_mb": jvm_peak_rss_mb(ctx.spark)})
    ctx.spark.stop()  # flushes and closes the event log
    by_span = attach_jobs(tracer, read_event_log(event_log))
    overhead = metrics.end_to_end(passes, 0.0)["query_s"] - untraced_query_s
    result = metrics.per_layer(tracer, by_span, window.id, setup, cores(), overhead)

    spans = tracer.to_json()
    self_by_name: dict[str, float] = {}
    for s in spans:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + s["self_s"]
    path = os.path.join(OUT_DIR, f"trace-{wl.name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "self_s": self_by_name,
                   "spans": spans}, fh)
    workloads.log("self time by span: "
                  + ", ".join(f"{k} {v:.3f}s" for k, v in self_by_name.items()))
    workloads.log(f"spans written to {os.path.relpath(path, ROOT)}")
    return result


def run_all(args) -> int:
    """Every workload in its own process; a table for people, then one JSON
    line whose metric names are prefixed with the workload."""
    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rows = []
    for name in workloads.WORKLOADS:
        res = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True,
        )
        if res.returncode != 0:
            print(f"{name}: exit code {res.returncode}", file=sys.stderr)
            return res.returncode
        r = json.loads(res.stdout.strip().splitlines()[-1])
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        for k, v in r["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
            rows.append(f"{name:<26} {k:<26} {v['value']:>14.4f} {v['unit']}")
        rows.append(f"{name:<26} {'error_rate':<26} "
                    f"{r['failed'] / r['attempted']:>14.4f} failed/attempted")
    print("\n".join(rows))
    print(f"correct: {merged['correct']}")
    print(json.dumps(merged))
    return 0


def main(argv: list[str] | None = None) -> int:
    age = process_age()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: the program is not here; run from the root of a full "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    print(json.dumps(run_workload(args, age)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
