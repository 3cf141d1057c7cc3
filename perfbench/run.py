"""Benchmark entry point: one workload, one process, a closed loop.

    python3 perfbench/run.py --workload pipeline_2k --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The last line of standard output
is one JSON object: correct, attempted, failed and metrics (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). The line
before it holds the detail record: every unit's reading, the set-up
parts and the host-noise record. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
# environment overrides of the package's session defaults
PACKAGE_TUNING = (
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_DRIVER_JAVA_OPTS",
)


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location the package and Spark use into the
    run's own directory, through the environment variables they read."""
    dirs = {name: os.path.join(run_dir, name) for name in ("local", "tmp", "warehouse", "evlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    slots = len(os.sched_getaffinity(0))
    # the run measures the package's own tuning (shuffle partitions,
    # driver heap and GC), whatever the caller's environment sets
    for var in PACKAGE_TUNING:
        os.environ.pop(var, None)
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_GRAFT_LOCAL_DIR": dirs["local"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_WAREHOUSE": dirs["warehouse"],
            "SPARK_GRAFT_CPUS": str(slots),
            "SPARK_GRAFT_MASTER": f"local[{slots}]",
            # no JVM may write outside the run dir: perf data would go to
            # /tmp. Every JVM reads this variable; the package's own driver
            # options still apply.
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


class Context:
    def __init__(self, spark, tracer, run_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.seed = seed

    def release(self) -> int:
        """Free pinned RDDs and cached relations; returns how many RDDs
        stayed pinned afterwards (a leak)."""
        import bench

        bench.release_job_state(self.spark)
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def install_probes(tracer) -> None:
    """Wrap the package's public layer boundaries in spans."""
    from mdmpublic_spark import incremental, metrics, pipeline, tables
    from mdmpublic_spark.plans import runner
    from mdmpublic_spark.queries import er_documents

    tracer.wrap(runner.StageRunner, "run_stage", "stage", lambda self, name, *a, **k: name)
    for op in ("overwrite", "append", "merge_upsert", "delete_where", "read"):
        tracer.wrap(
            tables.Table,
            op,
            "table",
            lambda self, *a, _op=op, **k: f"{_op}:{os.path.basename(self.path)}",
        )
    tracer.wrap(metrics.MetricsSink, "flush", "metrics", lambda self, *a, **k: "metrics.flush")

    for module in (pipeline, incremental, er_documents):
        original = module.connected_components

        def traced_cc(*args, _original=original, **kwargs):
            with tracer.span("connected_components", "cc") as sp:
                out = _original(*args, **kwargs)
                if sp is not None:
                    sp.attrs["rounds"] = out[1]
                return out

        module.connected_components = traced_cc


def run_units(wl, ctx, rss, seconds: float) -> list[dict]:
    """Closed loop, one client: start units until ``seconds`` have passed
    (at least one). Each unit is prepared, checked and cleaned up outside
    its timed window."""
    from perfbench import host

    units: list[dict] = []
    tmp = os.environ["TMPDIR"]
    deadline = time.perf_counter() + seconds
    while not units or time.perf_counter() < deadline:
        i = len(units)
        u = wl.prepare(i)
        tmp_before = set(os.listdir(tmp))
        rec: dict = {"unit": i, "traced": ctx.tracer.enabled}
        try:
            cpu0 = host.tree_cpu_s()
            overhead0 = ctx.tracer.overhead_s
            t0 = time.perf_counter()
            with rss.measure(), ctx.tracer.span(f"{wl.kind}{i}", "unit") as sp:
                summary = wl.run(u)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = host.tree_cpu_s() - cpu0
            rec["trace_overhead_s"] = ctx.tracer.overhead_s - overhead0
            rec["span"] = sp
            rec["summary"] = summary
            rec.update(wl.check(u, summary))
        except Exception:
            rec["ok"] = False
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        rec["pinned_rdds"] = ctx.release()
        shutil.rmtree(u["work_dir"], ignore_errors=True)
        rec["leftover_files"] = sorted(set(os.listdir(tmp)) - tmp_before)
        if rec["pinned_rdds"] or rec["leftover_files"] or os.path.exists(u["work_dir"]):
            rec["ok"] = False
        units.append(rec)
    return units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS_DIR) and not os.listdir(RUNS_DIR):
            os.rmdir(RUNS_DIR)


def run(args, run_dir: str) -> int:
    dirs = isolate(run_dir)
    sys.path.insert(0, ROOT)
    from perfbench import host, ledger, report, workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    from mdmpublic_spark.session import get_spark

    noise = {"alu_before": host.alu_probe(ROOT)}
    cpu_before = host.cpu_times()
    rss = host.PeakRss()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": dirs["evlog"],
                "spark.eventLog.compress": "false",
            }
        )
    try:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        tracer = ledger.Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            install_probes(tracer)
        ctx = Context(spark, tracer, run_dir, args.seed)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup_parts["session.start_s"] = session_s
        wl.setup()
        units = run_units(wl, ctx, rss, args.seconds)
        inc = None
        if args.trace and wl.kind == "pipeline":
            # the incremental layers ride on the traced pipeline run
            inc_wl = workloads.Incremental(ctx)
            inc_wl.setup()
            inc_wl.recompute()
            inc = (inc_wl, run_units(inc_wl, ctx, rss, 0))
        spark.stop()
        events = list(ledger.read_events(dirs["evlog"])) if args.trace else []
    finally:
        rss.close()
        left = host.stop_jvm()
    noise["alu_after"] = host.alu_probe(ROOT)
    noise["steal_share"] = host.steal_share(cpu_before, host.cpu_times())

    all_units = units + (inc[1] if inc else [])
    failed = sum(not u.get("ok") for u in all_units) + bool(left)
    if args.trace:
        metrics, lgs = report.per_layer(wl, tracer, units, inc, events)
        failed += sum(not lg["ok"] for lg in lgs)
    else:
        metrics, lgs = report.end_to_end(wl, units, rss.peak), []
    print(json.dumps({"detail": report.detail(wl, units, inc, lgs, noise, left)}, default=str))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": len(all_units), "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
