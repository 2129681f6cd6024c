"""Benchmark entry point: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 10 --trace 0

Run it from the repository root. All inputs are generated from
``--seed``; every warehouse, landing, spill and temp directory lives
under ``.perfbench_tmp/`` in the working directory and is removed at
exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced run (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_pipeline", "query_mix")
E2E_METRICS = (("setup_s", "s"), ("op_s.p50", "s"), ("ops_per_s", "1/s"),
               ("peak_rss_mb", "MB"))


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    print(f"wall: {process_age_s():.1f} s from process start to result", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _environment(tmp: str) -> None:
    """Point every temp, spill and local directory into ``tmp`` and size
    the session for this host before the JVM starts."""
    for sub in ("spark-local", "jtmp", "py"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    # both JVMs (spark-submit's launcher and the Spark driver): temp files here,
    # and no hsperfdata file, which HotSpot always puts under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jtmp"
    # the program's default driver heap (24g) exceeds small hosts' RAM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def run(args, tmp: str) -> dict:
    sys.path[:0] = [ROOT, HERE]
    # importing the program first makes a checkout without it fail fast
    import bc_proj3_spark  # noqa: F401

    _environment(tmp)
    import layers
    import workloads as wl
    from spans import Tracer

    from bc_proj3_spark.session import get_spark

    rss = procstat.PeakRss(os.getpid())
    rss.start()
    try:
        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        from bc_proj3_spark import registry

        registry.all_queries(strict=True)
        registry_s = time.perf_counter() - t

        _print_environment(spark, args)
        ctx = wl.Context(spark, args.seed, tmp, None)
        workload = wl.make(args.workload, ctx)
        workload.prepare()
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            layers.instrument(tracer)
            ctx.tracer = tracer
        t_start = time.perf_counter()
        setup_s = process_age_s()
        try:
            while True:
                ctx.latencies += workload.step()
                if time.perf_counter() - t_start >= args.seconds:
                    break
        finally:
            if tracer is not None:
                tracer.restore()
        t_end = time.perf_counter()
        workload.finish()
        print(f"phases: timed {t_end - t_start:.1f} s, end checks {time.perf_counter() - t_end:.1f} s",
              file=sys.stderr)
        peak_mb = rss.stop()
        values = (setup_s, wl.median(ctx.latencies),
                  len(ctx.latencies) / sum(ctx.latencies), peak_mb)
        e2e = {name: (v, unit) for (name, unit), v in zip(E2E_METRICS, values)}
        _report(ctx, e2e, session_s, registry_s, rss)
        if tracer is None:
            metrics = e2e
        else:
            tracer.resolve_jobs()
            metrics = layers.layer_metrics(tracer, ctx, workload, session_s, registry_s)
            _report_trace(metrics, layers.self_times(tracer))
    finally:
        rss.stop()
        stop_spark()
    return {
        "correct": not ctx.failures,
        "attempted": len(ctx.latencies),
        "failed": len(ctx.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def stop_spark() -> None:
    """Stop the session, then the JVM it launched and the JVM's Python
    workers, and wait until each has exited."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = procstat.descendants(proc.pid) if proc is not None else []
    if sc is not None:
        sc.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procstat.wait_gone(tree, timeout=30)


def _print_environment(spark, args) -> None:
    import platform

    jvm = spark.sparkContext._jvm.System
    print(
        f"env: nproc={os.cpu_count()} mem_total_mb={mem_total_mb():.0f} "
        f"driver_heap={os.environ['SPARK_GRAFT_DRIVER_MEM']} "
        f"spark={spark.version} java={jvm.getProperty('java.version')} "
        f"python={platform.python_version()} master={spark.sparkContext.master}"
    )
    print(f"run: workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")


def _report(ctx, e2e, session_s, registry_s, rss) -> None:
    failed, attempted = len(ctx.failures), len(ctx.latencies)
    print(f"check: {'ok' if not ctx.failures else 'FAILED'}  "
          f"fail_ratio={failed / attempted:.4f} ({failed} of {attempted} operations)")
    for op, reasons in ctx.failures.items():
        for reason in reasons:
            print(f"  failed {op}: {reason}")
    for op, seconds in zip(ctx.ops, ctx.latencies):
        print(f"op {op} {seconds:.3f} s")
    for name, (value, unit) in {**e2e, **ctx.figures}.items():
        print(f"metric {name} = {value:.6g} {unit}")
    print(f"setup parts: session.start_s = {session_s:.3f} s, "
          f"registry.import_s = {registry_s:.3f} s")
    print("peak_rss parts (MB): " + ", ".join(
        f"{procstat.name(pid)}[{pid}]={kb / 1024:.0f}" for pid, kb in rss.at_peak.items()))


def _report_trace(metrics, self_times) -> None:
    for name, (value, unit) in metrics.items():
        print(f"layer {name} = {value:.6g} {unit}")
    print(f"tracing overhead: {metrics['trace.overhead_s'][0]:.6f} s per operation "
          "spent in span bookkeeping; end-to-end, compare trace.op_s.p50 with op_s.p50 "
          "of an untraced run of the same seed")
    print("self time by span (total s, self s):")
    for name, total, own in self_times:
        print(f"  {name:32s} {total:10.3f} {own:10.3f}")


if __name__ == "__main__":
    sys.exit(main())
