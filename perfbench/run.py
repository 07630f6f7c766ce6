"""Benchmark entry point.

    python3 perfbench/run.py --workload {format,pipeline} --seed N \\
        --seconds S --trace {0,1}

Runs one workload on ``local[<usable cores>]`` from one process with one
client thread, then prints two JSON lines on stdout: a detail line with the
workload's own named figures, sample counts and failures, and, last, the
result line ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the spans are
written to ``.bench_traces/``. Everything the run writes stays under the
checkout (``.bench_work/`` is removed at exit) and everything it starts is
stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_mem() -> str:
    """An eighth of the machine's memory, between 1 and 4 GiB: the library
    default (16g) does not fit small shared hosts."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    mb = min(max(kb // 1024 // 8, 1024), 4096)
    return f"{mb}m"


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> None:
    """Point every path Spark, its Python workers and the library write to
    into the checkout; must run before the JVM starts."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    # the native FSST build is cached across runs in the build directory
    os.environ["XDG_CACHE_HOME"] = os.path.join(ROOT, ".bench_build", "cache")
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any wait failure: make sure it is gone
            proc.kill()
            proc.wait(timeout=30)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("format", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "btrblocks_spark", "__init__.py")):
        print("perfbench: the btrblocks_spark package is not in this checkout", file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    sys.path.insert(0, ROOT)

    out, sys.stdout = sys.stdout, sys.stderr  # library prints must not reach stdout
    spark = None
    try:
        from btrblocks_spark.session import get_spark
        from perfbench import layers, workloads
        from perfbench.measure import Tracer

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
            ),
        }
        if args.trace:
            # keep every job and stage in the status store for the whole run
            conf.update({"spark.ui.retainedStages": "100000", "spark.ui.retainedJobs": "100000"})
        cpus = _cpus()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        ctx = workloads.Ctx(
            spark=spark, tracer=Tracer(spark, bool(args.trace)), work=work,
            seed=args.seed, seconds=args.seconds, cpus=cpus,
        )
        workloads.WORKLOADS[args.workload](ctx)

        d = ctx.detail
        attempted = len(ctx.samples)
        failed = sum(1 for s in ctx.samples if not s.ok)
        e2e = {
            # CPU seconds from process start: interpreter, JVM and session
            # start, input generation; wall set-up time is on the detail line
            "setup_s": d["setup_cpu_s"],
            "cold_pass_cpu_s": d["cold_pass_cpu_s"],
            "warm_pass_cpu_s": d["warm_pass_cpu_s"],
        }
        wall = {k: d[k] for k in ("cold_pass_s", "warm_pass_s", "op_geomean_ms", "op_cpu_geomean_ms")}
        wall["setup_s"] = d["setup_end"] - t_start
        units = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
        if args.trace:
            timed = sum(s.s for s in ctx.samples)
            metrics = layers.collect(ctx, session_s, timed)
            os.makedirs(os.path.join(ROOT, ".bench_traces"), exist_ok=True)
            trace_path = os.path.join(ROOT, ".bench_traces", f"{args.workload}-{args.seed}.json")
            ctx.tracer.dump(trace_path)
        else:
            metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
            trace_path = None
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "trace": trace_path,
            "failed_frac": failed / max(attempted, 1),
            "warm_passes": d["warm_passes"],
            "trace_overhead_s": ctx.tracer.overhead_s,
            "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
            "wall": {k: round(v, 6) for k, v in wall.items()},
            "named": {k: {"value": v, "unit": u} for k, (v, u) in d.get("named", {}).items()},
            **{k: d[k] for k in ("samples", "oracle_matches") if k in d},
            "errors": ctx.errors[:10],
        }
        result = {"correct": failed == 0 and attempted > 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        sys.stdout = out
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
