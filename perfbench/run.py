"""Benchmark of record for the served datahub.

    python3 perfbench/run.py --workload {serve,batch} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds its inputs from the seed under
``perfbench/.work`` (removed at exit), measures a closed loop for S
seconds, checks the outputs, prints a readable report and, as the last
stdout line, one JSON object: {correct, attempted, failed, metrics}.
With --trace 0 the metrics are the end-to-end set, with --trace 1 the
per-layer set (see perfbench/README.md)."""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object = None
    counters: object = None
    facts: dict = field(default_factory=dict)


def _prepare_env(work: str) -> int:
    """Environment for the Spark JVM and its Python workers, set before
    pyspark is imported. Everything Spark, the JVM and Python write goes
    under ``work``."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # Spark's Python workers import datahub_spark: without the repo
    # root on their path, mapInPandas paths fail whenever the cwd moves
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM (spark-submit's launcher too) keeps temp and perf data
    # under the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell"])
    return ncpu


def _install_served_counters(counters) -> None:
    """Attribute Spark work to the op a client tagged its request with
    (X-Bench-Op): the job group is set on the serving thread."""
    from datahub_spark.server import UdaServer

    orig = UdaServer._observed

    def observed(self, rq, dispatch):
        op = rq.headers.get("X-Bench-Op")
        if not op:
            return orig(self, rq, dispatch)
        group = counters.begin(op)
        try:
            return orig(self, rq, dispatch)
        finally:
            counters.end(op, group)

    UdaServer._observed = observed


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (self-tests use < 1)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datahub_spark")):
        print("run from the repository root (datahub_spark/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    ncpu = _prepare_env(work)
    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True
    try:
        return _run(args, work, out_dir, ncpu)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str, ncpu: int) -> int:
    from perfbench import report
    from perfbench.harness import RssSampler, Samples, SparkCounters
    from perfbench.trace import Tracer, install

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install(tracer)
    from datahub_spark.session import get_spark

    samples = Samples()
    with RssSampler() as rss:
        t_session = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session
        counters = None
        if args.trace:
            counters = SparkCounters(spark)
            _install_served_counters(counters)
        ctx = Ctx(spark=spark, work=work, seed=args.seed,
                  seconds=args.seconds, tracer=tracer, counters=counters)
        ctx.facts.update({
            "nproc": ncpu, "driver_heap": DRIVER_MEM,
            "loadavg_start": os.getloadavg()[0],
            "spark": spark.version, "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "session_start_s": session_s})
        try:
            if args.workload == "serve":
                from perfbench.serve import run
            else:
                from perfbench.batch import run
            res = run(ctx, samples, args.scale, T_PROCESS)
        finally:
            ctx.facts["loadavg_end"] = os.getloadavg()[0]
            _stop_spark(spark)
    res.peak_rss_mb = rss.peak_mb
    if tracer is not None:
        tracer.uninstall()
        tracer.dump(os.path.join(
            out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
    result = report.build(args, res, samples, ctx)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
