"""Benchmark of record for the CDC engine.

    python3 perfbench/run.py --workload replicate --seed 1 --seconds 15 --trace 0

Runs one workload (``replicate`` or ``serve``, see README.md) on inputs
generated from ``--seed``, measures for ``--seconds``, checks the final
state against the generator's truth model, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` spans are recorded
around every layer call and the metrics are the per-layer ones (spans go
to ``perfbench/.out/``). The line before it, ``{"details": ...}``, holds
the effective Spark conf, seed, source digest and offered rates, so two
sides of a comparison can be checked as run identically.

Writes only under ``perfbench/.work`` (deleted at exit) and
``perfbench/.out``."""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "change_data_capture_service_spark"
DRIVER_MEM = "2g"
GEN_LATE_BOUND_S = 1.0  # a generator further behind its schedule fails the run
JVM_EXIT_S = 30.0  # how long the JVM and its workers get to end before they are killed
WORKLOADS = ("replicate", "serve")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, names in os.walk(pkg):
        dirnames.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(dirpath, n)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def _prepare_env(work: str) -> None:
    """Runner hygiene: Python workers import the package from the
    checkout, the driver heap is pinned, and temp files stay in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp  # would override spark.local.dir


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.sql.ui.retainedExecutions": "200",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/ -- run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(BENCH_DIR, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(BENCH_DIR, ".out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    # a terminated run still stops Spark's JVM and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run(args, work, out_dir)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def _stop_jvm() -> None:
    """End Spark's JVM and every process it started, and wait for each.

    ``SparkSession.stop`` leaves the JVM running until its stdin closes,
    which happens only when this interpreter exits; the JVM then takes a
    second or more to end, and its Python workers end after it. So close
    that stdin here and wait, on every path out of the run."""
    from pyspark import SparkContext

    from perfbench import probes

    started = probes.descendants(os.getpid())  # before the JVM ends and its children are re-parented
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=JVM_EXIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.wait_ended(started, JVM_EXIT_S)


def _run(args, work: str, out_dir: str) -> int:
    from change_data_capture_service_spark.session import get_spark

    from perfbench import harness, probes, replicate, report, serve
    from perfbench.tracing import Tracer

    cpus = _cpus()
    with probes.RssSampler() as rss:
        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf=_spark_conf(work),
        )
        session_s = time.perf_counter() - t
        try:
            tracer = Tracer(enabled=bool(args.trace), sc=spark.sparkContext)
            ctx = harness.Ctx(spark, tracer, work, args.seed, args.seconds, bool(args.trace), T_START)
            ctx.layer["session.start_s"] = session_s
            result = {"replicate": replicate.run, "serve": serve.run}[args.workload](ctx)
            ctx.notes["checked_at_s"] = time.perf_counter() - T_START
            if args.trace:
                for k, v in ctx.notes["stages_t1"].items():
                    ctx.layer[f"spark.{k}"] = v - ctx.notes["stages_t0"][k]
            conf = dict(spark.sparkContext.getConf().getAll())
        finally:
            spark.stop()
    ctx.notes["stopped_at_s"] = time.perf_counter() - T_START
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "commit": _commit(),
        "source_digest": _source_digest(),
        # per-run paths and ids masked, so two runs' confs compare equal
        "spark_conf": {
            k: v.replace(work, "<work>")
            for k, v in sorted(conf.items())
            if not k.startswith(("spark.app.", "spark.driver.port"))
        },
    }
    final, details = report.assemble(ctx, result, meta, rss.peak_kb, GEN_LATE_BOUND_S)
    if args.trace:
        path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(path, ctx.notes["t0"])
        details["spans_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
