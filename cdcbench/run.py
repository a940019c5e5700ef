"""CDC engine benchmark: ``backfill`` and ``consume`` workloads.

Run from the repository root:

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``setup_s``, ``wall_s``, ``p50_s``, ``table_mb``); with
``--trace 1`` a separate run reports the per-layer metrics read from
harness spans and Spark's event log. The line before it records the run
context (source digest, commit, seed, sizes, cores, Spark version).

The launch is fitted to the host from here alone: ``local[nproc]``, a
driver heap below physical RAM, and every scratch directory (Spark local
dirs, JVM and Python temp dirs, event log) inside ``.cdcbench/`` under
the repository root, which also holds the binlog input cache.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".cdcbench")


def _source_digest() -> str:
    """sha256 over the engine's source files: identifies the code measured
    even where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "fao_elt_pipelines_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref_file = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(ref_file):
        with open(ref_file) as f:
            return f.read().strip()
    return None


def _cpu_ticks() -> list[int] | None:
    """Aggregate CPU tick counters of the host (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return None


def _steal_share(t0: list[int] | None, t1: list[int] | None) -> float | None:
    """Share of CPU ticks stolen by the hypervisor between two readings:
    the usual cause of run-to-run drift on a shared virtual machine."""
    if t0 is None or t1 is None or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else None


def _launch_env(run_dir: str, cores: int) -> None:
    """Process env read by the JVM launcher; must be set before Spark starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_DRIVER_MEM"] = f"{min(4096, phys_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backfill", "consume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")

    cores = len(os.sched_getaffinity(0))
    ticks0 = _cpu_ticks()
    run_dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _launch_env(run_dir, cores)
        sys.path.insert(0, ROOT)
        # the engine and pyspark import only after the launch env is set
        from fao_elt_pipelines_spark.session import get_spark

        from cdcbench import trace
        from cdcbench.workloads import WORKLOADS, Run

        log_dir = os.path.join(run_dir, "eventlog")
        conf = {"spark.ui.showConsoleProgress": "false"}
        if args.trace:
            conf.update(trace.event_log_conf(log_dir))
        spark = get_spark("cdcbench", cores=cores, extra_conf=conf)
        try:
            jvm_s = time.perf_counter() - T_START
            run = Run(
                spark=spark, tracer=trace.Tracer(spark.sparkContext, bool(args.trace)),
                work=run_dir, cache=os.path.join(WORK_ROOT, "cache"),
                seed=args.seed, seconds=args.seconds, cores=cores,
            )
            os.makedirs(run.cache, exist_ok=True)
            run.setup["setup.jvm_s"] = jvm_s
            WORKLOADS[args.workload](run)
            spark_version = spark.version
        finally:
            _stop(spark)
        setup_s = sum(run.setup.values())
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (run.metrics["wall_s"], "s"),
            "p50_s": (run.metrics["p50_s"], "s"),
            "table_mb": (run.metrics["table_mb"], "MB"),
        }
        if args.trace:
            from cdcbench.layers import layer_metrics

            metrics = layer_metrics(run.tracer.spans, trace.read_jobs(log_dir), run, e2e)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": _git_commit(), "source_sha256": _source_digest(),
        "nproc": cores, "spark": spark_version, "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "steal_share": _steal_share(ticks0, _cpu_ticks()),
        "info": run.info, "setup": run.setup,
        "binlog_generate_s": run.layer.get("binlog.generate_s"),
    }))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
