"""Benchmark entry point.

    python3 perfbench/run.py --workload <join|store> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, sets up (session, inputs,
oracle answers, stores, warm-up), runs the workload's operations in a
closed loop with one client for at least ``--seconds``, checks every
output, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` they are the
per-layer metrics, taken from spans around the benchmark's calls into the
engine and from a Spark event log written by that run only.  A line
before it carries the details: host fingerprint, noise floor, per-
operation figures and the workload's own named metrics.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4  # inputs are sized for a 4-core host


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run (and the JVM it starts) writes inside the
    checkout, and let Python workers import the engine."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")


def _session_conf(run_dir: str, traced: bool) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}")
    # the engine is the program under test: without it there is nothing to run
    sys.path.insert(0, ROOT)
    import geowave_spark  # noqa: F401

    run_id = f"pb{os.getpid()}s{args.seed}"
    run_dir = os.path.join(ROOT, ".perfbench", "runs", run_id)
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(run_dir)
    try:
        result, details = workloads.run(args, run_id, run_dir, ROOT, CPUS,
                                        _session_conf(run_dir, bool(args.trace)), _stop)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"result": result, "details": details}, f, indent=1, default=str)
    print(json.dumps({"details": details}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
