"""Runs one workload: set-up, timed closed loop, checks, metrics."""

from __future__ import annotations

import math
import os
import statistics
import time

import host
import layers
import sparklog
from common import Ctx, timing_summary
from spans import Recorder, TracedRecorder
from wl_join import JoinWorkload
from wl_store import StoreWorkload

WORKLOADS = {"join": JoinWorkload, "store": StoreWorkload}

# the per-layer metrics every workload reports in a traced run.  Figures
# that only some workloads produce (sources.*, per-module build/exec, the
# Python-stage run time, spill) are in the details line instead, so no
# listed metric reads a constant zero on a workload that bypasses it
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "ops.build_s": "s",
    "ops.build_jobs": "count",
    "ops.exec_s": "s",
    "ops.exec_jobs": "count",
    "cells.cover_s": "s",
    "cells.cover_keys": "count",
    "cells.ranges_per_cover": "count",
    "geo_udfs.st_contains_point.pairs_per_s": "1/s",
    "geo_udfs.st_within_wkt.pairs_per_s": "1/s",
    "geo_udfs.st_intersects_wkt.pairs_per_s": "1/s",
    "cql.parse_s": "s",
    "plans.salt_plan_s": "s",
    "plans.planned_salt": "count",
    "spark.jobs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.max_task_s": "s",
    "spark.median_task_s": "s",
    "host.noise_floor_s": "s",
    "trace.overhead_s": "s",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "op_geomean_s": "s",
}


def _start_session(conf: dict, cpus: int):
    from geowave_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus, extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def run(args, run_id: str, run_dir: str, root: str, cpus: int, conf: dict, stop) -> tuple:
    noise = host.noise_floor_s()
    ticks = host.cpu_ticks()
    t_setup = time.perf_counter()
    spark = _start_session(conf, cpus)
    session_s = time.perf_counter() - t_setup
    try:
        ctx = Ctx(spark, root, run_dir, args.seed, Recorder(spark, "warm"))
        ctx.details["setup_phases"] = {"session": session_s}
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        warm_failed = sum(not o.ok for o in ctx.rec.ops)

        ctx.rec = (TracedRecorder if args.trace else Recorder)(spark, run_id)
        t0 = time.perf_counter()
        rounds = 0
        while rounds == 0 or time.perf_counter() - t0 < args.seconds:
            with ctx.rec.span(f"round{rounds}"):
                wl.iteration()
            rounds += 1
        measured_s = time.perf_counter() - t0

        noise_end = host.noise_floor_s()
        probes = layers.probe(ctx, wl) if args.trace else {}
        rss = host.vm_hwm_mb(os.getpid()) + host.vm_hwm_mb(host.driver_jvm_pid(spark))
        fp = host.fingerprint(spark)
    finally:
        stop(spark)

    ops = ctx.rec.ops
    walls = [o.wall_s for o in ops]
    failed = sum(not o.ok for o in ops)
    typical = _kind_medians(ops)
    end_to_end = {
        "setup_s": setup_s,
        "rows_per_s": sum(o.rows_in for o in ops) / sum(typical[_kind(o)] for o in ops),
        "op_geomean_s": math.exp(statistics.fmean(math.log(v) for v in typical.values())),
    }
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": end_to_end, **ctx.details,
        "rounds": rounds, "measured_s": measured_s, "ops": len(ops),
        "warmup_failed": warm_failed,
        "ops_failed_frac": failed / len(ops),
        # peak resident memory of the Python driver plus the driver JVM; the
        # JVM's heap growth follows GC timing, so it is reported, not gated
        "peak_rss_mb": rss,
        "op_latency": timing_summary(walls),
        "host": {**fp, "noise_floor_s": noise, "noise_floor_end_s": noise_end,
                 "steal_share": host.steal_share(ticks, host.cpu_ticks())},
        "named": wl.named_metrics(ops),
        "per_op": _per_op(ops),
    }
    if args.trace:
        metrics = _per_layer(ctx, ops, run_dir, run_id, session_s, noise, probes, details)
        ctx.rec.write(os.path.join(root, ".perfbench", "results",
                                   f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end.items()}
    result = {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return result, details


def _kind(o) -> str:
    return f"{o.name}[{o.kind}]"


def _kind_medians(ops) -> dict[str, float]:
    """Median wall time of each kind of operation in the run.  The end-to-end
    metrics time every operation as the median of its kind, so one stalled
    call (a GC pause, a neighbour on the host) does not move the run."""
    walls: dict[str, list[float]] = {}
    for o in ops:
        walls.setdefault(_kind(o), []).append(o.wall_s)
    return {k: statistics.median(v) for k, v in walls.items()}


def _per_op(ops) -> dict:
    out: dict[str, dict] = {}
    for o in ops:
        d = out.setdefault(_kind(o), {
            "n": 0, "build_s": 0.0, "exec_s": 0.0, "build_jobs": 0, "exec_jobs": 0,
            "rows_out": 0, "failed": 0, "wall_s": []})
        d["n"] += 1
        d["wall_s"].append(o.wall_s)
        d["build_s"] += o.build_s
        d["exec_s"] += o.exec_s
        d["build_jobs"] += o.build_jobs
        d["exec_jobs"] += o.exec_jobs
        d["rows_out"] += o.rows_out
        d["failed"] += not o.ok
    return out


def _per_layer(ctx, ops, run_dir, run_id, session_s, noise, probes, details) -> dict:
    log = sparklog.parse(os.path.join(run_dir, "eventlog"), run_id)
    tot = log["totals"]
    vals = {
        "session.start_s": session_s,
        "ops.build_s": sum(o.build_s for o in ops),
        "ops.build_jobs": sum(o.build_jobs for o in ops),
        "ops.exec_s": sum(o.exec_s for o in ops),
        "ops.exec_jobs": sum(o.exec_jobs for o in ops),
        **probes,
        **{f"spark.{k}": v for k, v in tot.items() if f"spark.{k}" in PER_LAYER_UNITS},
        "host.noise_floor_s": noise,
        "trace.overhead_s": ctx.rec.overhead_s,
    }
    # module-level breakdown and plan-metric ratios go to the details line
    by_module: dict[str, dict] = {}
    for o in ops:
        m = by_module.setdefault(o.module, dict.fromkeys(
            ("build_s", "build_jobs", "exec_s", "exec_jobs", "rows_out"), 0))
        for k in m:
            m[k] += getattr(o, k)
    details["modules"] = by_module
    details["spans_self_s"] = ctx.rec.self_times()
    details["layer_self_s"] = _layer_rollup(details["spans_self_s"])
    details["spark_totals"] = tot
    details["named"].update(_plan_ratios(ops, log["groups"]))
    missing = set(PER_LAYER_UNITS) - set(vals)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": vals[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}


_LAYER_OF = {"spatial_join": "operators", "tiling": "operators",
             "kde": "operators", "indexed": "sources", "maintenance": "sources"}


def _layer_rollup(self_s: dict) -> dict:
    """Self time per layer (``probe.`` spans are the per-layer probes,
    ``round<n>`` the benchmark's own loop)."""
    out: dict[str, float] = {}
    for name, v in self_s.items():
        head = name.removeprefix("probe.").split(".")[0].split("/")[0]
        layer = "benchmark" if head.startswith("round") else _LAYER_OF.get(head, head)
        out[layer] = out.get(layer, 0.0) + v
    return out


def _plan_ratios(ops, groups: dict) -> dict:
    """Ratios from the executed plans' SQL metrics, per operation family:
    key-join output rows per refined join result, and scanned rows per
    returned row of the store lookups."""
    def ratio(sel, key):
        returned = sum(o.rows_out for o in sel)
        return sum(groups.get(o.group, {}).get(key, 0) for o in sel) / returned if returned else None

    out = {}
    joins = [o for o in ops if o.module == "spatial_join"]
    if joins:
        out["spatial_join.candidates_per_result"] = ratio(joins, "join_rows")
    lookups = [o for o in ops if o.module in ("indexed", "maintenance")
               and o.kind in ("lookup", "store_lookup")]
    if lookups:
        out["sources.rows_scanned_per_row_returned"] = ratio(lookups, "rows_scanned")
    return out
