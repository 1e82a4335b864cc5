"""Shared pieces of the workloads: run context, checked operations, oracles."""

from __future__ import annotations

import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Recorder


@dataclass
class Ctx:
    spark: object
    root: str  # checkout root (holds geowave_spark/ and scripts/)
    run_dir: str  # per-run directory owned by the benchmark, removed at exit
    seed: int
    rec: Recorder
    details: dict = field(default_factory=dict)

    @contextmanager
    def phase(self, name: str):
        """Time one set-up phase into ``details["setup_phases"]``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            phases = self.details.setdefault("setup_phases", {})
            phases[name] = phases.get(name, 0.0) + time.perf_counter() - t0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.run_dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def verify_sf():
    """The repo's distributed (count, 60-bit fingerprint) helpers."""
    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import verify_sf as vs

    return vs


def duck(run_dir: str, views: dict[str, str]):
    """In-memory DuckDB with one view per parquet file, spilling (if ever)
    only inside the run directory."""
    import duckdb

    con = duckdb.connect()
    tmp = os.path.join(run_dir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _checked_op(ctx: Ctx, name: str, kind: str, rows_in: int, build, action, expect) -> None:
    """Build a DataFrame, time its action, then compare the answer with the
    expected one after the timer has stopped."""
    with ctx.rec.op(name, kind, rows_in) as ph:
        df = build()
        ph.built()
        got = action(df)
    ph.op.rows_out = got[0] if isinstance(got, tuple) else got
    ph.op.ok = got == expect
    if not ph.op.ok:
        print(f"CHECK FAILED {name}/{kind}: got {got}, expected {expect}", file=sys.stderr)


def fingerprint_op(ctx: Ctx, name: str, kind: str, rows_in: int, build, expect) -> None:
    """The action is the distributed (count, 60-bit fingerprint) pair,
    compared with the DuckDB oracle's."""
    _checked_op(ctx, name, kind, rows_in, build, verify_sf().spark_fingerprint, expect)


def count_op(ctx: Ctx, name: str, kind: str, rows_in: int, build, expect: int) -> None:
    """The action is a count, compared with a numpy brute-force count."""
    _checked_op(ctx, name, kind, rows_in, build, lambda df: df.count(), expect)


def run_concurrently(calls: list) -> None:
    """Run warm-up calls from several driver threads at once: most of a
    cold call is driver-side (JIT, codegen, Python worker start-up), which
    overlaps across threads.  Timed rounds never use this."""
    with ThreadPoolExecutor(len(calls)) as ex:
        for f in [ex.submit(c) for c in calls]:
            f.result()


def in_order(calls: list) -> None:
    for c in calls:
        c()


def percentile(values: list[float], q: float) -> float:
    """Inclusive-method quantile (``q`` in (0, 1))."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[round(q * 100) - 1]


def timing_summary(values: list[float]) -> dict:
    """Sample count, median, and the higher of p90 / p75 that has at least
    ten samples beyond it (neither, below 40 samples)."""
    n = len(values)
    out = {"n": n, "p50_s": percentile(values, 0.5) if values else None}
    for q in (0.9, 0.75):
        if n * (1 - q) >= 10:
            out[f"p{round(q * 100)}_s"] = percentile(values, q)
            break
    return out
