"""``store`` workload: the stored layouts as a read path and as a write path.

Lookup mix — planning-bound: 60k seeded points are written once, in set-up,
into the cell-indexed layout; the client then issues seeded lookups against
it: a bbox range lookup, a CQL filter planned into cell ranges, and a KDE
over a looked-up window.  DataFrame construction and its eager jobs
dominate; no refine kernel and no shuffle join runs here.

Store lifecycle — the ``sources`` layer on writes beside reads: each round
writes a maintained-store base, appends a delta, looks up while the delta
is live, compacts, and looks up again.  A layout or pruning change that
speeds lookups but costs writes, compaction or space shows here.

Left out: the hier and S2 layouts and the few-query kNN join, to keep a
run inside its time budget (each adds a cold store write or operator path
to every run's set-up); and the spatio-temporal sub-bin lookup, whose
DataFrame construction took from 0.8 s to 5.3 s depending only on where the
seeded window fell, which no number of runs could make steady.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

import numpy as np

import gen
from common import (Ctx, count_op, duck, fingerprint_op, in_order, run_concurrently,
                    timing_summary, verify_sf)

N_EVENTS = 60_000
N_FILES = 8
LOOKUP_KINDS = ("range", "cql", "kde")
WINDOWS_PER_KIND = 3  # lookups of each kind per round, each on its own window
N_PLANNED_ROUNDS = 2  # windows are planned for this many rounds; later rounds reuse them
KDE_LEVEL = 6
# lifecycle: base run, one delta run, then compaction
LIFE_BASE = 40_000
LIFE_APPEND = 20_000


def _dir_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


class StoreWorkload:
    name = "store"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.round = 0
        self.life: list[dict] = []
        self.life_i = 0

    # -- inputs -------------------------------------------------------------
    def _points(self) -> None:
        ids = gen.event_ids(N_EVENTS, self.ctx.seed)
        tbl = gen.events_table(ids, self.ctx.seed)
        self.dir = self.ctx.path("data")
        os.makedirs(self.dir, exist_ok=True)
        gen.write_table(tbl, f"{self.dir}/events.parquet")
        self.ids = ids
        self.lon, self.lat = gen.derived_lonlat(ids)
        self.value = tbl.column("value").to_numpy()
        self.etype = np.asarray(tbl.column("event_type").to_pylist(), dtype=object)

    def _in_box(self, b, n: int | None = None) -> np.ndarray:
        lon, lat = self.lon[:n], self.lat[:n]
        return (lon >= b[0]) & (lon <= b[2]) & (lat >= b[1]) & (lat <= b[3])

    def _plan_lookups(self, stream: str, n: int) -> list[tuple[str, dict]]:
        """``n`` seeded lookups, kinds in turn, with their expected answers:
        numpy brute-force counts, or the DuckDB KDE oracle's fingerprint."""
        from geowave_spark import entry_queries as eq

        seed = self.ctx.seed
        rng = gen.rng_for(seed, f"lookups:{stream}")
        vs = verify_sf()
        con = duck(self.ctx.run_dir, {"base": f"{self.dir}/events.parquet"})
        plan = []
        try:
            for i, b in enumerate(gen.bboxes(seed, stream, n)):
                kind = LOOKUP_KINDS[i % len(LOOKUP_KINDS)]
                arg: dict = {"bbox": b}
                if kind == "range":
                    arg["expect"] = int(self._in_box(b).sum())
                elif kind == "cql":
                    v0 = int(rng.integers(0, 200))
                    v1 = v0 + int(rng.integers(50, 300))
                    arg["text"] = (f"BBOX(geom, {b[0]!r}, {b[1]!r}, {b[2]!r}, {b[3]!r}) "
                                   f"AND value BETWEEN {v0} AND {v1} "
                                   "AND event_type IN ('click', 'view')")
                    arg["expect"] = int(np.sum(
                        self._in_box(b) & (self.value >= v0) & (self.value <= v1)
                        & np.isin(self.etype, ["click", "view"])))
                else:  # the KDE oracle over the events inside the window
                    inside = ", ".join(map(str, self.ids[self._in_box(b)].tolist())) or "-1"
                    con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM base "
                                f"WHERE event_id IN ({inside})")
                    arg["expect"] = vs.duck_fingerprint(con, eq._oracle_kde(KDE_LEVEL))
                plan.append((kind, arg))
        finally:
            con.close()
        return plan

    def setup(self) -> None:
        """Points, the lookup plan with its answers, the indexed store,
        then a warm-up: one lookup of each kind on other windows and one
        lifecycle round on a small store."""
        from geowave_spark import entry_queries as eq
        from geowave_spark.sources import indexed

        ctx = self.ctx
        with ctx.phase("inputs"):
            self._points()
        spark, d = ctx.spark, self.dir
        ev = eq._events(spark, d)
        self.paths = {"indexed": ctx.path("stores", "indexed")}
        per_round = len(LOOKUP_KINDS) * WINDOWS_PER_KIND
        with ctx.phase("oracles"):
            self.lookups = self._plan_lookups("lookup", per_round * N_PLANNED_ROUNDS)
            warm = dict(self._plan_lookups("warm", len(LOOKUP_KINDS)))
        self.life_boxes = gen.bboxes(ctx.seed, "lifecycle", 64)
        # the store's warm-up lookups follow its write; a warm-up lifecycle
        # round on a small store runs beside them
        with ctx.phase("stores_and_warmup"):
            run_concurrently([
                partial(in_order, [
                    partial(indexed.write_indexed, ev, self.paths["indexed"],
                            n_files=N_FILES, phash_col=None),
                    *[partial(self._lookup, k, warm[k]) for k in LOOKUP_KINDS]]),
                partial(self._lifecycle, base=2_000, append=1_000, tag="warm"),
            ])
        self.life = []
        self.life_i = 0

    # -- operations ---------------------------------------------------------
    def _lookup(self, kind: str, arg: dict) -> None:
        from geowave_spark.operators import kde
        from geowave_spark.sources import indexed

        ctx, spark, p, b = self.ctx, self.ctx.spark, self.paths, arg["bbox"]
        n = N_EVENTS
        if kind == "range":
            count_op(ctx, "indexed.range_lookup_indexed", "lookup", n,
                     lambda: indexed.range_lookup_indexed(spark, p["indexed"], b), arg["expect"])
        elif kind == "cql":
            count_op(ctx, "indexed.cql_query_indexed", "lookup", n,
                     lambda: indexed.cql_query_indexed(spark, p["indexed"], arg["text"]),
                     arg["expect"])
        else:
            fingerprint_op(
                ctx, "kde.kde_exact", "lookup", n,
                lambda: kde.kde_exact(indexed.range_lookup_indexed(spark, p["indexed"], b),
                                      level=KDE_LEVEL),
                arg["expect"])

    def _lifecycle(self, base: int, append: int, tag: str = "") -> None:
        """write_store -> append_store -> lookup -> compact_store -> lookup,
        each lookup checked against the rows written so far."""
        from geowave_spark import entry_queries as eq
        from geowave_spark.sources import maintenance

        ctx, spark = self.ctx, self.ctx.spark
        root = ctx.path("lifecycle", f"r{self.round}{tag}")
        ev = eq._events(spark, self.dir)
        cut_base, cut_end = int(self.ids[base - 1]) + 1, int(self.ids[base + append - 1]) + 1
        rows = base + append
        rec: dict = {"rows": rows, "live_runs": []}

        def write(name, kind, n, fn, run_dir):
            with ctx.rec.op(f"maintenance.{name}", kind, n) as ph:
                ph.built()
                fn()
            ph.op.rows_out = n
            rec[f"{kind}_bytes"], rec[f"{kind}_files"] = _dir_bytes(os.path.join(root, run_dir))

        def lookup() -> None:
            b = self.life_boxes[self.life_i % len(self.life_boxes)]
            self.life_i += 1
            rec["live_runs"].append(len(maintenance.live_runs(root)))
            count_op(ctx, "maintenance.lookup_store", "store_lookup", rows,
                     lambda: maintenance.lookup_store(spark, root, b),
                     int(self._in_box(b, rows).sum()))

        def live_bytes_per_row() -> float:
            return sum(_dir_bytes(os.path.join(root, r))[0]
                       for r in maintenance.live_runs(root)) / rows

        write("write_store", "write", base,
              lambda: maintenance.write_store(ev.filter(ev.event_id < cut_base), root,
                                              n_files=N_FILES, phash_col=None), "base_g0")
        write("append_store", "append", append,
              lambda: maintenance.append_store(
                  ev.filter((ev.event_id >= cut_base) & (ev.event_id < cut_end)), root,
                  n_files=N_FILES // 2), "delta_00000")
        lookup()
        rec["bytes_per_row_live_deltas"] = live_bytes_per_row()
        write("compact_store", "compact", rows,
              lambda: maintenance.compact_store(spark, root, n_files=N_FILES), "base_g1")
        maintenance.vacuum_store(root)
        lookup()
        rec["bytes_per_row"] = live_bytes_per_row()
        self.life.append(rec)
        shutil.rmtree(root, ignore_errors=True)

    def iteration(self) -> None:
        per_round = len(LOOKUP_KINDS) * WINDOWS_PER_KIND
        start = (self.round % N_PLANNED_ROUNDS) * per_round
        for kind, arg in self.lookups[start:start + per_round]:
            self._lookup(kind, arg)
        self._lifecycle(base=LIFE_BASE, append=LIFE_APPEND)
        self.round += 1

    # -- figures named by workload ------------------------------------------
    def named_metrics(self, ops) -> dict:
        mix = [o for o in ops if o.kind == "lookup"]
        store_lookups = [o.wall_s for o in ops if o.kind == "store_lookup"]
        ingest = [o for o in ops if o.kind in ("write", "append")]
        compact = sorted(o.wall_s for o in ops if o.kind == "compact")
        source_lookups = [o for o in ops if o.kind in ("lookup", "store_lookup")
                          and o.module in ("indexed", "maintenance")]
        life = self.life

        def total(key):
            return sum(r[key] for r in life)

        s = timing_summary([o.wall_s for o in mix])
        return {
            "lookup.build_s": sum(o.build_s for o in mix),
            "lookup.exec_s": sum(o.exec_s for o in mix),
            "lookup_n": s["n"],
            **{f"lookup_{k}": v for k, v in s.items() if k != "n"},
            "store_lookup_p50_s": timing_summary(store_lookups)["p50_s"],
            "store_lookup_n": len(store_lookups),
            "ingest_rows_per_s": sum(o.rows_in for o in ingest) / sum(o.wall_s for o in ingest),
            "compact_s": compact[len(compact) // 2],
            "store_bytes_per_row": life[-1]["bytes_per_row"],
            "store_bytes_per_row_live_deltas": life[-1]["bytes_per_row_live_deltas"],
            "sources.write_s": sum(o.wall_s for o in ops if o.kind == "write"),
            "sources.append_s": sum(o.wall_s for o in ops if o.kind == "append"),
            "sources.bytes_written": total("write_bytes") + total("append_bytes"),
            "sources.files_written": total("write_files") + total("append_files"),
            "sources.live_runs": sum(sum(r["live_runs"]) for r in life)
            / sum(len(r["live_runs"]) for r in life),
            "sources.compact_s": sum(compact),
            "sources.bytes_rewritten": total("compact_bytes"),
            "sources.lookup_build_s": sum(o.build_s for o in source_lookups),
            "sources.lookup_build_jobs": sum(o.build_jobs for o in source_lookups),
            "sources.lookup_exec_s": sum(o.exec_s for o in source_lookups),
        }

    # -- inputs of the per-layer probes ----------------------------------------
    def probe_geometries(self) -> list[str]:
        from geowave_spark.geom import box_wkt

        return [box_wkt(*arg["bbox"]) for _, arg in self.lookups]

    def probe_cql(self) -> list[str]:
        return [arg["text"] for kind, arg in self.lookups if kind == "cql"]

    def probe_ids(self) -> np.ndarray:
        return self.ids

    def probe_points(self):
        return self.ctx.spark.read.parquet(self.paths["indexed"])
