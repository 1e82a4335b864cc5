"""``join`` workload: the spatial-join family back to back, plus the forced
shuffle join on a skewed input, unsalted and then salted.

One round runs, in order: the tiered point-in-polygon join with broadcast
polygons, the ``within`` geometry join (box extents against boxes, a
polygon with a hole and a multipolygon), level-8 tile counts, and the
skewed shuffle join without and with the planned salt.
Execution-bound: the cover, the packed-key equi-join, the Arrow boundary
and the refine kernels do most of the work.  The skewed join forces the
exchange path (``broadcast_polygons=False``), so AQE skew splitting and
``plans.skew.plan_shuffle_join_salt`` are measured too; the broadcast
joins never reach them.  To keep a run inside its time budget, the
``dwithin`` point join and the LINESTRING ``intersects`` geometry join are
left out (they share their code paths with the point-in-polygon and
``within`` joins), and the kNN join runs in the ``store`` workload only.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import Ctx, duck, fingerprint_op, run_concurrently, verify_sf

N_EVENTS = 40_000
# skewed shuffle join: half of the points in one ~0.04 degree box, joined
# against a polygon side the join is told not to broadcast
N_SKEW_UNIFORM = 30_000
N_SKEW_HOT = 30_000
N_SKEW_POLYS = 6_000
N_HOT_POLYS = 8
SKEW_TIER = 10
SKEW_TARGET_ROWS = 4_000

WARM_EVENTS = 2_000
BROADCAST_KINDS = {"pip", "within", "tiles"}


def _skew_inputs(seed: int, n_uni: int, n_hot: int, n_polys: int) -> tuple[pa.Table, pa.Table]:
    rng = gen.rng_for(seed, "skew")
    uni = pa.table({
        "event_id": pa.array(np.arange(10_000_000, 10_000_000 + n_uni), pa.int64()),
        "lon": pa.array(np.round(rng.uniform(-180.0, 180.0, n_uni), 4), pa.float64()),
        "lat": pa.array(np.round(rng.uniform(-90.0, 90.0, n_uni), 4), pa.float64()),
    })
    pts = pa.concat_tables([uni, gen.hot_points(n_hot, seed, 50_000_000)])
    side = 0.05
    x0 = np.round(rng.uniform(-180.0, 180.0 - side, n_polys), 4)
    y0 = np.round(rng.uniform(-90.0, 90.0 - side, n_polys), 4)
    # polygons overlapping the hot box: its cell key survives the equi-join,
    # so unsalted its half of all points lands on one task
    k = np.arange(N_HOT_POLYS)
    x0 = np.concatenate([x0, np.round(10.0 + (k % 4) * 0.004, 4)])
    y0 = np.concatenate([y0, np.round(10.0 + (k // 4 % 2) * 0.004, 4)])
    x1, y1 = np.round(x0 + side, 4), np.round(y0 + side, 4)
    polys = pa.table({
        "polygon_id": [f"sp{i}" for i in range(x0.size)],
        "wkt": [
            f"POLYGON (({a!r} {b!r}, {c!r} {b!r}, {c!r} {d!r}, {a!r} {d!r}, {a!r} {b!r}))"
            for a, b, c, d in zip(x0.tolist(), y0.tolist(), x1.tolist(), y1.tolist())
        ],
        "x0": x0, "y0": y0, "x1": x1, "y1": y1,
    })
    return pts, polys


_SKEW_ORACLE = (
    "SELECT e.event_id, p.polygon_id FROM pts e JOIN polys p ON "
    "e.lon >= p.x0 AND e.lon <= p.x1 AND e.lat >= p.y0 AND e.lat <= p.y1"
)


class JoinWorkload:
    name = "join"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inp: dict = {}
        self.planned_salt = 0

    # -- inputs -------------------------------------------------------------
    def _inputs(self, tag: str, seed: int, n_events: int, n_uni: int, n_hot: int,
                n_polys: int) -> dict:
        d = self.ctx.path(tag)
        os.makedirs(d, exist_ok=True)
        ids = gen.event_ids(n_events, seed)
        gen.write_table(gen.events_table(ids, seed), f"{d}/events.parquet")
        pts, polys = _skew_inputs(seed, n_uni, n_hot, n_polys)
        gen.write_table(pts, f"{d}/skew_points.parquet")
        gen.write_table(polys, f"{d}/skew_polygons.parquet")
        return {"dir": d, "n_events": n_events, "n_skew": n_uni + n_hot,
                "expect": self._oracles(d)}

    def _oracles(self, d: str) -> dict[str, tuple[int, int]]:
        from geowave_spark import entry_queries as eq

        vs = verify_sf()
        con = duck(self.ctx.run_dir, {
            "events": f"{d}/events.parquet",
            "pts": f"{d}/skew_points.parquet",
            "polys": f"{d}/skew_polygons.parquet",
        })
        try:
            return {
                "pip": vs.duck_fingerprint(con, eq._oracle_pip_join()),
                "within": vs.duck_fingerprint(con, eq._oracle_poly_within()),
                "tiles": vs.duck_fingerprint(con, eq._oracle_tile_counts(8)),
                "skew": vs.duck_fingerprint(con, _SKEW_ORACLE),
            }
        finally:
            con.close()

    def setup(self) -> None:
        """Inputs, oracle answers, then a warm-up round on small inputs of
        the same shape, so JIT, codegen and Python worker start-up are paid
        here and not by the first timed operation."""
        with self.ctx.phase("inputs_oracles"):
            self.inp = self._inputs("warm", self.ctx.seed + 1, WARM_EVENTS, 2_000, 2_000, 400)
        with self.ctx.phase("warmup"):
            run_concurrently(self.ops())
        with self.ctx.phase("inputs_oracles"):
            self.inp = self._inputs("data", self.ctx.seed, N_EVENTS, N_SKEW_UNIFORM, N_SKEW_HOT,
                                    N_SKEW_POLYS)

    # -- one round of operations -------------------------------------------
    def iteration(self) -> None:
        for op in self.ops():
            op()

    def ops(self) -> list:
        """The round's checked operations, in order, as zero-argument calls."""
        from pyspark.sql import functions as F

        from geowave_spark import entry_queries as eq
        from geowave_spark.operators import spatial_join, tiling
        from geowave_spark.plans import skew

        ctx, spark, inp = self.ctx, self.ctx.spark, self.inp
        d, n = inp["dir"], inp["n_events"]

        def pip():
            return spatial_join.tiered_spatial_join(
                eq._events(spark, d), eq._poly_df(spark, eq.PIP_POLYGONS), point_id="event_id")

        def within():
            polys = spark.createDataFrame(eq.GEOM_POLYGONS, ["polygon_id", "wkt"])
            return spatial_join.geometry_join(
                eq._event_box_wkt_df(spark, d), polys, predicate="within",
                left_id="event_id", right_id="polygon_id",
                left_bbox_cols=("bx0", "by0", "bx1", "by1"), left_is_box=True)

        def tiles():
            return tiling.tile_counts(eq._events(spark, d), [8], point_id="event_id").select(
                F.col("level").cast("long").alias("level"), "tile_x", "tile_y", "n_images")

        def skew_points():
            return spark.read.parquet(f"{d}/skew_points.parquet")

        def skew_polys():
            return spark.read.parquet(f"{d}/skew_polygons.parquet").select("polygon_id", "wkt")

        def unsalted():
            return spatial_join.tiered_spatial_join(
                skew_points(), skew_polys(), point_id="event_id", broadcast_polygons=False)

        def salted():
            with ctx.rec.span("plans.skew.plan_shuffle_join_salt"):
                salt = skew.plan_shuffle_join_salt(
                    skew_points(), tier=SKEW_TIER, target_rows_per_task=SKEW_TARGET_ROWS)
            self.planned_salt = salt
            return spatial_join.tiered_spatial_join(
                skew_points(), skew_polys(), point_id="event_id", broadcast_polygons=False,
                salt=salt)

        e, ns = inp["expect"], inp["n_skew"]
        return [partial(fingerprint_op, ctx, *a) for a in (
            ("spatial_join.tiered_spatial_join", "pip", n, pip, e["pip"]),
            ("spatial_join.geometry_join", "within", n, within, e["within"]),
            ("tiling.tile_counts", "tiles", n, tiles, e["tiles"]),
            ("spatial_join.tiered_spatial_join", "shuffle_unsalted", ns, unsalted, e["skew"]),
            ("spatial_join.tiered_spatial_join", "shuffle_salted", ns, salted, e["skew"]),
        )]

    # -- figures named by workload ------------------------------------------
    def named_metrics(self, ops) -> dict:
        def rate(kinds):
            sel = [o for o in ops if o.kind in kinds]
            return sum(o.rows_in for o in sel) / sum(o.wall_s for o in sel)

        return {
            "join_rows_per_s": rate(BROADCAST_KINDS),
            "shuffle_join_rows_per_s": rate({"shuffle_salted"}),
            "unsalted_shuffle_join_rows_per_s": rate({"shuffle_unsalted"}),
            "planned_salt": self.planned_salt,
        }

    # -- inputs of the per-layer probes ----------------------------------------
    def probe_geometries(self) -> list[str]:
        from geowave_spark import entry_queries as eq
        from geowave_spark.geom import box_wkt

        polys = pq.read_table(f"{self.inp['dir']}/skew_polygons.parquet",
                              columns=["wkt"]).column("wkt").to_pylist()
        return ([box_wkt(x0, y0, x1, y1) for _, x0, y0, x1, y1 in eq.PIP_POLYGONS]
                + [w for _, w in eq.GEOM_POLYGONS]
                + [w for _, w in eq._tracks_df(self.ctx.spark).collect()]
                + polys[:: max(1, len(polys) // 200)])

    def probe_cql(self) -> list[str]:
        from geowave_spark import entry_queries as eq

        return ([f"INTERSECTS(geom, {w})" for _, w in eq.GEOM_POLYGONS]
                + [f"WITHIN(geom, {w})" for _, w in eq.GEOM_POLYGONS])

    def probe_ids(self) -> np.ndarray:
        return gen.event_ids(self.inp["n_events"], self.ctx.seed)

    def probe_points(self):
        return self.ctx.spark.read.parquet(f"{self.inp['dir']}/skew_points.parquet")
