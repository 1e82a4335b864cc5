"""Per-layer probes for the traced run.

Each probe calls one layer's public functions directly, on the running
workload's own geometries, points and filter texts, so the layer is timed
apart from the Spark jobs around it:

* ``cells``: covering keys of every workload geometry (``geo_udfs.cover_keys``
  over a pandas Series, as the join's cover step calls it) and the number
  of cell ranges a lookup of each geometry's bbox pushes to the scan;
* ``geo_udfs``: the pandas function under each join predicate UDF
  (``.func``), called on a seeded batch of candidate pairs;
* ``cql``: ``cql_to_column`` over the workload's filter texts;
* ``plans``: ``plans.skew.plan_shuffle_join_salt`` over the workload's points,
  with the ``join`` workload's tier and rows-per-task target.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

import gen
from wl_join import SKEW_TARGET_ROWS, SKEW_TIER

N_PAIRS = 10_000
REPS = 3


def _median_time(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _box(x0, y0, x1, y1) -> str:
    return f"POLYGON (({x0!r} {y0!r}, {x1!r} {y0!r}, {x1!r} {y1!r}, {x0!r} {y1!r}, {x0!r} {y0!r}))"


def probe(ctx, wl) -> dict:
    from geowave_spark import cells, geom
    from geowave_spark.functions import cql, geo_udfs
    from geowave_spark.plans import skew

    geoms: list[str] = wl.probe_geometries()
    texts: list[str] = wl.probe_cql()
    ids = wl.probe_ids()
    out: dict[str, float] = {}

    with ctx.rec.span("probe.cells.cover_keys"):
        series = pd.Series(geoms)
        out["cells.cover_s"] = _median_time(lambda: geo_udfs.cover_keys(series))
        out["cells.cover_keys"] = sum(len(k) for k in geo_udfs.cover_keys(series))
    with ctx.rec.span("probe.cells.ranges_for_cover"):
        n_ranges = []
        for w in geoms:
            bbox = geom.geometry_from_wkt(w).bbox
            bbox = (bbox[0], max(bbox[1], -90.0), min(bbox[2], 180.0), min(bbox[3], 90.0))
            tier = cells.tier_for_bbox(bbox, max_dup=64, closed=True)
            n_ranges.append(len(cells.ranges_for_cover(
                cells.cells_for_bbox_at_tier(bbox, tier, closed=True))))
        out["cells.ranges_per_cover"] = sum(n_ranges) / len(n_ranges)

    # seeded candidate pairs: a workload point (or the event box / segment
    # the joins derive from it) against a workload geometry
    rng = gen.rng_for(ctx.seed, "probe")
    pick = rng.choice(ids, N_PAIRS)
    lon, lat = gen.derived_lonlat(pick)
    right = pd.Series(np.asarray(geoms, dtype=object)[rng.integers(0, len(geoms), N_PAIRS)])
    size = rng.uniform(0.1, 2.0, N_PAIRS)
    boxes = pd.Series([_box(a, b, min(a + s, 180.0), min(b + s / 2, 90.0))
                       for a, b, s in zip(lon.tolist(), lat.tolist(), size.tolist())])
    segs = pd.Series([f"LINESTRING ({a!r} {b!r}, {min(a + 3.0, 179.9)!r} {min(b + 1.5, 89.9)!r})"
                      for a, b in zip(lon.tolist(), lat.tolist())])
    kernels = {
        "st_contains_point": lambda: geo_udfs.st_contains_point.func(
            right, pd.Series(lon), pd.Series(lat)),
        "st_within_wkt": lambda: geo_udfs.st_within_wkt.func(boxes, right),
        "st_intersects_wkt": lambda: geo_udfs.st_intersects_wkt.func(segs, right),
    }
    for name, fn in kernels.items():
        with ctx.rec.span(f"probe.geo_udfs.{name}"):
            out[f"geo_udfs.{name}.pairs_per_s"] = N_PAIRS / _median_time(fn)

    with ctx.rec.span("probe.cql.cql_to_column"):
        out["cql.parse_s"] = _median_time(
            lambda: [cql.cql_to_column(t, geometry=("lon", "lat")) for t in texts])

    with ctx.rec.span("probe.plans.skew.plan_shuffle_join_salt"):
        points = wl.probe_points()
        t0 = time.perf_counter()
        out["plans.planned_salt"] = skew.plan_shuffle_join_salt(
            points, tier=SKEW_TIER, target_rows_per_task=SKEW_TARGET_ROWS)
        out["plans.salt_plan_s"] = time.perf_counter() - t0
    return out
