"""Tiered spatial joins — the engine's flagship operators.

Spark-first re-expression of the reference's TieredSpatialJoin
(analytics/spark/.../spatial/TieredSpatialJoin.java:75-377).  The reference
runs a driver-side loop over tiers with per-tier cogroups and RDD unions;
every join here is ONE Catalyst plan.

Point joins (`tiered_spatial_join`):

    polygons --driver-side numpy cover (broadcast path) OR the pipeline's
              Column-side own-tier cells (shuffle path)--> packed keys
    points   --Column bit math--> packed key per polygon tier  (JVM side)
             --explode over the tier list (typically 1-5 tiers)
    equi-join on the single long key   (broadcast if small, else forced
                                        sort-merge with AQE skew + salting)
    exact predicate refine (Arrow pandas UDF, or pure SQL for boxes)

Extent and geometry joins (`tiered_extent_join`(`_shuffle`),
`geometry_join`(`_shuffle`)) are four short calls into ONE pipeline:

    left keys    envelope (bbox columns or one Arrow st_bbox pass) → span
                 tier → cells at its own tier and at every coarser partner
                 tier (`_extent_multitier_keys`, pure Column math)
    right cells  broadcast: one driver-side cover (`_cover_rows`: own-tier
                 cover + truncation to every coarser tier);
                 shuffled: the same Column-side keys as the left
    seam split   shuffled envelopes reaching past the antimeridian split
                 into their in-range images (`_seam_split`); the tier set
                 and "any split" come from one aggregate (`_discover`)
    candidates   packed-key equi-join → meet-tier filter → JVM bbox
                 prefilter → necessary-envelope filter → PBSM
                 reference-point witness (`_candidates`)
    refine       bbox-only, box×box interval algebra, or pairwise WKT

The cover step is where per-cell replication control would plug in.

Semantics preserved (verified against the brute-force oracle, the same test
design as GeoWaveSparkSpatialJoinIT.java:227-254):
* match set identical to nested-loop predicate evaluation;
* `intersects` default predicate (SpatialQueryFilter), boundary inclusive;
* distance join buffers the polygon side's bbox by r before covering
  (TieredSpatialJoin.java:142-165) and refines with planar distance <= r
  (GeomWithinDistance.java:43-45);
* negative predicate → anti join (TieredSpatialJoin.java:357-363);
* output joined back to the base tables as semi/anti
  (TieredSpatialJoin.java:364-373);
* each pair is emitted once: by construction (points meet a polygon in one
  cell), by the PBSM witness, or by a dedup on the small refined output.

Scale design (100 TB point side):
* point-side key generation is pure Column arithmetic — whole-stage codegen,
  zero Python;
* only columns needed are read (Parquet/Iceberg column pruning: image_id +
  phash — the multi-KB `bytes` column is never scanned);
* the polygon side is broadcast when under the broadcast threshold — no
  shuffle of the big side at all;
* when the polygon side is too big to broadcast, both sides shuffle on the
  packed key; AQE skew-join splits hot cells, and an optional salt factor
  replicates polygon cells to break extreme skew (world polygons);
* tier lists come from tiny aggregates, mirroring the reference's
  tier-discovery pre-pass (TieredSpatialJoin.java:173-207) — a point
  join's point side is never scanned for it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cells, sqlcells
from ..functions import geo_udfs

# broadcast the polygon side when it has at most this many rows (each
# polygon explodes to <= 80 covering cells; 100k x ~100B cells ~ 1GB upper
# bound, comfortably under executor broadcast budgets at default configs)
BROADCAST_MAX_POLYGONS = 100_000
# ...and at most this many total WKT bytes (WKT is broadcast ONCE per
# polygon, never per covering cell, so this is the actual payload bound)
BROADCAST_MAX_WKT_BYTES = 256 << 20


def probe_broadcastable(geoms: DataFrame, wkt_col: str = "wkt") -> bool:
    """Build-side probe (JoinOptions.BuildSide analog), shared by every
    geometry join: broadcast only when the side is provably small by BOTH
    row count and total WKT bytes — probed with a limit so huge tables
    never fully count/sum here."""
    probe = (
        geoms.limit(BROADCAST_MAX_POLYGONS + 1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length(F.col(wkt_col))).alias("b"),
        )
        .collect()[0]
    )
    return (
        probe["n"] <= BROADCAST_MAX_POLYGONS
        and (probe["b"] or 0) <= BROADCAST_MAX_WKT_BYTES
    )


def add_point_cols(
    df: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    phash_col: str | None = "phash",
    bounds=None,
) -> DataFrame:
    """Ensure lon/lat columns exist (derived from phash if absent) and add
    the finest-tier Morton cell — all JVM-side."""
    if lon_col not in df.columns:
        df = df.withColumn(lon_col, sqlcells.lon_from_phash(F.col(phash_col))).withColumn(
            lat_col, sqlcells.lat_from_phash(F.col(phash_col))
        )
    return sqlcells.add_cell_column(
        df, lon_col, lat_col, cells.MAX_TIER, "_cell31", bounds=bounds
    )


def _point_keys_expr(tiers: list[int]) -> Column:
    """array of packed keys of the point's cell at each polygon tier."""
    return F.array(
        *[
            F.lit(int(cells.TIER_OFFSETS[t]))
            + sqlcells.cell_at_tier_expr(F.col("_cell31"), t)
            for t in sorted(tiers)
        ]
    )


def polygon_cover_local(
    rows: list[tuple[str, str]],
    max_cells: int = cells.JOIN_MAX_CELLS,
    buffer: float = 0.0,
    bounds=None,
) -> tuple[list[tuple], list[int]]:
    """Driver-side cover for a small polygon set (the broadcast path).

    The reference broadcasts its index strategy and plans query ranges on
    the driver (RDDUtils.broadcastIndexStrategy:255-263;
    TieredSFCIndexStrategy.getQueryRanges) — our equivalent plans the whole
    small side locally with numpy: no Spark job, no Python workers, and the
    cover is computed exactly once.

    Returns (cell_rows, tiers): cell_rows =
    (key, polygon_id, wkt, x0, y0, x1, y1, is_box) per covering cell.
    """
    import pandas as pd

    from .. import geom

    wkts = pd.Series([w for _, w in rows])
    # query-side covers are ALWAYS boundary-CLOSED: a point lying exactly
    # on a polygon edge that coincides with a cell line floors into the
    # NEXT cell (e.g. point lon=0 on a polygon with x1=0), and a dwithin
    # partner at exactly distance `radius` past the buffered bbox's upper
    # edge does the same — the open (exact-fit insert rule) cover would
    # drop their candidate cell even though the boundary-inclusive refine
    # accepts the pair.  Trim still removes cells the true geometry
    # doesn't touch (closed cell rectangles keep edge contact).
    keys_per_poly = geo_udfs.cover_keys(
        wkts, max_cells=max_cells, buffer=buffer, trim=not buffer, closed=True,
        bounds=bounds,
    )
    out: list[tuple] = []
    tiers: set[int] = set()
    import numpy as np

    for (pid, wkt), keys in zip(rows, keys_per_poly):
        p = geom.geometry_from_wkt(wkt)
        x0, y0, x1, y1 = p.bbox
        isb = p.is_box()
        for k in keys:
            out.append((int(k), pid, wkt, float(x0), float(y0), float(x1), float(y1), bool(isb)))
        if len(keys):
            tiers.update(cells.unpack_key(np.asarray(keys))[0].tolist())
    return out, sorted(tiers)




def _box_contains_pred(lon: Column, lat: Column, bounds=None) -> Column:
    """JVM-only boundary-inclusive point-in-box, antimeridian-aware.

    Mirrors the oracle SQL predicate exactly; the +360 clause is harmless
    for x1 <= 180 boxes only because workload boxes with x1 == 180 also
    have x0 == -180 (see entry_queries._SQL_PIP_PRED discussion).  Custom
    ``bounds`` (projected CRS) have no wrap — the +360 retest is dropped
    (it would false-positive in metre coordinates).
    """
    base = (
        (lat >= F.col("y0")) & (lat <= F.col("y1"))
        & (lon >= F.col("x0")) & (lon <= F.col("x1"))
    )
    if bounds is not None:
        return base
    lon2 = lon + F.lit(360.0)
    return (
        (lat >= F.col("y0"))
        & (lat <= F.col("y1"))
        & (
            ((lon >= F.col("x0")) & (lon <= F.col("x1")))
            | ((lon2 >= F.col("x0")) & (lon2 <= F.col("x1")))
        )
    )


def _box_dist_expr(lon: Column, lat: Column, bounds=None) -> Column:
    """JVM-only planar distance to a box (0 inside), antimeridian copy via
    least() — same IEEE op sequence as the oracle's formula.  Custom
    ``bounds`` drop the +360 copy (no wrap in a projected frame)."""

    def d(px: Column) -> Column:
        ddx = F.greatest(F.col("x0") - px, px - F.col("x1"), F.lit(0.0))
        ddy = F.greatest(F.col("y0") - lat, lat - F.col("y1"), F.lit(0.0))
        return F.sqrt(ddx * ddx + ddy * ddy)

    if bounds is not None:
        return d(lon)
    return F.least(d(lon), d(lon + F.lit(360.0)))


def tiered_spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
    polygon_id: str = "polygon_id",
    wkt_col: str = "wkt",
    max_cells: int = cells.JOIN_MAX_CELLS,
    broadcast_polygons: bool | None = None,
    loose: bool = False,
    salt: int = 0,
    carry_cols: tuple[str, ...] = (),
    bounds=None,
) -> DataFrame:
    """Return matched (point_id, polygon_id) pairs (deduped).

    predicate: 'intersects' (default, like SpatialQueryFilter) or 'dwithin'
    (GeomWithinDistance with `radius`).  loose=True skips the exact refine
    (IndexOnlySpatialQuery.java:34-43 semantics).

    ``bounds``: custom per-dimension index bounds (x0, y0, x1, y1) — the
    reference's custom-CRS index math (SpatialDimensionalityTypeProvider
    .java:107-124): clamped linear normalization, no antimeridian wrap.
    Geometry predicates stay planar in the CRS's own units, matching the
    reference's JTS behavior under a projected CRS.

    ``carry_cols``: extra POINT-side columns to keep on the output rows
    (e.g. an event-time column for a downstream windowed aggregation on an
    unbounded stream, where a join-back by id would be a stream-stream
    self-join).  Broadcast path only.
    """
    if predicate not in ("intersects", "dwithin"):
        raise ValueError(f"unknown predicate {predicate!r}")
    buffer = radius if predicate == "dwithin" else 0.0
    pts = add_point_cols(points, lon_col, lat_col, bounds=bounds)
    if broadcast_polygons is None:
        # a 50k-row side of multi-MB coastline WKTs must not be collected
        # to the driver — the probe sizes on rows AND bytes
        broadcast_polygons = probe_broadcastable(polygons, wkt_col)

    if broadcast_polygons:
        return _broadcast_join(
            pts, polygons, predicate, radius, buffer, lon_col, lat_col,
            point_id, polygon_id, wkt_col, max_cells, loose, carry_cols,
            bounds=bounds,
        )
    if carry_cols:
        raise ValueError("carry_cols is only supported on the broadcast path")
    return _shuffle_join(
        pts, polygons, predicate, radius, buffer, lon_col, lat_col,
        point_id, polygon_id, wkt_col, max_cells, loose, salt, bounds=bounds,
    )


def _refine_box(
    j: DataFrame, predicate: str, radius: float, lon_col: str, lat_col: str,
    bounds=None,
) -> DataFrame:
    if predicate == "intersects":
        return j.filter(_box_contains_pred(F.col(lon_col), F.col(lat_col), bounds))
    return j.filter(
        _box_dist_expr(F.col(lon_col), F.col(lat_col), bounds) <= F.lit(float(radius))
    )


def _refine_general(
    j: DataFrame, predicate: str, radius: float, lon_col: str, lat_col: str,
    wkt_col: str, bounds=None,
) -> DataFrame:
    contains = (
        geo_udfs.st_contains_point if bounds is None else geo_udfs.st_contains_point_nowrap
    )
    dist = (
        geo_udfs.st_distance_point if bounds is None else geo_udfs.st_distance_point_nowrap
    )
    if predicate == "intersects":
        return j.filter(contains(F.col(wkt_col), F.col(lon_col), F.col(lat_col)))
    return j.filter(
        dist(F.col(wkt_col), F.col(lon_col), F.col(lat_col)) <= F.lit(float(radius))
    )


def _broadcast_join(
    pts, polygons, predicate, radius, buffer, lon_col, lat_col,
    point_id, polygon_id, wkt_col, max_cells, loose, carry_cols=(),
    bounds=None,
) -> DataFrame:
    """Small polygon side: driver-side cover + broadcast hash join.

    Box polygons refine with pure Column SQL (whole-stage codegen, zero
    Python); general polygons fall back to the pandas predicate UDF.  The
    point side is scanned once per polygon class present (boxes / general)
    — one scan in the overwhelmingly common homogeneous case.
    """
    spark = pts.sparkSession
    rows = [(r[0], r[1]) for r in polygons.select(polygon_id, wkt_col).collect()]
    cell_rows, tiers = polygon_cover_local(
        rows, max_cells=max_cells, buffer=buffer, bounds=bounds
    )
    if not tiers:
        # keep the carry_cols in the empty-result schema — downstream
        # selects must not break only on the empty-polygon execution.
        # filter(False) instead of limit(0): the point side may be a
        # STREAMING frame (streaming_spatial_join), where limit is illegal
        return (
            pts.select(point_id, *carry_cols)
            .filter(F.lit(False))
            .withColumn(polygon_id, F.lit(None).cast("string"))
            .select(point_id, polygon_id, *carry_cols)
        )

    # prune to the join's working set BEFORE the explode — payload columns
    # must never be replicated |tiers|× (semi/anti join back for full rows)
    pt_keys = pts.select(point_id, lon_col, lat_col, "_cell31", *carry_cols).withColumn(
        "key", F.explode(_point_keys_expr(tiers))
    )
    box_rows = [r for r in cell_rows if r[7]]
    gen_rows = [r for r in cell_rows if not r[7]]
    parts = []
    if box_rows:
        # box refine needs only the bbox — no WKT in the broadcast at all
        right = F.broadcast(
            spark.createDataFrame(
                [(k, pid, x0, y0, x1, y1) for k, pid, _w, x0, y0, x1, y1, _b in box_rows],
                "key long, polygon_id string, x0 double, y0 double, x1 double, y1 double",
            ).withColumnRenamed("polygon_id", polygon_id)
        )
        j = pt_keys.join(right, "key")
        if not loose:
            j = _refine_box(j, predicate, radius, lon_col, lat_col, bounds)
        parts.append(j.select(point_id, polygon_id, *carry_cols))
    if gen_rows:
        # WKT is broadcast ONCE per polygon (joined by id after the cell
        # match), never duplicated into the per-cell rows — keeps the
        # broadcast payload at sum(len(wkt)), not 80x that
        cells_bc = F.broadcast(
            spark.createDataFrame(
                [(k, pid) for k, pid, *_ in gen_rows], "key long, polygon_id string"
            ).withColumnRenamed("polygon_id", polygon_id)
        )
        wkts_bc = F.broadcast(
            spark.createDataFrame(
                sorted({(pid, w) for _k, pid, w, *_ in gen_rows}),
                "polygon_id string, wkt string",
            )
            .withColumnRenamed("polygon_id", polygon_id)
            .withColumnRenamed("wkt", wkt_col)
        )
        j = pt_keys.join(cells_bc, "key").join(wkts_bc, polygon_id)
        if not loose:
            j = _refine_general(j, predicate, radius, lon_col, lat_col, wkt_col, bounds)
        parts.append(j.select(point_id, polygon_id, *carry_cols))
    out = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    # DedupeFilter semantics hold BY CONSTRUCTION for point joins: a point
    # occupies exactly one cell per tier and each polygon's cover lives at
    # exactly one tier, so a (point, polygon) pair meets at most once — the
    # reference's dedupe targets duplicated EXTENT entries
    # (docs/content/devguide/040-keystructure.adoc:9), which the extent
    # join handles.  Skipping it makes point-in-polygon a ZERO-SHUFFLE
    # plan: scan → explode → broadcast hash join → filter.
    return out


def _shuffle_join(
    pts, polygons, predicate, radius, buffer, lon_col, lat_col,
    point_id, polygon_id, wkt_col, max_cells, loose, salt, bounds=None,
) -> DataFrame:
    """Large polygon side: the pipeline's Column-side right cells (one
    Arrow bbox pass, the seam split, a span-based own-tier cover of <= 4
    cells per polygon — the reference's estimated-count <= 2^d insert
    rule) + shuffle equi-join on the packed key, with optional
    polygon-replication salting on top of AQE skew-join splitting.

    Scale design: the ONLY Python on the polygon side is the per-row WKT →
    bbox extraction (st_bbox); tier assignment, cell explosion and key
    packing are whole-stage-codegen Column math, so a 10^8-polygon side
    runs at scan speed.  Points sit at the finest tier, so a pair always
    meets at the polygon's tier — each polygon emits its own-tier cells
    only, and each point emits one key per DISTINCT polygon tier (<= 32).
    """
    rb = _seam_split(_bbox_frame(polygons, polygon_id, "r", wkt_col, pad=buffer), "r", bounds)
    rc, tiers, any_split = _discover(rb, "r", bounds)
    if not tiers:
        return pts.select(point_id).limit(0).crossJoin(polygons.select(polygon_id).limit(0))
    poly_cells = _extent_multitier_keys(rc, "r", [], bounds).select("key", "_rid", "_rwkt")

    pt_keys = pts.select(point_id, lon_col, lat_col, "_cell31").withColumn(
        "key", F.explode(_point_keys_expr(tiers))
    )
    # force a sort-merge join: BOTH sides are big by contract here (the
    # build-side probe already routed broadcastable polygon sets to
    # _broadcast_join), but Catalyst's size estimate of the un-exploded
    # point scan can look broadcastable and OOM the driver at 10^6+ rows —
    # the hint pins the spillable shuffle plan (AQE skew-split still applies)
    pt_keys = pt_keys.hint("merge")
    if salt > 1:
        # replicate polygon cells `salt` ways; point rows pick one replica —
        # breaks single-hot-cell skew beyond what AQE splitting can do
        pt_keys = pt_keys.withColumn("_salt", F.pmod(F.xxhash64(point_id), F.lit(salt)))
        right = poly_cells.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        joined = pt_keys.join(right, ["key", "_salt"])
    else:
        joined = pt_keys.join(poly_cells, "key")

    if not loose:
        joined = _refine_general(joined, predicate, radius, lon_col, lat_col, "_rwkt", bounds)
    out = joined.select(point_id, F.col("_rid").alias(polygon_id))
    # points meet each polygon at most once (one cell per tier) — dedupe is
    # only needed when a seam-split polygon's two sub-extents can share a
    # coarse cell
    return out.dropDuplicates([point_id, polygon_id]) if any_split else out


# ---------------------------------------------------------------------------
# The extent / geometry join pipeline: left keys → right cells → candidates
# → refine.  Column names: ``_{p}id``, ``_{p}wkt``, ``_{p}x0.._{p}y1``,
# ``_{p}te`` (own tier) and ``_{p}seam`` per side p in {"l", "r"}.
# ---------------------------------------------------------------------------

def _bbox_frame(
    df: DataFrame, id_col: str, p: str, wkt_col: str | None = None,
    bbox_cols: tuple[str, str, str, str] | None = None, pad: float = 0.0,
) -> DataFrame:
    """(_{p}id, [_{p}wkt], _{p}x0.._{p}y1): the envelope from ``bbox_cols``
    when the caller has it, else from one Arrow st_bbox pass over
    ``wkt_col``; padded by ``pad`` (dwithin)."""
    if bbox_cols is None:
        df = df.withColumn("_bb", geo_udfs.st_bbox(F.col(wkt_col)))
        bbox_cols = ("_bb.x0", "_bb.y0", "_bb.x1", "_bb.y1")
    x0, y0, x1, y1 = (F.col(c) for c in bbox_cols)
    if pad:
        x0, y0, x1, y1 = x0 - pad, y0 - pad, x1 + pad, y1 + pad
    wkt = [F.col(wkt_col).alias(f"_{p}wkt")] if wkt_col else []
    return df.select(
        F.col(id_col).alias(f"_{p}id"), *wkt,
        x0.alias(f"_{p}x0"), y0.alias(f"_{p}y0"), x1.alias(f"_{p}x1"), y1.alias(f"_{p}y1"),
    )


def _seam_split(b: DataFrame, p: str, bounds=None) -> DataFrame:
    """The Column twin of cells.split_bbox_antimeridian: an envelope whose
    lower bound lies outside [-180, 180] is first shifted by whole turns;
    one that then crosses the seam (x1 > 180) becomes its two in-range
    images [x0, 180] and [-180, x1 - 360]; a full wrap (span >= 360)
    becomes the world row.  A lower bound of exactly +180 is NOT shifted,
    so [180, x1] keeps its [180, 180] sliver in the last grid column,
    where partners ending at x = 180 are keyed.  ``_{p}seam`` flags every
    envelope reaching past the seam: its rows are not the geometry's plain
    envelope, so the necessary-envelope filter passes them to the exact
    refine (which also tests the -360-shifted image).  Custom ``bounds``
    have no seam.  Null envelopes emit no row."""
    x0, x1 = F.col(f"_{p}x0"), F.col(f"_{p}x1")
    b = b.withColumn(f"_{p}seam", F.lit(False) if bounds is not None else (x0 < -180.0) | (x1 > 180.0))
    if bounds is not None:
        return b
    k = F.when(x0.between(-180.0, 180.0), F.lit(0.0)).otherwise(F.floor((x0 + 180.0) / 360.0) * 360.0)
    full = x1 - x0 >= 360.0
    parts = F.when(full | (x1 - k <= 180.0), F.array(F.lit(0))).when(
        x1 - k > 180.0, F.array(F.lit(0), F.lit(1))
    )
    hi = F.col("_part") == 1
    return b.withColumn("_part", F.explode(parts)).withColumns({
        f"_{p}x0": F.when(full | hi, F.lit(-180.0)).otherwise(x0 - k),
        f"_{p}x1": F.when(full, F.lit(180.0)).when(hi, x1 - k - 360.0)
        .otherwise(F.least(x1 - k, F.lit(180.0))),
    }).drop("_part")


def _extent_tier_expr(p: str, bounds=None) -> Column:
    """Span-based adaptive tier of an envelope row: the finest grid whose
    cell >= the extent's normalized span, so the own-tier cover is always
    <= 2x2 cells (the estimated-count insert rule of
    TieredSFCIndexStrategy.getEstimatedIdCount)."""
    wx = 360.0 if bounds is None else float(bounds[2] - bounds[0])
    wy = 180.0 if bounds is None else float(bounds[3] - bounds[1])
    sx = (F.col(f"_{p}x1") - F.col(f"_{p}x0")) / F.lit(wx)
    sy = (F.col(f"_{p}y1") - F.col(f"_{p}y0")) / F.lit(wy)
    span = F.greatest(sx, sy, F.lit(0.0))
    return (
        F.when(span <= 0.0, F.lit(cells.MAX_TIER))
        .otherwise(
            F.least(F.greatest(F.floor(-F.log2(span)).cast("int"), F.lit(0)), F.lit(cells.MAX_TIER))
        )
    )


def _discover(b: DataFrame, p: str, bounds=None) -> tuple[DataFrame, list[int], bool]:
    """Big side: tag the own tier, materialize once (localCheckpoint,
    MEMORY_AND_DISK, ContextCleaner-reclaimed) and read the tier set AND
    whether any envelope reached past the seam from ONE tiny aggregate —
    the reference's tier-discovery pre-pass (TieredSpatialJoin.java:
    173-207); the distinct keys are never collected."""
    b = b.withColumn(f"_{p}te", _extent_tier_expr(p, bounds)).localCheckpoint()
    seam = F.max(f"_{p}seam") if f"_{p}seam" in b.columns else F.lit(False)
    tiers, any_seam = b.agg(F.collect_set(f"_{p}te"), seam).first()
    return b, sorted(tiers), bool(any_seam)


def _grid(norm: Column, lo: Column | None = None) -> Column:
    """Grid coordinate of a normalized value at the row's emission tier
    (``_rd`` = 2^_kt cells per axis, ``_rm`` = 2^_kt - 1): plain floor,
    clamped to [lo (default 0), _rm].  The cover and the PBSM witness must
    share this rule, or the witness corner could miss every cover cell."""
    lo = F.lit(0) if lo is None else lo
    return F.least(F.greatest(F.floor(norm * F.col("_rd")), lo), F.col("_rm")).cast("long")


def _extent_multitier_keys(
    ex: DataFrame, p: str, partner_tiers: list[int], bounds=None,
) -> DataFrame:
    """Envelope rows (own tier in ``_{p}te``) → one row per (row, emission
    tier ``_kt``, covering cell ``_cell``) plus the tier-packed ``key``.
    The emission tiers are the row's OWN tier plus every strictly-coarser
    tier present on the partner side, and the cell cover is computed
    DIRECTLY at each emission tier.

    Because the cover is re-derived per tier (not truncated from the own-
    tier cover), (id, key) rows are unique by construction — two own-tier
    cells can never collapse onto the same coarse key twice.  This is what
    makes the reference-point emission exact with NO dropDuplicates.
    """
    te = F.col(f"_{p}te")
    lower = [F.lit(int(t)) for t in sorted(set(partner_tiers))]
    emit = F.array_append(F.filter(F.array(*lower), lambda t: t < te), te) if lower else F.array(te)
    k = ex.withColumn("_kt", F.explode(emit))
    k = k.withColumn("_rd", F.pow(F.lit(2.0), F.col("_kt").cast("double")))
    k = k.withColumn("_rm", F.col("_rd").cast("long") - 1)
    x0, y0, x1, y1 = (F.col(f"_{p}{c}") for c in ("x0", "y0", "x1", "y1"))
    # norm_lon_upper on BOTH bounds: identical to norm_lon everywhere
    # except exactly +180, where the wrap would put the lower bound in
    # cell 0 while the upper clamps to r-1 — a degenerate seam box would
    # otherwise cover the whole row (2^31 cells at the point tier)
    k = k.withColumn("_gx0", _grid(sqlcells.norm_lon_upper(x0, bounds)))
    k = k.withColumn("_gy0", _grid(sqlcells.norm_lat(y0, bounds)))
    gx1 = _grid(sqlcells.norm_lon_upper(x1, bounds), F.col("_gx0"))
    gy1 = _grid(sqlcells.norm_lat(y1, bounds), F.col("_gy0"))
    offs = F.array(*[F.lit(int(o)) for o in cells.TIER_OFFSETS[: cells.MAX_TIER + 1]])
    return (
        k.withColumn("_gx1", gx1).withColumn("_gy1", gy1)
        .withColumn("_gx", F.explode(F.sequence(F.col("_gx0"), F.col("_gx1"))))
        .withColumn("_gy", F.explode(F.sequence(F.col("_gy0"), F.col("_gy1"))))
        .withColumn("_cell", sqlcells.interleave(F.col("_gx"), F.col("_gy")))
        .withColumn("key", (F.element_at(offs, F.col("_kt") + 1) + F.col("_cell")).cast("long"))
        .select(*ex.columns, "_kt", "_cell", "key")
    )


def _cover_rows(
    rows: list[tuple], buffer: float = 0.0, trim: bool = False,
    max_cells: int = cells.JOIN_MAX_CELLS,
) -> tuple[list[tuple], list[int]]:
    """Driver-side right cells of the broadcast joins: each geometry's
    adaptive-tier cover (bbox buffered by ``buffer``; trimmed to cells the
    true geometry touches when ``trim``) plus its truncation to every
    coarser tier — the reprojectToTier direction in which the right side
    is the coarser one; per-tier np.unique keeps (id, key) rows unique.

    Covers are boundary-CLOSED: a right geometry whose upper edge lies
    exactly on a cell line still meets left extents touching it from the
    next cell (the Column-math left cover is closed too), and a dwithin
    partner at EXACTLY distance `radius` past the buffered bbox's upper
    edge lands in that next cell as well.

    Returns (cell_rows, tiers); a cell row is (key, id, x0, y0, x1, y1,
    own tier, is_box, seam) with the buffered bbox.  is_box: the geometry
    IS its in-range bbox, so box×box candidates can refine JVM-side."""
    import numpy as np
    import pandas as pd

    from .. import geom

    covers = geo_udfs.cover_keys(
        pd.Series([w for _, w in rows], dtype=object),
        max_cells=max_cells, buffer=buffer, trim=trim, closed=True,
    )
    out: list[tuple] = []
    tiers: set[int] = set()
    for (rid, wkt), keys in zip(rows, covers):
        if not keys:
            continue
        g = geom.geometry_from_wkt(wkt)
        bx0, by0, bx1, by1 = (float(v) for v in g.bbox)
        box = (bx0 - buffer, by0 - buffer, bx1 + buffer, by1 + buffer)
        tp, cover = cells.unpack_key(np.asarray(keys, dtype=np.int64))
        tp = int(tp[0])
        tiers.add(tp)
        flags = (tp, bool(g.is_box() and bx1 <= 180.0), box[0] < -180.0 or box[2] > 180.0)
        for t in range(tp, -1, -1):
            for k in cells.pack_key(t, np.unique(cells.cell_at_tier(cover, tp, t))).tolist():
                out.append((int(k), rid, *box, *flags))
    return out, sorted(tiers)


def _box_relation(predicate: str) -> Column | None:
    """Interval algebra over the candidate envelopes (_lx0.._ly1 vs
    _rx0.._ry1, right pre-buffered for dwithin) — the pipeline's one box
    expression table.  It is the bbox prefilter ("intersects"), the
    NECESSARY envelope condition of the containment family (within(l,r) ⇒
    bbox(l) ⊆ bbox(r), covers/contains ⇒ ⊇, equals ⇒ equal envelopes),
    and the exact box×box refine when both geometries ARE their
    envelopes.  None: no box twin (dwithin)."""
    l0, m0, l1, m1 = (F.col(c) for c in ("_lx0", "_ly0", "_lx1", "_ly1"))
    r0, s0, r1, s1 = (F.col(c) for c in ("_rx0", "_ry0", "_rx1", "_ry1"))
    ix = (l0 <= r1) & (r0 <= l1) & (m0 <= s1) & (s0 <= m1)
    interiors = (l0 < r1) & (r0 < l1) & (m0 < s1) & (s0 < m1)
    l_cov_r = (l0 <= r0) & (m0 <= s0) & (l1 >= r1) & (m1 >= s1)
    r_cov_l = (r0 <= l0) & (s0 <= m0) & (r1 >= l1) & (s1 >= m1)
    return {
        "intersects": ix,
        "touches": ix & ~interiors,
        "overlaps": interiors & ~l_cov_r & ~r_cov_l,
        "within": r_cov_l,
        "covers": l_cov_r,
        "contains": l_cov_r,  # positive-area boxes: covers == contains
        "equals": (l0 == r0) & (m0 == s0) & (l1 == r1) & (m1 == s1),
        "crosses": F.lit(False),  # area × area never crosses
    }.get(predicate)


def _ref_point_filter(j: DataFrame) -> DataFrame:
    """PBSM reference-point witness (Patel & DeWitt, SIGMOD'96 §4.3):
    keep a joined row iff the cell at tier ``_kt`` containing the lower-
    left corner (px, py) of bbox(l) ∩ bbox(r) is THIS join cell ``_cell``.
    Each intersecting pair passes in exactly one (tier, cell), so the join
    emits it exactly once — no pair-level dropDuplicates shuffle.

    An unwrapped antimeridian right bbox (_rx1 > 180, its cover split
    across the seam) that meets the left ONLY through its wrapped copy
    takes the corner against the -360-shifted right bbox; otherwise the
    plain corner is the witness, so seam pairs are neither dropped nor
    duplicated (tests/test_geometry_join.py::test_exactly_once_antimeridian).

    Uses the SAME normalization as the cover generation (norm_lon_upper so
    px == +180 lands in the last column, matching the cover's clamp).

    Codegen-size note (r4 perf fix): the original predicate interleaved
    (gxp, gyp) and compared against ``_cell``; the inline Morton spread
    duplicates its operand subtree 32x, and with the normalization inside
    it the joined stage's generated Java exceeded the JVM's 64KB method
    limit — Spark silently ran the hottest stage of the BIG x BIG extent
    join in interpreted (non-codegen) mode.  Inverting the equality —
    ``gxp == compact_x(_cell) AND gyp == compact_y(_cell)`` — puts the
    duplication on the ``_cell`` ATTRIBUTE (tiny per copy) and references
    each large normalization expression exactly once, so the whole filter
    stays inside whole-stage codegen even when the optimizer folds it into
    the join condition."""
    j = j.withColumn("_rd", F.pow(F.lit(2.0), F.col("_kt").cast("double")))
    j = j.withColumn("_rm", F.col("_rd").cast("long") - 1)
    lx0, rx0 = F.col("_lx0"), F.col("_rx0")
    wrapped_only = (F.col("_rx1") > 180.0) & (F.col("_lx1") < rx0)
    px = F.when(wrapped_only, F.greatest(lx0, rx0 - 360.0)).otherwise(F.greatest(lx0, rx0))
    py = F.greatest(F.col("_ly0"), F.col("_ry0"))
    gxp = _grid(sqlcells.norm_lon_upper(px))
    gyp = _grid(sqlcells.norm_lat(py))
    return j.filter(
        (gxp == sqlcells.compact_x(F.col("_cell")))
        & (gyp == sqlcells.compact_y(F.col("_cell")))
    )


_NECESSARY = ("within", "covers", "contains", "equals")


def _candidates(
    lk: DataFrame, rk: DataFrame, predicate: str | None = None, witness: bool = True,
) -> DataFrame:
    """The shared candidate stage: packed-key equi-join → meet-tier filter
    → JVM bbox prefilter → necessary-envelope filter → PBSM witness.

    * meet tier: a pair's keys can meet at every common tier <= min(own
      tiers), but a true pair always shares a key at exactly min(left own,
      right own) — keys at coarser common tiers are dropped here, with
      zero extra exchange;
    * bbox prefilter: ``predicate=None`` is the bbox-only extent join,
      where the prefilter IS the refine.  Exact-refine joins let unwrapped
      antimeridian right envelopes (_rx1 > 180) through — the pairwise
      refine tests their -360 copy;
    * containment-family predicates keep only envelope-compatible pairs,
      except rows flagged ``_lseam``/``_rseam`` (not a plain envelope);
    * ``witness``: exactly-once emission without dropDuplicates."""
    j = lk.join(rk, "key")
    j = j.filter(F.col("_kt") == F.least(F.col("_lte"), F.col("_rte")))
    overlap = _box_relation("intersects")
    j = j.filter(overlap if predicate is None else overlap | (F.col("_rx1") > 180.0))
    if predicate in _NECESSARY:
        j = j.filter(_box_relation(predicate) | F.col("_lseam") | F.col("_rseam"))
    return _ref_point_filter(j) if witness else j


def _broadcast_candidates(
    lb: DataFrame, cell_rows: list[tuple], tiers: list[int], id_type: str,
    predicate: str | None = None, witness: bool = True,
) -> DataFrame:
    """Broadcastable right side: broadcast its driver-side cell rows
    (`_cover_rows`) and key the big left side against the right tier
    set."""
    rk = F.broadcast(lb.sparkSession.createDataFrame(
        cell_rows,
        f"key long, _rid {id_type}, _rx0 double, _ry0 double, "
        "_rx1 double, _ry1 double, _rte int, _rbox boolean, _rseam boolean",
    ))
    lk = _extent_multitier_keys(lb.withColumn("_lte", _extent_tier_expr("l")), "l", tiers)
    return _candidates(lk, rk, predicate, witness)


def _shuffle_candidates(
    lc: DataFrame, l_tiers: list[int], rc: DataFrame, r_tiers: list[int],
    predicate: str | None = None,
) -> DataFrame:
    """BIG×BIG: both sides discovered (`_discover`), each keyed at its own
    tier plus every coarser tier present on the PARTNER side, met in one
    shuffle equi-join; the keyed shuffle carries no WKT."""
    lk = _extent_multitier_keys(lc.drop("_lwkt"), "l", r_tiers)
    rk = _extent_multitier_keys(rc.drop("_rwkt"), "r", l_tiers).drop("_kt", "_cell")
    return _candidates(lk, rk, predicate)


def _id_type(df: DataFrame, col: str) -> str:
    return df.schema[col].dataType.simpleString()


def _collect_wkts(df: DataFrame, id_col: str, wkt_col: str) -> list[tuple]:
    return [(r[0], r[1]) for r in df.select(id_col, wkt_col).collect()]


def _pair_ids(j: DataFrame, left_id: str, right_id: str) -> DataFrame:
    return j.select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id))


def tiered_extent_join(
    extents: DataFrame,
    polygons: DataFrame,
    extent_id: str = "extent_id",
    polygon_id: str = "polygon_id",
    x0: str = "x0",
    y0: str = "y0",
    x1: str = "x1",
    y1: str = "y1",
    wkt_col: str = "wkt",
) -> DataFrame:
    """General tiered join: ARBITRARY extents on the big side (bbox columns)
    vs a broadcastable polygon side — the reference's full join shape
    (TieredSpatialJoin.java:75-377: both sides adaptively tiered, duplicated
    into covering cells, matched per tier with reprojectToTier, deduped).

    Tier scheme (exactly the reference's two-direction reprojection, folded
    into one equi-join):

    * each extent row gets tier te = finest tier whose cell size >= its
      normalized span and explodes into those <= 4 cells — pure Column
      math; it additionally emits its cells at each polygon tier < te,
      covering the tp < te direction;
    * the polygon's broadcast cell list carries its untrimmed bbox cover
      TRUNCATED to every tier <= tp (driver-side, tiny), covering the
      te <= tp direction;
    * the shared candidate stage (meet tier, boundary-inclusive bbox
      intersects — JTS-intersects semantics — and the PBSM witness) emits
      every pair exactly once.

    Output: (extent_id, polygon_id).  Verified against the brute-force
    bbox-intersect oracle — the same test design as the reference's
    GeoWaveSparkSpatialJoinIT brute-force comparison.
    """
    lb = _bbox_frame(extents, extent_id, "l", bbox_cols=(x0, y0, x1, y1))
    if probe_broadcastable(polygons, wkt_col):
        cell_rows, tiers = _cover_rows(_collect_wkts(polygons, polygon_id, wkt_col))
        j = _broadcast_candidates(lb, cell_rows, tiers, _id_type(polygons, polygon_id))
    else:
        # build-side guard: never materialize an unbounded polygon side on
        # the driver — its bboxes take the BIG×BIG shuffle candidates
        lc, l_tiers, _ = _discover(lb, "l")
        rc, r_tiers, _ = _discover(_bbox_frame(polygons, polygon_id, "r", wkt_col).drop("_rwkt"), "r")
        j = _shuffle_candidates(lc, l_tiers, rc, r_tiers)
    return _pair_ids(j, extent_id, polygon_id)


def tiered_extent_join_shuffle(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "left_id",
    right_id: str = "right_id",
    lcols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
    rcols: tuple[str, str, str, str] = ("x0", "y0", "x1", "y1"),
) -> DataFrame:
    """BIG×BIG extent join: both sides adaptively tiered + duplicated, met
    at min(tier) via symmetric truncation, shuffle equi-join on the packed
    key — the reference's full TieredSpatialJoin shape where neither side
    broadcasts (per-tier cogroups folded into one equi-join).

    A pair meets at exactly one tier — the min of the two own tiers — and
    within that tier the PBSM reference-point test keeps exactly one of
    its shared cells, so the join emits every intersecting pair EXACTLY
    ONCE with no pair-level dropDuplicates (the reference pays a
    DedupeFilter + distinct here; at 10^8+ output pairs that distinct is
    the dominant shuffle).
    """
    lc, l_tiers, _ = _discover(_bbox_frame(left, left_id, "l", bbox_cols=lcols), "l")
    rc, r_tiers, _ = _discover(_bbox_frame(right, right_id, "r", bbox_cols=rcols), "r")
    return _pair_ids(_shuffle_candidates(lc, l_tiers, rc, r_tiers), left_id, right_id)


def semi_join_matches(points: DataFrame, pairs: DataFrame, point_id: str = "image_id") -> DataFrame:
    """Matched point rows (left_semi back to base table,
    TieredSpatialJoin.java:364-372).  left_semi tolerates duplicate keys on
    the right — no pre-distinct shuffle needed."""
    return points.join(pairs.select(point_id), point_id, "left_semi")


def anti_join_matches(points: DataFrame, pairs: DataFrame, point_id: str = "image_id") -> DataFrame:
    """Negative-predicate output (subtractByKey, TieredSpatialJoin.java:357-363)."""
    return points.join(pairs.select(point_id), point_id, "left_anti")


# join-expressible pairwise predicates (all ⊆ intersects, so the cell-cover
# candidate generation is a valid superset for each; `disjoint` is the one
# registry member that is NOT a cell join — use anti_join_matches)
GEOMETRY_JOIN_PREDICATES = (
    "intersects", "dwithin", "within", "covers", "contains",
    "touches", "crosses", "overlaps", "equals",
)

_PAIRWISE_UDF = {
    "within": lambda la, ra: geo_udfs.st_within_wkt(la, ra),
    "covers": lambda la, ra: geo_udfs.st_covers_wkt(la, ra),
    "contains": lambda la, ra: geo_udfs.st_contains_wkt(la, ra),
    "touches": lambda la, ra: geo_udfs.st_touches_wkt(la, ra),
    "crosses": lambda la, ra: geo_udfs.st_crosses_wkt(la, ra),
    "overlaps": lambda la, ra: geo_udfs.st_overlaps_wkt(la, ra),
    "equals": lambda la, ra: geo_udfs.st_equals_wkt(la, ra),
}


def _pairwise_refine(j: DataFrame, predicate: str, radius: float) -> DataFrame:
    """Shared exact pairwise refine over (_lwkt, _rwkt) candidate columns —
    the full registered UDF family (GeomFunctionRegistry.java:26-42):
    intersects / dwithin / within / covers / contains / touches / crosses /
    overlaps / equals, each left-vs-right."""
    la, ra = F.col("_lwkt"), F.col("_rwkt")
    if predicate == "intersects":
        return j.filter(geo_udfs.st_intersects_wkt(la, ra))
    if predicate == "dwithin":
        return j.filter(geo_udfs.st_distance_wkt(la, ra) <= F.lit(float(radius)))
    return j.filter(_PAIRWISE_UDF[predicate](la, ra))


def geometry_join(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
    max_cells: int = cells.JOIN_MAX_CELLS,
    left_bbox_cols: tuple[str, str, str, str] | None = None,
    left_is_box: bool = False,
    exactly_once: bool = False,
) -> DataFrame:
    """General geometry × geometry join — ANY supported WKT on both sides
    (LINESTRING tracks, polygons with holes, multi-geometries, points).

    ``exactly_once=True`` selects the STATELESS exactly-once plan: right
    covers are left untrimmed (full bbox covers, so the PBSM reference
    point provably lands in a shared candidate cell) and every pair-level
    ``dropDuplicates`` is replaced by the reference-point filter — the
    plan contains no stateful operator, which is what lets the SAME
    operator run unchanged on a streaming left side
    (streaming.ingest.streaming_geometry_join).  Batch callers keep the
    default (trimmed covers prune more candidates; the post-refine
    dedup runs on the small output).

    ``left_bbox_cols=(x0, y0, x1, y1)``: when the caller already has the
    left envelopes as columns, pass them to skip the WKT→bbox Arrow pass
    entirely (one fewer scan of the big side).

    ``left_is_box=True`` declares every left geometry an axis-aligned box
    equal to its envelope: candidates whose right geometry is also a box
    then refine with JVM interval algebra inside the join's codegen stage
    — zero Python and zero WKT movement for the box×box majority; only
    non-box right geometries take the Arrow refine.

    The reference's full TieredSpatialJoin over arbitrary JTS geometries
    (TieredSpatialJoin.java:75-377; its flagship IT is hail points ×
    tornado-track LINESTRINGs, GeoWaveSparkSpatialJoinIT.java:97-175),
    folded into one plan: driver-side right cells (trimmed, buffered by
    `radius` for dwithin) broadcast against the left side's multi-tier
    Column keys → the shared candidate stage → exact pairwise refine
    (candidate pairs only, the right WKT broadcast once per geometry and
    joined by id) → dedupe (DedupeFilter semantics — extents meet in
    multiple cells).  Oversized right sides route to
    `geometry_join_shuffle`.

    Output: (left_id, right_id) pairs.
    """
    if predicate not in GEOMETRY_JOIN_PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    buffer = radius if predicate == "dwithin" else 0.0
    if not probe_broadcastable(right, right_wkt):
        # build-side guard: never materialize an unbounded right side on
        # the driver — route oversized builds to the keyed-shuffle twin
        # (same output contract) instead of OOMing below
        return geometry_join_shuffle(
            left, right, predicate=predicate, radius=radius,
            left_id=left_id, right_id=right_id,
            left_wkt=left_wkt, right_wkt=right_wkt,
            left_bbox_cols=left_bbox_cols,
        )
    # the left side is keyed unsplit: only flag envelopes past the seam
    lb = _bbox_frame(left, left_id, "l", left_wkt, left_bbox_cols)
    lb = lb.withColumn("_lseam", (F.col("_lx0") < -180.0) | (F.col("_lx1") > 180.0))
    rows, id_type = _collect_wkts(right, right_id, right_wkt), _id_type(right, right_id)
    # exactly-once emission needs FULL bbox covers: the PBSM reference
    # point is a bbox-intersection corner, which a geometry-trimmed cover
    # may not contain
    cell_rows, tiers = _cover_rows(rows, buffer, trim=not exactly_once, max_cells=max_cells)
    j = _broadcast_candidates(lb, cell_rows, tiers, id_type, predicate, witness=exactly_once)
    wkts = F.broadcast(left.sparkSession.createDataFrame(rows, f"_rid {id_type}, _rwkt string"))

    def exact(c: DataFrame) -> DataFrame:
        return _pairwise_refine(c.join(wkts, "_rid"), predicate, radius).select("_lid", "_rid")

    box = _box_relation(predicate) if left_is_box else None
    if box is None:
        out = exact(j)
    elif all(r[7] for r in cell_rows):  # every right geometry is a box
        out = j.filter(box).select("_lid", "_rid")
    else:
        # box×box candidates never touch Python OR the WKT column: the
        # interval algebra refines them inside the join's codegen stage;
        # which right ids are boxes is known driver-side — no runtime probe
        out = j.filter(F.col("_rbox") & box).select("_lid", "_rid").unionByName(
            exact(j.filter(~F.col("_rbox")))
        )
    if not exactly_once:
        # the meet-tier filter leaves only the <= 4 same-tier multi-cell
        # duplicates, deduped on the (small) refined output
        out = out.dropDuplicates()
    return _pair_ids(out, left_id, right_id)


def geometry_join_shuffle(
    left: DataFrame,
    right: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    left_id: str = "left_id",
    right_id: str = "right_id",
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
    left_bbox_cols: tuple[str, str, str, str] | None = None,
) -> DataFrame:
    """BIG × BIG geometry join: both sides bbox'd (one Arrow UDF each),
    seam-split, then the shared shuffle candidates (tiered_extent_join_shuffle
    machinery: every candidate envelope pair exactly once) and an exact
    pairwise refine on the surviving pairs only.

    dwithin buffers the LEFT bbox by radius before tiering (sufficient:
    any pair within r overlaps after one side's expansion).

    The keyed shuffle stays NARROW (ids + bboxes only): candidate id pairs
    join their WKTs back by id for the refine — measured faster already at
    60-byte WKTs (BENCH.md), and the gap widens with geometry size since
    the text is never duplicated into covering-cell rows.

    ``left_bbox_cols``: precomputed left envelopes — skips the WKT→bbox
    Arrow pass (same contract as geometry_join).

    Unwrapped antimeridian envelopes (x1 > 180, the LongitudeDefinition
    convention) are SPLIT into their [-180, 180] images (`_seam_split`) so
    the cell cover reaches both sides of the wrap; exactness then comes
    from the pairwise refine, which also evaluates the -360-shifted image.
    A split envelope can meet a partner once per image, so only then are
    the candidate pairs (and the WKT lookups) deduplicated.
    """
    if predicate not in GEOMETRY_JOIN_PREDICATES:
        raise ValueError(f"unknown predicate {predicate!r}")
    buffer = radius if predicate == "dwithin" else 0.0
    lb = _seam_split(_bbox_frame(left, left_id, "l", left_wkt, left_bbox_cols, pad=buffer), "l")
    rb = _seam_split(_bbox_frame(right, right_id, "r", right_wkt), "r")
    lc, l_tiers, l_seam = _discover(lb, "l")
    rc, r_tiers, r_seam = _discover(rb, "r")
    j = _shuffle_candidates(lc, l_tiers, rc, r_tiers, predicate)
    pairs, lw, rw = j.select("_lid", "_rid"), lc.select("_lid", "_lwkt"), rc.select("_rid", "_rwkt")
    if l_seam or r_seam:
        pairs, lw, rw = pairs.dropDuplicates(), lw.dropDuplicates(["_lid"]), rw.dropDuplicates(["_rid"])
    out = _pairwise_refine(pairs.join(lw, "_lid").join(rw, "_rid"), predicate, radius)
    return _pair_ids(out, left_id, right_id)


def brute_force_join(
    points: DataFrame,
    polygons: DataFrame,
    predicate: str = "intersects",
    radius: float = 0.0,
    lon_col: str = "lon",
    lat_col: str = "lat",
    point_id: str = "image_id",
    polygon_id: str = "polygon_id",
    wkt_col: str = "wkt",
) -> DataFrame:
    """Correctness oracle: crossJoin + exact predicate, the same shape as the
    reference's brute-force IT (GeoWaveSparkSpatialJoinIT.java:227-254)."""
    pts = add_point_cols(points, lon_col, lat_col).select(point_id, lon_col, lat_col)
    j = pts.crossJoin(polygons.select(polygon_id, wkt_col))
    if predicate == "intersects":
        j = j.filter(geo_udfs.st_contains_point(F.col(wkt_col), F.col(lon_col), F.col(lat_col)))
    else:
        j = j.filter(
            geo_udfs.st_distance_point(F.col(wkt_col), F.col(lon_col), F.col(lat_col))
            <= F.lit(float(radius))
        )
    return j.select(point_id, polygon_id).dropDuplicates([point_id, polygon_id])
