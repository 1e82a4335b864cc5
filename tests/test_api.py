"""SpatialFrame facade smoke tests — each builder method produces the same
result as the underlying operator call."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from geowave_spark import entry_queries as eq
from geowave_spark.api import SpatialFrame
from geowave_spark.operators import spatial_join


def test_from_keyed_matches_entry_queries(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sf = SpatialFrame.from_keyed(ev, "event_id")
    direct = eq._events(spark, sf_dir)
    assert sorted(map(tuple, sf.df.select("event_id", "lon", "lat").collect())) == sorted(
        map(tuple, direct.select("event_id", "lon", "lat").collect())
    )


def test_spatial_join_and_bbox(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sf = SpatialFrame.from_keyed(ev, "event_id")
    polys = eq._poly_df(spark, [p for p in eq.PIP_POLYGONS if p[0].startswith("big")])
    got = sf.spatial_join(polys)
    want = spatial_join.tiered_spatial_join(sf.df, polys, point_id="event_id")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    n_box = sf.within_bbox((-30.0, 10.0, 45.0, 55.0)).count()
    assert n_box > 0


def test_knn_and_tiles_and_kde(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sf = SpatialFrame.from_keyed(ev, "event_id")
    qs = sf.df.filter(F.col("event_id") < 4).select(
        F.col("event_id").alias("query_id"), "lon", "lat"
    )
    knn = sf.knn(qs, k=3, max_distance=5.0)
    assert knn.groupBy("query_id").count().agg(F.max("count")).collect()[0][0] <= 3
    assert sf.tile_counts([5]).count() > 0
    assert sf.kde(level=5, exact=True).count() > 0
    assert sf.subsample(tier=6).count() > 0


def test_from_images_phash_points(spark):
    from geowave_spark.sources import images as img

    sf = SpatialFrame.from_images(img.generate_images(spark, 50))
    rows = sf.df.select("lon", "lat").collect()
    assert all(-180 <= r["lon"] <= 180 and -90 <= r["lat"] <= 90 for r in rows)


def test_geometry_frame_join_paths(spark):
    """GeometryFrame facade: both build-side paths give identical pairs."""
    from geowave_spark.api import GeometryFrame
    from geowave_spark import entry_queries as eq

    segs = eq._event_seg_df(spark, "/root/testdata/sf0.001").withColumnRenamed(
        "event_id", "seg_id"
    )
    tracks = eq._tracks_df(spark).withColumnRenamed("polygon_id", "track_id")
    gf = GeometryFrame(segs, "seg_id")
    bc = sorted(map(tuple, gf.join(tracks, "track_id").collect()))
    sh = sorted(map(tuple, gf.join(tracks, "track_id", broadcast=False).collect()))
    auto = sorted(map(tuple, gf.join(tracks, "track_id", broadcast=None).collect()))
    assert bc == sh == auto and len(bc) > 0


def test_geometry_frame_join_probes_build_side_once(spark, monkeypatch):
    """The build-side decision is made once per join: the facade leaves
    it to geometry_join's probe instead of probing first itself."""
    from geowave_spark.api import GeometryFrame

    calls = []
    probe = spatial_join.probe_broadcastable

    def counted(*a, **kw):
        calls.append(1)
        return probe(*a, **kw)

    monkeypatch.setattr(spatial_join, "probe_broadcastable", counted)
    left = spark.createDataFrame([("a", "LINESTRING (0 0, 2 1)")], ["seg_id", "wkt"])
    right = spark.createDataFrame(
        [("r", "POLYGON ((0 0, 3 0, 3 3, 0 3, 0 0))")], ["poly_id", "wkt"]
    )
    got = GeometryFrame(left, "seg_id").join(right, "poly_id").collect()
    assert [tuple(r) for r in got] == [("a", "r")]
    assert len(calls) == 1


def test_geometry_frame_within_predicate(spark):
    from geowave_spark.api import GeometryFrame
    from geowave_spark import entry_queries as eq

    ext = eq._event_box_wkt_df(spark, "/root/testdata/sf0.001").withColumnRenamed(
        "event_id", "ext_id"
    )
    polys = spark.createDataFrame(eq.GEOM_POLYGONS, ["poly_id", "wkt"])
    gf = GeometryFrame(ext, "ext_id", bbox_cols=("bx0", "by0", "bx1", "by1"))
    got = gf.join(polys, "poly_id", predicate="within")
    n = got.count()
    # every within pair must also be an intersects pair
    inter = {tuple(r) for r in gf.join(polys, "poly_id").collect()}
    w = {tuple(r) for r in got.collect()}
    assert n > 0 and w <= inter


def test_spatialframe_write_store_roundtrip(spark, sf_dir, tmp_path):
    from geowave_spark.sources import maintenance as mt

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    sf = SpatialFrame.from_keyed(ev, "event_id")
    root = str(tmp_path / "api_store")
    m = sf.write_store(root, n_files=4)
    assert m["generation"] == 0
    bbox = (-30.0, 10.0, 45.0, 55.0)
    want = sorted(r["event_id"] for r in sf.within_bbox(bbox).select("event_id").collect())
    got = sorted(r["event_id"] for r in mt.lookup_store(spark, root, bbox).select("event_id").collect())
    assert got == want
