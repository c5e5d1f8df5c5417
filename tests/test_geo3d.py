"""Geo3D / spatial3d analog (geo3d.py) — ellipsoid point math vs
haversine ground truth, pole/dateline-safe convex polygons, and path
corridors, all as pure column expressions.
"""

import math

import pandas as pd
import pytest

from lucene_spark.geo import EARTH_MEAN_RADIUS_METERS, haversine_meters_py
from lucene_spark.geo3d import (
    SPHERE,
    WGS84,
    arc_distance,
    convex_polygon_predicate,
    path_predicate,
    within_circle,
    within_convex_polygon,
    within_path,
)

import pyspark.sql.functions as F


@pytest.fixture(scope="module")
def pts(spark):
    rows = [
        # (name, lat, lon)
        ("paris", 48.8566, 2.3522),
        ("london", 51.5074, -0.1278),
        ("nyc", 40.7128, -74.0060),
        ("sydney", -33.8688, 151.2093),
        ("npole", 89.9, 45.0),
        ("svalbard", 78.22, 15.65),
        ("fiji_w", -17.7, 179.9),     # just west of the dateline
        ("fiji_e", -17.7, -179.9),    # just east of the dateline
        ("quito", -0.18, -78.47),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["name", "lat", "lon"])
    )


def test_wgs84_point_on_ellipsoid():
    x, y, z = WGS84.point(48.8566, 2.3522)
    lhs = (x * x + y * y) / WGS84.xy_scaling**2 + z * z / WGS84.z_scaling**2
    assert abs(lhs - 1.0) < 1e-12
    # mean radius matches the 2D module's constant (same GRS convention)
    assert abs(WGS84.mean_radius - EARTH_MEAN_RADIUS_METERS) < 0.01


def test_sphere_arc_matches_haversine(pts):
    got = {
        r["name"]: r["rad"]
        for r in pts.withColumn(
            "rad", arc_distance("lat", "lon", 48.8566, 2.3522, SPHERE)
        ).collect()
    }
    for name, lat, lon in [("london", 51.5074, -0.1278), ("sydney", -33.8688, 151.2093)]:
        want = haversine_meters_py(48.8566, 2.3522, lat, lon) / EARTH_MEAN_RADIUS_METERS
        assert abs(got[name] - want) < 1e-9, name
    # WGS84 differs from the sphere by at most the flattening (~0.3%)
    got84 = {
        r["name"]: r["rad"]
        for r in pts.withColumn(
            "rad", arc_distance("lat", "lon", 48.8566, 2.3522, WGS84)
        ).collect()
    }
    for name in ("london", "sydney"):
        assert abs(got84[name] - got[name]) / got[name] < 0.005


def test_within_circle_two_phase(pts):
    # 500 km around Paris: London in, NYC out
    cutoff = 500_000.0 / EARTH_MEAN_RADIUS_METERS
    names = {
        r["name"]
        for r in within_circle(pts, "lat", "lon", 48.8566, 2.3522, cutoff).collect()
    }
    assert names == {"paris", "london"}


def test_polar_polygon_needs_no_splitting(pts):
    # a convex ring around the north pole (lat 85 at four longitudes,
    # counter-clockwise seen from above/outside): contains the pole
    # point and svalbard-latitude excluded
    ring = [(85.0, 0.0), (85.0, 90.0), (85.0, 180.0), (85.0, -90.0)]
    names = {
        r["name"]
        for r in within_convex_polygon(pts, "lat", "lon", ring).collect()
    }
    assert names == {"npole"}


def test_dateline_polygon(pts):
    # small convex quad straddling the ±180 meridian around fiji
    ring = [(-20.0, 178.0), (-20.0, -178.0), (-15.0, -178.0), (-15.0, 178.0)]
    names = {
        r["name"]
        for r in within_convex_polygon(pts, "lat", "lon", ring).collect()
    }
    assert names == {"fiji_w", "fiji_e"}


def test_non_convex_polygon_rejected(pts):
    bad = [(0.0, 0.0), (10.0, 5.0), (0.0, 10.0), (10.0, 15.0)]
    with pytest.raises(ValueError):
        convex_polygon_predicate("lat", "lon", bad)


def test_path_corridor(pts, spark):
    # corridor London -> Paris, 100 km wide: includes both endpoints,
    # excludes NYC; a mid-route point is inside, an off-route point out
    extra = spark.createDataFrame(
        pd.DataFrame(
            [
                ("midroute", 50.2, 1.1),   # ~ on the great circle
                ("brussels", 50.85, 4.35), # ~170 km off the route
            ],
            columns=["name", "lat", "lon"],
        )
    )
    allpts = pts.union(extra)
    cutoff = 100_000.0 / EARTH_MEAN_RADIUS_METERS
    names = {
        r["name"]
        for r in within_path(
            allpts,
            "lat",
            "lon",
            [(51.5074, -0.1278), (48.8566, 2.3522)],
            cutoff,
        ).collect()
    }
    assert "london" in names and "paris" in names and "midroute" in names
    assert "nyc" not in names and "brussels" not in names


def test_path_corner_cap(spark):
    # an L-shaped path: a point just outside both segments' bands but
    # within the cutoff of the corner vertex must match (corner caps)
    df = spark.createDataFrame(
        pd.DataFrame(
            [("corner_diag", 10.7, 10.7)], columns=["name", "lat", "lon"]
        )
    )
    cutoff = 120_000.0 / EARTH_MEAN_RADIUS_METERS
    path = [(0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]  # corner at (10, 10)
    got = df.filter(
        path_predicate("lat", "lon", path, cutoff)
    ).count()
    assert got == 1


def test_path_bulge_beyond_vertex_latitudes(spark):
    # a great-circle segment bulges poleward past its endpoints: this
    # point lies 0.1490 rad from the (35, -20)->(15, 60) great circle on
    # a sphere — inside the 0.15 rad corridor — yet above 44.094°, the
    # cap of a latitude band built from the vertices' max ± (cutoff + 0.5°)
    df = spark.createDataFrame(
        pd.DataFrame(
            [("bulge", 44.13, -7.17), ("far", 50.0, -7.17)],
            columns=["name", "lat", "lon"],
        )
    )
    path = [(35.0, -20.0), (15.0, 60.0)]
    cutoff = 0.15
    got = {
        r["name"]
        for r in within_path(df, "lat", "lon", path, cutoff, SPHERE).collect()
    }
    assert got == {"bulge"}
    want = {
        r["name"]
        for r in df.filter(
            path_predicate("lat", "lon", path, cutoff, SPHERE)
        ).collect()
    }
    assert got == want
