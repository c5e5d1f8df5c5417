"""Geo3D — the spatial3d module analog (Geo3DPoint over a PlanetModel).

Reference: ``spatial3d/.../Geo3DPoint.java`` (docs as 3D points on a
planet ellipsoid, queried by shape membership),
``geom/PlanetModel.java:31-45`` (SPHERE / WGS84 / CLARKE_1866 models;
all geometry in planet-radius units), ``geom/GeoPoint.java:62-77``
(the point is the geocentric direction ``(cosφcosλ, cosφsinλ, sinφ)``
scaled onto the ellipsoid) and ``arcDistance`` =
``acos(dot/(|p||q|))``, ``geom/GeoStandardPath.java:35`` (a polyline
with a cutoff angle: match anything within the corridor — per-segment
cross-track planes plus endpoint circles), and
``geom/GeoConvexPolygon.java`` (membership = sidedness against the
great-circle plane of every edge).

Why a 3D analog when geo.py already serves 2D boxes/distance/polygons:
the plane-based predicates are immune to the dateline and the poles —
a polygon enclosing the north pole or crossing ±180° needs no
splitting, and path corridors (route buffers) have no 2D equivalent.

Spark shape: every predicate is a pure COLUMN EXPRESSION over the
(lat, lon) doc-values columns — the xyz projection and every plane
dot-product are built-in trig/arithmetic, whole-stage codegen, no
Python. Constants (segment normals, cutoff planes, polygon edge
planes) are precomputed driver-side per query. A bounding-box
pre-filter (parquet min/max pruned) fronts each predicate the same
way geo.py's two-phase queries do where a bbox exists (circle, path);
pole-safe polygons intentionally skip it.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PlanetModel:
    """PlanetModel.java: ellipsoid x²/xy² + y²/xy² + z²/zs² = 1 in
    planet-radius units; meanRadius = (2a + b)/3 (GRS-80 convention)."""

    a: float
    b: float

    @property
    def mean_radius(self) -> float:
        return (2.0 * self.a + self.b) / 3.0

    @property
    def xy_scaling(self) -> float:
        return self.a / self.mean_radius

    @property
    def z_scaling(self) -> float:
        return self.b / self.mean_radius

    def point(self, lat_deg: float, lon_deg: float) -> tuple:
        """Driver-side GeoPoint: geocentric direction scaled onto the
        ellipsoid (GeoPoint.computeDesiredEllipsoidMagnitude)."""
        phi, lam = math.radians(lat_deg), math.radians(lon_deg)
        x = math.cos(phi) * math.cos(lam)
        y = math.cos(phi) * math.sin(lam)
        z = math.sin(phi)
        t = 1.0 / math.sqrt(
            (x * x + y * y) / self.xy_scaling**2 + z * z / self.z_scaling**2
        )
        return (t * x, t * y, t * z)


SPHERE = PlanetModel(1.0, 1.0)
WGS84 = PlanetModel(6378137.0, 6356752.314245)
CLARKE_1866 = PlanetModel(6378206.4, 6356583.8)


def _xyz_cols(lat_col, lon_col, model: PlanetModel) -> tuple:
    """(x, y, z) column expressions for each doc's ellipsoid point —
    built-in trig only (codegen)."""
    phi = F.radians(F.col(lat_col) if isinstance(lat_col, str) else lat_col)
    lam = F.radians(F.col(lon_col) if isinstance(lon_col, str) else lon_col)
    x = F.cos(phi) * F.cos(lam)
    y = F.cos(phi) * F.sin(lam)
    z = F.sin(phi)
    t = F.lit(1.0) / F.sqrt(
        (x * x + y * y) / F.lit(model.xy_scaling**2)
        + z * z / F.lit(model.z_scaling**2)
    )
    return (t * x, t * y, t * z)


def _dot(p: tuple, q: tuple):
    return p[0] * q[0] + p[1] * q[1] + p[2] * q[2]


def _norm3(v: tuple) -> tuple:
    m = math.sqrt(v[0] ** 2 + v[1] ** 2 + v[2] ** 2)
    return (v[0] / m, v[1] / m, v[2] / m)


def _cross(a: tuple, b: tuple) -> tuple:
    return (
        a[1] * b[2] - a[2] * b[1],
        a[2] * b[0] - a[0] * b[2],
        a[0] * b[1] - a[1] * b[0],
    )


def _lit3(v: tuple) -> tuple:
    return (F.lit(v[0]), F.lit(v[1]), F.lit(v[2]))


def arc_distance(
    lat_col, lon_col, lat: float, lon: float, model: PlanetModel = WGS84
) -> Column:
    """GeoPoint.arcDistance (GeoPoint.java:228-242): the angle in
    radians between the doc point and the query point. Multiply by
    ``model.mean_radius`` (and the planet radius in meters for
    non-unit models... for WGS84 the constants ARE meters) for a
    surface distance."""
    p = _xyz_cols(lat_col, lon_col, model)
    q = model.point(lat, lon)
    pm = F.sqrt(_dot(p, p))
    qm = math.sqrt(_dot(q, q))
    cosv = _dot(p, _lit3(q)) / (pm * F.lit(qm))
    # Tools.safeAcos: clamp into [-1, 1]
    return F.acos(F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cosv)))


def circle_predicate(
    lat_col,
    lon_col,
    lat: float,
    lon: float,
    cutoff_radians: float,
    model: PlanetModel = WGS84,
) -> Column:
    """GeoStandardCircle membership: arc distance <= cutoff angle."""
    return arc_distance(lat_col, lon_col, lat, lon, model) <= F.lit(
        float(cutoff_radians)
    )


def convex_polygon_predicate(
    lat_col, lon_col, polygon, model: PlanetModel = WGS84
) -> Column:
    """GeoConvexPolygon.isWithin: the doc point sits on the inside of
    every edge's great-circle plane. ``polygon`` is [(lat, lon), ...]
    counter-clockwise (seen from outside the planet). Pole-enclosing
    and dateline-crossing rings need no special casing — the planes
    don't know about coordinates."""
    pts = [model.point(la, lo) for la, lo in polygon]
    if len(pts) < 3:
        raise ValueError("polygon needs >= 3 vertices")
    # convexity + orientation sanity: every vertex inside every other
    # edge plane
    normals = []
    for i in range(len(pts)):
        a, b = pts[i], pts[(i + 1) % len(pts)]
        n = _norm3(_cross(a, b))
        for j, v in enumerate(pts):
            if j in (i, (i + 1) % len(pts)):
                continue
            if _dot(n, v) < -1e-12:
                raise ValueError(
                    "polygon is not convex/counter-clockwise at edge "
                    f"{i} vs vertex {j}"
                )
        normals.append(n)
    p = _xyz_cols(lat_col, lon_col, model)
    cond = None
    for n in normals:
        c = _dot(p, _lit3(n)) >= F.lit(-1e-12)
        cond = c if cond is None else (cond & c)
    return cond


@dataclass(frozen=True)
class _Segment:
    a: tuple
    b: tuple
    n: tuple        # unit normal of the segment's great circle
    cp_a: tuple     # start cutoff plane normal (positive toward b)
    cp_b: tuple     # end cutoff plane normal (positive toward a)


def _path_segments(points, model: PlanetModel) -> tuple[list, list]:
    pts = [model.point(la, lo) for la, lo in points]
    segs = []
    for a, b in zip(pts, pts[1:]):
        n = _norm3(_cross(a, b))
        segs.append(
            _Segment(a, b, n, _norm3(_cross(n, a)), _norm3(_cross(b, n)))
        )
    return segs, pts


def path_predicate(
    lat_col,
    lon_col,
    points,
    cutoff_radians: float,
    model: PlanetModel = WGS84,
) -> Column:
    """GeoStandardPath.isWithin (GeoStandardPath.java:35): inside the
    corridor of width ``cutoff_radians`` around the polyline — within
    the cross-track band of some segment (bounded by that segment's
    start/end cutoff planes) OR within the cutoff circle of some
    path point (the corner caps)."""
    segs, pts = _path_segments(points, model)
    if not segs:
        raise ValueError("path needs >= 2 points")
    p = _xyz_cols(lat_col, lon_col, model)
    pm = F.sqrt(_dot(p, p))
    cutoff = float(cutoff_radians)
    cond = None
    for s in segs:
        # |cross-track angle| = |asin(dot(P̂, n))|
        sin_ct = _dot(p, _lit3(s.n)) / pm
        in_band = F.abs(F.asin(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), sin_ct))
        )) <= F.lit(cutoff)
        between = (_dot(p, _lit3(s.cp_a)) >= F.lit(0.0)) & (
            _dot(p, _lit3(s.cp_b)) >= F.lit(0.0)
        )
        c = in_band & between
        cond = c if cond is None else (cond | c)
    for v in pts:  # endpoint + corner caps
        vm = math.sqrt(_dot(v, v))
        cosv = _dot(p, _lit3(v)) / (pm * F.lit(vm))
        c = F.acos(
            F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cosv))
        ) <= F.lit(cutoff)
        cond = cond | c
    return cond


# -- two-phase DataFrame helpers (bbox prune -> exact plane refine) ---------


def within_circle(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    lat: float,
    lon: float,
    cutoff_radians: float,
    model: PlanetModel = WGS84,
) -> DataFrame:
    """Two-phase like geo.within_distance: a pushdown-able latitude
    band (cheap, parquet-prunable) then the exact arc predicate. The
    longitude band is only safe away from the poles, so latitude-only
    is the conservative prune."""
    deg = math.degrees(cutoff_radians) + 1e-9
    pre = (F.col(lat_col) >= F.lit(lat - deg - 0.5)) & (
        F.col(lat_col) <= F.lit(lat + deg + 0.5)
    )
    return df.filter(pre).filter(
        circle_predicate(lat_col, lon_col, lat, lon, cutoff_radians, model)
    )


def within_path(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    points,
    cutoff_radians: float,
    model: PlanetModel = WGS84,
) -> DataFrame:
    """The exact corridor predicate alone. A latitude band from the
    vertices' min/max is unsound here: a great-circle segment bulges
    poleward past its endpoints, so corridor points can lie outside it."""
    return df.filter(
        path_predicate(lat_col, lon_col, points, cutoff_radians, model)
    )


def within_convex_polygon(
    df: DataFrame,
    lat_col: str,
    lon_col: str,
    polygon,
    model: PlanetModel = WGS84,
) -> DataFrame:
    """No bbox prune on purpose: pole-enclosing rings have no honest
    lat/lon bbox. The predicate is still pure codegen."""
    return df.filter(
        convex_polygon_predicate(lat_col, lon_col, polygon, model)
    )


# -- ANSI-SQL twins (DuckDB oracles) ----------------------------------------
#
# Same driver-precomputed constants, same expression tree, operator for
# operator — so the float64 results agree bit-for-bit up to the trig
# library's last ulp (query geometries keep doc points far from
# predicate boundaries relative to that).


def _xyz_sql(lat_expr: str, lon_expr: str, model: PlanetModel) -> tuple:
    phi = f"radians({lat_expr})"
    lam = f"radians({lon_expr})"
    x = f"(cos({phi}) * cos({lam}))"
    y = f"(cos({phi}) * sin({lam}))"
    z = f"sin({phi})"
    t = (
        f"(1.0 / sqrt(({x} * {x} + {y} * {y}) / {model.xy_scaling ** 2!r}"
        f" + {z} * {z} / {model.z_scaling ** 2!r}))"
    )
    return (f"({t} * {x})", f"({t} * {y})", f"({t} * {z})")


def _dot_sql(p: tuple, q: tuple) -> str:
    return f"({p[0]} * {q[0]} + {p[1]} * {q[1]} + {p[2]} * {q[2]})"


def _lit3_sql(v: tuple) -> tuple:
    return (repr(v[0]), repr(v[1]), repr(v[2]))


def path_predicate_sql(
    lat_expr: str,
    lon_expr: str,
    points,
    cutoff_radians: float,
    model: PlanetModel = WGS84,
) -> str:
    """SQL twin of :func:`path_predicate` (oracle use)."""
    segs, pts = _path_segments(points, model)
    p = _xyz_sql(lat_expr, lon_expr, model)
    pm = f"sqrt({_dot_sql(p, p)})"
    cutoff = repr(float(cutoff_radians))
    parts = []
    for s in segs:
        sin_ct = f"({_dot_sql(p, _lit3_sql(s.n))} / {pm})"
        in_band = (
            f"abs(asin(greatest(-1.0, least(1.0, {sin_ct})))) <= {cutoff}"
        )
        between = (
            f"{_dot_sql(p, _lit3_sql(s.cp_a))} >= 0.0 AND "
            f"{_dot_sql(p, _lit3_sql(s.cp_b))} >= 0.0"
        )
        parts.append(f"({in_band} AND {between})")
    for v in pts:
        vm = math.sqrt(_dot(v, v))
        cosv = f"({_dot_sql(p, _lit3_sql(v))} / ({pm} * {vm!r}))"
        parts.append(
            f"(acos(greatest(-1.0, least(1.0, {cosv}))) <= {cutoff})"
        )
    return "(" + " OR ".join(parts) + ")"
