"""Geo helpers: WKT construction + the square-polygon-by-area builder.

Reference semantics (milvus-bricks/2.6/cal_polygon_by_point.py:3-55): a WKT
POLYGON centered on (lon, lat) covering ``area_sq_km``, using the equirect
approximation (111.195 km per degree latitude, scaled by cos(lat) for
longitude). Counter-clockwise ring starting at the south-west corner,
closed. These polygons feed ST_CONTAINS filters (P12) — the horizonPoc
geo-query workload.
"""

from __future__ import annotations

import math

KM_PER_DEGREE = 111.195


def square_polygon_wkt(center: str | tuple[float, float],
                       area_sq_km: float) -> str:
    """WKT POLYGON of a square of ``area_sq_km`` centered on ``center``
    ("lon lat" string or (lon, lat) tuple)."""
    if isinstance(center, str):
        lon, lat = map(float, center.split())
    else:
        lon, lat = center
    half_side = math.sqrt(area_sq_km) / 2
    lat_off = half_side / KM_PER_DEGREE
    lon_off = half_side / (math.cos(math.radians(lat)) * KM_PER_DEGREE)
    sw = (lon - lon_off, lat - lat_off)
    se = (lon + lon_off, lat - lat_off)
    ne = (lon + lon_off, lat + lat_off)
    nw = (lon - lon_off, lat + lat_off)
    ring = ", ".join(f"{x} {y}" for x, y in (sw, se, ne, nw, sw))
    return f"POLYGON(({ring}))"


def st_contains_expr(field: str, polygon_wkt: str) -> str:
    """Filter-expression string form of the geo predicate (P12)."""
    return f"ST_CONTAINS({field}, '{polygon_wkt}')"
