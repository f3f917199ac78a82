"""Geo scalar functions (reference: mods/nums/geography.go, geometry.go,
fx_definitions.go:111-119 latlon/geoPoint/... registry).

The reference's geo surface exists to feed the GEOMAP sink and MAP_DISTANCE;
we provide the haversine math and GeoJSON string builders (rendering itself
is out of engine scope, SURVEY §2.6).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

EARTH_RADIUS_M = 6371000.0


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def haversine_m(lat1, lon1, lat2, lon2) -> Column:
    """Great-circle distance in meters (mods/nums/geography.go)."""
    la1, lo1 = F.radians(_col(lat1)), F.radians(_col(lon1))
    la2, lo2 = F.radians(_col(lat2)), F.radians(_col(lon2))
    dlat, dlon = la2 - la1, lo2 - lo1
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(la1) * F.cos(la2) * F.pow(F.sin(dlon / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def geo_point(lat, lon) -> Column:
    """geoPoint(lat, lon) -> GeoJSON Point string."""
    return F.format_string('{"type":"Point","coordinates":[%s,%s]}',
                           _col(lon).cast("string"), _col(lat).cast("string"))


def _coords_json(lat_arr, lon_arr) -> Column:
    """array<double> lat + array<double> lon -> '[[lon,lat],...]' JSON text.
    zip_with keeps the pairing JVM-side; no UDF."""
    pairs = F.zip_with(
        _col(lon_arr), _col(lat_arr),
        lambda lo, la: F.concat(F.lit("["), lo.cast("string"), F.lit(","),
                                la.cast("string"), F.lit("]")),
    )
    return F.concat(F.lit("["), F.array_join(pairs, ","), F.lit("]"))


def geo_line_string(lat_arr, lon_arr) -> Column:
    """geoLineString(points...) (mods/nums/geometry.go) -> GeoJSON LineString.
    Takes parallel lat/lon array columns — at scale a track is a grouped
    collect_list, not a Python-side list."""
    return F.concat(F.lit('{"type":"LineString","coordinates":'),
                    _coords_json(lat_arr, lon_arr), F.lit("}"))


def geo_multi_point(lat_arr, lon_arr) -> Column:
    """geoMultiPoint(points...) -> GeoJSON MultiPoint."""
    return F.concat(F.lit('{"type":"MultiPoint","coordinates":'),
                    _coords_json(lat_arr, lon_arr), F.lit("}"))


def geo_polygon(lat_arr, lon_arr) -> Column:
    """geoPolygon(points...) -> GeoJSON Polygon (single outer ring, closed:
    the reference's geometry builder repeats the first vertex; we append it
    when the caller hasn't)."""
    la, lo = _col(lat_arr), _col(lon_arr)
    closed = (F.element_at(la, 1) == F.element_at(la, -1)) & \
             (F.element_at(lo, 1) == F.element_at(lo, -1))
    la2 = F.when(closed, la).otherwise(F.concat(la, F.array(F.element_at(la, 1))))
    lo2 = F.when(closed, lo).otherwise(F.concat(lo, F.array(F.element_at(lo, 1))))
    return F.concat(F.lit('{"type":"Polygon","coordinates":['),
                    _coords_json(la2, lo2), F.lit("]}"))
