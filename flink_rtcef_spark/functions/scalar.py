"""Scalar function library — the engine's "predicate UDF" surface.

The reference exposes these as predicate classes under
``Wayeb/cef/src/main/scala/fsm/symbolic/logic/predicates/`` (one class
per function, looked up by name — docs/lang.md:89-93).  Here each is a
pure Column expression: JVM-side, whole-stage-codegen'd, no Python in
the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def haversine_km(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in km (utils/SpatialUtils.scala analogue).

    Pure column math -> stays inside codegen.
    """
    lon1, lat1, lon2, lat2 = (
        c if isinstance(c, Column) else F.lit(float(c)) for c in (lon1, lat1, lon2, lat2)
    )
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def within_circle(lon: Column, lat: Column, clon: float, clat: float, radius_km: float) -> Column:
    """WithinCirclePredicate.scala:9-23 — distance from center < r."""
    return haversine_km(lon, lat, F.lit(clon), F.lit(clat)) < radius_km


def outside_circle(lon: Column, lat: Column, clon: float, clat: float, radius_km: float) -> Column:
    """OutsideCirclePredicate.scala:9-23 — complement of within."""
    return ~within_circle(lon, lat, clon, clat, radius_km)


def distance_between(lon: Column, lat: Column, clon: float, clat: float, dmin: float, dmax: float) -> Column:
    """DistanceBetweenPredicate.scala:9-26 — ring membership min<=d<max."""
    d = haversine_km(lon, lat, F.lit(clon), F.lit(clat))
    return (d >= dmin) & (d < dmax)


def portable_hash64(col: Column) -> Column:
    """Deterministic 60-bit hash computable identically in DuckDB.

    ``cast(conv(substr(md5(x),1,15),16,10) as bigint)`` here ==
    ``cast(('0x'||substr(md5(x),1,15)) as bigint)`` in DuckDB.  Used by
    dedup/minhash operators so their results are oracle-checkable.
    Non-negative (< 2^60) so modular arithmetic behaves identically.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def bitstring_flag(bitstring: Column, position: int) -> Column:
    """Decode one 0/1 char of an 8-char bitstring to double; "-1" -> -1.0.

    The reference explodes critical_bitstring this way
    (MaritimeParser.java:111-133).
    """
    return F.when(bitstring == "-1", F.lit(-1.0)).otherwise(
        F.substring(bitstring, position + 1, 1).cast("double")
    )
