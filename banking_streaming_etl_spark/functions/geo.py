"""Geo distance expressions.

The reference has two distance semantics that coexist (SURVEY.md F4/F18):
the pipeline's flat Euclidean (streaming_etl.py:115-120) and the dashboard's
geodesic via geopy row-wise apply (dashboard.py:187-191). geopy's row-at-a-
time pandas apply is the textbook slow path; we replace it with a native
haversine built from Spark trig built-ins — JVM-side, codegen'd, and
vectorizable, with a DuckDB SQL twin for the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0


def haversine_km(lat1: str, lon1: str, lat2: str, lon2: str) -> Column:
    """Great-circle distance in km from degree coordinates."""
    rlat1 = F.radians(F.col(lat1))
    rlat2 = F.radians(F.col(lat2))
    dlat = F.radians(F.col(lat2) - F.col(lat1))
    dlon = F.radians(F.col(lon2) - F.col(lon1))
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """DuckDB twin of haversine_km (same association order for IEEE parity)."""
    return (
        f"(2.0 * {EARTH_RADIUS_KM}) * ASIN(SQRT("
        f"SIN(RADIANS({lat2} - {lat1}) / 2) * SIN(RADIANS({lat2} - {lat1}) / 2)"
        f" + COS(RADIANS({lat1})) * COS(RADIANS({lat2}))"
        f" * SIN(RADIANS({lon2} - {lon1}) / 2) * SIN(RADIANS({lon2} - {lon1}) / 2)"
        f"))"
    )
