"""Great-circle (haversine) distance as a JVM Column expression
(SURVEY.md §2.8 geo scalars).

The grid kNN uses planar squared-degree distance (exact, rational —
safe for cross-engine oracles); haversine is the geodesic-correct
variant for ranking/radius filters at real-world scale. Trig is NOT
bit-identical across math libraries, so this function is never used in
a DuckDB-oracle query — its gate is parity with the numpy twin in
tests/oracle_geo.py within 1e-9 relative
(tests/test_robustness.py::test_haversine_jvm_matches_numpy).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088  # IUGG mean radius


def haversine_km_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in km as a pure Column expression —
    whole-stage codegen, no Python."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2) - F.radians(lat1)
    dlon = F.radians(lon2) - F.radians(lon1)
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    )
    # clamp: float error can push a infinitesimally past 1 → asin NaN
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
