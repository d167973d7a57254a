"""Spatial cell-encoding stage: S2 level-12 + icosahedral hex res-7 +
coarse join grid, in one Arrow pass (north_rule indexing requirement).

Three index columns per item:
- ``cell_s2``   — S2 level-12 id (functions.s2), the canonical spatial key
- ``cell_hex``  — icosahedral gnomonic aperture-7 hex res-7 id
  (functions.icosa — the H3-class index: seam-free at ±180, no polar
  degeneracy, near-equal-area). The kNN operator keeps its own
  equirectangular hexgrid (functions.hexgrid) because its exact-variant
  distance guarantee is derived on that plane.
- ``cell_grid`` — coarse fixed grid (GRID_DEG°), the candidate key for the
  broadcast PIP join (footprint covers are tiny at this granularity)

All three are pure functions of (lon, lat); the stage is narrow (no
shuffle) and JVM→Arrow batched.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.icosa import cell_hex
from ..functions.s2 import s2_cell_id

GRID_DEG = 4.0
S2_LEVEL = 12
HEX_RES = 7


def grid_cell_np(lon, lat, grid_deg: float = GRID_DEG) -> np.ndarray:
    """Coarse grid id: gx * 1000 + gy; -1 for null geometry. Matches the
    SQL-expressible formula used by the DuckDB oracle
    (floor((lon+180)/g)*1000 + floor((lat+90)/g))."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    nan = ~np.isfinite(lon) | ~np.isfinite(lat)
    gx = np.floor((np.where(nan, 0.0, lon) + 180.0) / grid_deg).astype(np.int64)
    gy = np.floor((np.where(nan, 0.0, lat) + 90.0) / grid_deg).astype(np.int64)
    nx = int(np.ceil(360.0 / grid_deg))
    ny = int(np.ceil(180.0 / grid_deg))
    gx = np.clip(gx, 0, nx - 1)  # lon=180 folds into the last column
    gy = np.clip(gy, 0, ny - 1)  # lat=90 folds into the last row (matches _cover_box clamp)
    return np.where(nan, np.int64(-1), gx * 1000 + gy)


@pandas_udf(T.LongType())
def grid_cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(grid_cell_np(lon.to_numpy(), lat.to_numpy()))


_CELLS_STRUCT = T.StructType(
    [
        T.StructField("s2", T.LongType()),
        T.StructField("hex", T.LongType()),
        T.StructField("grid", T.LongType()),
    ]
)


@pandas_udf(_CELLS_STRUCT)
def all_cells_udf(lon: pd.Series, lat: pd.Series) -> pd.DataFrame:
    """All three indexes in ONE Arrow round-trip — (lon, lat) cross the
    JVM↔Python bridge once instead of three times."""
    lo, la = lon.to_numpy(), lat.to_numpy()
    return pd.DataFrame(
        {
            "s2": s2_cell_id(lo, la, S2_LEVEL),
            "hex": cell_hex(lo, la, HEX_RES),
            "grid": grid_cell_np(lo, la),
        }
    )


def encode_cells(items: DataFrame, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Append cell_s2 / cell_hex / cell_grid columns (null geometry → null)."""
    lon, lat = F.col(lon_col), F.col(lat_col)
    has = lon.isNotNull() & lat.isNotNull()
    return (
        items.withColumn("_cells", all_cells_udf(lon, lat))
        .withColumn("cell_s2", F.when(has, F.col("_cells.s2")))
        .withColumn("cell_hex", F.when(has, F.col("_cells.hex")))
        .withColumn("cell_grid", F.when(has, F.col("_cells.grid")))
        .drop("_cells")
    )
