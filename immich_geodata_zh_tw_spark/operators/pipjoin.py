"""Point-in-polygon join: cell prefilter + exact vectorized refinement.

The extract-stage semantic of the reference (SURVEY.md §2.3 J9): a point is
assigned the admin polygon containing it.  Scalable plan:

1. driver-side: expand each polygon (small side: ~10^4 admin polygons) into
   the grid cells covering its bbox → (cell, poly_id) table, broadcast;
2. points (10^12 side) compute their cell in Column algebra and broadcast
   equi-join → candidate (point, poly_id) pairs.  Non-overlapping admin
   tilings yield ~1 candidate per point (plus bbox false positives);
3. exact refinement inside an Arrow-batched pandas UDF: each polygon is
   prepared once on the driver (edge arrays, ``PreparedGeometry``) and the
   prepared dict ships to executors as this call's own Spark broadcast, so
   two calls over different polygon sets never share state; each batch is
   tested vectorized (no per-row Python).

No shuffle touches the big side at any step — the only wide operation is the
broadcast itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.geo import cell_expr
from ..geo import grid, pip
from ..session import local_dim_df


def polygon_cells_pdf(polys_pdf: pd.DataFrame, *, id_col: str,
                      wkb_col: str = "geometry_wkb",
                      res: int = grid.DEFAULT_RES) -> pd.DataFrame:
    """(cell, poly_id) covering table — driver-side numpy, small side only."""
    return _cover_pdf(_prepare(polys_pdf, id_col, wkb_col), id_col, res)


def _prepare(polys_pdf: pd.DataFrame, id_col: str, wkb_col: str) -> dict:
    return {pid: pip.PreparedGeometry(bytes(buf))
            for pid, buf in zip(polys_pdf[id_col], polys_pdf[wkb_col])}


def _cover_pdf(prepared: dict, id_col: str, res: int) -> pd.DataFrame:
    cells = [grid.covering_cells(g.lat_min, g.lat_max, g.lon_min, g.lon_max, res)
             for g in prepared.values()]
    return pd.DataFrame({
        "cell": np.concatenate(cells),
        id_col: np.repeat(np.array(list(prepared), dtype=object),
                          [len(c) for c in cells]),
    })


def pip_join(spark: SparkSession, points: DataFrame, polys_pdf: pd.DataFrame, *,
             lat_col: str = "lat", lon_col: str = "lon",
             id_col: str = "poly_id", wkb_col: str = "geometry_wkb",
             attr_cols: list[str] | None = None,
             res: int = grid.DEFAULT_RES) -> DataFrame:
    """Assign each point its containing polygon's id + attributes.

    Inner join: points in no polygon are dropped.  Polygons must not
    overlap (admin tilings don't); if they did, a point would emit one row
    per containing polygon.
    """
    if attr_cols is None:
        attr_cols = [c for c in polys_pdf.columns if c not in (id_col, wkb_col)]

    prepared = _prepare(polys_pdf, id_col, wkb_col)
    cover = local_dim_df(spark, _cover_pdf(prepared, id_col, res))
    bc = spark.sparkContext.broadcast(prepared)

    @F.pandas_udf(BooleanType())
    def contains_udf(pid: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        geoms = bc.value
        out = np.zeros(len(pid), dtype=bool)
        lon_np = lon.to_numpy(dtype=np.float64)
        lat_np = lat.to_numpy(dtype=np.float64)
        # vectorize per distinct polygon within the batch.  Group rows by
        # polygon via ONE stable argsort + run-boundary split — the
        # per-unique boolean-mask form was O(|polys| × batch): with ~500
        # polygons present in every (round-robin-shuffled) 10 k-row batch
        # it allocated 500 full-batch masks per batch, measured r6 as the
        # dominant CPU of the flagship tail stage
        pid_np = pid.to_numpy()
        if len(pid_np) == 0:
            return pd.Series(out)
        order = np.argsort(pid_np, kind="stable")
        spid = pid_np[order]
        starts = np.flatnonzero(
            np.concatenate(([True], spid[1:] != spid[:-1])))
        for s, e in zip(starts, np.append(starts[1:], len(spid))):
            idx = order[s:e]
            out[idx] = geoms[spid[s]].contains(lon_np[idx], lat_np[idx])
        return pd.Series(out)

    pts = points.withColumn("__cell", cell_expr(F.col(lat_col), F.col(lon_col), res))
    cand = pts.join(F.broadcast(cover), pts["__cell"] == cover["cell"], "inner")
    hit = (cand.filter(contains_udf(F.col(id_col), F.col(lon_col), F.col(lat_col)))
           .drop("__cell", "cell"))

    if attr_cols:
        attrs = local_dim_df(spark, polys_pdf[[id_col, *attr_cols]])
        hit = hit.join(F.broadcast(attrs), id_col, "left")
    return hit
