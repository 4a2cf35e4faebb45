"""Nearest-neighbor (k=1) naming join — the Immich runtime semantic.

Reference semantic: a photo's (lat, lon) is matched to the nearest cities500
point (reference README.md:103; the reference *constructs* that point table,
one row per village centroid, so k=1 lands on the right village).  At 10^12
pages a cross join is impossible; the scalable plan is:

1. encode each query point's grid cell in pure Column algebra (no UDF);
2. explode the **small** places table by the k-ring of each place's cell
   (driver-side numpy — the places table is broadcast-sized by construction,
   ~10^4 rows; the 10^12-row side is never exploded and never shuffled);
3. broadcast equi-join on the query's own cell → per-row candidate array;
4. pick the nearest candidate with ``array_min(transform(...))`` — evaluated
   inside whole-stage codegen, 1 row in → 1 row out, NO explode, NO groupBy
   (a per-query window/groupBy would shuffle every candidate row for zero
   reduction — measured as the dominant non-scaling cost at 10^7 rows);
5. **exactness guard** (per row, latitude-aware): the in-ring nearest is
   provably the global nearest iff its distance is ≤ the minimum possible
   distance to any point outside the ring.  Rows failing the guard — or with
   no in-ring candidate at all — fall back to an exact scan of the *full*
   places array inside the same ``CASE`` expression (branch evaluated lazily,
   only for the vanishing unsettled fraction).

Everything is ONE narrow Catalyst plan: no driver-side iteration, no
per-round anti-join, no action, no persist.  (Round-1 shipped an escalation
loop with a big-big ``left_anti`` + ``take(1)`` per round; at scale the
anti-join re-shuffles the full query set every round — rewritten per
VERDICT.md round-1 item 1.)
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import cell_expr
from ..geo import grid
from ..geo.distance import haversine_sql
from ..session import local_dim_df

_DEG_KM = math.pi / 180.0 * 6371.0088  # km per degree of great-circle arc

#: multiplicative safety margin on the out-of-ring distance lower bound:
#: the planar small-angle bound overestimates the true haversine distance by
#: O(Δλ²) relative (≤ ~1e-5 at city scales); 1e-3 makes the guard airtight
#: at the cost of routing a negligible extra fraction to the exact fallback.
_GUARD_SAFETY = 0.999


def _ring_cells_pdf(places_pdf, *, lat_col: str, lon_col: str,
                    res: int, k: int):
    """Small-side prep: one row per (place, covered cell), driver-side numpy.

    Adds ``cell``, the covering cell a query probes to find this place.
    """
    cells = grid.cell_of(places_pdf[lat_col].to_numpy(),
                         places_pdf[lon_col].to_numpy(), res)
    rings = grid.k_ring(cells, k)  # (n, (2k+1)^2)
    idx = np.repeat(np.arange(rings.shape[0]), rings.shape[1])
    flat = rings.ravel()
    keep = flat >= 0
    out = places_pdf.iloc[idx[keep]].reset_index(drop=True)
    out["cell"] = flat[keep]
    return out


def min_cell_km(res: int, max_abs_lat: float) -> float:
    """Smallest ground extent of one cell step at ``res`` within ±max_abs_lat."""
    lat_step, lon_step = grid.cell_size_deg(res)
    return min(lat_step, lon_step * math.cos(math.radians(max_abs_lat))) * _DEG_KM


def guard_km_col(lat: Column, *, res: int, k: int) -> Column:
    """Per-row lower bound (km) on the distance from a query at ``lat`` to any
    point OUTSIDE its k-ring at ``res`` — pure Column algebra.

    A point outside the ring sits in a cell at Chebyshev distance ≥ k+1, so
    it is separated from the query by ≥ k full cell steps in latitude OR
    longitude; the longitude step is evaluated at the worst (highest) latitude
    reachable inside the ring, so the bound holds row-by-row without a global
    ``max_abs_lat`` assumption (round-1 used a fixed 60° constant — unsafe for
    data above it, ADVICE.md item 4).
    """
    lat_step, lon_step = grid.cell_size_deg(res)
    eff_lat = F.least(F.abs(lat) + F.lit((k + 1) * lat_step), F.lit(89.999))
    step = F.least(F.lit(lat_step),
                   F.lit(lon_step) * F.cos(F.radians(eff_lat)))
    return F.lit(k * _DEG_KM * _GUARD_SAFETY) * step


def max_nn_spacing_km(places_pdf, *, lat_col: str = "latitude",
                      lon_col: str = "longitude",
                      chunk: int = 2048) -> float:
    """Max over DISTINCT place points of the distance to the nearest other
    distinct point (km).

    Driver-side chunked numpy O(n²) — the places table is pandas-resident by
    contract (~10^4 rows).  For a tiling-derived point set this is a proxy for
    the covering radius (worst-case query→nearest-place distance): adjacent
    tile centroids are one tile apart, so covering radius ≈ half-diagonal ≤
    nearest-neighbor spacing for aspect ratios ≤ ~1.4.  Callers use it to
    validate the static-kNN exactness precondition (VERDICT.md round-1 item 5).

    Exact coordinate DUPLICATES are dropped first (r6): a duplicated point
    adds nothing to coverage but zeroes every naive nearest-other distance —
    measured on a 4× supplier table (place coords are mod-997 products, so
    any table beyond 997 rows duplicates every point): spacing read 0,
    auto_ring bailed to its degenerate (res, 1) pick, and the kNN bench row
    went 23× as ~every query paid the full-array brute fold.
    """
    pts = places_pdf[[lat_col, lon_col]].drop_duplicates()
    lat = np.radians(pts[lat_col].to_numpy(dtype=np.float64))
    lon = np.radians(pts[lon_col].to_numpy(dtype=np.float64))
    n = lat.size
    if n < 2:
        return math.inf
    worst = 0.0
    for i0 in range(0, n, chunk):
        i1 = min(i0 + chunk, n)
        dlat = lat[i0:i1, None] - lat[None, :]
        dlon = lon[i0:i1, None] - lon[None, :]
        a = (np.sin(dlat / 2) ** 2
             + np.cos(lat[i0:i1, None]) * np.cos(lat[None, :])
             * np.sin(dlon / 2) ** 2)
        d = 2.0 * 6371.0088 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))
        # mask self-distance
        for j in range(i1 - i0):
            d[j, i0 + j] = np.inf
        worst = max(worst, float(d.min(axis=1).max()))
    return worst


def auto_ring(places_pdf, *, lat_col: str = "latitude",
              lon_col: str = "longitude", margin: float = 2.5,
              max_k: int = 4, res_lo: int = 4, res_hi: int = 16,
              max_explode_rows: int = 4_000_000) -> tuple[int, int]:
    """Pick (res, k) minimizing expected per-query candidate work.

    The per-row cost of the ring path is ~|candidate array| haversines
    (higher-order ``transform`` is interpreted per element), and the array
    size is density × step² × (2k+1)².  Exactness never depends on this
    choice — the guard routes unsettled rows to the exact fallback — but
    the settled fraction does: the guard must exceed the worst-case
    query→nearest-place distance.  That covering radius is proxied by
    ``max_nn_spacing_km × margin``; margin defaults to 2.5 because VOIDS in
    a non-tiling place set are bigger than the inter-place spacing
    (measured on the 1 k-place synthetic fixture: voids ≈ 2.3× spacing —
    with margin 1.3 most rows failed the guard and paid ring+brute BOTH,
    19.9 s; at guard ≥ 2.3× spacing the sweep plateaus at ~2.4 s).

    A fixed res is a footgun in both directions (round-5 sweep, 100 k
    queries × 1 k places, sf0.1/32 cores, noop-measured): res 9 → 39 km
    cells → ~100-candidate arrays → 5-8 s; res 7 → 156 km cells → 38 s;
    guard-sufficient fine-res picks (res 11 k 2 / res 12 k 3-4) → 2.4-2.5 s.
    Exactness at any pick is oracle-pinned by q:geo_knn_cells.

    Driver-side O(n²-chunked) spacing scan — places are pandas-resident by
    contract (~10^4 rows).  ``max_explode_rows`` caps the small side's
    (2k+1)² ring explosion; ``max_k`` defaults to 4 because measured
    per-row cost grows with ring size beyond what the candidate-array
    model captures (res 13 k 7 → 3.7 s vs res 12 k 4 → 2.5 s at equal
    modeled candidates).
    """
    spacing = max_nn_spacing_km(places_pdf, lat_col=lat_col, lon_col=lon_col)
    if not math.isfinite(spacing) or spacing <= 0:
        return grid.DEFAULT_RES, 1
    need = spacing * margin
    max_lat = float(np.abs(places_pdf[lat_col].to_numpy()).max())
    n = len(places_pdf)
    best: tuple[float, int, int] | None = None
    for res in range(res_lo, res_hi + 1):
        step = min_cell_km(res, max_lat)
        k = max(1, math.ceil(need / (step * _GUARD_SAFETY)))
        if k > max_k or n * (2 * k + 1) ** 2 > max_explode_rows:
            continue
        # expected candidates/row ∝ ring AREA (the uniform place density is
        # a loop-invariant factor — it cannot move the argmin, so it is not
        # computed)
        cost = (step * (2 * k + 1)) ** 2
        if best is None or cost < best[0]:
            best = (cost, res, k)
    if best is None:  # spacing too large for max_k at any res: coarsest wins
        return res_lo, max_k
    return best[1], best[2]


def _reduce_dup_coord_places(places_pdf, *, place_lat: str, place_lon: str,
                             tiebreak: str):
    """One row per distinct coordinate, keeping the min-``tiebreak`` row.

    EXACT for the 1-NN joins here: every query's distance to coordinate
    twins is identical, and ``_best_over`` breaks ties on ``tiebreak``
    ascending (struct array_min compares (d, tb, …) lexicographically;
    ``tiebreak`` is a unique key by caller contract), so among places
    sharing BOTH coordinates only the min-tiebreak row can ever win —
    pinned by test_spatial_joins.  Duplicate-bearing tables otherwise
    multiply every candidate array and the brute-fallback array by the
    duplication factor (the r6 4×-supplier bench: place coords are mod-997
    products, so 4 000 suppliers put 4 copies on every point — kNN row
    23× slower)."""
    if places_pdf.duplicated([place_lat, place_lon]).any():
        places_pdf = (places_pdf.sort_values(tiebreak, kind="mergesort")
                      .drop_duplicates([place_lat, place_lon], keep="first")
                      .sort_index())
    return places_pdf


def knn_join(spark: SparkSession, queries: DataFrame, places_pdf, *,
             query_id: str, lat_col: str = "lat", lon_col: str = "lon",
             place_lat: str = "latitude", place_lon: str = "longitude",
             place_cols: list[str] | None = None,
             res: int | str = "auto", k: int | None = None) -> DataFrame:
    """Exact nearest-place join: one output row per query row, ONE narrow plan.

    Output = all ``queries`` columns + ``place_cols`` + ``knn_dist_km``.
    Ties broken by the first column of ``place_cols`` (ascending) — callers
    should pass a unique key first (e.g. geoname_id), mirroring the
    deterministic tie rule used throughout the reference (min geoname_id,
    enhance_data.py:279-290).

    ``k`` is the candidate ring radius; rows whose in-ring nearest fails the
    per-row exactness guard (or that have no in-ring candidate) are resolved
    against the full places array inside the same CASE expression — exact by
    definition, evaluated only for that residual fraction.

    ``res="auto"`` (default) derives BOTH res and k from the places
    table's measured nearest-neighbor spacing (:func:`auto_ring`) — a
    fixed res is wrong in both directions depending on place density (see
    auto_ring's measured numbers).  Passing k with res="auto" raises
    (silently ignoring it would hand back a different ring than asked
    for); pin an int res to control k (default 1).
    """
    if res == "auto" and k is not None:
        raise ValueError("res='auto' derives BOTH res and k from the "
                         "place spacing; pass an explicit res to pin k")
    return _ring_plan(spark, queries, places_pdf, lat_col=lat_col,
                      lon_col=lon_col, place_lat=place_lat,
                      place_lon=place_lon, place_cols=place_cols,
                      res=res, k=k, guarded=True)


def knn_join_static(spark: SparkSession, queries: DataFrame, places_pdf, *,
                    query_id: str, lat_col: str = "lat", lon_col: str = "lon",
                    place_lat: str = "latitude", place_lon: str = "longitude",
                    place_cols: list[str] | None = None,
                    res: int = grid.DEFAULT_RES, k: int = 1) -> DataFrame:
    """Single-pass exact kNN as a *pure narrow plan* — zero shuffle, no
    fallback branch.

    Valid when the caller can guarantee every query's true nearest place lies
    within the k-ring (e.g. a tiling-derived point set whose worst-case
    nearest-centroid distance is below the ring guard — validate with
    :func:`max_nn_spacing_km`; the flagship does, and falls back to
    :func:`knn_join` when the check fails).  Queries with no candidate in the
    ring are dropped; use :func:`knn_join` when coverage is unknown.
    Streaming/foreachBatch-safe (no actions).
    """
    return _ring_plan(spark, queries, places_pdf, lat_col=lat_col,
                      lon_col=lon_col, place_lat=place_lat,
                      place_lon=place_lon, place_cols=place_cols,
                      res=res, k=k, guarded=False)


def _ring_plan(spark: SparkSession, queries: DataFrame, places_pdf, *,
               lat_col: str, lon_col: str, place_lat: str, place_lon: str,
               place_cols: list[str] | None, res: int | str, k: int | None,
               guarded: bool) -> DataFrame:
    """The k-ring plan both kNN joins run.

    The small side is exploded by k-ring on the driver, then grouped per
    covering cell into an ``array<struct(lat, lon, payload…)>`` over a
    one-partition dim (no shuffle) and broadcast; each query row joins its
    own cell's candidate array (1 row in → 1 row out — NO explode) and picks
    the nearest with ``array_min(transform(...))`` in whole-stage codegen.
    ``guarded`` left-joins instead and resolves rows failing the per-row
    exactness guard against the full places array; without it, rows with no
    in-ring candidate are dropped.
    """
    if place_cols is None:
        place_cols = [c for c in places_pdf.columns if c not in (place_lat, place_lon)]
    tiebreak = place_cols[0]
    places_pdf = _reduce_dup_coord_places(
        places_pdf, place_lat=place_lat, place_lon=place_lon,
        tiebreak=tiebreak)
    if res == "auto":
        res, k = auto_ring(places_pdf, lat_col=place_lat, lon_col=place_lon)
    elif k is None:
        k = 1

    payload = [c for c in place_cols if c != tiebreak]
    cand = F.struct(F.col(place_lat).alias("plat"),
                    F.col(place_lon).alias("plon"),
                    F.col(tiebreak).alias("tb"), *map(F.col, payload))
    grouped = (local_dim_df(spark, _ring_cells_pdf(
                   places_pdf, lat_col=place_lat, lon_col=place_lon,
                   res=res, k=k))
               .groupBy("cell").agg(F.collect_list(cand).alias("__places")))

    def best_over(array_col: str) -> Column:
        fields = ", ".join(f"p.{c} AS {c}" for c in ["tb", *payload])
        d = haversine_sql(lat_col, lon_col, "p.plat", "p.plon")
        return F.expr(f"array_min(transform({array_col}, "
                      f"p -> struct({d} AS d, {fields})))")

    q = queries.withColumn("__cell", cell_expr(F.col(lat_col), F.col(lon_col), res))
    joined = q.join(F.broadcast(grouped), q["__cell"] == grouped["cell"],
                    "left" if guarded else "inner").drop("cell")
    best = best_over("__places")

    if guarded:
        # one-row DF carrying ALL places as a single array — the
        # brute-force fallback operand of the per-row CASE.  Measured
        # (round 3): 2M query rows × 500 places on 32 cores = 0.4 s
        # end-to-end — settled rows never evaluate the lazy branch's array
        # fold, and the broadcast array is projected away before any
        # materialization boundary.  The cap that binds is the broadcast
        # size of the places table, for every kNN variant here alike.
        all_places = local_dim_df(spark, places_pdf).agg(
            F.collect_list(cand).alias("__all"))
        joined = (joined.crossJoin(F.broadcast(all_places))
                  .withColumn("__rb", best))
        settled = (F.col("__rb").isNotNull()
                   & (F.col("__rb.d") <= guard_km_col(F.col(lat_col),
                                                      res=res, k=k)))
        best = F.when(settled, F.col("__rb")).otherwise(best_over("__all"))
    return joined.withColumn("__best", best).select(
        *queries.columns,
        F.col("__best.tb").alias(tiebreak),
        *[F.col(f"__best.{c}").alias(c) for c in payload],
        F.col("__best.d").alias("knn_dist_km"),
    )
