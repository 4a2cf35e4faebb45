"""Workload inputs and their Spark-free reference outputs.

Every workload is made from the package's own deterministic generators
(``synth.pages``, ``synth.polygons``, ``synth.cities``); the seed picks the
page-id window, so one seed always yields the same pages.  The reference a
pass is checked against never touches Spark: ``synth.pages.page_coords``
gives each page's tag coordinates and ``geo.pip.PreparedGeometry`` assigns
the containing village.
"""

from __future__ import annotations

import gc
import multiprocessing
import os
import shutil
import zlib
from multiprocessing import resource_tracker
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from immich_geodata_zh_tw_spark.geo import grid
from immich_geodata_zh_tw_spark.geo.distance import haversine_np
from immich_geodata_zh_tw_spark.geo.pip import PreparedGeometry
from immich_geodata_zh_tw_spark.operators.pipjoin import polygon_cells_pdf
from immich_geodata_zh_tw_spark.synth import TW_BBOX, cities, pages, polygons
from immich_geodata_zh_tw_spark.synth.hashing import u01

#: page ids of one seed never overlap another seed's
SEED_STRIDE = 1 << 24
#: ``synth.pages`` kind threshold: ids whose kind hash is at least this carry
#: an in-Taiwan tag
IN_BBOX_KIND = 0.40
#: the flagship's PIP grid resolution (``reverse_geocode_pages`` default)
PIP_RES = 10


@dataclass(frozen=True)
class Workload:
    name: str
    village_grid: int       # 5 → 500 villages, 20 → 8,000
    pages: int              # pages drawn per seed (before the photos filter)
    in_taiwan_only: bool    # keep only ids whose tag lies in the bbox


WORKLOADS = {
    w.name: w for w in (
        Workload("crawl_mixed", village_grid=5, pages=120_000,
                 in_taiwan_only=False),
        Workload("photos_tw8k", village_grid=20, pages=16_000,
                 in_taiwan_only=True),
    )
}


def page_ids(w: Workload, seed: int, n: int | None = None) -> np.ndarray:
    """The ids of the pages a workload feeds the program for ``seed``."""
    start = (seed % (1 << 20)) * SEED_STRIDE
    ids = np.arange(start, start + (n or w.pages), dtype=np.int64)
    if w.in_taiwan_only:
        ids = ids[u01(ids, salt=1) >= IN_BBOX_KIND]
    return ids


def dims(w: Workload) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(polygons, cities) pandas tables the plan joins against."""
    return (polygons.admin_polygons_pdf(village_grid=w.village_grid),
            cities.cities_pdf(village_grid=w.village_grid))


def input_path(w: Workload, seed: int, n: int, work: Path) -> Path:
    return work / "inputs" / f"{w.name}_s{seed}_n{n}"


PAGES_ARROW_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _write_pages(job: tuple[np.ndarray, str]) -> None:
    """Pool task: the ``synth.pages`` rows of some ids as one parquet file."""
    ids, path = job
    pq.write_table(pa.Table.from_pandas(pages.pages_pdf(ids),
                                        schema=PAGES_ARROW_SCHEMA,
                                        preserve_index=False), path)


def stop_resource_tracker() -> None:
    """Stop the helper process a ``spawn`` pool starts to track its
    semaphores, and wait for it; left alone it outlives this process."""
    gc.collect()  # free the pool's semaphores first, or they restart it
    resource_tracker._resource_tracker._stop()


def materialize(w: Workload, seed: int, n: int, path: Path) -> None:
    """Write the workload's pages to ``path`` without Spark: the same rows
    ``synth.pages.pages_df`` makes, one parquet file per core, each written
    by its own process.  A ``_SUCCESS`` marker is written last, so a
    half-written directory counts as missing."""
    cores = len(os.sched_getaffinity(0))
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jobs = [(c, str(tmp / f"part-{i:05d}.parquet"))
            for i, c in enumerate(np.array_split(page_ids(w, seed, n), cores))
            if c.size]
    with multiprocessing.get_context("spawn").Pool(cores) as pool:
        pool.map(_write_pages, jobs)
    del pool
    stop_resource_tracker()
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)


def row_digest(url: str, county: str, township: str, village: str) -> int:
    """crc32 of one output row's identity — the Spark side computes the same
    value with ``crc32(concat_ws('|', url, county, township, village))``."""
    return zlib.crc32(f"{url}|{county}|{township}|{village}".encode())


def page_url(i: int) -> str:
    return f"https://example.org/site{i % 1000}/page/{i}"


@dataclass
class Reference:
    """What a correct pass outputs, computed without Spark."""
    rows: int             # output rows (one per page tagged inside a village)
    digest: int           # sum of row_digest over all output rows
    in_bbox_points: int   # pages that pass the bbox filter
    pip_cover_rows: int   # (cell, polygon) rows of the PIP prefilter table
    pip_candidates: int   # (point, polygon) pairs the cell prefilter emits
    sample: pd.DataFrame  # fixed rows checked field by field
    points: pd.DataFrame  # lat, lon of every in-bbox page
    hits: pd.DataFrame    # lat, lon of every output row (the kNN queries)


def _assign_villages(lat: np.ndarray, lon: np.ndarray,
                     polys: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(point index, polygon index) for every containing pair, by
    ``PreparedGeometry.contains`` over the points inside each polygon's bbox."""
    order = np.argsort(lat, kind="stable")
    lat_s = lat[order]
    pt_idx, poly_idx = [], []
    for j, buf in enumerate(polys["geometry_wkb"]):
        g = PreparedGeometry(bytes(buf))
        lo = np.searchsorted(lat_s, g.lat_min, "left")
        hi = np.searchsorted(lat_s, g.lat_max, "right")
        cand = order[lo:hi]
        cand = cand[(lon[cand] >= g.lon_min) & (lon[cand] <= g.lon_max)]
        hit = cand[g.contains(lon[cand], lat[cand])]
        pt_idx.append(hit)
        poly_idx.append(np.full(hit.size, j))
    return np.concatenate(pt_idx), np.concatenate(poly_idx)


def nearest_place(lat: float, lon: float, places: pd.DataFrame) -> tuple[int, float]:
    """Brute-force nearest place: haversine, ties to the lowest geoname_id."""
    d = haversine_np(lat, lon, places["latitude"].to_numpy(),
                     places["longitude"].to_numpy())
    best = np.flatnonzero(d == d.min())
    ids = places["geoname_id"].to_numpy()[best]
    k = best[np.argmin(ids)]
    return int(places["geoname_id"].iat[k]), float(d[k])


def reference(w: Workload, seed: int, *, n: int | None = None,
              sample_size: int = 32, corrupt: bool = False) -> Reference:
    """The expected output of one pass over the pages of ``page_ids``.

    ``corrupt`` swaps the village of one output row — a deliberately wrong
    reference the self-test uses to prove a bad pass is reported."""
    ids = page_ids(w, seed, n)
    lat, lon = pages.page_coords(ids)
    lat_min, lat_max, lon_min, lon_max = TW_BBOX
    keep = (~np.isnan(lat) & (lat >= lat_min) & (lat <= lat_max)
            & (lon >= lon_min) & (lon <= lon_max))
    ids, lat, lon = ids[keep], lat[keep], lon[keep]
    polys, places = dims(w)

    cover = polygon_cells_pdf(polys.assign(poly_id=range(len(polys))),
                              id_col="poly_id", res=PIP_RES)
    cells, per_cell = np.unique(cover["cell"].to_numpy(np.int64),
                                return_counts=True)
    pc = grid.cell_of(lat, lon, PIP_RES)
    pos = np.clip(np.searchsorted(cells, pc), 0, len(cells) - 1)
    candidates = int(np.where(cells[pos] == pc, per_cell[pos], 0).sum())

    pt, pj = _assign_villages(lat, lon, polys)
    order = np.lexsort((pj, ids[pt]))
    pt, pj = pt[order], pj[order]
    county = polys["county"].to_numpy()[pj]
    township = polys["township"].to_numpy()[pj]
    village = polys["village"].to_numpy()[pj].copy()
    if corrupt and village.size:
        village[0] = village[-1] if village[-1] != village[0] else village[0] + "x"
    digest = sum(row_digest(page_url(int(i)), c, t, v)
                 for i, c, t, v in zip(ids[pt], county, township, village))

    pick = np.unique(np.linspace(0, max(len(pt) - 1, 0),
                                 min(sample_size, len(pt))).astype(int))
    sample = pd.DataFrame({
        "id": ids[pt][pick], "county": county[pick],
        "township": township[pick], "village": village[pick],
    })
    sample["url"] = [page_url(int(i)) for i in sample["id"]]
    return Reference(rows=int(len(pt)), digest=int(digest),
                     in_bbox_points=int(ids.size), pip_cover_rows=len(cover),
                     pip_candidates=candidates, sample=sample,
                     points=pd.DataFrame({"lat": lat, "lon": lon}),
                     hits=pd.DataFrame({"lat": lat[pt], "lon": lon[pt]}))


def check_sample(out: pd.DataFrame, ref: Reference,
                 places: pd.DataFrame) -> list[str]:
    """Row-for-row check of the plan's output for the sample urls against
    ``extract_geo`` of each page's html plus a brute-force nearest place.
    Returns the mismatches (empty when the rows are right)."""
    from immich_geodata_zh_tw_spark.extract.html_meta import extract_geo

    errors = []
    got = out.set_index("url")
    if len(got) != len(out):
        errors.append("duplicate urls in sample output")
    htmls = pages.pages_pdf(ref.sample["id"].to_numpy())["html"]
    by_id = places.set_index("geoname_id")
    for row, html in zip(ref.sample.itertuples(), htmls):
        if row.url not in got.index:
            errors.append(f"{row.url}: missing")
            continue
        g = got.loc[row.url]
        lat, lon = extract_geo(html)
        gid, dist = nearest_place(lat, lon, places)
        want = {"lat": lat, "lon": lon, "county": row.county,
                "township": row.township, "village": row.village,
                "geoname_id": gid, "name": by_id.at[gid, "name"],
                "admin1_code": by_id.at[gid, "admin1_code"]}
        for col, v in want.items():
            if g[col] != v:
                errors.append(f"{row.url}: {col} {g[col]!r} != {v!r}")
        if not abs(g["knn_dist_km"] - dist) <= 1e-6:
            errors.append(f"{row.url}: knn_dist_km {g['knn_dist_km']} != {dist}")
        if g["country_zh"] is None:
            errors.append(f"{row.url}: country_zh is null")
    return errors
