"""Correctness checks on collected benchmark outputs (NumPy/pandas only).

Each check returns a list of failure messages; an empty list is a pass. The
expected values are computed here independently of the package: plot-grid
arithmetic from the GRID constants mirrored from ``synth.py``, a brute-force
nearest-plot search over all 864 plots, and the slippy-tile formula.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Plot grid of synth.py (frozen): 54 ranges x 16 passes of DLAT x DLON.
GRID_LAT0 = 33.0745
GRID_DLAT = 3.65e-5
GRID_LON0 = -111.9750833333
GRID_DLON = 5.0e-5
N_RANGES = 54
N_PASSES = 16

EDGE_DEG = 1e-7  # ~1 cm: centroids closer than this to a plot edge are skipped
TIE_M = 1e-3  # nearest candidates closer than this in distance are skipped
TILE_EDGE = 1e-6  # bbox edges closer than this (in tile units) to a tile edge are skipped
MATCH_KINDS = {"contains", "nearest", "site"}


def row_hash(cols: list[str]) -> Column:
    """xxhash64 over every named column (maps hashed via JSON)."""
    return F.xxhash64(*[F.to_json(F.col(c)) if c == "properties" else F.col(c) for c in cols])


def digest_exprs(h: Column) -> list[Column]:
    """Order-independent digest aggregates over the row hashes ``h``."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("sum"),
    ]


def digest_str(row: dict) -> str:
    return f"{row['rows']}:{(row['xor'] or 0) & (2**64 - 1):016x}:{row['sum'] or 0}"


def digest_of(hashes: np.ndarray) -> str:
    """``digest_exprs`` computed from collected row hashes."""
    h = np.asarray(hashes, dtype=np.int64)
    return digest_str({
        "rows": len(h),
        "xor": int(np.bitwise_xor.reduce(h)) if len(h) else 0,
        "sum": int(np.mod(h, 2**31).sum()),
    })


def key_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of the (url, plot_id, matched_via) rows."""
    rows = sorted(df[["url", "plot_id", "matched_via"]].astype(str).itertuples(index=False))
    return f"{len(rows)}:{hashlib.sha256(repr(rows).encode()).hexdigest()[:16]}"


def _plot_id(r: np.ndarray, p: np.ndarray) -> np.ndarray:
    return np.char.add(np.char.add(r.astype(str), "-"), p.astype(str))


def _grid_cell(lat: np.ndarray, lon: np.ndarray):
    """(range, pass, near_edge) of each point by grid arithmetic."""
    fr = (lat - GRID_LAT0) / GRID_DLAT
    fp = (lon - GRID_LON0) / GRID_DLON
    near = (np.abs(fr - np.round(fr)) * GRID_DLAT < EDGE_DEG) | (
        np.abs(fp - np.round(fp)) * GRID_DLON < EDGE_DEG
    )
    return np.floor(fr).astype(int) + 1, np.floor(fp).astype(int) + 1, near


def check_datapoints(dp: pd.DataFrame, truth: pd.DataFrame, sample: int,
                     rng: np.random.Generator) -> list[str]:
    """``dp``: collected datapoints; ``truth``: generator truth (url, _block, _site)
    for the same documents."""
    errs = []
    want = truth[truth["_block"]].drop_duplicates("url")
    if len(dp) != len(want):
        errs.append(f"datapoint rows {len(dp)} != docs with a block {len(want)}")
    if dp["url"].duplicated().any():
        errs.append("duplicate datapoint urls")
    if set(dp["url"]) != set(want["url"]):
        errs.append("datapoint urls differ from the docs with a block")
    if dp["plot_id"].isna().any():
        errs.append(f"{int(dp['plot_id'].isna().sum())} datapoints without plot_id")
    bad_kind = ~dp["matched_via"].isin(MATCH_KINDS)
    if bad_kind.any():
        errs.append(f"{int(bad_kind.sum())} datapoints with matched_via outside {sorted(MATCH_KINDS)}")

    site = dp.merge(want[["url", "_site"]], on="url", how="inner")
    is_site = site["matched_via"] == "site"
    if (is_site != site["_site"].notna()).any():
        errs.append("matched_via='site' differs from the docs carrying a sitename")
    if (site.loc[is_site, "plot_id"] != site.loc[is_site, "_site"]).any():
        errs.append("site plot_id differs from the sitename's plot")

    lat = dp["centroid_lat"].to_numpy(float)
    lon = dp["centroid_lon"].to_numpy(float)
    r, p, near = _grid_cell(lat, lon)
    on_grid = (r >= 1) & (r <= N_RANGES) & (p >= 1) & (p <= N_PASSES) & ~near
    kind = dp["matched_via"].to_numpy()
    pid = dp["plot_id"].to_numpy().astype(str)

    idx = np.flatnonzero(kind == "contains")
    idx = rng.choice(idx, min(sample, len(idx)), replace=False) if len(idx) else idx
    idx = idx[~near[idx]]
    off = idx[~on_grid[idx]]
    if len(off):
        errs.append(f"{len(off)} 'contains' rows whose centroid is off the plot grid")
    idx = idx[on_grid[idx]]
    wrong = idx[_plot_id(r[idx], p[idx]) != pid[idx]]
    if len(wrong):
        errs.append(f"{len(wrong)}/{len(idx)} sampled 'contains' rows differ from grid arithmetic")

    idx = np.flatnonzero(kind == "nearest")
    idx = rng.choice(idx, min(sample, len(idx)), replace=False) if len(idx) else idx
    inside = idx[on_grid[idx]]
    if len(inside):
        errs.append(f"{len(inside)} 'nearest' rows whose centroid lies inside a plot")
    idx = idx[~on_grid[idx] & ~near[idx]]
    if len(idx):
        best, tie = _brute_nearest(lat[idx], lon[idx])
        wrong = (best != pid[idx]) & ~tie
        if wrong.any():
            errs.append(f"{int(wrong.sum())}/{int((~tie).sum())} sampled 'nearest' rows differ from brute force")
    return errs


def _brute_nearest(lat: np.ndarray, lon: np.ndarray):
    """Nearest plot by point-to-rectangle distance in the local equirectangular
    plane, over all plots; returns (plot ids, near-tie mask)."""
    rr, pp = np.meshgrid(np.arange(1, N_RANGES + 1), np.arange(1, N_PASSES + 1), indexing="ij")
    rr, pp = rr.ravel(), pp.ravel()
    lat_s = GRID_LAT0 + (rr - 1) * GRID_DLAT
    lon_w = GRID_LON0 + (pp - 1) * GRID_DLON
    coslat = np.cos(np.radians(lat))[:, None]
    dx = np.maximum(np.maximum(lon_w - lon[:, None], 0.0), lon[:, None] - (lon_w + GRID_DLON))
    dy = np.maximum(np.maximum(lat_s - lat[:, None], 0.0), lat[:, None] - (lat_s + GRID_DLAT))
    d = np.hypot(dx * coslat, dy) * (np.pi / 180.0 * 6_371_008.8)
    order = np.argsort(d, axis=1)[:, :2]
    d1 = np.take_along_axis(d, order, axis=1)
    tie = (d1[:, 1] - d1[:, 0]) < TIE_M
    return _plot_id(rr[order[:, 0]], pp[order[:, 0]]), tie


def _tile_frac(lat: np.ndarray, lon: np.ndarray, z: int):
    n = float(2**z)
    lat_r = np.radians(np.clip(lat, -85.05112878, 85.05112878))
    x = (lon + 180.0) / 360.0 * n
    y = (1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n
    return x, y


def check_tiles(dp: pd.DataFrame, tiles: pd.DataFrame, zooms) -> list[str]:
    """``tiles``: (url, z, x, y) rows of the sampled urls in ``dp``. The expected
    tile set of each footprint bbox is every (x, y) between its corners' tiles
    at each zoom; footprints with an edge on a tile boundary are skipped."""
    got = {u: set() for u in dp["url"]}
    for u, z, x, y in tiles[["url", "z", "x", "y"]].itertuples(index=False):
        got.setdefault(u, set()).add((int(z), int(x), int(y)))
    wrong = checked = 0
    for u, footprint in dp[["url", "footprint"]].itertuples(index=False):
        ring = np.array(json.loads(footprint)["coordinates"][0], dtype=float)
        lo_lon, lo_lat = ring.min(axis=0)
        hi_lon, hi_lat = ring.max(axis=0)
        want, edge = set(), False
        for z in zooms:
            x0, y1 = _tile_frac(lo_lat, lo_lon, z)
            x1, y0 = _tile_frac(hi_lat, hi_lon, z)
            fr = np.array([x0, x1, y0, y1])
            edge |= bool((np.abs(fr - np.round(fr)) < TILE_EDGE).any())
            want |= {
                (z, x, y)
                for x in range(int(np.floor(x0)), int(np.floor(x1)) + 1)
                for y in range(int(np.floor(y0)), int(np.floor(y1)) + 1)
            }
        if edge:
            continue
        checked += 1
        wrong += got.get(u, set()) != want
    return [f"{wrong}/{checked} sampled tile sets differ from the bbox tile ranges"] if wrong else []
