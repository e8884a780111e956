"""Seeded input generator for the benchmark workloads.

Modelled on ``extractors_metadata_spark.synth.synth_webpages``: the same
``WEBPAGES`` rows with the LemnaTec script block that ``plans.parse`` reads,
built with NumPy from ``default_rng(seed)`` and written with pyarrow, so the
same (seed, mix, count) always yields the same bytes and generating costs no
Spark job. Unlike ``synth`` the mix is a parameter (block, far, site and
missing shares, off-grid spread, FOV scale, redelivery), and the generator
returns the truth the checks need: per document whether it carries a block
and which plot its sitename names. The program under test only ever sees the
parquet files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sensor table of synth.py (name, camera-box offset, field of view).
SENSORS = ["PS2 System", "VNIR", "Thermal IR", "stereoTop", "Scanner3D"]
CAMBOX_X = np.array([0.827, 0.750, -0.300, 1.100, 0.000])
CAMBOX_Y = np.array([0.710, -0.250, 0.460, 0.330, -0.900])
FOV_X = np.array([2.673, 1.200, 3.500, 0.800, 2.000])
FOV_Y = np.array([1.647, 0.900, 2.100, 1.100, 1.500])
T_BASE = datetime(2016, 5, 7, 15, 58, 43, tzinfo=timezone.utc)
CHUNK = 100  # shares are exact in every aligned chunk of this many documents

SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


@dataclass(frozen=True)
class Mix:
    """Input properties the pipeline's behaviour depends on."""

    block: float = 0.70  # share of pages carrying the metadata block
    far: float = 0.03  # share of positions off the plot grid
    far_spread_m: float = 100_000.0  # off-grid positions: uniform square of this side
    site: float = 0.02  # share carrying site_metadata.sitename (in the block; lookup skipped)
    missing: float = 0.05  # share missing sensor_fixed_metadata
    fov_scale: float = 1.0  # footprint size as a multiple of the sensor FOVs
    redeliver: float = 0.0  # share of each delivery file re-sent from the previous one


def _exact(rng: np.random.Generator, n: int, share: float, among: np.ndarray | None = None):
    """Mask with exactly ``round(share * CHUNK)`` hits in every aligned chunk of
    CHUNK documents (pro rata in a last, shorter chunk), placed at random
    among the chunk's ``among`` documents: every seed and every aligned slice
    of the input then carries the same mix, and only positions differ."""
    among = np.ones(n, bool) if among is None else among
    mask = np.zeros(n, bool)
    for lo in range(0, n, CHUNK):
        cand = lo + np.flatnonzero(among[lo:lo + CHUNK])
        k = min(int(round(share * min(CHUNK, n - lo))), len(cand))
        mask[rng.choice(cand, k, replace=False)] = True
    return mask


def documents(seed: int, mix: Mix, n: int) -> tuple[pa.Table, pd.DataFrame]:
    """Documents with ids ``0..n-1``: the WEBPAGES table and its truth
    (url, _block, _site) in the same row order."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n)
    sensor = rng.integers(0, len(SENSORS), n)
    far = _exact(rng, n, mix.far)
    pos_x = np.where(far, (rng.random(n) - 0.5) * mix.far_spread_m, 3.8 + rng.random(n) * (207.3 - 3.8))
    pos_y = np.where(far, (rng.random(n) - 0.5) * mix.far_spread_m, rng.random(n) * 22.135)
    pos_z = rng.random(n) * 5.5
    missing = _exact(rng, n, mix.missing)
    block = _exact(rng, n, mix.block)
    site = np.where(_exact(rng, n, mix.site, among=block), ids % 16 + 1, 0)
    exposure = rng.integers(0, 100, n)
    flagged = _exact(rng, n, 0.1)
    lang_u = rng.random(n)

    urls, stamps, html, text = [], [], [], []
    for i in range(n):
        ts = T_BASE + timedelta(seconds=int(i))
        qa = "flagged" if flagged[i] else "ok"
        s = sensor[i]
        body = f"<html><head><title>Capture {i}</title></head><body><h1>Sensor capture {i}</h1>"
        if block[i]:
            lmm = {
                "user_given_metadata": {"experiment title": "Sorghum field experiment"},
                "gantry_system_variable_metadata": {
                    "Time": ts.strftime("%m/%d/%Y %H:%M:%S"),
                    "Position x [m]": f"{pos_x[i]:.6f}",
                    "Position y [m]": f"{pos_y[i]:.6f}",
                    "Position z [m]": f"{pos_z[i]:.6f}",
                    "Velocity x [m/s]": "0",
                    "Camnera box light 1 is on": "False",  # typo kept, as in synth.py
                },
                "sensor_variable_metadata": {"current setting exposure": str(exposure[i])},
            }
            if not missing[i]:
                lmm["sensor_fixed_metadata"] = {
                    "sensor manufacturer": "LemnaTec",
                    "sensor product name": SENSORS[s],
                    "location in camera box X [m]": f"{CAMBOX_X[s]:.6f}",
                    "location in camera box Y [m]": f"{CAMBOX_Y[s]:.6f}",
                    "field of view X [m]": f"{FOV_X[s] * mix.fov_scale:.6f}",
                    "field of view Y [m]": f"{FOV_Y[s] * mix.fov_scale:.6f}",
                }
            md = {
                "lemnatec_measurement_metadata": lmm,
                "dataset_name": f"{SENSORS[s]} - {ts:%Y-%m-%d}__{ts:%H-%M-%S}-000",
            }
            if site[i]:
                md["site_metadata"] = {"sitename": f"Maricopa plot 42-{site[i]}"}
            body += f'<script type="application/json" id="lemnatec">{json.dumps(md)}</script>'
        body += f"<p>Operator notes for scan {i}; QA status: {qa}.</p></body></html>"
        urls.append(f"https://site-{i % 1000}.example/page/{i}")
        stamps.append(ts)
        html.append(body.encode())
        text.append(f"Capture {i} Sensor capture {i} Operator notes for scan {i}; QA status: {qa}.")
    lang = np.where(lang_u < 0.80, "en", np.where(lang_u < 0.95, "de", ""))
    table = pa.table([urls, stamps, html, text, lang.tolist()], schema=SCHEMA)
    truth = pd.DataFrame({
        "url": urls,
        "_block": block,
        "_site": [f"42-{v}" if v else None for v in site],
    })
    return table, truth


def write_batch(paths: dict[str, int], seed: int, mix: Mix, files: int) -> pd.DataFrame:
    """For each ``path: n``, write the first ``n`` of one document set as
    ``files`` parquet files under ``path``; return the truth of the largest."""
    n_max = max(paths.values())
    table, truth = documents(seed, mix, n_max)
    for path, n in paths.items():
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, n, files + 1).astype(int)
        for k in range(files):
            pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                           os.path.join(path, f"part-{k:05d}.parquet"))
    return truth


class Deliveries:
    """Delivery files for an at-least-once queue: file ``k`` holds
    ``sizes[k]`` documents, and for ``k > 0`` ``mix.redeliver`` of them are
    re-sent from file ``k - 1`` (same url, same bytes). ``deliver(k, path)``
    writes file ``k`` into ``path`` with a modification time in delivery
    order; ``truth`` holds one row per delivered document with its file
    number in ``_file``."""

    def __init__(self, seed: int, mix: Mix, sizes: list[int]):
        resent = [0] + [int(round(n * mix.redeliver)) for n in sizes[1:]]
        fresh = [n - r for n, r in zip(sizes, resent)]
        start = np.concatenate([[0], np.cumsum(fresh)])
        self.table, self.docs = documents(seed, mix, int(start[-1]))
        self.rows = [
            np.concatenate([np.arange(start[k], start[k] + fresh[k]),
                            np.arange(start[k - 1], start[k - 1] + resent[k]) if k else []])
            .astype(int)
            for k in range(len(sizes))
        ]
        self.delivered: list[pd.DataFrame] = []

    def deliver(self, k: int, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        dst = os.path.join(path, f"delivery-{k:05d}.parquet")
        pq.write_table(self.table.take(self.rows[k]), dst)
        os.utime(dst, (1_600_000_000 + k, 1_600_000_000 + k))
        self.delivered.append(self.docs.iloc[self.rows[k]].assign(_file=k))

    @property
    def truth(self) -> pd.DataFrame:
        return pd.concat(self.delivered, ignore_index=True)
