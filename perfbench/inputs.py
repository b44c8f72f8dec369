"""Seeded inputs for the benchmark workloads.

Everything here is plain Python/numpy: the engine only ever receives the
DataFrames built from these rows. Both workloads use the same inputs. The
seed picks the per-copy longitude jitter of the replicated fixture, the
point and site coordinates, and the tile-request choices; the same seed
always gives the same inputs.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np

FIXTURE = os.path.join("fixtures", "us-states.json")

DOCS_SCHEMA = (
    "doc_id string, spans array<struct<kind:string, text:string, "
    "media_ref:string, offset:int>>"
)


@dataclass(frozen=True)
class Sizes:
    base_copies: int      # fixture copies in the indexed corpus
    points: int           # PIP points = kNN queries
    sites: int            # kNN sites
    one_shots: int        # geojson_to_tile_df tiles per cycle
    one_shot_zoom: int


def _dlon(rng, c: int, n: int) -> float:
    """Longitude shift of fixture copy c of n (n = base copies + the append
    batch's copy): the copies lie 300/n degrees apart around the globe, and
    the seed moves each by up to a degree, which changes coordinates but not
    how the copies overlap."""
    return -150.0 + 300.0 * (c + 0.5) / n + rng.uniform(-1, 1)


FULL = Sizes(base_copies=4, points=15_000, sites=1_000, one_shots=1,
             one_shot_zoom=10)
SMOKE = Sizes(base_copies=1, points=1_500, sites=100, one_shots=1,
              one_shot_zoom=8)


def _shift(coords, dlon: float):
    if isinstance(coords[0], (int, float)):
        lon = coords[0] + dlon
        if lon >= 180.0:
            lon -= 360.0
        if lon < -180.0:
            lon += 360.0
        return [lon] + list(coords[1:])
    return [_shift(c, dlon) for c in coords]


def project(lon, lat):
    """Unit Web-Mercator, the engine's projected coordinate space."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    s = np.sin(lat * math.pi / 180.0)
    y = 0.5 - 0.25 * np.log((1 + s) / (1 - s)) / math.pi
    return lon / 360.0 + 0.5, np.clip(y, 0.0, 1.0)


@dataclass
class Inputs:
    base_rows: list       # documents rows of the indexed corpus
    batch_rows: list      # documents rows of the append batch (one copy)
    points: np.ndarray    # (n, 3): point_id, px, py
    sites: np.ndarray     # (m, 3): site_id, sx, sy
    knn_res: int
    one_shot_tiles: list  # [(z, x, y)]
    rng_seed: int         # for choices made once the pyramid exists


def _doc_rows(features: list, copies: range, dlons: list) -> list:
    rows = []
    for c, dlon in zip(copies, dlons):
        for i, f in enumerate(features):
            g = dict(f)
            g["geometry"] = dict(f["geometry"])
            g["geometry"]["coordinates"] = _shift(f["geometry"]["coordinates"], dlon)
            text = json.dumps(g, separators=(",", ":"))
            intro = f"copy {c} feature {i}"
            rows.append((
                f"us-{c:04d}-{i:02d}",
                [("text", intro, "", 0), ("geojson", text, "", len(intro)),
                 ("text", "outro", "", len(intro) + len(text))],
            ))
    return rows


def _vertices(features: list) -> np.ndarray:
    out = []

    def walk(c):
        if isinstance(c[0], (int, float)):
            out.append(c[:2])
        else:
            for x in c:
                walk(x)

    for f in features:
        walk(f["geometry"]["coordinates"])
    return np.asarray(out, dtype=np.float64)


def make_inputs(root: str, seed: int, sizes: Sizes) -> Inputs:
    with open(os.path.join(root, FIXTURE)) as fh:
        features = json.load(fh)["features"]
    rng = np.random.default_rng(seed)
    n_copies = sizes.base_copies + 1
    dlons = [_dlon(rng, c, n_copies) for c in range(n_copies)]
    base_rows = _doc_rows(features, range(sizes.base_copies),
                          dlons[: sizes.base_copies])
    batch_rows = _doc_rows(features, range(sizes.base_copies, n_copies),
                           dlons[sizes.base_copies:])

    # points and sites cover every longitude at the corpus's latitudes
    verts = _vertices(features)
    lat_lo, lat_hi = float(verts[:, 1].min()), float(verts[:, 1].max())
    (x0, x1), (y1, y0) = project([-180.0, 180.0], [lat_lo, lat_hi])
    x0, x1, y0, y1 = float(x0), float(x1), float(y0), float(y1)

    def scatter(n):
        return np.column_stack([
            np.arange(n, dtype=np.float64),
            x0 + (x1 - x0) * rng.random(n),
            y0 + (y1 - y0) * rng.random(n),
        ])

    points = scatter(sizes.points)
    # density-sized kNN grid: about four sites per cell, so ring 2 certifies
    # nearly every query; sites reach two cells past the points so edge
    # queries certify too
    cell = math.sqrt((x1 - x0) * (y1 - y0) / max(sizes.sites / 4.0, 1.0))
    knn_res = int(min(12, max(1, round(-math.log2(cell)))))
    pad = 2.0 / (1 << knn_res)
    x0, x1 = max(0.0, x0 - pad), min(1.0, x1 + pad)
    y0, y1 = max(0.0, y0 - pad), min(1.0, y1 + pad)
    sites = scatter(sizes.sites)

    # one-shot tiles centred on seeded corpus vertices (never empty)
    z = sizes.one_shot_zoom
    picks = rng.integers(0, len(verts), sizes.one_shots)
    tiles = []
    for j, p in enumerate(picks):
        lon = (verts[p, 0] + dlons[j % sizes.base_copies] + 180.0) % 360.0 - 180.0
        vx, vy = project(lon, verts[p, 1])
        n = 1 << z
        tiles.append((z, min(n - 1, int(vx * n)), min(n - 1, int(vy * n))))
    return Inputs(base_rows, batch_rows, points, sites, knn_res, tiles,
                  int(rng.integers(0, 2**31)))

