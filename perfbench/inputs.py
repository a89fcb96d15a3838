"""Seeded inputs and the numpy references the benchmark checks against.

Everything here is a function of the workload seed, so the same seed
gives the same inputs.  The references are written independently of the
program: they share only the published constants (city centres, Web
Mercator radius) and the documented semantics of each operator.
"""

from __future__ import annotations

import math

import numpy as np

from tile_grid_spark.sources.datagen import CITY_CENTERS, MERC_LAT_LIMIT

EARTH_R = 6378137.0
WORLD_W = 2 * math.pi * EARTH_R


def mixture_points(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The FIXTURES section 1 mixture: 80% normal around the datagen city
    centres (sd 0.8 deg lon, 0.6 deg lat), 20% uniform over the world."""
    centers = np.asarray(CITY_CENTERS)
    clustered = rng.random(n) < 0.8
    c = centers[rng.integers(0, len(centers), n)]
    lon = np.where(
        clustered,
        np.clip(c[:, 0] + rng.normal(0, 0.8, n), -179.999, 179.999),
        rng.uniform(-180.0, 180.0, n),
    )
    lim = MERC_LAT_LIMIT - 1e-6
    lat = np.where(
        clustered,
        np.clip(c[:, 1] + rng.normal(0, 0.6, n), -lim, lim),
        rng.uniform(-lim, lim, n),
    )
    return lon, lat


def planted_embeddings(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """n unit-ish vectors; every 4th row repeats the row before it with a
    tiny perturbation, so SemDeDup has near-duplicates to drop."""
    x = rng.normal(0, 1, (n, dim)).astype(np.float32)
    x[1::4] = x[0::4][: len(x[1::4])] + rng.normal(0, 1e-3, (len(x[1::4]), dim)).astype(np.float32)
    return x


def mercator(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = np.radians(lon) * EARTH_R
    y = np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) * EARTH_R
    return x, y


def ray_cast(px: np.ndarray, py: np.ndarray, rx: np.ndarray, ry: np.ndarray) -> np.ndarray:
    """Even-odd crossing number of points against one closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    for i in range(len(rx) - 1):
        x1, y1, x2, y2 = rx[i], ry[i], rx[i + 1], ry[i + 1]
        straddle = (y1 > py) != (y2 > py)
        if y2 != y1:
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= straddle & (px < xint)
    return inside


def pip_reference(lon, lat, polys) -> set[tuple[int, str]]:
    """(point index, poly_id) for every point inside every polygon."""
    out = set()
    for pid, rx, ry in polys:
        rx, ry = np.asarray(rx), np.asarray(ry)
        cand = np.nonzero(
            (lon >= rx.min()) & (lon <= rx.max()) & (lat >= ry.min()) & (lat <= ry.max())
        )[0]
        hit = cand[ray_cast(lon[cand], lat[cand], rx, ry)]
        out.update((int(i), pid) for i in hit)
    return out


def knn_reference(qlon, qlat, clon, clat, cids, k: int) -> list[list[tuple[int, float]]]:
    """Exact k nearest candidates per query in Web Mercator metres with
    the antimeridian wrap; ties break on the smaller candidate id."""
    qx, qy = mercator(qlon, qlat)
    cx, cy = mercator(clon, clat)
    out = []
    for i in range(len(qx)):
        adx = np.abs(qx[i] - cx)
        dx = np.minimum(adx, WORLD_W - adx)
        d = np.sqrt(dx**2 + (qy[i] - cy) ** 2)
        order = np.lexsort((cids, d))[:k]
        out.append([(int(cids[j]), float(d[j])) for j in order])
    return out
