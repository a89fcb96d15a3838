"""Raster <-> vector tile operators.

North-rule operator. Rasterization: per-(zoom, tile_x, tile_y) group,
paint a tile_px x tile_px uint8 raster from the points (density mask or
mean-value band), many tiles per Arrow batch via
plans/skew.batched_key_map — numpy index arithmetic only; the tile's
pixel grid comes from xy_bounds/resolution exactly as the core derives
them. Inverse (vector <- raster): per-tile mask -> GeoJSON
features via bbox_to_feature semantics in native to_json columns.

Scale notes: groups are bounded by points-per-tile; dense tiles should be
salted upstream (plans/skew.py) or rasterized at a deeper zoom and
mosaicked. The output (one row per tile: ~65 KB zlib mask) is written
partitioned by zoom, range-sorted by (tile_x, tile_y).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.tms import Tms
from ..functions.grid_cols import geo_bounds_cols, mercator_x, mercator_y, with_tile
from ..plans.skew import batched_key_map

RASTER_SCHEMA = (
    "zoom INT, tile_x BIGINT, tile_y BIGINT, n_points BIGINT, "
    "mask BINARY, max_count INT"
)

_KEYS = ("zoom", "tile_x", "tile_y")


def rasterize_points(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    tile_px: int = 256,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Density raster per tile: mask[py, px] = clip(count, 0, 255) uint8,
    zlib-compressed row-major. One output row per non-empty tile."""
    p = tms.zoom_params(zoom)
    unit = p.resolution * float(p.tile_width)
    px_res = unit / float(tile_px)
    ox, oy = p.origin_x, p.origin_y

    pts = with_tile(points, tms, zoom, lon=lon, lat=lat).withColumns(
        {"_mx": mercator_x(lon), "_my": mercator_y(lat), "zoom": F.lit(zoom)}
    )

    def paint_many(body: pd.DataFrame) -> pd.DataFrame:
        out = {k: [] for k in ("zoom", "tile_x", "tile_y", "n_points", "mask", "max_count")}
        for (z, tx, ty), pdf in body.groupby(list(_KEYS), sort=False):
            tile_minx = ox + tx * unit
            tile_maxy = oy - ty * unit
            ix = np.floor((pdf["_mx"].to_numpy() - tile_minx) / px_res).astype(np.int64)
            iy = np.floor((tile_maxy - pdf["_my"].to_numpy()) / px_res).astype(np.int64)
            ix = np.clip(ix, 0, tile_px - 1)
            iy = np.clip(iy, 0, tile_px - 1)
            img = np.zeros((tile_px, tile_px), dtype=np.int64)
            np.add.at(img, (iy, ix), 1)
            mask = np.clip(img, 0, 255).astype(np.uint8)
            out["zoom"].append(int(z))
            out["tile_x"].append(int(tx))
            out["tile_y"].append(int(ty))
            out["n_points"].append(len(pdf))
            out["mask"].append(zlib.compress(mask.tobytes(), 1))
            out["max_count"].append(int(img.max()))
        return pd.DataFrame(out)

    return batched_key_map(
        pts.select(*_KEYS, "_mx", "_my"), _KEYS, paint_many, RASTER_SCHEMA
    )


FOOTPRINT_SCHEMA = (
    "zoom INT, tile_x BIGINT, tile_y BIGINT, n_footprints BIGINT, "
    "mask BINARY, max_cover INT, covered_px_sum BIGINT"
)


def rasterize_footprints(
    images: DataFrame,
    tms: Tms,
    zoom: int,
    ground_px_m: float = 1.0,
    tile_px: int = 256,
    lon: str = "lon",
    lat: str = "lat",
    w: str = "w",
    h: str = "h",
) -> DataFrame:
    """Coverage raster of image FOOTPRINTS (north-star: raster<->vector
    rasterization of image footprints, not just point hits).

    Each image covers a ground rectangle of (w*ground_px_m x
    h*ground_px_m) Mercator meters centered on its point. Footprints
    explode to the tiles they touch (cover_bbox_xy_exact — inset-free,
    so a footprint always lands somewhere), then each tile paints
    per-pixel coverage COUNTS with a 2D difference array: +1/-1 at the
    four clipped rect corners, two cumsums — O(n + tile_px^2) per tile,
    no per-footprint pixel loops, footprints of any size cost the same.

    Output per non-empty tile: zlib uint8 mask (counts clipped to 255),
    n_footprints, true max_cover, and covered_px_sum = sum over pixels
    of the UNclipped count == sum over footprints of their clipped pixel
    area — the SQL-expressible invariant the DuckDB oracle checks.
    """
    from .cover import cover_bbox_xy_exact

    p = tms.zoom_params(zoom)
    unit = p.resolution * float(p.tile_width)
    px_res = unit / float(tile_px)
    ox, oy = p.origin_x, p.origin_y

    hw = F.col(w).cast("double") * F.lit(ground_px_m / 2.0)
    hh = F.col(h).cast("double") * F.lit(ground_px_m / 2.0)
    fp = images.withColumns(
        {"_mx": mercator_x(lon), "_my": mercator_y(lat)}
    ).withColumns(
        {
            "_fminx": F.col("_mx") - hw,
            "_fmaxx": F.col("_mx") + hw,
            "_fminy": F.col("_my") - hh,
            "_fmaxy": F.col("_my") + hh,
        }
    )
    cov = cover_bbox_xy_exact(
        fp, tms, zoom, minx="_fminx", miny="_fminy", maxx="_fmaxx", maxy="_fmaxy"
    ).select("zoom", "tile_x", "tile_y", "_fminx", "_fmaxx", "_fminy", "_fmaxy")

    def paint_many(body: pd.DataFrame) -> pd.DataFrame:
        out = {
            k: []
            for k in (
                "zoom", "tile_x", "tile_y", "n_footprints",
                "mask", "max_cover", "covered_px_sum",
            )
        }
        for (z, tx, ty), pdf in body.groupby(list(_KEYS), sort=False):
            tminx = ox + tx * unit
            tmaxy = oy - ty * unit
            x0 = np.floor((pdf["_fminx"].to_numpy() - tminx) / px_res).astype(np.int64)
            x1 = np.floor((pdf["_fmaxx"].to_numpy() - tminx) / px_res).astype(np.int64)
            y0 = np.floor((tmaxy - pdf["_fmaxy"].to_numpy()) / px_res).astype(np.int64)
            y1 = np.floor((tmaxy - pdf["_fminy"].to_numpy()) / px_res).astype(np.int64)
            x0 = np.clip(x0, 0, tile_px - 1)
            x1 = np.clip(x1, 0, tile_px - 1)
            y0 = np.clip(y0, 0, tile_px - 1)
            y1 = np.clip(y1, 0, tile_px - 1)
            diff = np.zeros((tile_px + 1, tile_px + 1), dtype=np.int64)
            np.add.at(diff, (y0, x0), 1)
            np.add.at(diff, (y0, x1 + 1), -1)
            np.add.at(diff, (y1 + 1, x0), -1)
            np.add.at(diff, (y1 + 1, x1 + 1), 1)
            img = diff.cumsum(axis=0).cumsum(axis=1)[:tile_px, :tile_px]
            out["zoom"].append(int(z))
            out["tile_x"].append(int(tx))
            out["tile_y"].append(int(ty))
            out["n_footprints"].append(len(pdf))
            out["mask"].append(
                zlib.compress(np.clip(img, 0, 255).astype(np.uint8).tobytes(), 1)
            )
            out["max_cover"].append(int(img.max()))
            out["covered_px_sum"].append(int(img.sum()))
        return pd.DataFrame(out)

    return batched_key_map(cov, _KEYS, paint_many, FOOTPRINT_SCHEMA)


def decode_mask(mask: bytes, tile_px: int = 256) -> np.ndarray:
    return np.frombuffer(zlib.decompress(mask), dtype=np.uint8).reshape(tile_px, tile_px)


def vectorize_tiles(tiles: DataFrame) -> DataFrame:
    """Vector <- raster: per-tile GeoJSON Polygon feature of the tile
    footprint (bbox_to_feature ring order, /root/reference/src/tile.rs:63-70)
    as native to_json columns — no UDF."""
    b = geo_bounds_cols("tile_x", "tile_y", "zoom")
    w, s, e, n = b["west"], b["south"], b["east"], b["north"]
    ring = F.array(
        F.array(w, s), F.array(w, n), F.array(e, n), F.array(e, s), F.array(w, s)
    )
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.concat_ws(
                "/", F.col("zoom").cast("string"),
                F.col("tile_x").cast("string"), F.col("tile_y").cast("string")
            ).alias("id"),
            F.struct(
                F.lit("Polygon").alias("type"),
                F.array(ring).alias("coordinates"),
            ).alias("geometry"),
        )
    )
    return tiles.withColumn("feature", feature)


def mosaic_to_parent(tiles: DataFrame, tile_px: int = 256) -> DataFrame:
    """Roll four child rasters up into the parent tile (2x2 downsample by
    summed counts, clipped to uint8). Input: rasterize_points output."""
    child = tiles.withColumns(
        {
            "p_zoom": F.col("zoom") - F.lit(1),
            "p_x": F.floor(F.col("tile_x") / 2),
            "p_y": F.floor(F.col("tile_y") / 2),
        }
    )

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        z, px_, py_ = key
        out = np.zeros((tile_px, tile_px), dtype=np.int64)
        half = tile_px // 2
        for _, row in pdf.iterrows():
            m = decode_mask(row["mask"], tile_px).astype(np.int64)
            # 2x2 box-sum downsample to half resolution
            small = m.reshape(half, 2, half, 2).sum(axis=(1, 3))
            qx = int(row["tile_x"] % 2) * half
            qy = int(row["tile_y"] % 2) * half
            out[qy : qy + half, qx : qx + half] += small
        return pd.DataFrame(
            {
                "zoom": [int(z)],
                "tile_x": [int(px_)],
                "tile_y": [int(py_)],
                "n_points": [int(pdf["n_points"].sum())],
                "mask": [zlib.compress(np.clip(out, 0, 255).astype(np.uint8).tobytes(), 1)],
                "max_count": [int(out.max())],
            }
        )

    return child.groupBy("p_zoom", "p_x", "p_y").applyInPandas(merge, RASTER_SCHEMA)
