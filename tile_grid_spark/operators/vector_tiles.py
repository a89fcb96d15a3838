"""Vector-tile payload production: points -> real MVT binaries per tile.

Completes the raster<->vector story (operators/raster.py paints raster
masks; this emits the vector side) on top of the reference's tile
addressing (/root/reference/src/tms.rs xy_bounds/tile semantics for the
local-coordinate transform). Payload format is the public Mapbox Vector
Tile 2.1 spec via the stdlib-only codec in functions/mvt.py.

Scale shape: ONE shuffle (hash on the tile key — the same exchange any
per-tile sink needs), then plans/skew.batched_key_map builds each tile's
binary where its rows landed, many tiles per Arrow batch; feature coords
are quantized to tile-local integers with native Column math BEFORE the
shuffle, so only (tile, id, px, py) ints move, never raw payloads. Dense
tiles are real data skew: cap features per tile explicitly
(`max_features_per_tile` raises) rather than OOM inside a task —
producers should roll up dense zooms first (operators/rollup.py).
"""

from __future__ import annotations

import math
from itertools import islice

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.tms import Tms, ZoomParams
from ..functions.grid_cols import lonlat_to_grid, tile_key, xy_tile_x, xy_tile_y
from ..functions.mvt import (
    DEFAULT_EXTENT,
    decode_line_tile,
    decode_point_tile,
    decode_poly_tile,
    encode_line_tile,
    encode_point_tile,
    encode_point_tile_np,
    encode_poly_tile,
)
from ..plans.skew import batched_key_map
from .cover import cover_bbox_geographic

TILES_SCHEMA = "tile_x BIGINT, tile_y BIGINT, n_features INT, mvt BINARY"
_TILE_XY = ("tile_x", "tile_y")


def _encode_tiles(rows: DataFrame, build, keys: tuple[str, str] = _TILE_XY) -> DataFrame:
    """TILES_SCHEMA rows from `build(group_pdf)`, called once per `keys`
    group (a 1-row-out tile builder, same contract as applyInPandas)
    inside plans/skew.batched_key_map's whole-group blocks."""

    def block(body: pd.DataFrame) -> pd.DataFrame:
        return pd.concat(
            [build(g.reset_index(drop=True)) for _, g in body.groupby(list(keys), sort=False)],
            ignore_index=True,
        )

    return batched_key_map(rows, keys, block, TILES_SCHEMA)


def _check_cap(pdf: pd.DataFrame, cap: int, unit: str, name: str, hint: str) -> None:
    if len(pdf) > cap:
        raise ValueError(
            f"tile ({pdf.tile_x.iloc[0]},{pdf.tile_y.iloc[0]}) has "
            f"{len(pdf)} {unit} > {name}={cap} — {hint}"
        )


def _tile_frame(tx, ty, n_features: int, mvt: bytes) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "tile_x": [int(tx)],
            "tile_y": [int(ty)],
            "n_features": [n_features],
            "mvt": [mvt],
        }
    )


def _quantizer(p: ZoomParams, extent: int, clamp: bool):
    """(qx, qy): TMS-CRS coordinate Column -> tile-local integer
    floor((frac_within_tile) * extent) against the row's tile_x/tile_y.
    `clamp` pins the result to [0, extent-1] (points and lines, which sit
    inside their own tile); unclamped is the polygon clip-buffer frame,
    where vertices of a multi-tile ring lie outside [0, extent)."""
    span_x = p.resolution * float(p.tile_width)
    span_y = p.resolution * float(p.tile_height)

    def q(frac: F.Column, tile: str) -> F.Column:
        raw = F.floor((frac - F.col(tile)) * F.lit(float(extent)))
        if clamp:
            raw = F.least(F.greatest(raw, F.lit(0)), F.lit(extent - 1))
        return raw.cast("int")

    def qx(gx: F.Column) -> F.Column:
        return q((gx - F.lit(p.origin_x)) / F.lit(span_x), "tile_x")

    def qy(gy: F.Column) -> F.Column:
        return q((F.lit(p.origin_y) - gy) / F.lit(span_y), "tile_y")

    return qx, qy


def _with_grid_tile(df: DataFrame, tms: Tms, p: ZoomParams, lon: str, lat: str, caller: str):
    """Stage the TMS-CRS coordinates (_gx, _gy) once, then the row's
    tile_x/tile_y from them."""
    to_x, to_y = lonlat_to_grid(tms, caller)
    staged = df.withColumns({"_gx": to_x(lon), "_gy": to_y(lat)})
    return staged.withColumns(
        {"tile_x": xy_tile_x(F.col("_gx"), p), "tile_y": xy_tile_y(F.col("_gy"), p)}
    )


def _attr_cast(dtype: T.DataType):
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return int
    if isinstance(dtype, T.BooleanType):
        return bool
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return float
    return None


def encode_point_tiles(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    extent: int = DEFAULT_EXTENT,
    layer: str = "points",
    max_features_per_tile: int = 2_000_000,
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, lon, lat) -> one row per non-empty tile at `zoom`:
    (tile_x, tile_y, n_features, mvt). Features are sorted by id inside
    each tile, so the binaries are deterministic. Local coordinates are
    floor((frac_within_tile) * extent) clamped to [0, extent-1] — the
    formula a SQL oracle replays verbatim.

    `attr_cols` columns ride the shuffle and land in the payload as the
    spec's tag dictionaries (per-layer key/value tables, per-feature
    index pairs; string/int64/double/bool). Null attribute values are
    elided from that feature's tags."""
    p = tms.zoom_params(zoom)
    qx, qy = _quantizer(p, extent, clamp=True)
    staged = _with_grid_tile(points, tms, p, lon, lat, "encode_point_tiles")
    attr_casts = {c: _attr_cast(points.schema[c].dataType) for c in attr_cols}
    rows = staged.select(
        "tile_x",
        "tile_y",
        F.col(id_col).alias("fid"),
        qx(F.col("_gx")).alias("px"),
        qy(F.col("_gy")).alias("py"),
        *[F.col(c) for c in attr_cols],
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        _check_cap(pdf, max_features_per_tile, "features",
                   "max_features_per_tile", "roll up before encoding")
        pdf = pdf.sort_values("fid")
        if not attr_cols:
            # no tag dictionaries: the whole feature stream is three
            # varints per row around fixed key bytes — vectorized numpy
            # encoder, byte-identical (parity pytest), ~10x the scalar
            # per-point loop that dominated the MVT production bench
            mvt = encode_point_tile_np(
                pdf.fid.to_numpy(), pdf.px.to_numpy(), pdf.py.to_numpy(), layer, extent
            )
            return _tile_frame(pdf.tile_x.iloc[0], pdf.tile_y.iloc[0], len(pdf), mvt)
        feats = [(int(f), int(x), int(y)) for f, x, y in zip(pdf.fid, pdf.px, pdf.py)]

        # nullable integral/bool columns arrive in pandas as float64
        # (NaN for null) — restore the declared Spark type so the codec's
        # int/bool/float/str switch sees python natives; null and NaN are
        # both elided from the feature's tags
        def _clean(c: str) -> list:
            cast = attr_casts[c]
            return [
                None if v is None or (isinstance(v, float) and math.isnan(v))
                else cast(v) if cast else v
                for v in pdf[c].tolist()
            ]

        cols = {c: _clean(c) for c in attr_cols}
        attrs = [
            {c: cols[c][i] for c in attr_cols if cols[c][i] is not None}
            for i in range(len(pdf))
        ]
        return _tile_frame(
            pdf.tile_x.iloc[0], pdf.tile_y.iloc[0], len(feats),
            encode_point_tile(feats, layer, extent, attrs=attrs),
        )

    return _encode_tiles(rows, build)


def encode_bbox_poly_tiles(
    rects: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "rid",
    west: str = "minx",
    south: str = "miny",
    east: str = "maxx",
    north: str = "maxy",
    extent: int = DEFAULT_EXTENT,
    layer: str = "polys",
    max_features_per_tile: int = 2_000_000,
) -> DataFrame:
    """Geographic bboxes -> polygon MVT binaries, one row per covered
    tile. Each rect lands UNCLIPPED in every tile its bbox covers
    (cover_bbox_geographic — the reference's epsilon-inset cover), so a
    tile's ring vertices may lie outside [0, extent): that is the MVT
    clip-buffer convention renderers expect, and it keeps the local
    quantization pure floor math a SQL oracle can replay with no clamp.
    Rings wind (w,n)->(e,n)->(e,s)->(w,s): clockwise in the y-down tile
    frame = exterior per spec. Same one-exchange shape as
    encode_point_tiles: quantize with native Columns, shuffle only
    (tile, id, 4 ints), build bytes where the rows land."""
    p = tms.zoom_params(zoom)
    to_x, to_y = lonlat_to_grid(tms, "encode_bbox_poly_tiles")
    qx, qy = _quantizer(p, extent, clamp=False)
    covered = cover_bbox_geographic(rects, tms, zoom, west, south, east, north)
    rows = covered.select(
        "tile_x",
        "tile_y",
        F.col(id_col).alias("fid"),
        qx(to_x(west)).alias("pxw"),
        qx(to_x(east)).alias("pxe"),
        qy(to_y(north)).alias("pyn"),
        qy(to_y(south)).alias("pys"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        _check_cap(pdf, max_features_per_tile, "features",
                   "max_features_per_tile", "roll up before encoding")
        pdf = pdf.sort_values("fid")
        feats = [
            (
                int(f),
                [[(int(xw), int(yn)), (int(xe), int(yn)),
                  (int(xe), int(ys)), (int(xw), int(ys))]],
            )
            for f, xw, xe, yn, ys in zip(pdf.fid, pdf.pxw, pdf.pxe, pdf.pyn, pdf.pys)
        ]
        return _tile_frame(
            pdf.tile_x.iloc[0], pdf.tile_y.iloc[0], len(feats),
            encode_poly_tile(feats, layer, extent),
        )

    return _encode_tiles(rows, build)


def encode_path_tiles(
    points: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "tid",
    order_col: str = "seq",
    lon: str = "lon",
    lat: str = "lat",
    extent: int = DEFAULT_EXTENT,
    layer: str = "lines",
    max_features_per_tile: int = 2_000_000,
) -> DataFrame:
    """Ordered trajectories -> LINESTRING MVT binaries, one row per tile
    a path visits. Semantics are VERTEX-RUN tiling, not geometric
    clipping: a trajectory is split into maximal runs of consecutive
    vertices that land in the same tile, each surviving run (>= 2
    vertices) becomes one part of that tile's feature for the
    trajectory, and the segment that crosses a tile border is drawn in
    neither tile. That keeps every step pure column math + two window
    functions a SQL oracle replays verbatim (no line/edge intersection),
    and is the standard cheap trajectory-tiling trade renderers accept
    at high zooms. A path that re-enters a tile yields a multi-part
    (MULTILINESTRING) feature — the spec's repeated MoveTo/LineTo stream
    (functions/mvt.encode_line_tile).

    Scale shape: one exchange for the per-trajectory windows (hash by
    `id_col` — trajectories are the natural partition key and fit
    executors by construction), then the same groupBy-tile exchange any
    per-tile sink needs; only (tile, id, run, seq, px, py) ints ever
    shuffle. Runs shorter than 2 vertices are dropped inside the tile
    build (no extra window pass). Reference addressing: tile/local
    coords re-derive /root/reference/src/tms.rs xy_tile + xy_bounds
    semantics, as in encode_point_tiles."""
    p = tms.zoom_params(zoom)
    qx, qy = _quantizer(p, extent, clamp=True)
    staged = _with_grid_tile(points, tms, p, lon, lat, "encode_path_tiles")
    w = Window.partitionBy(id_col).orderBy(order_col)
    # first row of a trajectory (lag null) starts run 1, as does every
    # tile change; the cumulative sum is the run index
    chg = (
        F.coalesce(
            (F.lag("tile_x").over(w) != F.col("tile_x"))
            | (F.lag("tile_y").over(w) != F.col("tile_y")),
            F.lit(True),
        )
    ).cast("int")
    staged = staged.withColumn("_chg", chg).withColumn(
        "run_id", F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    rows = staged.select(
        "tile_x",
        "tile_y",
        F.col(id_col).alias("fid"),
        "run_id",
        F.col(order_col).alias("vseq"),
        qx(F.col("_gx")).alias("px"),
        qy(F.col("_gy")).alias("py"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        _check_cap(pdf, max_features_per_tile, "vertices",
                   "max_features_per_tile", "roll up before encoding")
        pdf = pdf.sort_values(["fid", "run_id", "vseq"])
        feats = []
        for fid, g in pdf.groupby("fid", sort=True):
            parts = [
                [(int(x), int(y)) for x, y in zip(r.px, r.py)]
                for _, r in g.groupby("run_id", sort=True)
                if len(r) >= 2
            ]
            if parts:
                feats.append((int(fid), parts))
        if not feats:
            return pd.DataFrame(
                {"tile_x": [], "tile_y": [], "n_features": [], "mvt": []}
            ).astype({"tile_x": "int64", "tile_y": "int64", "n_features": "int32"})
        return _tile_frame(
            pdf.tile_x.iloc[0], pdf.tile_y.iloc[0], len(feats),
            encode_line_tile(feats, layer, extent),
        )

    return _encode_tiles(rows, build)


def _decode_stats(tiles: DataFrame, schema: str, decode, stats) -> DataFrame:
    """Per tile: `decode(payload)` must yield exactly one layer; the row
    is (tile_x, tile_y, *stats(features), extent) in `schema` order.
    Everything except the passthrough tile address is recomputed from
    the bytes, so any encoder/wire bug surfaces as a value mismatch."""
    names = [c.split()[0] for c in schema.split(",")]

    def run(batches):
        for b in batches:
            rows = []
            for tx, ty, payload in zip(b["tile_x"], b["tile_y"], b["mvt"]):
                (layer,) = decode(bytes(payload))["layers"]
                fs = layer["features"]
                rows.append((int(tx), int(ty), *stats(fs), int(layer["extent"])))
            yield pd.DataFrame(rows, columns=names)

    return tiles.select("tile_x", "tile_y", "mvt").mapInPandas(run, schema)


def _path_stats(fs, with_parts: bool) -> tuple:
    """(n_features, [n_parts,] n_vertices, min_id, max_id, sum_px,
    sum_py) over (id, paths) features."""
    verts = [v for _, paths in fs for path in paths for v in path]
    parts = (sum(len(paths) for _, paths in fs),) if with_parts else ()
    return (
        len(fs), *parts, len(verts),
        min(f[0] for f in fs), max(f[0] for f in fs),
        sum(v[0] for v in verts), sum(v[1] for v in verts),
    )


DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, min_id BIGINT, "
    "max_id BIGINT, sum_px BIGINT, sum_py BIGINT, extent INT"
)


def decode_tile_stats(tiles: DataFrame) -> DataFrame:
    """Re-parse the point MVT binaries and aggregate what they CONTAIN:
    feature count, id range, coordinate sums."""
    return _decode_stats(
        tiles, DECODED_SCHEMA, decode_point_tile,
        lambda fs: (
            len(fs), min(f[0] for f in fs), max(f[0] for f in fs),
            sum(f[1] for f in fs), sum(f[2] for f in fs),
        ),
    )


POLY_DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, n_vertices INT, "
    "min_id BIGINT, max_id BIGINT, sum_px BIGINT, sum_py BIGINT, extent INT"
)


def decode_poly_stats(tiles: DataFrame) -> DataFrame:
    """Polygon twin of decode_tile_stats: re-parse the command streams
    (cumulative deltas and all) and aggregate the absolute ring vertices
    the bytes encode — the oracle re-derives the same quantities from
    the quantization formula, so a delta/winding/wire bug mismatches."""
    return _decode_stats(
        tiles, POLY_DECODED_SCHEMA, decode_poly_tile, lambda fs: _path_stats(fs, False)
    )


LINE_DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, n_parts INT, "
    "n_vertices INT, min_id BIGINT, max_id BIGINT, sum_px BIGINT, "
    "sum_py BIGINT, extent INT"
)


def decode_line_stats(tiles: DataFrame) -> DataFrame:
    """Linestring twin of decode_poly_stats: re-parse the MoveTo/LineTo
    command streams (cumulative deltas across parts) and aggregate the
    absolute vertices the bytes encode — the oracle re-derives the same
    quantities from the quantization + run-split windows, so a delta,
    part-boundary, or wire bug mismatches on values."""
    return _decode_stats(
        tiles, LINE_DECODED_SCHEMA, decode_line_tile, lambda fs: _path_stats(fs, True)
    )


def rollup_point_tiles(tiles: DataFrame, levels: int = 1, layer: str = "points") -> DataFrame:
    """One pyramid step (applied `levels` times): z -> z-1 POINT MVT
    tiles built purely from the CHILD BINARIES — decode each child's
    features, re-quantize into the parent's pixel frame, merge the <= 4
    children, re-encode. Tile-store maintenance without re-reading base
    data: the shape a serving pyramid refresh needs (children are
    already materialized; the base table may be 100 TB away).

    The parent-local coordinate is exact integer halving:
      px' = (child_x & 1) * (extent/2) + px // 2
    which equals floor(frac_parent * extent) whenever the TMS halves
    resolutions exactly between zooms (computed custom TMS; for
    JSON-loaded WebMercatorQuad the decimal-rounded denominators can be
    1 ulp off the direct z-1 quantization — same caveat as the
    multizoom quadtree fast path, see functions/grid_cols). Duplicate
    feature ids across children are kept (same id may appear once per
    child); features sort by (id, px, py) for deterministic bytes. Tag
    attributes survive the rollup (decoded with the dictionaries and
    re-encoded); attr-less children produce byte-identical attr-less
    parents.

    Scale shape: ONE exchange per level (hash on the parent tile, <= 4
    rows per group); decode/encode run where the rows land.
    """
    if levels < 1:
        raise ValueError(f"levels must be >= 1, got {levels}")

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        extent = DEFAULT_EXTENT
        for tx, ty, payload in zip(pdf.tile_x, pdf.tile_y, pdf.mvt):
            (lyr,) = decode_point_tile(bytes(payload), with_attrs=True)["layers"]
            extent = lyr["extent"]
            half = extent // 2
            ox = (int(tx) & 1) * half
            oy = (int(ty) & 1) * half
            rows += [
                (fid, ox + px // 2, oy + py // 2, a)
                for fid, px, py, a in lyr["features"]
            ]
        rows.sort(key=lambda r: r[:3])
        feats = [(f, x, y) for f, x, y, _ in rows]
        attrs = [a for *_, a in rows]
        return _tile_frame(
            pdf.ptx.iloc[0], pdf.pty.iloc[0], len(feats),
            encode_point_tile(feats, layer, extent, attrs=attrs if any(attrs) else None),
        )

    out = tiles
    for _ in range(levels):
        parented = out.select(
            "tile_x",
            "tile_y",
            "mvt",
            F.shiftright("tile_x", 1).alias("ptx"),
            F.shiftright("tile_y", 1).alias("pty"),
        )
        out = _encode_tiles(parented, build, keys=("ptx", "pty"))
    return out


ATTR_DECODED_SCHEMA = (
    "tile_x BIGINT, tile_y BIGINT, n_features INT, min_id BIGINT, "
    "max_id BIGINT, sum_attr BIGINT, n_cats INT, max_cat STRING, extent INT"
)


def decode_attr_stats(tiles: DataFrame, int_key: str, str_key: str) -> DataFrame:
    """Attribute twin of decode_tile_stats: re-parse the binaries WITH
    the tag dictionaries and aggregate what the tags contain — the sum
    of an int64 attribute, the distinct count and lexicographic max of a
    string attribute — so a dictionary-index, value-typing, or tag-pair
    bug mismatches against the oracle's relational re-derivation."""

    def stats(fs) -> tuple:
        cats = sorted({f[3][str_key] for f in fs if str_key in f[3]})
        return (
            len(fs), min(f[0] for f in fs), max(f[0] for f in fs),
            sum(f[3].get(int_key, 0) for f in fs),
            len(cats), cats[-1] if cats else None,
        )

    return _decode_stats(
        tiles, ATTR_DECODED_SCHEMA,
        lambda b: decode_point_tile(b, with_attrs=True), stats,
    )


def encode_ring_poly_tiles(
    vertices: DataFrame,
    tms: Tms,
    zoom: int,
    id_col: str = "rid",
    ring_col: str = "ring_idx",
    order_col: str = "vert_idx",
    lon: str = "lon",
    lat: str = "lat",
    extent: int = DEFAULT_EXTENT,
    layer: str = "polys",
    max_vertices_per_tile: int = 2_000_000,
) -> DataFrame:
    """Arbitrary-ring polygons (exploded vertex rows: one row per
    (polygon, ring, vertex), ring 0 = exterior, later rings = holes) ->
    polygon MVT binaries, one row per tile the polygon's BBOX covers
    (the reference epsilon-inset cover). Rings land UNCLIPPED in every
    covered tile — the clip-buffer convention, same as
    encode_bbox_poly_tiles — so local coords are pure unclamped floor
    math a SQL oracle replays. Every ring must have >= 3 vertices (the
    codec raises otherwise).

    Scale shape: per-polygon bbox via groupBy(id) min/max (exchange 1);
    the bbox rows explode through the cover and join back to the vertex
    rows on the SAME id key (both sides arrive hash-partitioned by id,
    so the join adds no exchange); then the per-tile groupBy any tile
    sink needs (exchange 2). The real cost is the honest one — each
    polygon's vertex list replicates into each covered tile — which is
    exactly what clip-buffer payloads require; producers simplify rings
    first (operators/simplify) to bound it."""
    p = tms.zoom_params(zoom)
    to_x, to_y = lonlat_to_grid(tms, "encode_ring_poly_tiles")
    qx, qy = _quantizer(p, extent, clamp=False)

    v = vertices.select(
        F.col(id_col).alias("fid"),
        F.col(ring_col).alias("ring"),
        F.col(order_col).alias("vert"),
        F.col(lon).alias("_lon"),
        F.col(lat).alias("_lat"),
    )
    boxes = v.groupBy("fid").agg(
        F.min("_lon").alias("minx"),
        F.min("_lat").alias("miny"),
        F.max("_lon").alias("maxx"),
        F.max("_lat").alias("maxy"),
    )
    covered = cover_bbox_geographic(boxes, tms, zoom).select("fid", "tile_x", "tile_y")
    rows = covered.join(v, "fid").select(
        "tile_x",
        "tile_y",
        "fid",
        "ring",
        "vert",
        qx(to_x(F.col("_lon"))).alias("px"),
        qy(to_y(F.col("_lat"))).alias("py"),
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        _check_cap(pdf, max_vertices_per_tile, "vertices",
                   "max_vertices_per_tile", "simplify rings before encoding")
        pdf = pdf.sort_values(["fid", "ring", "vert"])
        feats = []
        for fid, g in pdf.groupby("fid", sort=True):
            rings = [
                [(int(x), int(y)) for x, y in zip(r.px, r.py)]
                for _, r in g.groupby("ring", sort=True)
            ]
            feats.append((int(fid), rings))
        return _tile_frame(
            pdf.tile_x.iloc[0], pdf.tile_y.iloc[0], len(feats),
            encode_poly_tile(feats, layer, extent),
        )

    return _encode_tiles(rows, build)


def tiles_for_viewport(
    tiles: DataFrame,
    tms: Tms,
    west: float,
    south: float,
    east: float,
    north: float,
    zoom: int,
) -> DataFrame:
    """Serving read path: the store rows for every tile a geographic
    viewport covers at `zoom` (the reference epsilon-inset cover,
    antimeridian split included). The cover is enumerated DRIVER-side
    with the core library (viewports are a few hundred tiles by
    construction — a renderer fetches one screen) and applied as TWO
    filter layers: per-column IN-lists on raw tile_x/tile_y, which ARE
    source-pushable (.explain shows them under PushedFilters, so a
    parquet/Iceberg store prunes row groups on column statistics; the
    rectangle-union over-selection is bounded by the cover's bbox), and
    the exact packed-key IN (grid_cols.tile_key layout) that trims the
    rows the pushable rectangle lets through. Raises if the viewport
    covers more than 4096 tiles — that means the caller wants a lower
    zoom, not a bigger scan. The guard stops enumerating at tile 4097,
    so an oversized request costs no more than an admitted one."""
    cap = 4096
    cover = list(
        islice(tms.tiles(west, south, east, north, [zoom], truncate=False), cap + 1)
    )
    if len(cover) > cap:
        raise ValueError(
            f"viewport covers more than {cap} tiles at z{zoom} — render a "
            "lower zoom (serving reads are screen-sized by construction)"
        )
    if not cover:
        return tiles.where(F.lit(False))
    xs = sorted({int(t.x) for t in cover})
    ys = sorted({int(t.y) for t in cover})
    # mirror grid_cols.tile_key's no-zoom layout: tx * 2^28 + ty
    keys = [(int(t.x) << 28) + int(t.y) for t in cover]
    return tiles.where(
        F.col("tile_x").isin(xs)
        & F.col("tile_y").isin(ys)
        & tile_key("tile_x", "tile_y").isin(keys)
    )
