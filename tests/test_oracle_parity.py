"""Spark vs DuckDB parity for the tile-output family, in tier-1.

Runs the same per-query comparison as scripts/check_oracle.py (row
count, column names, order-insensitive value hash against the query's
oracle SQL) on the sf0.01 tables, under the session fixture's
partitioning instead of the script's. Covers the producers that share
the batched per-key map, the lon/lat -> grid projection and the MVT
codec: vector tiles (point, polygon, line, tags, pyramid, rings),
simplification, viewport serving, rasters, multizoom assignment and the
bbox cover.
"""

from __future__ import annotations

import os

import pytest

pytest.importorskip("duckdb")

from scripts.check_oracle import SF_DIR, check_query, open_oracle  # noqa: E402

TILE_OUTPUT_QUERIES = (
    "vector_tiles",
    "vector_tiles_poly",
    "vector_tiles_line",
    "vector_tiles_attrs",
    "vector_tiles_pyramid",
    "vector_tiles_rings",
    "simplified_line_tiles",
    "path_simplify",
    "viewport_fetch",
    "raster_density",
    "raster_footprints",
    "tile_assign_multizoom",
    "cover_counts",
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"oracle tables not found at {SF_DIR}"
)


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__ as entrymod

    con = open_oracle()
    yield con, entrymod.queries(), entrymod.oracle_sql()
    con.close()


@pytest.mark.parametrize("name", TILE_OUTPUT_QUERIES)
def test_matches_duckdb_oracle(spark, contract, name):
    con, qs, oracles = contract
    assert name in oracles, f"{name} has no oracle SQL"
    ok, report = check_query(spark, con, name, qs, oracles)
    assert ok, report
