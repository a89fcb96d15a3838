"""Registry of TileMatrixSets, /root/reference/src/registry.rs.

Default registrations mirror the reference's non-proj build
(registry.rs:77-94): WebMercatorQuad, WGS1984Quad, WorldMercatorWGS84Quad.
The remaining non-variable-width OGC definitions are packaged and loadable
by id via ``load_definition``; CDB1GlobalGrid / GNOSISGlobalGrid stay
excluded (variable matrix widths unsupported, README.md:11).
"""

from __future__ import annotations

import functools
import json
from typing import Iterable

from .model import TmsAlreadyRegistered, TmsNotFound
from .tms import TileMatrixSet, Tms
from .tms_data import TMS_DEFINITIONS

DEFAULT_REGISTERED = ("WebMercatorQuad", "WGS1984Quad", "WorldMercatorWGS84Quad")


def load_definition(tms_id: str) -> TileMatrixSet:
    """Parse a packaged OGC TMS definition into the engine model."""
    if tms_id not in TMS_DEFINITIONS:
        raise TmsNotFound(tms_id)
    return TileMatrixSet.from_json_dict(TMS_DEFINITIONS[tms_id])


def from_json(text: str) -> TileMatrixSet:
    """Parse a user-supplied OGC TMS 2.0 JSON document."""
    return TileMatrixSet.from_json_dict(json.loads(text))


def from_json_file(path: str) -> TileMatrixSet:
    with open(path) as f:
        return from_json(f.read())


class TileMatrixSets:
    """In-memory id -> TileMatrixSet registry, registry.rs:32-69."""

    def __init__(self):
        self._coll: dict[str, TileMatrixSet] = {}

    def get(self, tms_id: str) -> TileMatrixSet:
        if tms_id not in self._coll:
            raise TmsNotFound(tms_id)
        return self._coll[tms_id]

    def lookup(self, tms_id: str) -> Tms:
        return Tms(self.get(tms_id))

    def list(self) -> list[str]:
        return list(self._coll.keys())

    def register(self, custom_tms: Iterable[TileMatrixSet], overwrite: bool = False) -> None:
        for t in custom_tms:
            if t.id in self._coll and not overwrite:
                raise TmsAlreadyRegistered(t.id)
            self._coll[t.id] = t


@functools.lru_cache(maxsize=1)
def tms() -> TileMatrixSets:
    """Lazy global registry, registry.rs:73-104."""
    sets = TileMatrixSets()
    sets.register([load_definition(i) for i in DEFAULT_REGISTERED])
    return sets


def lookup(tms_id: str, extended: bool = False) -> Tms:
    """Convenience: Tms by id. With ``extended=True`` any packaged
    non-variable-width definition resolves, not just the default three."""
    reg = tms()
    try:
        return reg.lookup(tms_id)
    except TmsNotFound:
        if extended:
            return Tms(load_definition(tms_id))
        raise
