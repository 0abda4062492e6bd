"""References the benchmark checks the engine against.

None of them runs the engine's Spark path:

- tile addresses, joins and kNN come from the engine's DuckDB SQL twins
  (``tiling.assign_tiles_sql``, ``joins.pip_join_sql``,
  ``knn.knn_sql``) over the same generated parquet;
- tile contents are read with the scalar ``vtzero_spark.mvt`` codec,
  and footprint geometry is rebuilt with the scalar clip and
  simplify oracles (``clip_parts_scalar``, ``simplify_parts_scalar``).
"""

from __future__ import annotations

import hashlib
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from vtzero_spark.engine import joins, knn, tiling
from vtzero_spark.engine.clip import clip_parts_scalar
from vtzero_spark.engine.simplify import simplify_parts_scalar
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt import tile as T
from vtzero_spark.mvt import values as V
from vtzero_spark.mvt.pbf import zigzag32_decode

from gen import EXTENT, ZOOM


def connect(threads: int, tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def assigned(con, source: str, buffer: int, cols: str) -> pa.Table:
    """DuckDB tile assignment of the rows of the query ``source``,
    sorted by tile then id."""
    sql = tiling.assign_tiles_sql("src", ZOOM, EXTENT, buffer)
    return con.sql(
        f"WITH src AS ({source}) "
        f"SELECT z, x, y, {cols} FROM ({sql}) ORDER BY z, x, y, iid"
    ).arrow()


def pip_pairs(con, points: str, polys: str) -> dict:
    sql = joins.pip_join_sql("points", "polys")
    return con.sql(
        f"WITH points AS (SELECT * FROM read_parquet('{points}')), "
        f"polys AS (SELECT * FROM read_parquet('{polys}')) "
        f"SELECT image_id, pid FROM ({sql}) ORDER BY image_id, pid"
    ).fetchnumpy()


def knn_rows(con, points: str, queries: str, k: int) -> dict:
    sql = knn.knn_sql("points", "queries", k)
    return con.sql(
        f"WITH points AS (SELECT * FROM read_parquet('{points}')), "
        f"queries AS (SELECT * FROM read_parquet('{queries}')) "
        f"SELECT qid, image_id, dist_sq, rank FROM ({sql}) "
        f"ORDER BY qid, rank"
    ).fetchnumpy()


def same_rows(got: dict, want: dict, keys: list[str]) -> bool:
    """Exact equality of two column sets after sorting by ``keys``."""
    n = len(want[keys[0]])
    if any(len(got[k]) != n for k in want):
        return False
    order = np.lexsort([np.asarray(got[k]) for k in reversed(keys)])
    return all(np.array_equal(np.asarray(got[k])[order], np.asarray(want[k]))
               for k in want)


# ------------------------------------------------------------------ tiles


def decode_tile(buf: bytes) -> dict:
    """Scalar decode: layer name -> [(id, geom_type, parts, props)] in
    feature order; parts are lists of (x, y) tuples."""
    out = {}
    for layer in T.parse_tile(buf):
        feats = []
        for f in layer.features:
            parts, _ = G.decode_geometry(f.geom_type, f.geometry,
                                         f.geometry_nbytes)
            props = {k.decode(): V.decode_value(v)[1]
                     for k, v in layer.properties(f)}
            feats.append((f.id, f.geom_type,
                          [[(int(x), int(y)) for x, y in p] for p in parts],
                          props))
        out[layer.name] = feats
    return out


def tile_digest(tbl: pa.Table) -> str:
    """Order-independent digest of a (kind, z, x, y, tile_bytes) table."""
    rows = sorted(zip(*[tbl.column(c).to_pylist()
                        for c in ("kind", "z", "x", "y", "tile_bytes")]))
    h = hashlib.blake2b(digest_size=16)
    for kind, z, x, y, b in rows:
        h.update(struct.pack("<qqqqq", kind, z, x, y, len(b)))
        h.update(b)
    return h.hexdigest()


def tile_index(tbl: pa.Table) -> dict:
    """(kind, z, x, y) -> tile bytes."""
    return {(k, z, x, y): b for k, z, x, y, b in zip(
        *[tbl.column(c).to_pylist()
          for c in ("kind", "z", "x", "y", "tile_bytes")])}


class TileExpectation:
    """Expected tile contents, built from DuckDB rows grouped by tile.

    ``rows`` holds one row per feature copy (z, x, y, iid, ...) sorted by
    tile then iid. ``complete`` says the contents of every tile are
    checked; otherwise a sample of tiles is."""

    complete = True

    def __init__(self, rows: pa.Table):
        self.cols = {c: rows.column(c).to_numpy(zero_copy_only=False)
                     for c in rows.column_names}
        z, x, y = self.cols["z"], self.cols["x"], self.cols["y"]
        key = (z * (1 << 20) + x) * (1 << 20) + y
        bounds = np.flatnonzero(np.diff(key)) + 1
        starts = np.concatenate([[0], bounds]).astype(int)
        ends = np.concatenate([bounds, [key.size]]).astype(int)
        self.slices = {(int(z[s]), int(x[s]), int(y[s])): (s, e)
                       for s, e in zip(starts, ends)}

    def tiles(self) -> set:
        return set(self.slices)


class PointTiles(TileExpectation):
    """Point features carrying ``props``, one layer per ``layer_name``."""

    def __init__(self, rows: pa.Table, props: list[str]):
        super().__init__(rows)
        self.props = props

    def matches(self, buf: bytes, tile) -> bool:
        s, e = self.slices[tile]
        want: dict = {}
        names = self.cols["layer_name"][s:e]
        for name in sorted(set(names)):
            sel = np.flatnonzero(names == name) + s
            want[name] = {c: [_py(v) for v in self.cols[c][sel]]
                          for c in ["iid", "loc_x", "loc_y", *self.props]}
        return decode_points(buf) == want


class FootprintTiles(TileExpectation):
    """Polygon layer ``fp``: each anchor-relative ring moved into the
    tile, clipped to the buffered tile and simplified by the scalar
    oracles. A copy whose geometry vanishes is dropped, and a tile with
    no copy left is absent from the output. Tiles are sampled for their
    contents; the tile set is checked whole."""

    complete = False

    def __init__(self, rows: pa.Table, rings_parquet: str, buffer: int,
                 tol: float):
        super().__init__(rows)
        t = pq.read_table(rings_parquet, columns=["iid", "dx", "dy"])
        self.rings = dict(zip(t.column("iid").to_pylist(),
                              zip(t.column("dx").to_pylist(),
                                  t.column("dy").to_pylist())))
        self.bounds = (-buffer, -buffer, EXTENT + buffer, EXTENT + buffer)
        self.tol = tol

    def _copy(self, i: int):
        """Feature row ``i`` as the scalar oracles write it, or None if
        its geometry vanishes."""
        iid = int(self.cols["iid"][i])
        dx, dy = self.rings[iid]
        lx, ly = int(self.cols["loc_x"][i]), int(self.cols["loc_y"][i])
        ring = [(lx + a, ly + b) for a, b in zip(dx, dy)]
        parts = clip_parts_scalar([ring], G.GEOM_POLYGON, *self.bounds)
        parts = simplify_parts_scalar(parts, G.GEOM_POLYGON, self.tol)
        if not parts:
            return None
        return (iid, G.GEOM_POLYGON,
                [[(int(x), int(y)) for x, y in p] for p in parts], {})

    def tiles(self) -> set:
        """Tiles with at least one surviving copy."""
        return {t for t, (s, e) in self.slices.items()
                if any(self._copy(i) is not None for i in range(s, e))}

    def matches(self, buf: bytes, tile) -> bool:
        s, e = self.slices[tile]
        feats = [f for f in map(self._copy, range(s, e)) if f is not None]
        return decode_tile(buf) == ({"fp": feats} if feats else {})


def decode_points(buf: bytes) -> dict | None:
    """Scalar decode of a point-only tile into columns per layer (iid,
    loc_x, loc_y, then one column per property key); None if any layer
    or feature is not a version-2, extent-4096 single point."""
    out = {}
    for layer in T.parse_tile(buf):
        if layer.version != 2 or layer.extent != EXTENT:
            return None
        keys = [k.decode() for k in layer.keys]
        vals = [V.decode_value(v)[1] for v in layer.values]
        cols = {"iid": [], "loc_x": [], "loc_y": []}
        for f in layer.features:
            g = f.geometry
            if f.geom_type != G.GEOM_POINT or g.size != 3 or g[0] != 9:
                return None
            cols["iid"].append(f.id)
            cols["loc_x"].append(int(zigzag32_decode(int(g[1]))))
            cols["loc_y"].append(int(zigzag32_decode(int(g[2]))))
            for i in range(0, f.tags.size, 2):
                cols.setdefault(keys[int(f.tags[i])], []).append(
                    vals[int(f.tags[i + 1])])
        out[layer.name] = cols
    return out


def _py(v):
    return v.item() if isinstance(v, np.generic) else v
