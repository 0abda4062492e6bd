"""Seeded input generator for the benchmark workloads.

Every table is drawn from one ``numpy.random.Generator`` seeded with
the run's ``--seed``, so the same seed gives byte-identical parquet.
Positions are full-entropy draws over the whole integer world; the
engine's ``synth`` LCG pair cycles after 65,536 ids and would make
large inputs mostly duplicate positions.

The generator writes plain parquet files. The workloads commit them
through ``table.SnapshotTable`` for the engine and hand the same files
to DuckDB for the references, so the engine and the references see
identical inputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the engine's tiling world: 2^ZOOM tiles of EXTENT units per axis
ZOOM = 4
EXTENT = 4096
WORLD = (1 << ZOOM) * EXTENT


def write(path: str, cols: dict) -> str:
    pq.write_table(pa.table(cols), path)
    return path


def uniform_images(rng: np.random.Generator, n: int,
                   span: int = WORLD) -> dict:
    """Points spread uniformly over [0, span)^2, two layers, two props."""
    return {
        "iid": np.arange(n, dtype=np.int64),
        "wx": rng.integers(0, span, n, dtype=np.int64),
        "wy": rng.integers(0, span, n, dtype=np.int64),
        "layer_name": pa.array(np.where(rng.random(n) < 0.5, "L0", "L1")),
        "phash": rng.integers(0, 1 << 31, n, dtype=np.int64),
        "fmt": pa.array(np.where(rng.random(n) < 0.25, "jpeg", "png")),
    }


def footprints(rng: np.random.Generator, n: int, span: int = WORLD,
               vertices: tuple[int, int] = (32, 96)) -> dict:
    """Star-shaped polygon rings with tens of vertices around uniform
    anchors. Vertex angles increase monotonically, so every ring is
    simple and has positive (outer) shoelace area in the y-down tile
    space. Half the rings are smooth circles, which Douglas-Peucker
    mostly removes; the other half carry radial noise, which it keeps.
    Offsets are stored relative to the anchor, as closed rings."""
    dx, dy = [], []
    counts = rng.integers(vertices[0], vertices[1] + 1, n)
    radius = rng.integers(60, 600, n)
    noisy = rng.random(n) < 0.5
    for k, r, rough in zip(counts, radius, noisy):
        # jitter below half a step keeps the angles increasing
        ang = (np.arange(k) + (rng.random(k) - 0.5) * 0.6) * (2 * np.pi / k)
        rad = r * (1 + (rng.random(k) - 0.5) * (0.3 if rough else 0.004))
        x = np.rint(rad * np.cos(ang)).astype(np.int64)
        y = np.rint(rad * np.sin(ang)).astype(np.int64)
        dx.append(np.append(x, x[0]))
        dy.append(np.append(y, y[0]))
    return {
        "iid": np.arange(n, dtype=np.int64),
        "wx": rng.integers(0, span, n, dtype=np.int64),
        "wy": rng.integers(0, span, n, dtype=np.int64),
        "dx": pa.array(dx, pa.list_(pa.int64())),
        "dy": pa.array(dy, pa.list_(pa.int64())),
    }


# Cluster and void layout, as fractions of the world, jittered by the
# seed. Fixed so every seed gives the joins the same amount of work:
# the same number of hot cells, each huge diamond over exactly one
# cluster, and voids far from every cluster.
CLUSTERS = [(0.2, 0.2), (0.8, 0.2), (0.5, 0.5), (0.2, 0.8), (0.8, 0.8)]
SIGMAS = [300, 450, 600, 750, 900]
VOIDS = [(0.5, 0.15), (0.15, 0.5), (0.85, 0.5), (0.5, 0.85)]
VOID_RADIUS = 6000
HUGE_RADIUS = (22000, 26000)


def _layout(rng: np.random.Generator, fractions, jitter: int) -> np.ndarray:
    at = np.rint(np.array(fractions) * WORLD).astype(np.int64)
    return at + rng.integers(-jitter, jitter + 1, at.shape)


def clustered_images(rng: np.random.Generator, n: int,
                     clustered_share: float = 0.9):
    """Points packed into Gaussian clusters (so a few join cells are
    hot) over a sparse uniform background with empty voids.

    Returns (points, cluster centres, void centres). Voids are discs
    with no points at all: a kNN query at a void centre has to expand
    its ring several cells before it finds k neighbours."""
    centres = _layout(rng, CLUSTERS, 1500)
    holes = _layout(rng, VOIDS, 1000)
    n_cl = int(n * clustered_share)
    which = rng.integers(0, len(centres), n_cl)
    sigma = np.array(SIGMAS)[which]
    cx = centres[which, 0] + rng.normal(0, 1, n_cl) * sigma
    cy = centres[which, 1] + rng.normal(0, 1, n_cl) * sigma
    bg = rng.integers(0, WORLD, (4 * (n - n_cl) + 64, 2))
    dist = np.hypot(bg[:, None, 0] - holes[None, :, 0],
                    bg[:, None, 1] - holes[None, :, 1])
    bg = bg[(dist > VOID_RADIUS).all(axis=1)][: n - n_cl]
    wx = np.clip(np.concatenate([np.rint(cx), bg[:, 0]]), 0, WORLD - 1)
    wy = np.clip(np.concatenate([np.rint(cy), bg[:, 1]]), 0, WORLD - 1)
    order = rng.permutation(wx.size)
    pts = {
        "image_id": np.arange(wx.size, dtype=np.int64),
        "wx": wx[order].astype(np.int64),
        "wy": wy[order].astype(np.int64),
    }
    return pts, centres, holes


def diamonds(rng: np.random.Generator, n: int, centres: np.ndarray,
             huge: int = 3) -> dict:
    """Convex diamond polygons (L1 balls) as closed 5-point rings, CW in
    the y-down space. Most are small; the first ``huge`` sit on the
    first cluster centres and each cover hundreds of join cells."""
    cx = rng.integers(0, WORLD, n, dtype=np.int64)
    cy = rng.integers(0, WORLD, n, dtype=np.int64)
    r = rng.integers(200, 3000, n, dtype=np.int64)
    cx[:huge], cy[:huge] = centres[:huge, 0], centres[:huge, 1]
    r[:huge] = rng.integers(*HUGE_RADIUS, huge)
    rings = [
        [{"x": int(x), "y": int(y - rr)}, {"x": int(x + rr), "y": int(y)},
         {"x": int(x), "y": int(y + rr)}, {"x": int(x - rr), "y": int(y)},
         {"x": int(x), "y": int(y - rr)}]
        for x, y, rr in zip(cx, cy, r)
    ]
    pt = pa.struct([("x", pa.int64()), ("y", pa.int64())])
    return {
        "pid": np.arange(n, dtype=np.int64),
        "cx": cx, "cy": cy, "r": r,
        "ring": pa.array(rings, pa.list_(pt)),
    }


def knn_queries(rng: np.random.Generator, centres: np.ndarray,
                holes: np.ndarray, n: int) -> dict:
    """Half the queries sit inside clusters, half at void centres."""
    half = n // 2
    near = centres[rng.integers(0, len(centres), half)] + \
        rng.integers(-400, 400, (half, 2))
    empty = holes[rng.integers(0, len(holes), n - half)] + \
        rng.integers(-300, 300, (n - half, 2))
    q = np.clip(np.concatenate([near, empty]), 0, WORLD - 1)
    return {
        "qid": np.arange(n, dtype=np.int64),
        "qx": q[:, 0].astype(np.int64),
        "qy": q[:, 1].astype(np.int64),
    }


def region_features(rng: np.random.Generator, n: int, regions: int,
                    span: int = WORLD) -> dict:
    """Uniform points with a string join key ``region``."""
    cols = uniform_images(rng, n, span)
    cols["region"] = pa.array(
        ["R%d" % k for k in rng.integers(0, regions, n)])
    return cols


def region_attrs(rng: np.random.Generator, matched: int) -> dict:
    """Attribute rows for regions R0..R{matched-1}; features in the
    other regions find no match and the inner join drops them."""
    return {
        "region": pa.array(["R%d" % k for k in range(matched)]),
        "weight": rng.integers(1, 1000, matched, dtype=np.int64),
        "cls": pa.array(["C%d" % k for k in rng.integers(0, 5, matched)]),
    }
