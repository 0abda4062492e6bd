"""Tests of the benchmark itself: seeded inputs, the output checks and
the span arithmetic. Run from the repository root:

    python -m pytest perfbench -q -p no:cacheprovider

The Spark tests run each workload once at a reduced size, confirm its
output passes the check, then corrupt the output (one flipped tile byte,
one dropped join row) and confirm the check rejects it.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


# ------------------------------------------------------------- generator


def test_same_seed_same_inputs_other_seed_other_inputs():
    def draw(seed):
        rng = np.random.default_rng(seed)
        pts, centres, holes = gen.clustered_images(rng, 2000)
        return (gen.uniform_images(rng, 500), gen.footprints(rng, 20),
                pts, gen.diamonds(rng, 30, centres),
                gen.knn_queries(rng, centres, holes, 6))

    def same(a, b):
        return all(pa.table(x).equals(pa.table(y)) for x, y in zip(a, b))

    assert same(draw(5), draw(5))
    assert not same(draw(5), draw(6))


def test_positions_are_full_entropy():
    pts = gen.uniform_images(np.random.default_rng(1), 200_000)
    xy = pts["wx"] * gen.WORLD + pts["wy"]
    # 200k draws over 2^32 cells collide a handful of times; a 2^16
    # cycle would repeat two thirds of them
    assert np.unique(xy).size > 199_000


def test_voids_hold_no_points_and_queries_sit_in_them():
    rng = np.random.default_rng(3)
    pts, centres, holes = gen.clustered_images(rng, 5000)
    q = gen.knn_queries(rng, centres, holes, 8)
    d = np.hypot(pts["wx"][:, None] - holes[:, 0],
                 pts["wy"][:, None] - holes[:, 1])
    assert (d > gen.VOID_RADIUS).all()
    qd = np.hypot(q["qx"][4:, None] - holes[:, 0],
                  q["qy"][4:, None] - holes[:, 1]).min(axis=1)
    assert (qd < 1000).all()


def test_each_huge_diamond_covers_one_cluster():
    rng = np.random.default_rng(4)
    _, centres, _ = gen.clustered_images(rng, 100)
    d = gen.diamonds(rng, 10, centres)
    for i in range(3):
        l1 = np.abs(centres - [d["cx"][i], d["cy"][i]]).sum(axis=1)
        assert list(np.flatnonzero(l1 < d["r"][i])) == [i]


def test_footprint_rings_are_closed_outer_rings():
    f = gen.footprints(np.random.default_rng(2), 50)
    for dx, dy in zip(f["dx"].to_pylist(), f["dy"].to_pylist()):
        assert 33 <= len(dx) <= 97 and dx[0] == dx[-1] and dy[0] == dy[-1]
        x, y = np.array(dx), np.array(dy)
        assert (x[:-1] * y[1:] - x[1:] * y[:-1]).sum() > 0
        assert (np.diff(x) != 0).any()


# ----------------------------------------------------------------- spans


def test_self_time_subtracts_children():
    s = [{"id": 0, "parent": None, "start": 0.0, "end": 10.0},
         {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
         {"id": 2, "parent": 0, "start": 5.0, "end": 9.0}]
    assert spans.self_times(s) == {0: 3.0, 1: 3.0, 2: 4.0}


def test_job_metrics_coverage_and_ratios():
    s = [{"id": 0, "name": "job", "parent": None, "start": 0.0,
          "end": 10.0, "spark_jobs": 7},
         {"id": 1, "name": "joins.pip_join", "parent": 0, "start": 0.0,
          "end": 6.0, "rows": 40, "candidates": 100},
         {"id": 2, "name": "knn.knn_join", "parent": 0, "start": 6.0,
          "end": 8.0, "spark_jobs": 5, "python_stages": 1}]
    m = layers.job_metrics(s)
    assert m["joins.pip_s"] == 6.0 and m["knn.s"] == 2.0
    assert m["joins.pip_refine_ratio"] == 0.4
    assert m["knn.spark_jobs"] == 5 and m["spark.jobs"] == 7
    assert m["spark.python_stages"] == 1
    assert m["trace.unattributed_s"] == 2.0 and m["trace.coverage"] == 0.8


# ------------------------------------------------------------ checks


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.isolate(tmp_path_factory.mktemp("work"))
    s = run.start_spark("perfbench-test", 2)
    yield s
    s.stop()
    run.stop_jvm()


def _setup(spark, tmp_path, wl, **sizes):
    import refs

    for k, v in sizes.items():
        setattr(wl, k, v)
    con = refs.connect(2, str(tmp_path))
    wl.prepare(str(tmp_path), con)
    con.close()
    wl.commit(spark, str(tmp_path))
    return wl.job(spark, spans.Plain())


def _flip(tbl: pa.Table, row: int, pos: int) -> pa.Table:
    tiles = tbl.column("tile_bytes").to_pylist()
    b = bytearray(tiles[row])
    b[pos] ^= 0x01
    tiles[row] = bytes(b)
    i = tbl.schema.get_field_index("tile_bytes")
    return tbl.set_column(i, "tile_bytes", pa.array(tiles, pa.binary()))


def test_tiles_flipped_byte_is_caught(spark, tmp_path):
    from workloads import Tiles

    wl = Tiles(7, 2)
    out = _setup(spark, tmp_path, wl, N_POINTS=3000, N_FOOTPRINTS=150)
    assert wl.warm_check(out) is None
    assert wl.check(out, 1) is None
    kinds = out.column("kind").to_pylist()
    point_row, fp_row = kinds.index(0), kinds.index(1)
    # last byte of a point tile (its last layer's value table), middle
    # byte of a footprint tile (feature geometry)
    mid = len(out.column("tile_bytes")[fp_row].as_py()) // 2
    for bad in (_flip(out, point_row, -1), _flip(out, fp_row, mid)):
        assert wl.check(bad, 1) is not None
    # the warm-up check decodes every point tile in full
    assert wl.warm_check(_flip(out, point_row, -1)) is not None
    # and compares the tile set of each kind: a dropped tile is caught
    for row in (point_row, fp_row):
        dropped = out.filter(pa.array(np.arange(out.num_rows) != row))
        assert wl.warm_check(dropped) is not None


def test_spatial_join_dropped_row_is_caught(spark, tmp_path):
    from workloads import SpatialJoin

    wl = SpatialJoin(7, 2)
    pip, nn = _setup(spark, tmp_path, wl, N_POINTS=3000, N_POLYS=40,
                     N_QUERIES=4)
    assert pip.num_rows > 0 and nn.num_rows == 4 * wl.K
    assert wl.warm_check((pip, nn)) is None
    assert wl.check((pip.slice(1), nn), 1) is not None
    assert wl.check((pip, nn.slice(0, nn.num_rows - 1)), 1) is not None


# ------------------------------------------------------------ contract


def test_metric_lists_match_benchmark_json():
    """BENCHMARK.json lists exactly the metrics a run reports, with the
    units it reports them in."""
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        layers.UNITS


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's
    own files, the benchmark fails at once and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    bench = json.loads((tmp_path / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, *bench["command"][1:], "--workload",
         bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={"PATH": "/usr/bin:/bin"})
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "not importable" in p.stderr
