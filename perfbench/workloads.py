"""The benchmark workloads.

Each workload generates its inputs from the seed and computes its
references in ``prepare``; commits the inputs through
``table.SnapshotTable`` in ``commit``; runs one engine job in ``job``
(written once as stages, see spans.py); and checks a job's output in
``check``. ``warm_check`` is the full check run
on the warm-up output during set-up; for ``tiles`` a timed job
must reproduce that verified output byte for byte and pass a rotating
scalar sample check.

- tiles: tiling, clip, simplify and encode across the Python/Arrow
  boundary, then decode, an attribute join, re-encode and a
  snapshot-table overwrite; no spatial join.
- spatial_join: broadcast and shuffle joins, hot-cell salting and kNN
  ring expansion; no MVT encode or decode.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from vtzero_spark.engine import (assemble, clip, enrich, geomops, joins, knn,
                                 simplify, tiling)
from vtzero_spark.engine.table import SnapshotTable
from vtzero_spark.mvt import geometry as G
from vtzero_spark.mvt.errors import MVTError

import gen
import refs
from gen import EXTENT, WORLD, ZOOM


def point_features(assigned, prop_spec):
    """Tile-assigned rows -> point-encoder input; the iid is both the
    feature id and the ordinal that fixes feature order in a tile."""
    return assigned.select(
        "z", "x", "y", "layer_name",
        F.col("iid").alias("feature_ordinal"),
        F.col("iid").alias("feature_id"),
        "loc_x", "loc_y", *[c for _, _, c in prop_spec])


def _sum_vertices():
    return F.sum(F.aggregate(F.transform("parts", F.size), F.lit(0),
                             lambda a, b: a + b))


def _tile_bytes():
    return {"tile_bytes": F.sum(F.octet_length("tile_bytes"))}


def _matches(exp, buf: bytes, tile) -> bool:
    """A tile the scalar codec cannot read does not match."""
    try:
        return exp.matches(buf, tile)
    except MVTError:
        return False


class Workload:
    name = ""
    rows = 0  # input rows one job processes
    # untimed warm-up jobs in set-up; the first gets ``warm_check``
    warm_ups = 2

    def __init__(self, seed: int, cores: int):
        self.seed = seed % (1 << 63)  # numpy seeds must be non-negative
        self.cores = cores

    def sample(self, population, k: int, salt: int) -> list:
        pop = sorted(population)
        r = np.random.default_rng([self.seed, salt])
        return [pop[i] for i in r.choice(len(pop), min(k, len(pop)),
                                         replace=False)]

    def commit(self, spark, d: str) -> None:
        """Commit each generated input (``self.inputs``: name -> parquet)
        as a snapshot table with one data file per core, so table scans
        run one task per core."""
        self.tables = {}
        for name, parquet in self.inputs.items():
            table = SnapshotTable.create(f"{d}/t_{name}")
            table.append(spark.read.parquet(parquet).repartition(self.cores))
            self.tables[name] = table

    def warm_check(self, out) -> str | None:
        """Full check of the warm-up output during set-up."""
        return self.check(out, 0)


class Tiles(Workload):
    """Build tiles from uniform points and many-vertex footprints, then
    rewrite the point tiles with an attribute join and commit the
    tileset: the codec layers from both sides, no spatial join."""

    name = "tiles"
    SPAN = 8 * EXTENT  # inputs cover the 8x8 tiles at the world's corner
    N_POINTS = 10_000
    N_FOOTPRINTS = 500
    BUFFER = 64
    TOL = 2.0
    REGIONS = 64
    MATCHED = 48  # features in the other 16 regions drop at the join
    PROP_SPEC = [("phash", 5, "phash"), ("fmt", 1, "fmt"),
                 ("region", 1, "region")]
    rows = N_POINTS + N_FOOTPRINTS
    verified: str | None = None  # digest of the checked warm-up output

    def prepare(self, d: str, con) -> None:
        rng = np.random.default_rng([self.seed, 1])
        p_pq = gen.write(f"{d}/points.parquet", gen.region_features(
            rng, self.N_POINTS, self.REGIONS, self.SPAN))
        f_pq = gen.write(f"{d}/footprints.parquet",
                         gen.footprints(rng, self.N_FOOTPRINTS, self.SPAN))
        a_pq = gen.write(f"{d}/attrs.parquet",
                         gen.region_attrs(rng, self.MATCHED))
        self.inputs = {"points": p_pq, "footprints": f_pq, "attrs": a_pq}
        pts = refs.assigned(
            con, f"SELECT * FROM read_parquet('{p_pq}') p "
                 f"JOIN read_parquet('{a_pq}') a USING (region)", self.BUFFER,
            "iid, loc_x, loc_y, layer_name, phash, fmt, region, weight, cls")
        fps = refs.assigned(con, f"SELECT * FROM read_parquet('{f_pq}')",
                            self.BUFFER, "iid, loc_x, loc_y")
        self.expect = {
            0: refs.PointTiles(
                pts, ["phash", "fmt", "region", "weight", "cls"]),
            1: refs.FootprintTiles(fps, f_pq, self.BUFFER, self.TOL),
        }

    def commit(self, spark, d: str) -> None:
        super().commit(spark, d)
        self.dst = SnapshotTable.create(f"{d}/t_out")

    def job(self, spark, run):
        B = self.BUFFER
        t = self.tables
        pts = run.stage("table.read", lambda: t["points"].read(spark))
        fps = run.stage("table.read", lambda: t["footprints"].read(spark))
        attrs = run.stage("table.read", lambda: t["attrs"].read(spark))
        ap = run.stage("tiling.assign_tiles", lambda: tiling.assign_tiles(
            pts, zoom=ZOOM, extent=EXTENT, buffer=B), src=pts)
        tp = run.stage(
            "assemble.encode_point_tiles_arrow",
            lambda: assemble.encode_point_tiles_arrow(
                point_features(ap, self.PROP_SPEC), prop_spec=self.PROP_SPEC),
            observe=_tile_bytes())
        af = run.stage("tiling.assign_tiles", lambda: tiling.assign_tiles(
            fps, zoom=ZOOM, extent=EXTENT, buffer=B), src=fps)
        fp = run.stage("bench.footprint_parts", lambda: af.select(
            "z", "x", "y", F.lit("fp").alias("layer_name"),
            F.col("iid").alias("feature_ordinal"),
            F.col("iid").alias("feature_id"),
            F.lit(G.GEOM_POLYGON).alias("geom_type"),
            F.array(F.transform(
                F.arrays_zip("dx", "dy"),
                lambda p: F.struct(
                    (F.col("loc_x") + p["dx"]).cast("long").alias("x"),
                    (F.col("loc_y") + p["dy"]).cast("long").alias("y")),
            )).alias("parts")))
        cl = run.stage("clip.clip_features", lambda: clip.clip_features(
            fp, extent=EXTENT, buffer=B),
            observe={"vertices": _sum_vertices()}, src=fp)
        si = run.stage("simplify.simplify_features",
                       lambda: simplify.simplify_features(cl, self.TOL),
                       observe={"vertices": _sum_vertices()}, src=cl)
        cm = run.stage("geomops.cmds_from_parts",
                       lambda: geomops.cmds_from_parts(si))
        tg = run.stage("assemble.encode_geom_tiles_arrow",
                       lambda: assemble.encode_geom_tiles_arrow(cm),
                       observe=_tile_bytes())
        # a traced job stages the decode alone to time that layer; plain
        # jobs never force this lazy frame, so it costs them nothing
        run.stage("assemble.decode_tiles", lambda: assemble.decode_tiles(
            tp, properties=True), observe={
            "failed": F.sum((F.col("decode_status") != "ok").cast("long"))})
        te = run.stage("enrich.join_attributes", lambda: enrich.join_attributes(
            tp, attrs, key_prop=("region", 1),
            base_spec=[(k, vt) for k, vt, _ in self.PROP_SPEC],
            attr_spec=[("weight", 5, "weight"), ("cls", 1, "cls")],
            how="inner"))
        out = te.withColumn("kind", F.lit(0)).unionByName(
            tg.withColumn("kind", F.lit(1))).select(
            F.col("kind").cast("long").alias("kind"),
            "z", "x", "y", "tile_bytes")
        version = run.call("table.write", lambda: self.dst.overwrite(out))
        files = self.dst.snapshot(version)["files"]
        run.note("bytes", sum(e["bytes"] for e in files))
        return pq.read_table([os.path.join(self.dst.path, e["path"])
                              for e in files],
                             columns=["kind", "z", "x", "y", "tile_bytes"])

    def warm_check(self, out: pa.Table) -> str | None:
        """Full check of the warm-up output: the tile set of each kind,
        every point tile decoded, a seeded sample of footprint tiles;
        its digest then becomes the output every timed job must
        reproduce."""
        tiles = refs.tile_index(out)
        self.verified = None
        for kind, exp in self.expect.items():
            got = {k[1:] for k in tiles if k[0] == kind}
            if got != exp.tiles():
                return f"kind {kind}: tile set differs from the reference"
            keys = sorted(got) if exp.complete else \
                self.sample(got, 6, salt=0)
            for t in keys:
                if not _matches(exp, tiles[(kind, *t)], t):
                    return f"tile {(kind, *t)}: contents differ from the reference"
        self.verified = refs.tile_digest(out)
        return None

    def check(self, out: pa.Table, job: int) -> str | None:
        """Byte-identical to the verified warm-up output, plus one
        rotating tile per kind decoded against the reference."""
        if self.verified is None or refs.tile_digest(out) != self.verified:
            return "output differs from the verified output"
        tiles = refs.tile_index(out)
        for kind, exp in self.expect.items():
            got = [k[1:] for k in tiles if k[0] == kind]
            for t in self.sample(got, 1, salt=job + 1):
                if not _matches(exp, tiles[(kind, *t)], t):
                    return f"tile {(kind, *t)}: contents differ from the reference"
        return None


def candidate_pairs(pts, polys) -> int:
    """(point, polygon) pairs sharing a join cell of the engine's own
    cell index: the pairs pip_join refines. Spark folds the refine into
    the join condition, so no plan metric counts them."""
    cell = EXTENT
    idx = joins.polygon_cell_index(polys, cell).groupBy(
        "cell_x", "cell_y").agg(F.count("*").alias("n_idx"))
    per_cell = pts.groupBy(
        F.expr(f"wx div {cell}").alias("cell_x"),
        F.expr(f"wy div {cell}").alias("cell_y")).agg(
        F.count("*").alias("n_pts"))
    return per_cell.join(idx, ["cell_x", "cell_y"]).agg(
        F.sum(F.col("n_pts") * F.col("n_idx"))).first()[0] or 0


class SpatialJoin(Workload):
    """Clustered points: two-tier salted PIP join and kNN."""

    name = "spatial_join"
    # its many small Spark jobs (kNN rounds) keep the JIT compiling for
    # dozens of jobs: after two warm-ups the first timed job ran about
    # a fifth over the run's median job, after four about a seventh
    warm_ups = 4
    N_POINTS = 15_000
    N_POLYS = 200
    N_QUERIES = 16
    K = 8
    SALT = 8
    rows = N_POINTS

    def prepare(self, d: str, con) -> None:
        rng = np.random.default_rng([self.seed, 2])
        cols, centres, holes = gen.clustered_images(rng, self.N_POINTS)
        p_pq = gen.write(f"{d}/points.parquet", cols)
        g_pq = gen.write(f"{d}/polys.parquet",
                         gen.diamonds(rng, self.N_POLYS, centres))
        q_pq = gen.write(f"{d}/queries.parquet",
                         gen.knn_queries(rng, centres, holes, self.N_QUERIES))
        self.rows = len(cols["image_id"])
        # a cell is hot when it holds 4x the mean cell load
        self.hot = 4 * self.rows // (WORLD // EXTENT) ** 2
        self.inputs = {"points": p_pq, "polys": g_pq, "queries": q_pq}
        self.want_pip = refs.pip_pairs(con, p_pq, g_pq)
        self.want_knn = refs.knn_rows(con, p_pq, q_pq, self.K)

    def job(self, spark, run):
        t = self.tables
        pts = run.stage("table.read", lambda: t["points"].read(spark))
        polys = run.stage("table.read", lambda: t["polys"].read(spark))
        qs = run.stage("table.read", lambda: t["queries"].read(spark))
        pip = run.stage("joins.pip_join", lambda: joins.pip_join(
            pts, polys, salt=self.SALT, hot_threshold=self.hot)
            .select("image_id", "pid"))
        run.after(lambda: {"candidates": candidate_pairs(pts, polys)})
        nn = run.stage("knn.knn_join", lambda: knn.knn_join(
            spark, pts, qs, k=self.K, world=WORLD)
            .select("qid", "image_id", "dist_sq", "rank"))
        return (run.call("bench.collect", pip.toArrow, df=pip),
                run.call("bench.collect", nn.toArrow, df=nn))

    def check(self, out, job: int) -> str | None:
        pip, nn = (t.to_pydict() for t in out)
        if not refs.same_rows(pip, self.want_pip, ["image_id", "pid"]):
            return "pip_join rows differ from DuckDB pip_join_sql"
        if not refs.same_rows(nn, self.want_knn, ["qid", "rank"]):
            return "knn_join rows differ from DuckDB knn_sql"
        return None


WORKLOADS = {w.name: w for w in (Tiles, SpatialJoin)}
