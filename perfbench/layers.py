"""Per-layer metrics of a traced run, computed from its spans.

A layer is named by the engine module whose public call a span times.
Times are self times (a stage span has no children, so its self time is
its duration); counts come from the ``DataFrame.observe`` row counts
and aggregates recorded on the span, and ``spark.*`` from the Spark SQL
metrics of each stage's final plan. Each metric is the median over the
run's traced jobs; a layer a workload does not run reads 0.
"""

from __future__ import annotations

import statistics

from spans import self_times

# span name -> per-layer time metric
TIMES = {
    "table.read": "table.read_s",
    "table.write": "table.write_s",
    "tiling.assign_tiles": "tiling.assign_s",
    "clip.clip_features": "clip.s",
    "simplify.simplify_features": "simplify.s",
    "geomops.cmds_from_parts": "geomops.cmds_s",
    "assemble.encode_point_tiles_arrow": "assemble.encode_points_s",
    "assemble.encode_geom_tiles_arrow": "assemble.encode_geom_s",
    "assemble.decode_tiles": "assemble.decode_s",
    "enrich.join_attributes": "enrich.join_s",
    "joins.pip_join": "joins.pip_s",
    "knn.knn_join": "knn.s",
    "bench.footprint_parts": "bench.footprint_parts_s",
    "bench.collect": "bench.collect_s",
}

SPARK = ["python_stages", "python_boot_s", "python_time_s",
         "python_bytes_sent", "python_bytes_received", "shuffle_bytes",
         "codegen_s"]

UNITS = {
    "session.start_s": "s",
    **{m: "s" for m in TIMES.values()},
    "table.rows_read": "count",
    "table.bytes_written": "bytes",
    "tiling.fanout": "ratio",
    "clip.vertices_out": "count",
    "simplify.vertex_keep_ratio": "ratio",
    "assemble.tiles_out": "count",
    "assemble.tile_bytes": "bytes",
    "assemble.features_decoded": "count",
    "assemble.decode_failed": "count",
    "enrich.match_ratio": "ratio",
    "joins.pip_candidates": "count",
    "joins.pip_matches": "count",
    "joins.pip_refine_ratio": "ratio",
    "knn.spark_jobs": "count",
    "spark.python_stages": "count",
    "spark.python_boot_s": "s",
    "spark.python_time_s": "s",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_received": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.codegen_s": "s",
    "spark.jobs": "count",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.unattributed_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _ratio(num, den) -> float:
    return num / den if den else 0.0


def job_metrics(spans: list[dict]) -> dict:
    """Per-layer metrics of one traced job."""
    selfs = self_times(spans)
    job = next(s for s in spans if s["parent"] is None)
    m = {k: 0.0 for k in UNITS}
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
        if s["name"] in TIMES:
            m[TIMES[s["name"]]] += selfs[s["id"]]
        for k in SPARK:
            m[f"spark.{k}"] += s.get(k) or 0

    def total(name, key):
        return sum(s.get(key) or 0 for s in by.get(name, []))

    m["spark.jobs"] = job["spark_jobs"]
    m["table.rows_read"] = total("table.read", "rows")
    m["table.bytes_written"] = total("table.write", "bytes")
    m["tiling.fanout"] = _ratio(total("tiling.assign_tiles", "rows"),
                                total("tiling.assign_tiles", "rows_in"))
    m["clip.vertices_out"] = total("clip.clip_features", "vertices")
    m["simplify.vertex_keep_ratio"] = _ratio(
        total("simplify.simplify_features", "vertices"),
        m["clip.vertices_out"])
    enc = ["assemble.encode_point_tiles_arrow",
           "assemble.encode_geom_tiles_arrow"]
    m["assemble.tiles_out"] = sum(total(n, "rows") for n in enc)
    m["assemble.tile_bytes"] = sum(total(n, "tile_bytes") for n in enc)
    m["assemble.features_decoded"] = total("assemble.decode_tiles", "rows")
    m["assemble.decode_failed"] = total("assemble.decode_tiles", "failed")
    m["enrich.match_ratio"] = _ratio(
        total("enrich.join_attributes", "join_rows"),
        m["assemble.features_decoded"] - m["assemble.decode_failed"])
    m["joins.pip_candidates"] = total("joins.pip_join", "candidates")
    m["joins.pip_matches"] = total("joins.pip_join", "rows")
    m["joins.pip_refine_ratio"] = _ratio(m["joins.pip_matches"],
                                         m["joins.pip_candidates"])
    m["knn.spark_jobs"] = total("knn.knn_join", "spark_jobs")
    wall = job["end"] - job["start"]
    m["trace.job_s"] = wall
    m["trace.unattributed_s"] = selfs[job["id"]]
    m["trace.coverage"] = _ratio(wall - selfs[job["id"]], wall)
    return m


def report(traced: list[list[dict]], plain_s: list[float],
           start_s: float) -> dict:
    """name -> (value, unit): medians over the traced jobs, plus the
    session start and the traced/untraced wall ratio."""
    per_job = [job_metrics(spans) for spans in traced]
    out = {k: statistics.median(j[k] for j in per_job) for k in UNITS
           if k not in ("session.start_s", "trace.untraced_job_s",
                        "trace.overhead_ratio")}
    out["session.start_s"] = start_s
    out["trace.untraced_job_s"] = statistics.median(plain_s)
    out["trace.overhead_ratio"] = out["trace.job_s"] / \
        out["trace.untraced_job_s"]
    return {k: (out[k], UNITS[k]) for k in UNITS}
