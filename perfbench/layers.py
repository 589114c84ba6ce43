"""Per-layer metrics of a traced run.

Layers are named by the engine module they live in. Each metric is the median
over the run's traced jobs; a layer the workload's job does not call reads 0.
Which end-to-end metric each layer metric should move, and on which workload,
is tabled in perfbench/README.md.
"""

from __future__ import annotations

import os
import statistics
from types import SimpleNamespace

from workloads import ENGINE

UNITS = {
    "session.start_s": "s",
    "pbf_source.decode_s": "s",
    "pbf_source.elements_per_s": "1/s",
    "pbf_source.reread_s": "s",
    "spatial_join.assemble_s": "s",
    "spatial_join.polygons": "count",
    "geocode.extract_s": "s",
    "geocode.keep_ratio": "ratio",
    "spatial_join.pip_s": "s",
    "spatial_join.candidates": "count",
    "spatial_join.hits": "count",
    "spatial_join.hits_per_candidate": "ratio",
    "spatial_join.shuffle_bytes": "bytes",
    "spatial_join.task_skew": "ratio",
    "tiler.pyramid_s": "s",
    "tiler.tiles_out": "count",
    "tiler.shuffle_bytes": "bytes",
    "pbf_sink.write_s": "s",
    "pbf_sink.shards": "count",
    "pbf_sink.bytes": "bytes",
    "pbf_sink.bytes_ratio": "ratio",
    "jvm.heap_after_gc_mb": "MB",
    "jvm.live_heap_mb": "MB",
    "trace.overhead_pct": "%",
}


def traced_engine(tracer) -> SimpleNamespace:
    return SimpleNamespace(**{k: tracer.layer(fn) for k, fn in vars(ENGINE).items()})


def _job_metrics(tracer, job, wl, fx) -> dict[str, float]:
    spans: dict[str, list] = {}
    for s in tracer.children(job):
        spans.setdefault(s.name, []).append(s.attrs)

    def total(attr: str, *names: str) -> float:
        return sum(a[attr] for n in names for a in spans.get(n, []))

    out = job.attrs["out"]
    m = {
        "pbf_source.decode_s": total("self_s", "pbf_source.read_pbf"),
        "pbf_source.reread_s": total("self_s", "pbf_source.read_pbf_union"),
        "spatial_join.assemble_s": total(
            "self_s", "spatial_join.assemble_polygon_rings", "spatial_join.polygons_with_edges"
        ),
        "geocode.extract_s": total("self_s", "geocode.pages_with_cells"),
        "spatial_join.pip_s": total("self_s", "spatial_join.point_in_polygon_join"),
        "spatial_join.candidates": total("tile_join_rows", "spatial_join.point_in_polygon_join"),
        "spatial_join.shuffle_bytes": total("shuffle_bytes", "spatial_join.point_in_polygon_join"),
        "spatial_join.task_skew": total("task_skew", "spatial_join.point_in_polygon_join"),
        "tiler.pyramid_s": total("self_s", "tiler.tile_counts", "tiler.pyramid_rollup"),
        "tiler.shuffle_bytes": total("shuffle_bytes", "tiler.tile_counts", "tiler.pyramid_rollup"),
        "pbf_sink.write_s": total("self_s", "pbf_sink.write_bundle_pbf"),
    }
    decode_s = m["pbf_source.decode_s"]
    m["pbf_source.elements_per_s"] = wl.rows / decode_s if decode_s else 0.0
    hits = sum(out.get("hits", {}).values())
    m["spatial_join.hits"] = hits
    cand = m["spatial_join.candidates"]
    m["spatial_join.hits_per_candidate"] = hits / cand if cand else 0.0
    m["spatial_join.polygons"] = out.get("polygons", 0)
    m["tiler.tiles_out"] = sum(d[0] for d in out.get("pyramid", {}).values())
    m["pbf_sink.shards"] = out.get("shards", 0)
    m["pbf_sink.bytes"] = out.get("bytes", 0)
    m["pbf_sink.bytes_ratio"] = out.get("bytes", 0) / os.path.getsize(fx.pbf)
    return m


def per_layer_metrics(tracer, traced_jobs, wl, fx, start_s, untraced_walls, extra):
    """name -> (value, unit) for every per-layer metric."""
    metrics = dict.fromkeys(UNITS, 0.0)
    per_job = [_job_metrics(tracer, job, wl, fx) for job in traced_jobs]
    if per_job:
        metrics.update({k: statistics.median(j[k] for j in per_job) for k in per_job[0]})
    if traced_jobs and untraced_walls:
        traced_wall = statistics.median(j.attrs["wall_s"] for j in traced_jobs)
        metrics["trace.overhead_pct"] = 100.0 * (traced_wall / statistics.median(untraced_walls) - 1.0)
    metrics["session.start_s"] = start_s
    metrics["geocode.keep_ratio"] = extra.get("geocoded_rows", 0) / wl.rows
    metrics["jvm.heap_after_gc_mb"] = extra["heap_after_gc_mb"]
    metrics["jvm.live_heap_mb"] = extra["live_heap_mb"]
    return {k: (metrics[k], UNITS[k]) for k in UNITS}
