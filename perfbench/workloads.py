"""The benchmark workloads.

Each workload has a ``prepare`` step (set-up: the state a deployment builds
once and reuses), a timed ``job`` and a ``check`` of the job's output against
the DuckDB oracle. Jobs call the engine only through an ``engine`` namespace,
so a traced run can hand them wrapped functions instead.

Which layers each workload loads (the reason each exists):

- ``pip_hot``: geocode, the salted cell-keyed PIP join on skewed pages (the
  flagship) and the tiler's pyramid; no decode or sink in the timed job.
- ``osm_roundtrip``: PBF decode, ring assembly, the PBF sink and re-decode; no
  page work.
"""

from __future__ import annotations

import os
import shutil
from types import SimpleNamespace

from pyspark.sql import functions as F

from openstreetmapio_jl_spark.operators import geocode, spatial_join, tiler
from openstreetmapio_jl_spark.sinks import pbf_sink
from openstreetmapio_jl_spark.sources import pbf_source

from fixtures import PYRAMID_DIGEST, PYRAMID_FROM, PYRAMID_TO, Fixtures, check_equal, osm_digest

ZOOM = 13  # the flagship's join zoom
NSALT = 16  # the flagship's salt fan-out
KINDS = ("nodes", "ways", "relations")

ENGINE = SimpleNamespace(
    read_pbf=pbf_source.read_pbf,
    read_pbf_union=pbf_source.read_pbf_union,
    assemble_polygon_rings=spatial_join.assemble_polygon_rings,
    polygons_with_edges=spatial_join.polygons_with_edges,
    pages_with_cells=geocode.pages_with_cells,
    point_in_polygon_join=spatial_join.point_in_polygon_join,
    tile_counts=tiler.tile_counts,
    pyramid_rollup=tiler.pyramid_rollup,
    write_bundle_pbf=pbf_sink.write_bundle_pbf,
)


def _polygons(engine, spark, pbf: str):
    """PBF -> the join-ready polygon dimension, plus the decoded bundle."""
    bundle = engine.read_pbf(spark, pbf, single_pass=True)
    rings = engine.assemble_polygon_rings(bundle.ways, bundle.nodes)
    return engine.polygons_with_edges(rings), bundle


def _hits_per_polygon(engine, pts, polys) -> dict[str, int]:
    hits = engine.point_in_polygon_join(
        pts.select("url", "lat", "lon"), polys, zoom=ZOOM, nsalt=NSALT, salt_id_col="url"
    )
    return {str(r[0]): r[1] for r in hits.groupBy("polygon_id").count().collect()}


class PipHot:
    """Hits per polygon and a tile pyramid over the same geocoded pages, 10%
    of which fall in one z13 tile."""

    # Broadcast joins off, so the tile join shuffles as it does once the
    # polygon side outgrows the engine's 64 MB broadcast threshold: the hot
    # tile then lands in one shuffle key, which salting splits. With the
    # engine's threshold the few-MB polygon side of this scale is broadcast
    # and the join runs inside the scan stage, where there is no skew.
    # Partition coalescing off, or AQE merges the few-MB shuffle into one
    # partition, where there is none either.
    spark_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }

    def __init__(self, fx: Fixtures):
        self.fx = fx
        self.rows = fx.sizes["n_pages"]
        self.polys = None
        fx.ensure_osm()
        self.expected = {"hits": fx.expected_hits(), "pyramid": fx.expected_pyramid()}

    def prepare(self, spark) -> None:
        """Build and cache the polygon dimension (decode, assemble, persist)."""
        if self.polys is not None:
            self.polys.unpersist(blocking=True)
        polys, bundle = _polygons(ENGINE, spark, self.fx.pbf)
        self.polys = polys.persist()
        self.polys.count()
        bundle.union.unpersist(blocking=True)
        self.pages = spark.read.parquet(self.fx.pages())

    def job(self, spark, engine) -> dict:
        pts = engine.pages_with_cells(self.pages, zoom=ZOOM)
        counts = engine.tile_counts(pts, PYRAMID_FROM)
        pyr = engine.pyramid_rollup(counts, PYRAMID_FROM, PYRAMID_TO)
        return {
            "hits": _hits_per_polygon(engine, pts, self.polys),
            "pyramid": {
                str(r[0]): list(r[1:])
                for r in pyr.groupBy("z").agg(*[F.expr(e) for e in PYRAMID_DIGEST]).collect()
            },
        }

    def check(self, out: dict) -> str | None:
        return next(
            (err for k, exp in self.expected.items() if (err := check_equal(k, out[k], exp))),
            None,
        )

    def geocoded_rows(self) -> int:
        return geocode.pages_with_cells(self.pages, zoom=ZOOM).count()


class OsmRoundTrip:
    """Decode the PBF, assemble rings, write sharded PBF, re-decode the shards."""

    spark_conf: dict[str, str] = {}

    def __init__(self, fx: Fixtures, out_dir: str):
        self.fx = fx
        self.out_dir = out_dir
        fx.ensure_osm()
        self.expected = fx.expected_osm()
        self.rows = self.expected["elements"]

    def prepare(self, spark) -> None:
        """Nothing is reused across jobs: each job decodes from the file."""

    def job(self, spark, engine) -> dict:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        polys, bundle = _polygons(engine, spark, self.fx.pbf)
        try:
            n_polygons = polys.count()
            manifest = engine.write_bundle_pbf(bundle, self.out_dir)
            shards = sorted(m["path"] for m in manifest)
            union, _ = engine.read_pbf_union(spark, shards)
            # one pass over the shards: every kind's sums side by side
            cols = {
                kind: [
                    F.expr(f"sum(case when kind = '{kind}' then {v} end)")
                    for v in osm_digest(kind, spark=True)
                ]
                for kind in KINDS
            }
            row = list(union.agg(*[c for kind in KINDS for c in cols[kind]]).first())
            digest = {}
            for kind in KINDS:
                digest[kind] = [int(v or 0) for v in row[: len(cols[kind])]]
                row = row[len(cols[kind]) :]
        finally:
            # the next job must decode again, not read this job's cache
            bundle.union.unpersist(blocking=True)
        return {
            "digest": digest,
            "polygons": n_polygons,
            "shards": len(manifest),
            "bytes": sum(m["bytes"] for m in manifest),
        }

    def check(self, out: dict) -> str | None:
        return check_equal("digest", out["digest"], self.expected["digest"]) or check_equal(
            "polygons", out["polygons"], self.expected["polygons"]
        )


def make(name: str, fx: Fixtures, work_dir: str):
    if name == "pip_hot":
        return PipHot(fx)
    if name == "osm_roundtrip":
        return OsmRoundTrip(fx, os.path.join(work_dir, "roundtrip_out"))
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("pip_hot", "osm_roundtrip")
