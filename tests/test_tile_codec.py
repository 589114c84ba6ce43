"""The XYZ tile codec in ``functions.cells``: the packed tile key
``z·2^58 + x·2^29 + y`` at the edges of its domain, the zoom range it can
hold, and the rule that no other engine module spells the format out."""

from __future__ import annotations

import itertools
import pathlib

import duckdb
import pytest
from pyspark.sql import functions as F

from openstreetmapio_jl_spark.functions import cells

ROOT = pathlib.Path(__file__).resolve().parents[1]
LATS = [90.0, -90.0, 85.05112878, -85.05112878, 0.0]
LONS = [-180.0, 0.0, 179.9999999, 180.0]


def _pack(z: int, x: int, y: int) -> int:
    return z * 2**58 + x * 2**29 + y


@pytest.mark.parametrize("z", [0, 1, 13, 29])
def test_tile_key_edges_agree_across_engines(spark, z):
    pts = list(itertools.product(LATS, LONS))
    df = spark.createDataFrame(pts, "lat double, lon double")
    key = cells.xyz_tile_key_col(F.col("lat"), F.col("lon"), z)
    ux, uy = cells.tile_xy_cols(key)
    rows = df.select(
        "lat", "lon", key.alias("key"), ux.alias("ux"), uy.alias("uy")
    ).collect()
    got = {(r.lat, r.lon): (r.key, r.ux, r.uy) for r in rows}

    sql_key = cells.xyz_tile_key_sql("lat", "lon", z)
    values = ", ".join(f"({a!r}::double, {o!r}::double)" for a, o in pts)
    duck = dict(
        ((a, o), k)
        for a, o, k in duckdb.sql(
            f"select lat, lon, {sql_key} from (values {values}) t(lat, lon)"
        ).fetchall()
    )

    xs, ys = cells.xyz_tile([a for a, _ in pts], [o for _, o in pts], z)
    hi = (1 << z) - 1
    for (a, o), x, y in zip(pts, xs.tolist(), ys.tolist()):
        k, ux_, uy_ = got[(a, o)]
        assert 0 <= x <= hi and 0 <= y <= hi, (a, o, x, y)
        assert k == _pack(z, x, y), (a, o)
        assert duck[(a, o)] == k, (a, o)
        assert (ux_, uy_) == (x, y), (a, o)


def test_tile_key_rejects_zoom_it_cannot_hold(spark):
    lat, lon = F.lit(47.0), F.lit(8.0)
    for z in (30, -1):
        with pytest.raises(ValueError, match=f"zoom {z}"):
            cells.xyz_tile_key_col(lat, lon, z)
        with pytest.raises(ValueError, match=f"zoom {z}"):
            cells.xyz_tile_cols(lat, lon, z)
        with pytest.raises(ValueError, match=f"zoom {z}"):
            cells.tile_key_col(F.lit(0), F.lit(0), z)
        with pytest.raises(ValueError, match=f"zoom {z}"):
            cells.xyz_tile_key_sql("lat", "lon", z)

    top = (1 << 29) - 1
    key = cells.tile_key_col(F.lit(top).cast("long"), F.lit(top - 1).cast("long"), 29)
    x, y = cells.tile_xy_cols(key)
    row = spark.range(1).select(key.alias("k"), x.alias("x"), y.alias("y")).first()
    assert row.k == _pack(29, top, top - 1)
    assert (row.x, row.y) == (top, top - 1)


def test_tile_format_lives_only_in_cells():
    """Operators and jobs reach the tile index and key only through
    ``functions.cells``; oracle SQL under ``plans/`` is not scanned."""
    forbidden = ("1 << 58", "1 << 29", "F.tan(")
    sources = sorted((ROOT / "openstreetmapio_jl_spark" / "operators").glob("*.py"))
    sources += sorted((ROOT / "jobs").glob("*.py"))
    assert sources
    offenders = [
        f"{p.relative_to(ROOT)}: {s}"
        for p in sources
        for s in forbidden
        if s in p.read_text()
    ]
    assert not offenders, offenders
