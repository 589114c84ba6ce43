"""Seeded benchmark inputs and their DuckDB oracles, cached per seed.

The cache key is (seed, scale, GENERATOR_VERSION), so a cached tree is never
reused for another seed or generator. Inputs come straight from the fixture
generator; the expected outputs are computed once per key by DuckDB over the
generator's truth tables, independently of the engine, and stored as JSON
next to the inputs.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow.parquet as pq

from openstreetmapio_jl_spark.fixtures import generator as G
from openstreetmapio_jl_spark.operators.geocode import GEO_RE
from openstreetmapio_jl_spark.functions.cells import MERCATOR_LAT_LIMIT

# share of the pages placed in one z13 tile (the flagship's skew)
HOT_FRAC = 0.10
# pyramid levels of the tiler workload (tile_counts at PYRAMID_FROM, rolled up
# to PYRAMID_TO)
PYRAMID_FROM, PYRAMID_TO = 16, 8


def _write_parquet(table, path: str) -> None:
    # 16 row groups: Spark assigns whole row groups to its byte-range splits,
    # so a file of few groups is scanned by few tasks however many cores
    # there are (16384-row groups left 25,000 pages in 2 tasks on 4 cores)
    tmp = f"{path}.tmp"
    pq.write_table(table, tmp, row_group_size=max(1, -(-table.num_rows // 16)))
    os.replace(tmp, path)


class Fixtures:
    """The inputs and expected outputs for one (seed, scale)."""

    def __init__(self, cache_root: str, seed: int, scale: float):
        self.seed = seed
        self.sizes = G.sizes_for_sf(scale)
        self.dir = os.path.join(
            cache_root, f"seed{seed}-sf{scale:g}-g{G.GENERATOR_VERSION}"
        )
        self.pbf = os.path.join(self.dir, "osm.pbf")
        self.truth = {
            k: os.path.join(self.dir, f"truth_{k}.parquet")
            for k in ("nodes", "ways", "relations", "polygons")
        }

    # -- inputs ------------------------------------------------------------

    def ensure_osm(self) -> None:
        """The OSM extract as PBF plus its truth tables. The PBF is written
        last, so its presence marks the set complete."""
        if os.path.exists(self.pbf):
            return
        os.makedirs(self.dir, exist_ok=True)
        meta, nodes, ways, rels = G.make_osm(
            seed=self.seed,
            n_nodes=self.sizes["n_nodes"],
            n_ways=self.sizes["n_ways"],
            n_relations=self.sizes["n_relations"],
        )
        nt, wt, rt = G._truth_tables(nodes, ways, rels)
        for kind, table in (
            ("nodes", nt),
            ("ways", wt),
            ("relations", rt),
            ("polygons", G._truth_polygons(nodes, ways)),
        ):
            _write_parquet(table, self.truth[kind])
        tmp = f"{self.pbf}.tmp"
        G.write_fixture_pbf(tmp, meta, nodes, ways, rels, nodes_per_block=8000)
        os.replace(tmp, self.pbf)

    def pages(self) -> str:
        path = os.path.join(self.dir, f"pages_hot{HOT_FRAC:g}.parquet")
        if not os.path.exists(path):
            os.makedirs(self.dir, exist_ok=True)
            _write_parquet(
                G.make_pages(self.sizes["n_pages"], seed=self.seed, hot_frac=HOT_FRAC), path
            )
        return path

    # -- expected outputs --------------------------------------------------

    def _cached(self, name: str, compute):
        path = os.path.join(self.dir, f"expected_{name}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        with open(f"{path}.tmp", "w") as f:
            json.dump(value, f)
        os.replace(f"{path}.tmp", path)
        return value

    def expected_hits(self) -> dict[str, int]:
        """polygon id -> pages inside it (ray-cast parity, the engine's rule)."""
        pages = self.pages()
        sql = f"""
with g as (
  select url,
    cast(regexp_extract(text, '{GEO_RE}', 1) as double) as plat,
    cast(regexp_extract(text, '{GEO_RE}', 2) as double) as plon
  from read_parquet('{pages}')
  where regexp_extract(text, '{GEO_RE}', 1) != ''
),
g2 as (select * from g where plat between -90 and 90 and plon between -180 and 180),
p as (select id, unnest(edges) as e from read_parquet('{self.truth["polygons"]}')),
cr as (
  select g2.url, p.id,
    case when ((p.e.y1 > g2.plat) != (p.e.y2 > g2.plat))
          and (g2.plon < (p.e.x2 - p.e.x1) * (g2.plat - p.e.y1) / (p.e.y2 - p.e.y1) + p.e.x1)
    then 1 else 0 end as c
  from g2 join read_parquet('{self.truth["polygons"]}') b
    on g2.plat between b.min_lat and b.max_lat
    and case when b.min_lon <= b.max_lon
          then g2.plon between b.min_lon and b.max_lon
          else (g2.plon >= b.min_lon or g2.plon <= b.max_lon) end
  join p on p.id = b.id
)
select id, count(distinct url) as n
from (select url, id from cr group by url, id having sum(c) % 2 = 1)
group by id
"""
        return self._cached(
            f"hits_hot{HOT_FRAC:g}",
            lambda: {str(i): int(n) for i, n in duckdb.sql(sql).fetchall()},
        )

    def expected_pyramid(self) -> dict[str, list[int]]:
        """z -> pyramid digest (see :func:`pyramid_digest_sql`), from tile
        keys computed directly at PYRAMID_FROM and shifted to each level."""
        pages = self.pages()
        n = float(1 << PYRAMID_FROM)
        hi = (1 << PYRAMID_FROM) - 1
        lat_c = f"greatest(least(plat, {MERCATOR_LAT_LIMIT}), -{MERCATOR_LAT_LIMIT})"
        x = f"least(greatest(cast(floor((plon + 180.0) / 360.0 * {n}) as bigint), 0), {hi})"
        y = (
            f"least(greatest(cast(floor((1.0 - ln(tan(radians({lat_c})) + 1.0/cos(radians({lat_c})))"
            f" / pi()) / 2.0 * {n}) as bigint), 0), {hi})"
        )
        sql = f"""
with g as (
  select cast(regexp_extract(text, '{GEO_RE}', 1) as double) as plat,
         cast(regexp_extract(text, '{GEO_RE}', 2) as double) as plon
  from read_parquet('{pages}')
  where regexp_extract(text, '{GEO_RE}', 1) != ''
),
t as (
  select {x} as x, {y} as y, count(*) as n
  from g where plat between -90 and 90 and plon between -180 and 180
  group by 1, 2
),
lv as (
  select z, x >> ({PYRAMID_FROM} - z) as x, y >> ({PYRAMID_FROM} - z) as y, sum(n) as n
  from t, range({PYRAMID_TO}, {PYRAMID_FROM + 1}) r(z)
  group by 1, 2, 3
)
{pyramid_digest_sql("lv")}
"""
        return self._cached(
            f"pyramid_hot{HOT_FRAC:g}",
            lambda: {str(r[0]): [int(v) for v in r[1:]] for r in duckdb.sql(sql).fetchall()},
        )

    def expected_osm(self) -> dict:
        """The OSM digest (see :func:`osm_digest`) of the truth tables, their
        element total and the truth polygon count."""

        def compute():
            con = duckdb.connect()
            for kind, path in self.truth.items():
                con.execute(f"create view {kind} as select * from read_parquet('{path}')")
            digest = {
                kind: [
                    int(v)
                    for v in con.execute(
                        f"select {', '.join(f'sum({v})' for v in osm_digest(kind, spark=False))}"
                        f" from {kind}"
                    ).fetchone()
                ]
                for kind in ("nodes", "ways", "relations")
            }
            polygons = con.execute("select count(*) from polygons").fetchone()[0]
            con.close()
            return {
                "digest": digest,
                "elements": sum(d[0] for d in digest.values()),
                "polygons": int(polygons),
            }

        return self._cached("osm", compute)


# Digests, as SQL expressions. The pyramid ones read the same in DuckDB and
# Spark SQL; the OSM ones differ only in the list functions.

PYRAMID_DIGEST = ["count(*)", "sum(n)", "sum(x * n)", "sum(y * n)", "sum(x * y)"]


def pyramid_digest_sql(table: str) -> str:
    """Per level: tiles, pages, and position-weighted sums of the tile keys."""
    return f"select z, {', '.join(PYRAMID_DIGEST)} from {table} group by z order by z"


def osm_digest(kind: str, *, spark: bool) -> list[str]:
    """Per kind, the values summed into the digest: 1 (the count), the id,
    and the coordinates (nodes, in 1e-7 degree units), way refs or relation
    member refs."""
    if kind == "nodes":
        body = ["cast(round(lat * 1e7) as bigint)", "cast(round(lon * 1e7) as bigint)"]
    elif spark:
        body = {
            "ways": ["size(refs)", "aggregate(refs, 0L, (a, r) -> a + r)"],
            "relations": ["size(members)", "aggregate(members, 0L, (a, m) -> a + m.ref)"],
        }[kind]
    else:
        body = {
            "ways": ["len(refs)", "list_sum(refs)"],
            "relations": ["len(members)", "list_sum(list_transform(members, m -> m.ref))"],
        }[kind]
    return ["1", "id", *body]


def check_equal(name: str, got, expected) -> str | None:
    """None when ``got`` equals ``expected``, else a one-line reason."""
    if got == expected:
        return None
    if isinstance(expected, dict) and isinstance(got, dict):
        keys = sorted(set(got) ^ set(expected)) or sorted(
            k for k in expected if got[k] != expected[k]
        )
        k = keys[0]
        return f"{name}: {len(keys)} keys differ, first {k}: got {got.get(k)} expected {expected.get(k)}"
    return f"{name}: got {got} expected {expected}"
