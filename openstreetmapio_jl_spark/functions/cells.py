"""Spatial cell indexing: S2 cell ids, Web-Mercator XYZ tiles/quadkeys, hex cells.

These are the join keys of the engine (BASELINE.json north_star: "assigned H3
res-7/9 and S2 level-12 cells via batched pandas/Arrow UDFs feeding a cell-keyed
broadcast-or-shuffle hash join").

- **S2**: exact implementation of the public S2 geometry cell-id algorithm
  (quadratic s↔t projection, Hilbert-curve position, 64-bit id layout) —
  vectorized over NumPy arrays. Level 12 ≈ 3-6 km cells.
- **XYZ**: standard Web-Mercator slippy tiles (z/x/y + quadkey). Exactly
  SQL-expressible (floor/log formulas), so XYZ-keyed operators are DuckDB-oracle
  checkable end-to-end. This module owns the packed tile key format
  (``z·2^58 + x·2^29 + y``, zoom 0..29): the operators compute tile indexes
  and pack, unpack or stride over keys only through :func:`xyz_tile_cols`,
  :func:`tile_key_col`, :func:`tile_xy_cols` and :data:`TILE_X_STRIDE`.
- **Hex**: H3-style hexagonal binning. If the real ``h3`` wheel is importable it is
  used (bit-compatible ids for res 7/9); otherwise a deterministic vendored
  fallback bins into a flat-top hex lattice on Web-Mercator meters with
  H3-equivalent edge lengths. The fallback is NOT bit-compatible with H3 (clearly
  flagged) but has the same hierarchy/locality properties the join strategy needs.

All functions take/return NumPy arrays; ``*_udf`` variants wrap them as Arrow-batched
pandas UDFs (no per-row Python, per input_hint).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

try:  # real H3 when available (production clusters); vendored fallback otherwise
    import h3 as _h3  # type: ignore

    HAS_H3 = True
except ImportError:  # pragma: no cover - sandbox has no h3 wheel
    _h3 = None
    HAS_H3 = False

EARTH_RADIUS_M = 6_371_008.8

# ---------------------------------------------------------------------------
# S2 (public algorithm: quadratic projection + Hilbert curve)
# ---------------------------------------------------------------------------

_MAX_LEVEL = 30
_LOOKUP_BITS = 4
_SWAP_MASK = 1
_INVERT_MASK = 2
# canonical S2 tables (s2geometry public constants)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENTATION = np.array(
    [_SWAP_MASK, 0, 0, _INVERT_MASK + _SWAP_MASK], dtype=np.int64
)


def _build_lookup() -> tuple[np.ndarray, np.ndarray]:
    lookup_pos = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * _LOOKUP_BITS + 2), dtype=np.int64)

    def init(level, i, j, orig_orientation, pos, orientation):
        if level == _LOOKUP_BITS:
            ij = (i << _LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        r = _POS_TO_IJ[orientation]
        for index in range(4):
            init(
                level,
                i + (int(r[index]) >> 1),
                j + (int(r[index]) & 1),
                orig_orientation,
                pos + index,
                orientation ^ int(_POS_TO_ORIENTATION[index]),
            )

    for orientation in range(4):
        init(0, 0, 0, orientation, 0, orientation)
    return lookup_pos, lookup_ij


_LOOKUP_POS, _LOOKUP_IJ = _build_lookup()


def _xyz_from_latlon(lat_deg: np.ndarray, lon_deg: np.ndarray):
    phi = np.radians(lat_deg)
    theta = np.radians(lon_deg)
    cosphi = np.cos(phi)
    return cosphi * np.cos(theta), cosphi * np.sin(theta), np.sin(phi)


def _face_uv(x, y, z):
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2))
    face = face + np.where(
        (face == 0) & (x < 0), 3, np.where((face == 1) & (y < 0), 3, 0)
    )
    face = np.where((face == 2) & (z < 0), 5, face)
    u = np.empty_like(x)
    v = np.empty_like(x)
    # u,v formulas divide by the SIGNED major component (faces 3-5 divisors are
    # negative) — required for a continuous, invertible cube projection
    for f, (num_u, num_v, den) in enumerate(
        [
            (lambda: y, lambda: z, lambda: x),
            (lambda: -x, lambda: z, lambda: y),
            (lambda: -x, lambda: -y, lambda: z),
            (lambda: z, lambda: y, lambda: x),
            (lambda: z, lambda: -x, lambda: y),
            (lambda: y, lambda: -x, lambda: z),
        ]
    ):
        m = face == f
        if m.any():
            d = den()[m]
            u[m] = num_u()[m] / d
            v[m] = num_v()[m] / d
    return face.astype(np.int64), u, v


def _st_from_uv(u: np.ndarray) -> np.ndarray:
    """S2's quadratic projection."""
    return np.where(
        u >= 0,
        0.5 * np.sqrt(np.maximum(1.0 + 3.0 * u, 0.0)),
        1.0 - 0.5 * np.sqrt(np.maximum(1.0 - 3.0 * u, 0.0)),
    )


def _uv_from_st(s: np.ndarray) -> np.ndarray:
    return np.where(
        s >= 0.5, (1.0 / 3.0) * (4.0 * s * s - 1.0), (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))
    )


def s2_cell_id(lat: np.ndarray, lon: np.ndarray, level: int = 12) -> np.ndarray:
    """Vectorized S2 cell id at ``level`` (uint64 returned as int64 bit pattern)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    x, y, z = _xyz_from_latlon(lat, lon)
    face, u, v = _face_uv(x, y, z)
    limit = (1 << _MAX_LEVEL) - 1
    i = np.clip((_st_from_uv(u) * (1 << _MAX_LEVEL)).astype(np.int64), 0, limit)
    j = np.clip((_st_from_uv(v) * (1 << _MAX_LEVEL)).astype(np.int64), 0, limit)

    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & _SWAP_MASK).astype(np.int64)
    # 8 rounds of 4 bits (k=7..0), exactly the canonical FromFaceIJ loop
    for k in range(7, -1, -1):
        mask = (1 << _LOOKUP_BITS) - 1
        bits += ((i >> (k * _LOOKUP_BITS)) & mask) << (_LOOKUP_BITS + 2)
        bits += ((j >> (k * _LOOKUP_BITS)) & mask) << 2
        bits = _LOOKUP_POS[bits]
        n |= (bits >> np.int64(2)).astype(np.uint64) << np.uint64(k * 2 * _LOOKUP_BITS)
        bits &= _SWAP_MASK | _INVERT_MASK
    id_level30 = n * np.uint64(2) + np.uint64(1)
    if level >= _MAX_LEVEL:
        return id_level30.view(np.int64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    parent = (id_level30 & (~(lsb - np.uint64(1)) & np.uint64(0xFFFFFFFFFFFFFFFF))) | lsb
    return parent.view(np.int64)


def s2_cell_center(cell_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: cell id → (lat, lon) of the cell center (for round-trip tests and
    cell-ring geometry). Decodes the Hilbert position back to (face, i, j)."""
    cid = np.asarray(cell_id).view(np.uint64)
    # layout: 3 face bits at 61-63, 60 Hilbert-position bits, 1 trailing marker
    face = (cid >> np.uint64(61)).astype(np.int64)
    lsb = cid & (~cid + np.uint64(1))
    pos = (cid & ((np.uint64(1) << np.uint64(61)) - np.uint64(1))) >> np.uint64(1)
    i = np.zeros(len(cid), dtype=np.int64)
    j = np.zeros(len(cid), dtype=np.int64)
    bits = (face & _SWAP_MASK).astype(np.int64)
    for k in range(7, -1, -1):
        nbits = _LOOKUP_BITS  # all rounds use 4 bits in this layout
        mask = (1 << (2 * nbits)) - 1
        bits += (((pos >> np.uint64(k * 2 * _LOOKUP_BITS)) & np.uint64(mask)).astype(np.int64)) << 2
        bits = _LOOKUP_IJ[bits]
        i += (bits >> (_LOOKUP_BITS + 2)) << (k * _LOOKUP_BITS)
        j += ((bits >> 2) & ((1 << _LOOKUP_BITS) - 1)) << (k * _LOOKUP_BITS)
        bits &= _SWAP_MASK | _INVERT_MASK
    # center correction: cell center at (i,j) + half cell size
    shift_arr = np.zeros(len(cid), dtype=np.uint64)
    lsb_bitlen = np.zeros(len(cid), dtype=np.int64)
    tmp = lsb.copy()
    for b in range(61):
        m = tmp > np.uint64(1)
        if not m.any():
            break
        lsb_bitlen[m] += 1
        tmp[m] >>= np.uint64(1)
    level = _MAX_LEVEL - lsb_bitlen // 2
    cell_size = np.int64(1) << (2 * (_MAX_LEVEL - level) // 2)
    # i,j decoded above include sub-level bits from the trailing 1000.. pattern;
    # zero them and add half cell
    i = (i & ~(cell_size - 1)) + cell_size // 2
    j = (j & ~(cell_size - 1)) + cell_size // 2
    s = (i.astype(np.float64) + 0.5) / (1 << _MAX_LEVEL)
    t = (j.astype(np.float64) + 0.5) / (1 << _MAX_LEVEL)
    u = _uv_from_st(s)
    v = _uv_from_st(t)
    x = np.empty_like(u)
    y = np.empty_like(u)
    z = np.empty_like(u)
    # exact inverse of the forward table in _face_uv
    for f, fn in enumerate(
        [
            lambda u, v: (np.ones_like(u), u, v),
            lambda u, v: (-u, np.ones_like(u), v),
            lambda u, v: (-u, -v, np.ones_like(u)),
            lambda u, v: (-np.ones_like(u), -v, -u),
            lambda u, v: (v, -np.ones_like(u), -u),
            lambda u, v: (v, -u, -np.ones_like(u)),
        ]
    ):
        m = face == f
        if m.any():
            xx, yy, zz = fn(u[m], v[m])
            x[m], y[m], z[m] = xx, yy, zz
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    lon = np.degrees(np.arctan2(y, x))
    return lat, lon


def s2_parent(cell_id: np.ndarray, level: int) -> np.ndarray:
    cid = np.asarray(cell_id).view(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (_MAX_LEVEL - level))
    return ((cid & (~(lsb - np.uint64(1)) & np.uint64(0xFFFFFFFFFFFFFFFF))) | lsb).view(
        np.int64
    )


# ---------------------------------------------------------------------------
# Web-Mercator XYZ tiles (slippy map) — SQL-expressible
# ---------------------------------------------------------------------------

MERCATOR_LAT_LIMIT = 85.05112878
# Packed tile key layout: z·2^58 + x·2^29 + y. This module owns the format; the
# operators build, unpack and stride over keys only through the names below.
_TILE_XY_BITS = 29
TILE_X_STRIDE = 1 << _TILE_XY_BITS
_TILE_Z_STRIDE = 1 << (2 * _TILE_XY_BITS)


def xyz_tile(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) tile indices at zoom z; lat clamped to the Mercator limit."""
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MERCATOR_LAT_LIMIT, MERCATOR_LAT_LIMIT)
    lon = np.asarray(lon, dtype=np.float64)
    n = float(1 << z)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_rad = np.radians(lat)
    y = np.floor(
        (1.0 - np.log(np.tan(lat_rad) + 1.0 / np.cos(lat_rad)) / math.pi) / 2.0 * n
    ).astype(np.int64)
    return np.clip(x, 0, (1 << z) - 1), np.clip(y, 0, (1 << z) - 1)


def mercator_unit_cols(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """CONTINUOUS Web-Mercator tile coordinates (u, m) at zoom z — the
    un-floored quantities every tile-index derivation floors: u ∈ [0, n]
    from lon, m ∈ [0, n] from (pole-clamped) lat. Shared by the discrete
    index helpers below and by operators needing sub-tile positions
    (``tiler.clip_lines_to_tiles``)."""
    n = float(1 << z)
    lat_c = F.greatest(
        F.least(lat, F.lit(MERCATOR_LAT_LIMIT)), F.lit(-MERCATOR_LAT_LIMIT)
    )
    lat_rad = F.radians(lat_c)
    u = (lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)
    m = (
        (
            F.lit(1.0)
            - F.log(F.tan(lat_rad) + F.lit(1.0) / F.cos(lat_rad)) / F.lit(math.pi)
        )
        / F.lit(2.0)
        * F.lit(n)
    )
    return u, m


def _check_zoom(z: int) -> int:
    """``z`` if a tile key can hold it: x and y get 29 bits each, so from z30
    on ``(x, 2^29)`` would pack to the same key as ``(x + 1, 0)``."""
    if not 0 <= z <= _TILE_XY_BITS:
        raise ValueError(f"tile zoom {z} outside 0..{_TILE_XY_BITS}")
    return z


def xyz_tile_cols(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """(x, y) tile index Columns at zoom z (clamped; pure Catalyst). ``x``
    depends on ``lon`` only and ``y`` on ``lat`` only."""
    _check_zoom(z)
    u, m = mercator_unit_cols(lat, lon, z)
    x = F.floor(u).cast("long")
    y = F.floor(m).cast("long")
    x = F.greatest(F.least(x, F.lit((1 << z) - 1)), F.lit(0))
    y = F.greatest(F.least(y, F.lit((1 << z) - 1)), F.lit(0))
    return x, y


def tile_key_col(x: Column, y: Column, z: int | Column) -> Column:
    """Pack tile indexes into the BIGINT key ``z·2^58 + x·2^29 + y``; ``z`` is
    an int or a per-row zoom Column (the adaptive cover)."""
    zc = z if isinstance(z, Column) else F.lit(_check_zoom(z))
    return (
        zc.cast("long") * F.lit(_TILE_Z_STRIDE).cast("long")
        + x * F.lit(TILE_X_STRIDE).cast("long")
        + y
    )


def tile_xy_cols(tile: Column) -> tuple[Column, Column]:
    """Unpack a tile key Column into its (x, y) index Columns."""
    mask = F.lit(TILE_X_STRIDE - 1).cast("long")
    return F.shiftright(tile, _TILE_XY_BITS).bitwiseAND(mask), tile.bitwiseAND(mask)


def xyz_tile_key_col(lat: Column, lon: Column, z: int) -> Column:
    """The tile key of (lat, lon) at zoom z as pure Catalyst (stays in
    codegen); :func:`xyz_tile_key_sql` is its DuckDB twin."""
    x, y = xyz_tile_cols(lat, lon, z)
    return tile_key_col(x, y, z)


def _xyz_tile_sql(lat_expr: str, lon_expr: str, z: int) -> tuple[str, str]:
    """:func:`xyz_tile_cols` as ANSI SQL (DuckDB oracle): (x, y) expressions."""
    _check_zoom(z)
    n = float(1 << z)
    lim = MERCATOR_LAT_LIMIT
    lat_c = f"greatest(least({lat_expr}, {lim}), -{lim})"
    x = f"least(greatest(cast(floor(({lon_expr} + 180.0) / 360.0 * {n}) as bigint), 0), {(1 << z) - 1})"
    y = (
        f"least(greatest(cast(floor((1.0 - ln(tan(radians({lat_c})) + 1.0/cos(radians({lat_c}))) / pi()) "
        f"/ 2.0 * {n}) as bigint), 0), {(1 << z) - 1})"
    )
    return x, y


def xyz_tile_key_sql(lat_expr: str, lon_expr: str, z: int) -> str:
    """The same formula as ANSI SQL (DuckDB oracle)."""
    x, y = _xyz_tile_sql(lat_expr, lon_expr, z)
    return f"(cast({z} as bigint) * {_TILE_Z_STRIDE} + ({x}) * {TILE_X_STRIDE} + ({y}))"


def quadkey(x: np.ndarray, y: np.ndarray, z: int) -> np.ndarray:
    """Bing-style quadkey strings (hierarchical prefix property)."""
    out = np.empty(len(x), dtype=object)
    for idx in range(len(x)):
        q = []
        for i in range(z, 0, -1):
            digit = 0
            mask = 1 << (i - 1)
            if x[idx] & mask:
                digit += 1
            if y[idx] & mask:
                digit += 2
            q.append(str(digit))
        out[idx] = "".join(q)
    return out


def quadkey_col(lat: Column, lon: Column, z: int) -> Column:
    """Bing-style quadkey as pure Catalyst column math (no UDF): per level i
    (MSB-first), digit = x_bit + 2·y_bit, looked up from '0123'. Quadkeys carry
    the hierarchical prefix property (parent = prefix), which makes multi-zoom
    rollups plain ``substring`` + groupBy. SQL twin: :func:`quadkey_sql`."""
    x, y = xyz_tile_cols(lat, lon, z)
    digits = []
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        digit = (
            F.when(x.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(0)
            + F.when(y.bitwiseAND(F.lit(mask)) != 0, 2).otherwise(0)
        )
        digits.append(F.element_at(F.array(*[F.lit(c) for c in "0123"]), digit + 1))
    return F.concat(*digits)


def quadkey_sql(lat_expr: str, lon_expr: str, z: int) -> str:
    """The identical quadkey arithmetic as DuckDB SQL."""
    x, y = _xyz_tile_sql(lat_expr, lon_expr, z)
    parts = []
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        digit = f"(case when (({x}) & {mask}) != 0 then 1 else 0 end + case when (({y}) & {mask}) != 0 then 2 else 0 end)"
        parts.append(f"substr('0123', {digit} + 1, 1)")
    return " || ".join(parts)


def tile_bounds(x: int, y: int, z: int) -> tuple[float, float, float, float]:
    """(south, west, north, east) of tile — raster→vector direction."""
    n = float(1 << z)
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0
    north = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
    south = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n))))
    return south, west, north, east


# ---------------------------------------------------------------------------
# Hex cells (H3 when available; vendored Mercator hex lattice fallback)
# ---------------------------------------------------------------------------

# H3 documented average edge lengths (m) per resolution — used by the fallback so
# cell sizes match H3 operationally
_H3_EDGE_M = [
    1107712.591, 418676.0055, 158244.6558, 59810.85794, 22606.3794,
    8544.408276, 3229.482772, 1220.629759, 461.3546837, 174.3756681,
    65.90780749, 24.9108126, 9.415526211, 3.559893033, 1.348574562, 0.509713273,
]


def _mercator_xy_m(lat: np.ndarray, lon: np.ndarray):
    lat = np.clip(lat, -MERCATOR_LAT_LIMIT, MERCATOR_LAT_LIMIT)
    x = np.radians(lon) * EARTH_RADIUS_M
    y = np.log(np.tan(math.pi / 4 + np.radians(lat) / 2)) * EARTH_RADIUS_M
    return x, y


def hex_cell(lat: np.ndarray, lon: np.ndarray, res: int = 9) -> np.ndarray:
    """Hex cell id at H3-equivalent resolution.

    With the ``h3`` wheel: real H3 ids (``h3.latlng_to_cell``). Fallback: flat-top
    axial hex binning on Web-Mercator meters with matching edge length; id packs
    (res, q, r) into int64. NOT bit-compatible with H3 — flagged via
    :data:`HAS_H3`.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    if HAS_H3:  # pragma: no cover - sandbox lacks the wheel
        return np.array(
            [int(_h3.latlng_to_cell(a, b, res), 16) for a, b in zip(lat, lon)],
            dtype=np.int64,
        )
    size = _H3_EDGE_M[res]
    x, y = _mercator_xy_m(lat, lon)
    # axial coords for flat-top hexes
    q = (2.0 / 3.0 * x) / size
    r = (-1.0 / 3.0 * x + math.sqrt(3) / 3.0 * y) / size
    # cube rounding
    s = -q - r
    rq, rr, rs = np.round(q), np.round(r), np.round(s)
    dq, dr, ds = np.abs(rq - q), np.abs(rr - r), np.abs(rs - s)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = ~fix_q & (dr > ds)
    rq = np.where(fix_q, -rr - rs, rq)
    rr = np.where(fix_r, -rq - rs, rr)
    qi = rq.astype(np.int64) + (1 << 25)
    ri = rr.astype(np.int64) + (1 << 25)
    return (np.int64(res) << np.int64(52)) | (qi << np.int64(26)) | ri


def hex_cell_center(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Fallback-hex inverse (center lat/lon) — for ring geometry and tests."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> np.int64(52)).astype(np.int64)
    q = ((cell >> np.int64(26)) & np.int64((1 << 26) - 1)) - (1 << 25)
    r = (cell & np.int64((1 << 26) - 1)) - (1 << 25)
    size = np.array([_H3_EDGE_M[int(rr)] for rr in res])
    x = size * 1.5 * q
    y = size * (math.sqrt(3) / 2 * q + math.sqrt(3) * r)
    lon = np.degrees(x / EARTH_RADIUS_M)
    lat = np.degrees(2 * np.arctan(np.exp(y / EARTH_RADIUS_M)) - math.pi / 2)
    return lat, lon


def hex_ring(cell: int, k: int) -> list[int]:
    """All fallback-hex cells at exactly distance k (k=0 → [cell]) — the cell-ring
    primitive for expanding kNN."""
    if HAS_H3:  # pragma: no cover
        return [int(c, 16) for c in _h3.grid_ring(hex(cell)[2:], k)]
    if k == 0:
        return [int(cell)]
    res = int(cell) >> 52
    q = ((int(cell) >> 26) & ((1 << 26) - 1)) - (1 << 25)
    r = (int(cell) & ((1 << 26) - 1)) - (1 << 25)
    out = []
    # walk the ring: start k steps in direction 4, then 6 sides × k steps
    dirs = [(1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1)]
    cq, cr = q + dirs[4][0] * k, r + dirs[4][1] * k
    for side in range(6):
        for _ in range(k):
            out.append(
                (res << 52) | ((cq + (1 << 25)) << 26) | (cr + (1 << 25))
            )
            cq += dirs[side][0]
            cr += dirs[side][1]
    return out


# ---------------------------------------------------------------------------
# geohash (public base32 bit-interleave spec) — PURE Catalyst column math
# ---------------------------------------------------------------------------

GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_plan(precision: int):
    """Shared bit plan: per character, the 5 (source, bit-from-msb) pairs.
    Global bit g (MSB-first) takes lon when g is even, lat when odd."""
    bits = 5 * precision
    lon_bits = (bits + 1) // 2
    lat_bits = bits // 2
    plan = []
    for c in range(precision):
        group = []
        for j in range(5):
            g = c * 5 + j
            if g % 2 == 0:
                group.append(("lon", lon_bits - 1 - g // 2, 4 - j))
            else:
                group.append(("lat", lat_bits - 1 - g // 2, 4 - j))
        plan.append(group)
    return lon_bits, lat_bits, plan


def geohash_col(lat: Column, lon: Column, precision: int = 7) -> Column:
    """Geohash as a whole-stage-codegen Column expression — no UDF, no Python:
    scale lat/lon to fixed-point ints, interleave bits (lon first, MSB-first),
    emit base32 characters via element_at on a literal char array. The DuckDB
    twin (:func:`geohash_sql`) re-derives the identical arithmetic, so the
    differential needs no truth file."""
    lon_bits, lat_bits, plan = _geohash_plan(precision)
    lon_i = F.least(
        F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lon_bits))),
        F.lit((1 << lon_bits) - 1),
    ).cast("long")
    lat_i = F.least(
        F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << lat_bits))),
        F.lit((1 << lat_bits) - 1),
    ).cast("long")
    src = {"lon": lon_i, "lat": lat_i}
    chars = F.array(*[F.lit(ch) for ch in GEOHASH32])
    out = []
    for group in plan:
        idx = None
        for which, bit, out_pos in group:
            term = F.shiftleft(
                F.shiftright(src[which], bit).bitwiseAND(F.lit(1)), out_pos
            )
            idx = term if idx is None else idx + term
        out.append(F.element_at(chars, idx.cast("int") + 1))
    return F.concat(*out)


def geohash_sql(lat_expr: str, lon_expr: str, precision: int = 7) -> str:
    """The identical arithmetic as an ANSI/DuckDB SQL expression."""
    lon_bits, lat_bits, plan = _geohash_plan(precision)
    lon_i = (
        f"least(cast(floor(({lon_expr} + 180.0) / 360.0 * {float(1 << lon_bits)})"
        f" as bigint), {(1 << lon_bits) - 1})"
    )
    lat_i = (
        f"least(cast(floor(({lat_expr} + 90.0) / 180.0 * {float(1 << lat_bits)})"
        f" as bigint), {(1 << lat_bits) - 1})"
    )
    src = {"lon": f"({lon_i})", "lat": f"({lat_i})"}
    parts = []
    for group in plan:
        terms = " + ".join(
            f"((({src[which]} >> {bit}) & 1) << {out_pos})"
            for which, bit, out_pos in group
        )
        parts.append(f"substr('{GEOHASH32}', cast({terms} as int) + 1, 1)")
    return " || ".join(parts)


# ---------------------------------------------------------------------------
# Arrow-batched pandas UDF wrappers
# ---------------------------------------------------------------------------

def s2_cell_udf(level: int = 12):
    @pandas_udf("long")
    def _f(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(s2_cell_id(lat.to_numpy(), lon.to_numpy(), level))

    return _f


def hex_cell_udf(res: int = 9):
    @pandas_udf("long")
    def _f(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(hex_cell(lat.to_numpy(), lon.to_numpy(), res))

    return _f
