"""Tile/cell key encoders as pure Column expressions (JVM-side, inside
whole-stage codegen — never a Python UDF; SURVEY.md §2 op-5).

skadi_key_col mirrors elevation-service/tileset.js § getFilePath:
floor first, hemisphere letter from the FLOORED value, abs, zero-pad 2/3
(so lat=-0.0001 -> "S01...", matching the reference).  A floor past the
int range (±inf, |x| >= 2^31) gives a NULL key, never an ANSI
CAST_OVERFLOW; such points are OUT_OF_BOUNDS downstream.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def skadi_key_col(lat: Column, lon: Column) -> Column:
    # abs() on the long: abs(-2^31) would overflow an int
    flat = F.floor(lat).try_cast("int").cast("long")
    flon = F.floor(lon).try_cast("int").cast("long")
    return F.concat(
        F.when(flat < 0, F.lit("S")).otherwise(F.lit("N")),
        F.lpad(F.abs(flat).cast("string"), 2, "0"),
        F.when(flon < 0, F.lit("W")).otherwise(F.lit("E")),
        F.lpad(F.abs(flon).cast("string"), 3, "0"),
    )


def mercator_x_col(lon: Column, z: int) -> Column:
    n = 1 << z
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), x))


def mercator_y_col(lat: Column, z: int) -> Column:
    n = 1 << z
    y = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(F.radians(lat))) / F.lit(float(__import__("math").pi)))
        / F.lit(2.0) * F.lit(float(n))
    ).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), y))


def cell_id_col(lat: Column, lon: Column, z: int) -> Column:
    """Hierarchical int64 cell id (z<<58)|(x<<29)|y — H3/S2 stand-in, see
    kernels.cell_id.  Parent cell = cell_id at z-1 (x>>1, y>>1)."""
    x = mercator_x_col(lon, z)
    y = mercator_y_col(lat, z)
    return (
        F.shiftleft(F.lit(z).cast("long"), 58)
        .bitwiseOR(F.shiftleft(x, 29))
        .bitwiseOR(y)
    )


def valid_coord_predicate(lat: Column, lon: Column) -> Column:
    return (
        lat.isNotNull() & lon.isNotNull()
        & (lat >= -90.0) & (lat <= 90.0)
        & (lon >= -180.0) & (lon <= 180.0)
    )


# --- geohash (r6) ------------------------------------------------------------

GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_stages(lat_sql: str, lon_sql: str,
                   precision: int = 7) -> dict[str, str]:
    """Base32 geohash as THREE staged SQL fragments, each valid verbatim
    in BOTH Spark SQL and DuckDB — the fed-verbatim-to-both-engines
    pattern (queries.py module docstring), so the oracle cannot drift.
    Staged (real columns / CTE levels) rather than one inlined
    expression: the inline form textually duplicates the quantizers into
    every bit term (~43 KB of SQL; the array-HOF re-evaluation lesson,
    CLAUDE.md).

    Returns {'lonq', 'latq', 'v', 'gh'}: 'lonq'/'latq' quantize the
    caller's lat/lon expressions; 'v' interleaves columns named
    _ghlon/_ghlat; 'gh' emits base32 digits from a column named _ghv.

    Construction (public geohash spec): lon gets ceil(5p/2) bits, lat
    floor(5p/2), interleave starts with lon, 5 bits per character.
    Engine-portable primitives only: quantization is
    ((x + off) / range) * 2^bits in that exact IEEE order; bit
    extraction is (q % 2^(k+1)) >= 2^k as CASE; digit extraction divides
    by exact-in-double powers of two — no bitwise operators (DuckDB and
    Spark disagree on syntax), no libm."""
    nbits = 5 * precision
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lonq = (f"least(CAST(floor((({lon_sql}) + CAST(180 AS DOUBLE)) "
            f"/ CAST(360 AS DOUBLE) * CAST({1 << lon_bits} AS DOUBLE)) "
            f"AS BIGINT), {(1 << lon_bits) - 1})")
    latq = (f"least(CAST(floor((({lat_sql}) + CAST(90 AS DOUBLE)) "
            f"/ CAST(180 AS DOUBLE) * CAST({1 << lat_bits} AS DOUBLE)) "
            f"AS BIGINT), {(1 << lat_bits) - 1})")
    # interleaved value v: bit (nbits-1-j) comes from lon when j is even
    terms = []
    for j in range(nbits):
        src, k = ("_ghlon", lon_bits - 1 - j // 2) if j % 2 == 0 else \
                 ("_ghlat", lat_bits - 1 - j // 2)
        out_w = 1 << (nbits - 1 - j)
        terms.append(f"(CASE WHEN ({src} % {1 << (k + 1)}) >= {1 << k} "
                     f"THEN {out_w} ELSE 0 END)")
    digits = []
    for c in range(precision):
        p32 = 32 ** (precision - 1 - c)
        digits.append(
            f"substr('{GEOHASH_BASE32}', "
            f"CAST(CAST(floor(_ghv / CAST({p32} AS DOUBLE)) AS BIGINT) % 32 "
            f"+ 1 AS INT), 1)")
    return {"lonq": lonq, "latq": latq,
            "v": "(" + " + ".join(terms) + ")",
            "gh": "(" + " || ".join(digits) + ")"}
