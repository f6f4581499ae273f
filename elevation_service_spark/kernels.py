"""Pure-numpy kernels — no Spark imports here.

These are the batch (vectorized) re-implementations of the reference's
row-at-a-time JS kernels, used inside Arrow pandas UDFs by the Spark
operators and directly by the pytest goldens.

Reference parity (see SURVEY.md §0 for the citation caveat — line numbers
are approximate / unverifiable because /root/reference was empty):

- HGT decode + row flip .......... elevation-service/hgt.js ctor + _rowCol
- bilinear interpolation ......... elevation-service/hgt.js § bilinear
                                   (avg(avg(v00,v10,fc), avg(v01,v11,fc), fr))
- nearest-neighbour .............. elevation-service/hgt.js § nearestNeighbour
- skadi tile key ................. elevation-service/tileset.js § getFilePath
- terrarium PNG encoding ......... public Mapzen/AWS terrain-tiles spec:
                                   elev = (R*256 + G + B/256) - 32768
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

SRTM3_SIZE = 1201
SRTM1_SIZE = 3601
VOID = -32768

# ---------------------------------------------------------------------------
# HGT grid codec
# ---------------------------------------------------------------------------


def hgt_size_for_bytes(n: int, allow_overview: bool = False) -> int:
    """Size sniff from byte length (elevation-service/hgt.js ctor).

    3601^2*2 -> 3601 (SRTM1), 1201^2*2 -> 1201 (SRTM3), else ValueError
    (the reference throws ``Unknown tile format``).

    ``allow_overview=True`` additionally accepts any exact 2*s^2 byte
    count — the overview tiles tile_pyramid/tile_mosaic emit (halved
    grids are not SRTM-sized).  It is an explicit OPT-IN (ADVICE r6/r7):
    the enrichment/lookup decode path (enrich_points, add_elevation_docs
    and the fused GeoJSON pass) keeps the strict two-size check, so a
    truncated blob that coincidentally lands on 2*s^2 bytes still raises
    instead of silently decoding as an s-by-s grid.  ALL raster-analysis
    operators (tiles_to_points, tile_terrain/slope/tri/flowacc/flowdir/
    contour/viewshed/watershed, pyramid, mosaic) opt in, because they
    compose over pyramid/mosaic outputs as well as ingested tiles —
    callers feeding them untrusted external blobs should validate sizes
    upstream (the strict sniff) before analysis.
    """
    if n == SRTM1_SIZE * SRTM1_SIZE * 2:
        return SRTM1_SIZE
    if n == SRTM3_SIZE * SRTM3_SIZE * 2:
        return SRTM3_SIZE
    if allow_overview and n >= 8 and n % 2 == 0:
        s = int(np.sqrt(n // 2) + 0.5)
        if 2 * s * s == n:
            return s
    raise ValueError(f"Unknown tile format (file size: {n})")


def decode_hgt(data: bytes, allow_overview: bool = False) -> np.ndarray:
    """HGT bytes -> (size,size) int16 grid with grid[row,col] in SOUTH-origin
    row order (row 0 = southern edge), matching the reference's ``_rowCol``
    flip: the file stores rows north-first; ``_rowCol(row, col)`` reads
    ``(size-row-1)*size + col`` so callers index south-up.  We materialize the
    flip once per tile instead of per lookup.  ``allow_overview`` as in
    hgt_size_for_bytes (pyramid/mosaic overview sizes, opt-in).
    """
    size = hgt_size_for_bytes(len(data), allow_overview=allow_overview)
    grid = np.frombuffer(data, dtype=">i2").reshape(size, size)
    return grid[::-1, :]  # north-first file rows -> south-origin index


def encode_hgt(grid_south_origin: np.ndarray) -> bytes:
    """Inverse of decode_hgt: south-origin grid -> HGT file bytes."""
    g = np.asarray(grid_south_origin, dtype=np.int16)
    assert g.shape[0] == g.shape[1]
    return g[::-1, :].astype(">i2").tobytes()


# ---------------------------------------------------------------------------
# Interpolation kernels (reference op order, vectorized)
# ---------------------------------------------------------------------------


def _row_col(lat: np.ndarray, lon: np.ndarray, sw_lat: float, sw_lon: float,
             size: int) -> tuple[np.ndarray, np.ndarray]:
    """Fractional grid coordinates (hgt.js § getElevation):
    row = (lat - swLat) * (size - 1); col = (lng - swLng) * (size - 1).
    """
    n = size - 1
    return (lat - sw_lat) * n, (lon - sw_lon) * n


def bilinear_grid(grid: np.ndarray, row: np.ndarray, col: np.ndarray) -> np.ndarray:
    """Vectorized bilinear with the reference's exact float64 op order:

        avg(v1, v2, f) = v1 + (v2 - v1) * f
        v1 = avg(v00, v10, colFrac); v2 = avg(v01, v11, colFrac)
        out = avg(v1, v2, rowFrac)

    where v00=(rowLow,colLow) v10=(rowLow,colHi) v01=(rowHi,colLow)
    v11=(rowHi,colHi).  Hi indices are clipped to size-1; whenever the clip
    fires the corresponding frac is 0 so the result is bit-identical to the
    unclipped read the JS code performs (in-bounds inputs never clip because
    floor(lat) tiling keeps row,col in [0, size-1)).
    Void samples (-32768) pass through arithmetically (reference behavior).
    """
    size = grid.shape[0]
    row = np.asarray(row, dtype=np.float64)
    col = np.asarray(col, dtype=np.float64)
    row_low = np.floor(row).astype(np.int64)
    col_low = np.floor(col).astype(np.int64)
    row_frac = row - row_low
    col_frac = col - col_low
    row_hi = np.minimum(row_low + 1, size - 1)
    col_hi = np.minimum(col_low + 1, size - 1)
    # avoid whole-grid conversion when the caller pre-converted (the Spark
    # operator caches grids as float64; converting a 3601 grid per batch
    # costs 10x the lerp itself)
    g = grid if grid.dtype == np.float64 else grid.astype(np.float64)
    v00 = g[row_low, col_low]
    v10 = g[row_low, col_hi]
    v01 = g[row_hi, col_low]
    v11 = g[row_hi, col_hi]
    v1 = v00 + (v10 - v00) * col_frac
    v2 = v01 + (v11 - v01) * col_frac
    return v1 + (v2 - v1) * row_frac


def nearest_grid(grid: np.ndarray, row: np.ndarray, col: np.ndarray) -> np.ndarray:
    """Nearest-neighbour (hgt.js § nearestNeighbour): round to nearest node.

    JS Math.round is half-UP; np.rint is half-even, so use floor(x+0.5).
    """
    size = grid.shape[0]
    r = np.minimum(np.floor(np.asarray(row, np.float64) + 0.5).astype(np.int64), size - 1)
    c = np.minimum(np.floor(np.asarray(col, np.float64) + 0.5).astype(np.int64), size - 1)
    return grid[r, c].astype(np.float64)


def lookup_elevation(grid: np.ndarray, sw_lat: float, sw_lon: float,
                     lat: np.ndarray, lon: np.ndarray,
                     interpolation: str = "bilinear") -> tuple[np.ndarray, np.ndarray]:
    """Full per-tile lookup: coordinate transform + bounds check + kernel.

    Returns (elev: float64 array with NaN where out of bounds,
             ok: bool array).  The reference throws on out-of-bounds
    (hgt.js § getElevation); the engine is total: NULL + status column.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    size = grid.shape[0]
    row, col = _row_col(lat, lon, sw_lat, sw_lon, size)
    n = size - 1
    ok = (row >= 0) & (col >= 0) & (row <= n) & (col <= n)
    row_c = np.clip(row, 0, n)
    col_c = np.clip(col, 0, n)
    if interpolation == "nearest":
        elev = nearest_grid(grid, row_c, col_c)
    else:
        elev = bilinear_grid(grid, row_c, col_c)
    elev = np.where(ok, elev, np.nan)
    return elev, ok


# ---------------------------------------------------------------------------
# Tile keys
# ---------------------------------------------------------------------------


def skadi_key(lat: float, lon: float) -> str:
    """(lat,lon) -> 'N57E011' (tileset.js § getFilePath): floor first, then
    hemisphere letter from the FLOORED value, abs, zero-pad 2/3."""
    fl = math.floor(lat)
    fo = math.floor(lon)
    ns = "S" if fl < 0 else "N"
    ew = "W" if fo < 0 else "E"
    return f"{ns}{abs(fl):02d}{ew}{abs(fo):03d}"


def skadi_path(lat: float, lon: float) -> str:
    """'N57/N57E011.hgt.gz' — the S3 object layout of the skadi dataset."""
    key = skadi_key(lat, lon)
    return f"{key[:3]}/{key}.hgt.gz"


def mercator_xy(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    """Slippy-map tile coordinates at zoom z (standard public formula).

    x = floor((lon+180)/360 * 2^z)
    y = floor((1 - asinh(tan(lat))/pi)/2 * 2^z), clamped to [0, 2^z-1].
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    n = 1 << z
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    lat_r = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_r)) / np.pi) / 2.0 * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def cell_id(z: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Pack (z,x,y) into one int64 hierarchical cell id: (z<<58)|(x<<29)|y.

    H3/S2 stand-in (SURVEY.md §7.0): same *semantics* the engine needs —
    hierarchical cell assignment (parent = cell at z-1 via x>>1,y>>1) and
    ring expansion (k_ring) for kNN.  z<=29.
    """
    z_arr = np.int64(z)
    return (z_arr << np.int64(58)) | (np.asarray(x, np.int64) << np.int64(29)) | np.asarray(y, np.int64)


def cell_unpack(cid: int) -> tuple[int, int, int]:
    return (int(cid) >> 58) & 0x3F, (int(cid) >> 29) & ((1 << 29) - 1), int(cid) & ((1 << 29) - 1)


def k_ring(cid: int, k: int) -> list[int]:
    """The (2k+1)^2 neighbor block of a cell (wrap in x, clamp in y)."""
    z, x, y = cell_unpack(cid)
    n = 1 << z
    out = []
    for dx in range(-k, k + 1):
        for dy in range(-k, k + 1):
            yy = y + dy
            if 0 <= yy < n:
                out.append(int(cell_id(z, np.int64((x + dx) % n), np.int64(yy))))
    return out


# ---------------------------------------------------------------------------
# Terrarium PNG codec (pure python+numpy; no PIL in the sandbox)
# ---------------------------------------------------------------------------


def terrarium_rgb(elev: np.ndarray) -> np.ndarray:
    """int16-ish elevations -> (H,W,3) uint8 per the public terrarium spec:
    v = elev + 32768; R = v>>8, G = v&255, B = round(frac*256).
    Integer inputs take a pure-int path (frac = 0, no float temporaries)."""
    elev = np.asarray(elev)
    if np.issubdtype(elev.dtype, np.integer):
        vi = elev.astype(np.int32) + 32768
        b = np.zeros(elev.shape, np.uint8)
    else:
        v = elev.astype(np.float64) + 32768.0
        vi = np.floor(v).astype(np.int64)
        b = np.floor((v - vi) * 256.0 + 0.5).astype(np.uint8)
    r = (vi >> 8).astype(np.uint8)
    g = (vi & 255).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def terrarium_decode_rgb(rgb: np.ndarray) -> np.ndarray:
    """(H,W,3) uint8 -> float64 elevations: (R*256 + G + B/256) - 32768.

    Computed as ((R<<16 | G<<8 | B) integer) * 2^-8 - 32768: every value is
    an exact multiple of 2^-8 below 2^16, so the integer form is
    bit-identical to the per-channel float expression while doing one
    int32 pass + one fused float pass instead of three strided float64
    channel extractions (~4x faster on a 3601 tile)."""
    flat = np.ascontiguousarray(rgb).reshape(-1, 3)
    # zero-pad each RGB triple to 4 bytes and view as big-endian uint32:
    # the value IS R<<16 | G<<8 | B — one byte copy + one u4->f8 convert
    # replaces three strided int32 channel extractions (~3x faster again)
    padded = np.zeros((flat.shape[0], 4), dtype=np.uint8)
    padded[:, 1:] = flat
    out = padded.view(">u4").ravel().astype(np.float64)
    out *= 1.0 / 256.0
    out -= 32768.0
    return out.reshape(rgb.shape[:-1])


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def encode_png_rgb(rgb: np.ndarray) -> bytes:
    """Minimal RGB-8 PNG encoder (filter 0 per scanline)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, c = rgb.shape
    assert c == 3
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate([np.zeros((h, 1), np.uint8), rgb.reshape(h, w * 3)], axis=1)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png_rgb(data: bytes) -> np.ndarray:
    """Minimal PNG decoder: RGB-8, no interlace; implements unfilter 0-4."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(">IIBBBBB", body)
            if bit_depth != 8 or color_type != 2 or interlace != 0:
                raise ValueError("unsupported PNG (need RGB-8, no interlace)")
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    raw = zlib.decompress(bytes(idat))
    stride = w * 3
    if len(raw) == h * (stride + 1):
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
        ftypes = arr[:, 0]
        if not ftypes.any():
            # all scanlines filter 0 (this encoder's own output, and common
            # for fast-compressed terrarium tiles): the payload IS the image
            return arr[:, 1:].reshape(h, w, 3).copy()
        if np.isin(ftypes, (0, 2)).all():
            # whole-image vectorized unfilter for scanlines that are all
            # None(0)/Up(2) — the hot path for terrarium tiles.  Up chains
            # are per-column prefix sums mod 256: a wrapping uint8 cumsum
            # IS the mod (2^8 | 2^8 wrap), and a filter-0 row restarts the
            # chain, handled by subtracting the prefix at the last restart.
            lines = arr[:, 1:]
            S = np.zeros((h + 1, stride), dtype=np.uint8)
            np.cumsum(lines, axis=0, dtype=np.uint8, out=S[1:])
            resets = np.where(ftypes == 0, np.arange(h), 0)
            resets[0] = 0
            base = np.maximum.accumulate(resets)
            out = S[1:] - S[base]  # uint8 wraparound subtraction = mod 256
            return out.reshape(h, w, 3)
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).copy()
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(3, stride):
                line[i] = (int(line[i]) + int(line[i - 3])) & 0xFF
        elif ftype == 2:  # Up
            line = (line.astype(np.int32) + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            for i in range(stride):
                a = int(line[i - 3]) if i >= 3 else 0
                line[i] = (int(line[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - 3]) if i >= 3 else 0
                b = int(prev[i])
                c = int(prev[i - 3]) if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = line
        prev = out[y]
    return out.reshape(h, w, 3)


def encode_terrarium_png(grid_south_origin: np.ndarray) -> bytes:
    """South-origin elevation grid -> terrarium PNG (rows north-first, like
    every web-map tile)."""
    return encode_png_rgb(terrarium_rgb(np.asarray(grid_south_origin)[::-1, :]))


def decode_terrarium_png(data: bytes) -> np.ndarray:
    """Terrarium PNG -> south-origin float64 elevation grid."""
    return terrarium_decode_rgb(decode_png_rgb(data))[::-1, :]


# ---------------------------------------------------------------------------
# Geodesy + geometry helpers
# ---------------------------------------------------------------------------

EARTH_RADIUS_M = 6371000.0


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters (R=6,371,000 m)."""
    lat1, lon1, lat2, lon2 = (np.radians(np.asarray(a, np.float64)) for a in (lat1, lon1, lat2, lon2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def point_in_ring(lat: np.ndarray, lon: np.ndarray, ring: np.ndarray,
                  block_elems: int = 4_000_000) -> np.ndarray:
    """Vectorized even-odd ray casting: points (N,) vs one ring (M,2) of
    (lon,lat) vertices (GeoJSON order, closed or open).  Boundary points
    follow the strict crossing rule (documented in FIXTURES.md §5).

    Interval-stabbing formulation (r5; was an N x M_chunk broadcast): an
    edge straddles a point's scan line iff py lies in [min(y1,y2),
    max(y1,y2)) — exactly the (y1 > py) != (y2 > py) crossing test — so
    with the points SORTED by y, each edge's straddled points are ONE
    contiguous searchsorted range.  The straddling pairs are materialized
    by gather (for a convex ring ~2 per point; never the N*M pair grid),
    the crossing abscissa (py-y1)*(x2-x1)/(y2-y1)+x1 is evaluated only on
    them with the operation order unchanged (IEEE mul commutes), and the
    per-point crossing count is an order-free integer bincount —
    bit-identical results to the broadcast form, O((N+M) log N + K) work
    instead of O(N*M).  Edges are chunked so no more than ~``block_elems``
    pairs materialize at once (comb-shaped polygons can still produce
    K ~ N*M straddles; memory stays bounded).  NaN coords sort past every
    real y and searchsorted's `<` treats them as +inf, so they join no
    range — same non-crossing behavior the broadcast comparisons gave."""
    ring = np.asarray(ring, dtype=np.float64)
    if ring.shape[0] > 1 and np.array_equal(ring[0], ring[-1]):
        ring = ring[:-1]
    pxf = np.asarray(lon, np.float64)
    pyf = np.asarray(lat, np.float64)
    n = pxf.shape[0]
    m = ring.shape[0]
    crossings = np.zeros(n, dtype=np.int64)
    if n == 0 or m == 0:
        return crossings != 0
    x1a = ring[:, 0]
    y1a = ring[:, 1]
    x2a = np.roll(x1a, -1)
    y2a = np.roll(y1a, -1)
    order = np.argsort(pyf)
    py_s = pyf[order]
    lo = np.searchsorted(py_s, np.minimum(y1a, y2a), side="left")
    hi = np.searchsorted(py_s, np.maximum(y1a, y2a), side="left")
    counts = hi - lo
    cum = np.cumsum(counts)
    s = 0
    while s < m:
        base = int(cum[s - 1]) if s else 0
        e = max(int(np.searchsorted(cum, base + block_elems, side="right")),
                s + 1)
        cnt = counts[s:e]
        total = int(cnt.sum())
        if total:
            edge_idx = np.repeat(np.arange(s, e), cnt)
            starts = np.repeat(lo[s:e], cnt)
            offs = np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            idx_n = order[starts + offs]
            t = pyf[idx_n] - y1a[edge_idx]
            with np.errstate(divide="ignore", invalid="ignore"):
                t *= x2a[edge_idx] - x1a[edge_idx]
                t /= y2a[edge_idx] - y1a[edge_idx]
            t += x1a[edge_idx]
            hit = pxf[idx_n] < t
            crossings += np.bincount(idx_n[hit], minlength=n)
        s = e
    return (crossings % 2) == 1


def point_in_polygon(lat: np.ndarray, lon: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """GeoJSON Polygon semantics: inside outer ring, outside every hole."""
    inside = point_in_ring(lat, lon, rings[0])
    for hole in rings[1:]:
        inside &= ~point_in_ring(lat, lon, hole)
    return inside
