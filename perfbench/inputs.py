"""Seed-keyed input generation for the three benchmark workloads.

Every generator is a pure function of (seed, size, files): the same seed
gives the same parquet bytes' content, and any two seeds give the same item
counts and the same status-histogram shares, because planted shares are
exact counts placed by a seeded permutation rather than Bernoulli draws.

Each workload writes two things under its cache directory:

- ``input/``: the only files the engine sees (points, pages or documents);
- ``golden.parquet``: the coordinates the generator planted, with their
  tile's (sw_lat, sw_lon, size).  Only the DuckDB oracle reads it.

Coordinates are integer lattice offsets (thousandths for points, ten
thousandths for page and document text) kept inside [0.020, 0.979] of
the tile, so the void node (10, 10) and the tile edges never take part in
interpolation and the closed-form DEM is the complete truth.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from elevation_service_spark import fixtures

# (tile_key, sw_lat, sw_lon, size) of the five fixture tiles
TILES = [(k, la, lo, s) for k, la, lo, s, _ in fixtures.FIXTURE_TILES]
HOT_INDEX = [t[0] for t in TILES].index(fixtures.HOT_TILE)
MISSING = (fixtures.MISSING_TILE[0], fixtures.MISSING_TILE[1],
           fixtures.MISSING_TILE[2], 1201)

#: planted shares, identical for every seed
MISSING_SHARE = 0.01       # points / positions on the absent tile N10E010
OUT_OF_RANGE_SHARE = 0.005  # points_uniform only: lat or lon past its range

_VOCAB = np.array((
    "the a hill valley river map survey terrain north south mountain pass "
    "trail elevation data old new near far stone lake ridge forest town road "
    "bridge peak").split())
# must never yield a coordinate: a version number, a price and a pair whose
# latitude is out of range (matched by the regex, dropped by its range filter)
_DECOYS = ("version 1.2, 3.4.5 released", "price $12.99 only",
           "bogus 91.1234, 12.3456 pair")


def _exact_counts(n: int, shares: list[float]) -> np.ndarray:
    """Split n into len(shares)+1 exact counts (the last takes the rest)."""
    head = [int(round(n * s)) for s in shares]
    return np.array(head + [n - sum(head)])


def _labels(rng: np.random.Generator, n: int, shares: list[float]) -> np.ndarray:
    """n labels 0..len(shares) with exact counts, in seeded random order."""
    counts = _exact_counts(n, shares)
    return rng.permutation(np.repeat(np.arange(len(counts)), counts))


def _tile_arrays(tiles: list[tuple]) -> tuple[np.ndarray, ...]:
    return (np.array([t[0] for t in tiles]), np.array([t[1] for t in tiles]),
            np.array([t[2] for t in tiles]), np.array([t[3] for t in tiles]))


def _write_parts(table: pa.Table, out_dir: Path, files: int) -> None:
    """Contiguous slices into ``files`` parquet files, one row group each."""
    out_dir.mkdir(parents=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, out_dir / f"part-{i:05d}.parquet",
                       row_group_size=max(1, part.num_rows))


def _golden_table(keys, sw_lat, sw_lon, size, extra: dict) -> pa.Table:
    return pa.table({**extra, "tile_key": keys, "sw_lat": sw_lat,
                     "sw_lon": sw_lon, "size": size})


# --- points_uniform ---------------------------------------------------------

def gen_points(rng: np.random.Generator, n: int, out: Path, files: int) -> None:
    """(id, lat, lon): uniform over the five tiles, plus exact planted shares
    out of range and on the missing tile."""
    # label 0 = out of range, 1 = missing tile, 2 = fixture tile
    label = _labels(rng, n, [OUT_OF_RANGE_SHARE, MISSING_SHARE])
    keys, t_lat, t_lon, t_size = _tile_arrays(TILES)
    ti = rng.permutation(np.arange(n) % len(TILES))
    sw_lat, sw_lon, size, key = t_lat[ti], t_lon[ti], t_size[ti], keys[ti]
    on_missing = label == 1
    sw_lat = np.where(on_missing, MISSING[1], sw_lat)
    sw_lon = np.where(on_missing, MISSING[2], sw_lon)
    key = np.where(on_missing, MISSING[0], key)
    lat = sw_lat + rng.integers(20, 980, n) / 1000.0
    lon = sw_lon + rng.integers(20, 980, n) / 1000.0
    # out of range: alternate a latitude past 90 and a longitude past 180
    oor = np.nonzero(label == 0)[0]
    lat[oor[0::2]] = 90.0 + rng.integers(20, 980, len(oor[0::2])) / 1000.0
    lon[oor[1::2]] = 180.0 + rng.integers(20, 980, len(oor[1::2])) / 1000.0
    ids = np.arange(n, dtype=np.int64)
    _write_parts(pa.table({"id": ids, "lat": lat, "lon": lon}), out / "input", files)
    status = np.where(label == 0, "OUT_OF_BOUNDS",
                      np.where(on_missing, "TILE_MISSING", "OK"))
    pq.write_table(_golden_table(key, sw_lat, sw_lon, size,
                                 {"id": ids, "lat": lat, "lon": lon,
                                  "status": status}),
                   out / "golden.parquet")


# --- shared 4-decimal coordinates (pages, documents) ------------------------

def _coords4(rng: np.random.Generator, n: int, tile_idx: np.ndarray,
             on_missing: np.ndarray, tiles: list[tuple]):
    """4-decimal coordinates as (text lat, text lon, float lat, float lon,
    golden tile columns).  The floats are parsed from the same text the
    engine parses, so both sides hold the identical double."""
    keys, t_lat, t_lon, t_size = _tile_arrays(tiles)
    sw_lat = np.where(on_missing, MISSING[1], t_lat[tile_idx])
    sw_lon = np.where(on_missing, MISSING[2], t_lon[tile_idx])
    size = np.where(on_missing, MISSING[3], t_size[tile_idx])
    key = np.where(on_missing, MISSING[0], keys[tile_idx])
    lat_s = [f"{a:.4f}" for a in sw_lat + rng.integers(200, 9790, n) / 10000.0]
    lon_s = [f"{a:.4f}" for a in sw_lon + rng.integers(200, 9790, n) / 10000.0]
    lat = np.array([float(s) for s in lat_s])
    lon = np.array([float(s) for s in lon_s])
    return lat_s, lon_s, lat, lon, (key, sw_lat, sw_lon, size)


# --- pages_skewed -----------------------------------------------------------

_MENTIONS_PER_PAGE = (1, 2, 2, 3)   # exact cycle -> 2 points per page
#: filler words: before the first mention, after each mention, at the end
_LEAD_WORDS, _GAP_WORDS, _TAIL_WORDS = 8, 4, 4


def _mention(fmt: int, lat: str, lon: str) -> str:
    """The four pinned extractor formats (FIXTURES.md section 1)."""
    if fmt == 0:
        return f"{lat}, {lon}"
    if fmt == 1:
        return f"lat={lat};lon={lon}"
    if fmt == 2:
        return f"geo:{lat},{lon}"
    return '{"type":"Point","coordinates":[%s,%s]}' % (lon, lat)


def gen_pages(rng: np.random.Generator, n: int, out: Path, files: int) -> None:
    """(url, warc_ts, text): each page carries 1-3 mentions in the four
    formats; half of all points fall on the hot tile N57E011."""
    per_page = rng.permutation(np.resize(np.array(_MENTIONS_PER_PAGE), n))
    n_pts = int(per_page.sum())
    # label 0 = missing tile, 1 = hot tile, 2 = one of the other four tiles
    label = _labels(rng, n_pts, [MISSING_SHARE, 0.5])
    others = np.array([i for i in range(len(TILES)) if i != HOT_INDEX])
    tile_idx = np.where(label == 1, HOT_INDEX,
                        others[rng.permutation(np.arange(n_pts) % len(others))])
    lat_s, lon_s, lat, lon, gold = _coords4(rng, n_pts, tile_idx, label == 0, TILES)
    fmt = rng.integers(0, 4, n_pts)
    matched = [_mention(f, a, b) for f, a, b in zip(fmt, lat_s, lon_s)]
    n_words = _LEAD_WORDS + _GAP_WORDS * max(_MENTIONS_PER_PAGE) + _TAIL_WORDS
    words = _VOCAB[rng.integers(0, len(_VOCAB), (n, n_words))].tolist()
    decoy = rng.integers(0, len(_DECOYS) + 1, n)   # == len: no decoy
    urls = np.array([f"https://example.org/bench/{i}" for i in range(n)])
    first = np.cumsum(per_page) - per_page
    texts = []
    for i, n_i, p in zip(range(n), per_page.tolist(), first.tolist()):
        w = words[i]
        parts = [" ".join(w[:_LEAD_WORDS])]
        for j in range(n_i):
            at = _LEAD_WORDS + _GAP_WORDS * j
            parts.append(matched[p + j])
            parts.append(" ".join(w[at:at + _GAP_WORDS]))
        if decoy[i] < len(_DECOYS):
            parts.append(_DECOYS[decoy[i]])
        parts.append(" ".join(w[-_TAIL_WORDS:]))
        texts.append(" ".join(parts))
    warc_ts = pa.array((1_700_000_000 + np.arange(n, dtype=np.int64) * 3600)
                       * 1_000_000, pa.timestamp("us", tz="UTC"))
    _write_parts(pa.table({"url": urls, "warc_ts": warc_ts, "text": texts}),
                 out / "input", files)
    status = np.where(label == 0, "TILE_MISSING", "OK")
    pq.write_table(_golden_table(*gold, {
        "url": np.repeat(urls, per_page),
        "point_idx": (np.arange(n_pts) - np.repeat(first, per_page)).astype(np.int32),
        "lat": lat, "lon": lon, "matched": matched, "status": status,
        "warc_us": np.repeat(1_700_000_000_000_000
                             + np.arange(n, dtype=np.int64) * 3_600_000_000,
                             per_page)}),
        out / "golden.parquet")


# --- geojson_docs -----------------------------------------------------------

LINE_POSITIONS = 30     # LineString documents
RING_POSITIONS = 31     # Polygon documents: 30 vertices + closing position


def gen_docs(rng: np.random.Generator, n: int, out: Path, files: int) -> None:
    """(url, geojson): Feature documents, half LineString and half Polygon,
    each within one fixture tile; an exact share of documents put their
    first positions on the missing tile (status PARTIAL)."""
    is_poly = rng.permutation(np.arange(n) % 2 == 1)
    partial = _labels(rng, n, [MISSING_SHARE * 2]) == 0
    doc_tile = rng.permutation(np.arange(n) % len(TILES))
    n_pos = np.where(is_poly, RING_POSITIONS, LINE_POSITIONS)
    n_all = int(n_pos.sum())
    doc_of = np.repeat(np.arange(n), n_pos)
    pos_idx = np.arange(n_all) - np.repeat(np.cumsum(n_pos) - n_pos, n_pos)
    # the first 5 positions of a PARTIAL document sit on the missing tile;
    # a ring's closing position repeats its first, so it follows suit
    closing = is_poly[doc_of] & (pos_idx == RING_POSITIONS - 1)
    on_missing = partial[doc_of] & ((pos_idx < 5) | closing)
    lat_s, lon_s, lat, lon, gold = _coords4(rng, n_all, doc_tile[doc_of],
                                            on_missing, TILES)
    first = np.cumsum(n_pos) - n_pos
    for arr in (lat_s, lon_s):
        for k in np.nonzero(closing)[0]:
            arr[k] = arr[first[doc_of[k]]]
    lat[closing] = lat[first[doc_of[closing]]]
    lon[closing] = lon[first[doc_of[closing]]]
    urls = [f"https://example.org/track/{i}" for i in range(n)]
    docs = []
    for i in range(n):
        lo, hi = first[i], first[i] + n_pos[i]
        # positions as raw JSON numbers with exactly the 4-decimal text
        coords = ",".join(f"[{lon_s[k]},{lat_s[k]}]" for k in range(lo, hi))
        geom = ('{"coordinates":[[%s]],"type":"Polygon"}' % coords if is_poly[i]
                else '{"coordinates":[%s],"type":"LineString"}' % coords)
        props = json.dumps({"name": f"track {i}", "seq": i,
                            "tags": ["bench", "geojson"]},
                           separators=(",", ":"), sort_keys=True)
        docs.append('{"geometry":%s,"properties":%s,"type":"Feature"}'
                    % (geom, props))
    _write_parts(pa.table({"url": urls, "geojson": docs}), out / "input", files)
    pq.write_table(_golden_table(*gold, {
        "url": np.array(urls)[doc_of], "pos_idx": pos_idx.astype(np.int32),
        "lat": lat, "lon": lon,
        "status": np.where(on_missing, "TILE_MISSING", "OK")}),
        out / "golden.parquet")


GENERATORS = {"points_uniform": gen_points, "pages_skewed": gen_pages,
              "geojson_docs": gen_docs}


def ensure_inputs(cache_root: Path, workload: str, seed: int, n: int,
                  files: int) -> tuple[Path, float]:
    """Generate (or reuse) the inputs for (workload, seed, n, files).
    Returns (directory, seconds spent generating; 0.0 on a cache hit)."""
    d = cache_root / f"{workload}-seed{seed}-n{n}-f{files}"
    if (d / "DONE").exists():
        return d, 0.0
    t0 = time.perf_counter()
    tmp = d.with_name(d.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    # one stream per (workload, seed): the seed alone picks the inputs
    rng = np.random.default_rng([seed % 2**64, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, n, tmp, files)
    (tmp / "DONE").write_text("")
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, time.perf_counter() - t0
