"""points ⨝ tiles elevation lookup — the engine's core operator.

Reference parity (SURVEY.md §2): op-7 HGT decode, op-8 grid transform +
bounds check, op-9 bilinear, op-10 nearest, op-11 the point⨝tile join,
op-13 cache→locality, op-14 total error surface (never throws per-row:
``elevation:double NULL`` + ``status``).

Two physical strategies, chosen for the 100 TB case:

- ``broadcast``: when the *working set* of tiles is small (the common case —
  a query touches a bounded region), ship the tile bytes to every worker
  once (``_broadcast_tiles``, which keeps the last built broadcast)
  and enrich with a scalar ``pandas_udf`` over (lat, lon).  **Zero
  shuffle of the points table**, whatever the tiles' encodings — at
  100 TB of pages this is the difference between a map-only job and a
  full-table shuffle.  The reference's LRU tile cache (tileset.js §
  TileSet, TILE_SET_CACHE=128) reappears as that kept broadcast and a
  per-worker decoded-grid LRU.

- ``cogroup``: when the tile working set is too big to broadcast, shuffle
  both sides by tile_key and run the kernel per cogroup.  The tile blob
  crosses the wire once per group — never replicated per point row (a plain
  join would glue 2.9 MB onto every point).  Every point column rides the
  kernel exactly and its output is the result.  One per-tile probe of
  the points names the tiles that cross (an ``isin`` on the tile scan:
  an action runs the points' lineage once) and splits hotspot tiles into
  sub-groups; AQE skew-join cannot help here because the skew is inside
  a single group, not a partition of many keys.
"""

from __future__ import annotations

import gzip
import os
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import kernels
from ..functions.keys import skadi_key_col, valid_coord_predicate

STATUS_OK = "OK"
STATUS_OUT_OF_BOUNDS = "OUT_OF_BOUNDS"
STATUS_TILE_MISSING = "TILE_MISSING"
STATUS_BAD_TILE = "BAD_TILE"


def _grid_cache_budget() -> int:
    """Per-worker decoded-grid budget: a quarter of physical RAM split over
    one Python worker per core (the rest is the JVMs' and the batches'),
    capped at 2 GiB — about 1 GB per worker on a 16 GB, 4-core host, far
    above the ~140 MB a five-tile working set decodes to."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return 2 << 30
    return min(2 << 30, ram // (4 * (os.cpu_count() or 1)))


# per-worker decoded-grid LRU (TILE_SET_CACHE parity).  Grids are cached
# already converted to float64 — the kernel's dominant cost is otherwise an
# int16->float64 conversion of the whole grid on EVERY batch (104 MB for a
# 3601 tile; measured 10x the lerp itself).  Eviction is by byte budget,
# not entry count, since float64 grids are 4x the wire size.
_GRID_CACHE: OrderedDict = OrderedDict()
_GRID_CACHE_MAX_BYTES = _grid_cache_budget()
# per-worker counters; surfaced to the driver through accumulators when the
# caller passes cache_metrics (grid_cache_accumulators) — the locality claim
# (cache -> join-locality parity) is then measured per job, not asserted
_GRID_CACHE_STATS = {"hits": 0, "misses": 0, "evictions": 0}


def grid_cache_accumulators(spark) -> dict:
    """Driver-side accumulators for the per-worker grid cache; pass as
    ``enrich_points(..., cache_metrics=...)`` and read ``.value`` after the
    job.  hit_rate = hits / (hits + misses)."""
    sc = spark.sparkContext
    return {k: sc.accumulator(0) for k in ("hits", "misses", "evictions")}


def decode_tile_bytes(encoding: str, data: bytes,
                      allow_overview: bool = False) -> np.ndarray:
    """tile bytes -> south-origin elevation grid (raises on bad bytes).
    ``allow_overview=True`` opts in to non-SRTM 2*s^2 HGT sizes — only the
    pyramid/mosaic operators (which produce and compose such tiles) set
    it; the ingest/lookup path keeps the reference's strict size sniff."""
    if encoding == "hgt":
        return kernels.decode_hgt(data, allow_overview=allow_overview)
    if encoding == "hgt.gz":
        return kernels.decode_hgt(gzip.decompress(data),
                                  allow_overview=allow_overview)
    if encoding == "terrarium-png":
        return kernels.decode_terrarium_png(data)
    raise ValueError(f"Unknown tile encoding: {encoding}")


def _cached_grid(tile_key: str, encoding: str, data: bytes) -> np.ndarray:
    import zlib
    # full-payload CRC: keying on a prefix would return a stale grid on
    # long-lived workers if a tile's bytes changed only past the prefix at
    # the same length; one crc32 pass is cheap next to the decode it gates
    ck = (tile_key, encoding, len(data), zlib.crc32(data))
    grid = _GRID_CACHE.get(ck)
    if grid is None:
        _GRID_CACHE_STATS["misses"] += 1
        grid = decode_tile_bytes(encoding, data).astype(np.float64)
        _GRID_CACHE[ck] = grid
        total = sum(g.nbytes for g in _GRID_CACHE.values())
        while total > _GRID_CACHE_MAX_BYTES and len(_GRID_CACHE) > 1:
            _, evicted = _GRID_CACHE.popitem(last=False)
            total -= evicted.nbytes
            _GRID_CACHE_STATS["evictions"] += 1
    else:
        _GRID_CACHE_STATS["hits"] += 1
        _GRID_CACHE.move_to_end(ck)
    return grid


# numeric status codes keep the Python->JVM Arrow traffic to one tinyint per
# row; the string column is materialized JVM-side (_status_col)
CODE_OK, CODE_OUT_OF_BOUNDS, CODE_TILE_MISSING, CODE_BAD_TILE = 0, 1, 2, 3
STATUS_BY_CODE = [STATUS_OK, STATUS_OUT_OF_BOUNDS, STATUS_TILE_MISSING, STATUS_BAD_TILE]


def _status_col(code: Column) -> Column:
    """Status string of an int status-code column."""
    return F.element_at(F.array(*[F.lit(s) for s in STATUS_BY_CODE]),
                        code.cast("int") + 1)


def _in_range(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Valid-coordinate mask (NaN is never valid)."""
    return (lat >= -90.0) & (lat <= 90.0) & (lon >= -180.0) & (lon <= 180.0)


def _enrich_one_tile_codes(lat: np.ndarray, lon: np.ndarray,
                           tile: tuple | None, interpolation: str
                           ) -> tuple[np.ndarray, np.ndarray]:
    """(elev float64 w/ NaN, status code int8 array) for points of ONE tile.
    tile = (sw_lat, sw_lon, encoding, data) or None if missing.  A group
    with no in-range point never decodes its tile."""
    elev = np.full(len(lat), np.nan)
    ok_mask = _in_range(lat, lon)
    code = np.where(ok_mask, CODE_OK, CODE_OUT_OF_BOUNDS).astype(np.int8)
    if not ok_mask.any():
        return elev, code
    if tile is None:
        code[ok_mask] = CODE_TILE_MISSING
        return elev, code
    sw_lat, sw_lon, encoding, data = tile
    try:
        grid = _cached_grid(f"{sw_lat}/{sw_lon}", encoding, data)
    except Exception:
        code[ok_mask] = CODE_BAD_TILE
        return elev, code
    e, inb = kernels.lookup_elevation(grid, sw_lat, sw_lon,
                                      lat[ok_mask], lon[ok_mask],
                                      interpolation=interpolation)
    idx = np.nonzero(ok_mask)[0]
    elev[idx] = e
    code[idx[~inb]] = CODE_OUT_OF_BOUNDS
    elev[idx[~inb]] = np.nan
    return elev, code


def _tile_ids(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Packed int64 tile id (floor(lat)+90)*512 + (floor(lon)+180) of each
    point; -1 (no tile) for NaN and out-of-range coordinates, so no value
    is ever floored past the integer range."""
    ok = _in_range(lat, lon)
    tid = np.full(len(lat), -1, dtype=np.int64)
    tid[ok] = ((np.floor(lat[ok]).astype(np.int64) + 90) * 512
               + np.floor(lon[ok]).astype(np.int64) + 180)
    return tid


#: the last auto decision's built tile broadcast on file-backed tiles (the
#: reference's TileSet cache, one working set deep), or {}.  A miss
#: replaces it, dropping only the reference: a lazy frame built on the old
#: broadcast may still run.
_TILE_MAP_SLOT: dict = {}
_TILE_MAP_STATS = {"hits": 0, "misses": 0}


def _tile_files(tiles: DataFrame) -> tuple | None:
    """The file listing (a line per file with its path, length and mtime)
    a deterministic plan whose every leaf is a file relation took when it
    was read (a re-read relists), one JVM call per relation and no file
    stat; None (never kept) for any other plan, and for a partitioned
    catalog table, whose index lists its files only per query."""
    plan = tiles._jdf.queryExecution().analyzed()
    leaves = [plan.collectLeaves().apply(i) for i in range(plan.collectLeaves().size())]
    if not plan.deterministic() or any(
            leaf.getClass().getSimpleName() != "LogicalRelation"
            or leaf.relation().getClass().getSimpleName() != "HadoopFsRelation"
            or leaf.relation().location().getClass().getSimpleName() != "InMemoryFileIndex"
            for leaf in leaves):
        return None
    return tuple(sorted(line for leaf in leaves for line in
                        leaf.relation().location().allFiles().mkString("\n").splitlines()))


def _broadcast_tiles(tiles: DataFrame, points: DataFrame | None = None,
                     threshold: int | None = None) -> tuple[int | None, Broadcast | None]:
    """The one broadcast-or-spill decision of every lookup entry point:
    (working-set bytes, Broadcast of the tile map: packed tile id ->
    (sw_lat, sw_lon, encoding, data)), the Broadcast None (spill) past
    ``threshold``.  The working set is the tiles of the points' distinct
    tile keys that the table holds (so the driver never holds more keys
    than the table has), or the whole table.  With a
    threshold, _TILE_MAP_SLOT serves while the app, the file listing, the
    plan (``sameSemantics``) and the keys match; a miss runs one
    length(data) query, then under the threshold one Arrow fetch and a
    broadcast, kept if the plan is file-backed.  Without one (explicit
    broadcast, streaming): the fetch alone, never kept."""
    global _TILE_MAP_SLOT
    sc = tiles.sparkSession.sparkContext
    files, slot = None if threshold is None else _tile_files(tiles), _TILE_MAP_SLOT
    if not (files is not None and slot and (slot["app"], slot["files"]) == (sc.applicationId, files)
            and slot["tiles"].sameSemantics(tiles)):
        slot = {}
    table_keys = keys = size = None
    if points is not None:
        table_keys = slot.get("table_keys") or sorted(
            {r[0] for r in tiles.select("tile_key").collect()} - {None})
        keys = frozenset(r[0] for r in points.select("tile_key").filter(
            F.col("tile_key").isin(table_keys)).distinct().collect())
    if slot and keys == slot["keys"]:
        _TILE_MAP_STATS["hits"] += 1
        return slot["size"], slot["bc"] if slot["size"] <= threshold else None
    needed = tiles if keys is None else tiles.filter(F.col("tile_key").isin(sorted(keys)))
    if threshold is not None:
        _TILE_MAP_STATS["misses"] += 1
        size = sum(r[0] or 0 for r in needed.select(F.length("data")).collect())
        if size > threshold:
            return size, None
    t = needed.select("sw_lat", "sw_lon", "encoding", "data").toArrow()
    ids = _tile_ids(*(t[c].to_numpy().astype(np.float64) for c in ("sw_lat", "sw_lon")))
    tile_map = dict(zip(ids.tolist(), zip(*(c.to_pylist() for c in t.columns))))
    bc = sc.broadcast(tile_map)
    if files is not None:
        _TILE_MAP_SLOT = dict(app=sc.applicationId, files=files, tiles=tiles,
                              table_keys=table_keys, keys=keys, size=size, bc=bc)
    return size, bc


def _lookup_batch(tile_map: dict, lat: np.ndarray, lon: np.ndarray,
                  interpolation: str) -> tuple[np.ndarray, np.ndarray]:
    """(elevation, status code) of a batch of points against a tile map:
    the points are bucketed by tile id and each bucket runs the kernel
    once.  NULL coordinates arrive as NaN and come back OUT_OF_BOUNDS."""
    tid = _tile_ids(lat, lon)
    elev = np.full(len(lat), np.nan)
    code = np.empty(len(lat), dtype=np.int8)
    for key, idx in pd.Series(tid).groupby(tid, sort=False).indices.items():
        elev[idx], code[idx] = _enrich_one_tile_codes(
            lat[idx], lon[idx], tile_map.get(key), interpolation)
    return elev, code


def with_tile_key(points: DataFrame, key_col: str = "tile_key") -> DataFrame:
    if key_col in points.columns:
        return points
    return points.withColumn(key_col, skadi_key_col(F.col("lat"), F.col("lon")))


def enrich_points(points: DataFrame, tiles: DataFrame, *,
                  interpolation: str = "bilinear",
                  strategy: str = "auto",
                  salt_factor: int | None = None,
                  broadcast_bytes_threshold: int = 512 << 20,
                  prune_tiles: bool = True,
                  cache_metrics: dict | None = None) -> DataFrame:
    """Add (tile_key, elevation, status) to a points DataFrame.

    points: any schema containing lat:double, lon:double.
    tiles:  TILES_SCHEMA (sources/tiles.py).

    The broadcast plan is map-only whatever the tiles' encodings: the
    points keep the scan's partitioning and each worker decodes the tiles
    its own rows touch."""
    clash = {"elevation", "status"} & set(points.columns)
    if clash:
        # fail fast and identically for BOTH strategies: both write these
        # two names (and carry their internals under them), so a caller's
        # column would be silently replaced (r5 code-review)
        raise ValueError(f"enrich_points: points already has {sorted(clash)} "
                         "— rename before enriching")
    points = with_tile_key(points)
    if points.isStreaming:
        # stream-static pattern: pruning would require executing the
        # stream — broadcast the whole tile table instead (cogroup is not
        # stream-composable)
        if strategy == "cogroup":
            raise ValueError("cogroup strategy is not supported on streaming points")
        strategy, prune_tiles = "broadcast", False
    if strategy in ("auto", "broadcast"):
        _, bc = _broadcast_tiles(
            tiles, points if prune_tiles else None,
            broadcast_bytes_threshold if strategy == "auto" else None)
        if bc is not None:
            return _enrich_broadcast(points, bc, interpolation, cache_metrics)
    return _enrich_cogroup(points, tiles, interpolation, salt_factor)


def _enrich_broadcast(points: DataFrame, bc: Broadcast, interpolation: str,
                      cache_metrics: dict | None = None) -> DataFrame:
    # scalar pandas_udf over exactly (lat, lon): every other column of the
    # points table stays JVM-side and never crosses the Arrow boundary;
    # the UDF returns one double + one tinyint per row.
    result_type = T.StructType([
        T.StructField("elevation", T.DoubleType(), True),
        T.StructField("code", T.ByteType(), False),
    ])

    def lookup(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        if cache_metrics:
            # resolve the module at call time: this nested fn is cloudpickled
            # BY VALUE, which snapshots referenced globals — a direct
            # _GRID_CACHE_STATS reference would read a frozen copy while
            # _cached_grid (pickled by reference) mutates the real module's
            from elevation_service_spark.operators import lookup as _live
            stats = _live._GRID_CACHE_STATS
            stats0 = dict(stats)
        elev, code = _lookup_batch(bc.value, lat.to_numpy(dtype=np.float64),
                                   lon.to_numpy(dtype=np.float64), interpolation)
        if cache_metrics:
            for k, acc in cache_metrics.items():
                acc.add(stats[k] - stats0[k])
        return pd.DataFrame({"elevation": elev, "code": code})

    # the UDF's struct rides under the reserved "elevation": no user column is touched
    lookup_udf = F.pandas_udf(lookup, returnType=result_type)
    return (points
            .withColumn("elevation", lookup_udf(F.col("lat"), F.col("lon")))
            .withColumn("status", _status_col(F.col("elevation.code")))
            .withColumn("elevation", F.col("elevation.elevation")))


#: split a tile whose points' bytes (as text) pass this: the cogroup kernel
#: holds a group in one Python worker at about 3.3x its bytes (25k points
#: of 8 KB text peaked at 794 MB)
_TARGET_GROUP_BYTES = 256 << 20


def _adaptive_salt_map(points: DataFrame, target_points_per_group: int,
                       max_salt: int) -> dict[str, int]:
    """Per-tile salt factor proportional to the tile's point count or
    bytes, whichever splits more — the 'tile-hotspot salting' of SURVEY.md
    §4 — of every key holding an in-range point (at most 181 x 361: the
    tiles the cogroup ships) and every hot key (k > 1).  The per-tile
    aggregation is map-side-combined and tiny (one row per tile)."""
    row_bytes = sum((F.coalesce(F.octet_length(F.col(c).cast("string")), F.lit(0))
                     for c in points.columns), F.lit(0))
    counts = (points.groupBy("tile_key")
              .agg(F.count(F.lit(1)).alias("n"), F.sum(row_bytes).alias("bytes"),
                   F.bool_or(valid_coord_predicate(F.col("lat"), F.col("lon"))).alias("ok"))
              .filter(F.col("ok") | (F.col("n") > target_points_per_group)
                      | (F.col("bytes") > _TARGET_GROUP_BYTES)).collect())
    return {r["tile_key"]: min(max_salt, max(-(-r["n"] // target_points_per_group),
                                             -(-r["bytes"] // _TARGET_GROUP_BYTES)))
            for r in counts if r["tile_key"] is not None}


def _cogroup_kernel(names: list[str], interpolation: str):
    """The cogroup kernel: one tile's points (plus its tile row, if any)
    -> ``names`` + (elevation, status code)."""

    def fn(pts: pd.DataFrame, tls: pd.DataFrame) -> pd.DataFrame:
        out = pts[names].copy()
        tile = None
        if len(tls):
            r = tls.iloc[0]
            tile = (int(r["sw_lat"]), int(r["sw_lon"]), r["encoding"], bytes(r["data"]))
        elev, code = _enrich_one_tile_codes(pts["lat"].to_numpy(dtype=np.float64),
                                            pts["lon"].to_numpy(dtype=np.float64),
                                            tile, interpolation)
        if len(out) and pd.isna(out["tile_key"].iloc[0]):
            # the NULL tile_key group: OUT_OF_BOUNDS (op-14), never
            # TILE_MISSING
            code[:] = CODE_OUT_OF_BOUNDS
        out["elevation"], out["status"] = elev, code
        return out

    return fn


#: carried as text (_pandas_transport): Java's round-trip digits, "NaN", an
#: NTZ literal, a timestamp's epoch microseconds (free of the session zone)
_AS_TEXT = (T.LongType, T.FloatType, T.DoubleType, T.TimestampType,
            T.TimestampNTZType)


def _map_leaves(c: Column, t: T.DataType, leaf) -> Column:
    """``c`` (of type ``t``) with ``leaf(value, type)`` applied to it, or
    to every value inside its arrays, maps and structs."""
    if isinstance(t, T.ArrayType):
        return F.transform(c, lambda x: _map_leaves(x, t.elementType, leaf))
    if isinstance(t, T.MapType):
        c = F.transform_keys(c, lambda k, _: _map_leaves(k, t.keyType, leaf))
        return F.transform_values(c, lambda _, v: _map_leaves(v, t.valueType, leaf))
    if isinstance(t, T.StructType):
        return F.when(c.isNotNull(), F.struct(
            *[_map_leaves(c[f.name], f.dataType, leaf).alias(f.name) for f in t.fields]))
    return leaf(c, t)


def _leaf_to_text(c: Column, t: T.DataType) -> Column:
    if isinstance(t, T.TimestampType):
        c = F.unix_micros(c)
    return c.cast("string") if isinstance(t, _AS_TEXT) else c


def _leaf_from_text(c: Column, t: T.DataType) -> Column:
    if isinstance(t, T.TimestampType):
        return F.timestamp_micros(c.cast("long"))
    return c.cast(t) if isinstance(t, _AS_TEXT) else c


def _pandas_transport(points: DataFrame):
    """How every point column crosses the cogroup kernel's pandas boundary
    exactly, in one rule: each _AS_TEXT value, a column or inside an
    array, map or struct, crosses as text and is cast back JVM-side.
    Arrow -> pandas turns a bigint holding a null into float64 (inexact
    past 2^53), pandas -> Arrow writes a float NaN back as NULL, and
    pandas' datetime64[ns] ends in 2262.  Columns other than tile_key cross
    under positional names, so none clashes with the salt key or the
    kernel's output; lat and lon also cross as they are, for the kernel.
    Returns (the frame sent, the kernel's output schema, the result
    columns restored from the kernel's output)."""
    fields = points.schema.fields
    names = [f.name if f.name == "tile_key" else f"_c{i}" for i, f in enumerate(fields)]
    coords = [F.col(names[points.columns.index(c)]).alias(c) for c in ("lat", "lon")]
    slim = points.toDF(*names).select(
        *[_map_leaves(F.col(n), f.dataType, _leaf_to_text).alias(n)
          for f, n in zip(fields, names)], *coords)
    schema = T.StructType([T.StructField(n, slim.schema[n].dataType, f.nullable)
                           for f, n in zip(fields, names)])
    restored = [_map_leaves(F.col(n), f.dataType, _leaf_from_text).alias(f.name)
                for f, n in zip(fields, names)]
    return slim, schema, restored


def _enrich_cogroup(points: DataFrame, tiles: DataFrame,
                    interpolation: str, salt_factor: int | None,
                    target_points_per_group: int = 200_000,
                    max_salt: int = 64) -> DataFrame:
    """Shuffle strategy: every point column rides through the one cogroup
    kernel (exactly, _pandas_transport) and the kernel's output is the
    result.  Null-key rows (null or overflowing coordinates -> null
    tile_key) form their own group and come back OUT_OF_BOUNDS — pinned in
    test_null_coords_are_out_of_bounds_both_strategies."""
    slim, schema, restored = _pandas_transport(points)
    salt = _adaptive_salt_map(slim, target_points_per_group, max_salt)
    tls = (tiles.filter(F.col("tile_key").isin(sorted(salt)))
           .select("tile_key", "sw_lat", "sw_lon", "encoding", "data"))
    keys = ["tile_key"]
    k_col = None
    if salt_factor is None:
        # adaptive: split only hot tiles, k ~ point count or bytes / target
        hot = {key: k for key, k in salt.items() if k > 1}
        if hot:
            entries = [F.lit(x) for kv in hot.items() for x in kv]
            k_col = F.coalesce(F.create_map(*entries)[F.col("tile_key")], F.lit(1))
    elif salt_factor > 1:
        # explicit uniform salting: split every tile k ways
        k_col = F.lit(salt_factor)
    if k_col is not None:
        slim = slim.withColumn("_salt", F.pmod(F.hash("lat", "lon"), k_col))
        tls = tls.withColumn("_salt", F.explode(F.sequence(F.lit(0), k_col - 1)))
        keys = ["tile_key", "_salt"]

    schema = schema.add("elevation", T.DoubleType()).add("status", T.ByteType())
    kernel = _cogroup_kernel(schema.names[:-2], interpolation)
    return (slim.groupBy(*keys).cogroup(tls.groupBy(*keys))
            .applyInPandas(kernel, schema)
            .select(*restored, F.col("elevation"),
                    _status_col(F.col("status")).alias("status")))


def missing_tiles(points: DataFrame, tiles: DataFrame) -> DataFrame:
    """Requested tile keys absent from the tile table (left-anti; §2.B)."""
    return (with_tile_key(points).select("tile_key").distinct()
            .join(tiles, "tile_key", "left_anti"))
