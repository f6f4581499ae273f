"""GeoJSON coordinate augmentation (SURVEY.md §2 ops 3, 4, 12, 14).

Reference semantics (geojson-elevation/index.js § addElevation):
- recursive dispatch on ``type`` visiting every position of Point /
  MultiPoint / LineString / MultiLineString / Polygon / MultiPolygon /
  GeometryCollection / Feature / FeatureCollection, in document order;
- coordinates are GeoJSON ``[lon, lat]``; the provider is called with
  ``[lat, lon]``; elevation is written back as ``coords[2]``;
- the rest of the document (properties, foreign members) passes through
  untouched.

Spark shape: GeoJSON nesting is ragged (1-4 deep depending on geometry
type), which StructType cannot express — documents stay raw JSON strings
and the walk happens batch-at-a-time inside Arrow UDFs (SURVEY.md §1.2).
Positions of one document co-locate via groupBy(url); document size is
bounded (the reference caps POST bodies ~500 kB), so per-group memory is
bounded and there is no intra-group skew concern at scale.

Engine error surface (op 14, total — never throws per-row):
doc status ∈ OK | PARTIAL (some positions unenriched) | EMPTY (no
positions) | INVALID_JSON | NOT_GEOJSON | TOO_LARGE (reference
MAX_POST_SIZE parity: documents over ``max_doc_bytes`` are statused and
never parsed).
"""

from __future__ import annotations

import json
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .lookup import _broadcast_tiles, _lookup_batch, enrich_points

_GEOM_TYPES = {"Point", "MultiPoint", "LineString", "MultiLineString",
               "Polygon", "MultiPolygon", "GeometryCollection", "Feature",
               "FeatureCollection"}

# reference parity: elevation-service caps POST bodies (~500 kB); documents
# over the cap are statused TOO_LARGE without ever being parsed
DEFAULT_MAX_DOC_BYTES = 500_000


def walk_positions(obj) -> Iterator[list]:
    """Yield every position array of a GeoJSON value, in the reference's
    visit order (document order, depth-first).  Yields the *mutable* lists
    so the re-assembly pass can write coords[2] in place."""
    t = obj.get("type") if isinstance(obj, dict) else None
    if t == "Point":
        yield obj["coordinates"]
    elif t in ("MultiPoint", "LineString"):
        yield from obj["coordinates"]
    elif t in ("MultiLineString", "Polygon"):
        for ring in obj["coordinates"]:
            yield from ring
    elif t == "MultiPolygon":
        for poly in obj["coordinates"]:
            for ring in poly:
                yield from ring
    elif t == "GeometryCollection":
        for g in obj["geometries"]:
            yield from walk_positions(g)
    elif t == "Feature":
        if obj.get("geometry"):
            yield from walk_positions(obj["geometry"])
    elif t == "FeatureCollection":
        for f in obj["features"]:
            yield from walk_positions(f)
    else:
        raise ValueError(f"not a GeoJSON value: type={t!r}")


def validated_positions(obj) -> list:
    """walk_positions + per-position validation: every position must be a
    list of >= 2 numbers.  Raises ValueError on a malformed position so a
    structurally-valid JSON doc with e.g. ``coordinates: []`` or
    non-numeric coords is routed to NOT_GEOJSON instead of crashing the
    Arrow worker (op-14 total error surface)."""
    positions = list(walk_positions(obj))
    for pos in positions:
        if (not isinstance(pos, list) or len(pos) < 2
                or not all(isinstance(v, (int, float)) and not isinstance(v, bool)
                           for v in pos[:2])):
            raise ValueError(f"malformed position: {pos!r}")
    return positions


def canonical_json(obj) -> str:
    """Canonical serialization for byte-comparison goldens: sorted keys,
    no whitespace (FIXTURES.md §4)."""
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


def _parse_doc(raw: str | None, max_doc_bytes: int) -> tuple:
    """The one document parse: ``(obj, positions, None)`` for a walkable
    GeoJSON document, else ``(None, None, status)`` with status TOO_LARGE
    (never parsed), INVALID_JSON or NOT_GEOJSON.  Nesting past Python's
    recursion limit is statused like any other bad input."""
    if raw is not None and len(raw.encode("utf-8")) > max_doc_bytes:
        return None, None, "TOO_LARGE"
    try:
        obj = json.loads(raw)
    except (ValueError, TypeError, RecursionError):
        return None, None, "INVALID_JSON"
    try:
        return obj, validated_positions(obj), None
    except (ValueError, TypeError, KeyError, RecursionError):
        return None, None, "NOT_GEOJSON"


def _coords(values: list) -> np.ndarray:
    """GeoJSON numbers -> float64.  An integer beyond the double range
    reads as +-inf, as json reads the literal 1e400: its position is out
    of bounds and stays unenriched."""
    try:
        return np.array(values, dtype=np.float64)
    except OverflowError:
        return np.array([v if abs(v) < 1e308 else np.inf if v > 0 else -np.inf
                         for v in values], dtype=np.float64)


def _parse_batch(raws, max_doc_bytes: int):
    """_parse_doc over a batch.  Returns the per-document parses, each
    document's position count, and all positions in document order as
    provider-order (lat, lon) vectors — GeoJSON order is [lon, lat] (op 4)."""
    parsed = [_parse_doc(raw, max_doc_bytes) for raw in raws]
    positions = [pos for _, ps, _ in parsed for pos in ps or ()]
    counts = np.array([len(ps or ()) for _, ps, _ in parsed], dtype=np.int64)
    return (parsed, counts, _coords([p[1] for p in positions]),
            _coords([p[0] for p in positions]))


def _write_back(doc: tuple, elevs) -> tuple:
    """Write each number of ``elevs`` back as its position's coords[2]
    (a NULL / NaN elevation leaves the position as it was).  Returns the
    output row (geojson_out, n_positions, n_enriched, status)."""
    obj, positions, status = doc
    if status is not None:
        return None, 0, 0, status
    n_enr = 0
    for pos, ele in zip(positions, elevs):
        if ele is not None and ele == ele:  # not NaN
            pos[2:3] = [float(ele)]
            n_enr += 1
    try:
        out = canonical_json(obj)
    except RecursionError:  # nested within a frame or two of the limit
        return None, 0, 0, "NOT_GEOJSON"
    n_pos = len(positions)
    return (out, n_pos, n_enr,
            "EMPTY" if n_pos == 0 else "OK" if n_enr == n_pos else "PARTIAL")


_FLAT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("pos_idx", T.IntegerType(), False),
    T.StructField("lat", T.DoubleType(), True),
    T.StructField("lon", T.DoubleType(), True),
])


def flatten_geojson(docs: DataFrame, url_col: str = "url",
                    geojson_col: str = "geojson",
                    max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES) -> DataFrame:
    """One row per GeoJSON position: (url, pos_idx, lat, lon).  Invalid,
    non-GeoJSON, malformed-position, or oversize documents yield no rows
    here; they are re-detected (and statused) by reassembly, so the
    flatten stays a pure generator.  The size cap is a JVM-side filter —
    oversize payloads never cross the Arrow boundary."""
    docs = docs.filter(F.octet_length(F.col(geojson_col)) <= max_doc_bytes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _, counts, lat, lon = _parse_batch(pdf[geojson_col], max_doc_bytes)
            starts = np.repeat(np.cumsum(counts) - counts, counts)
            yield pd.DataFrame({
                "url": pd.Series(np.repeat(pdf[url_col].to_numpy(dtype=object), counts),
                                 dtype=object),
                "pos_idx": pd.Series(np.arange(len(lat)) - starts, dtype="int32"),
                "lat": lat, "lon": lon})

    return docs.select(url_col, geojson_col).mapInPandas(gen, _FLAT_SCHEMA)


_DOC_OUT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("geojson_out", T.StringType(), True),
    T.StructField("n_positions", T.IntegerType(), False),
    T.StructField("n_enriched", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
])


def _doc_frame(urls, parsed: list, elevs) -> pd.DataFrame:
    """The _DOC_OUT_SCHEMA batch: one _write_back row per document."""
    rows = [_write_back(doc, e) for doc, e in zip(parsed, elevs)]
    out, n_pos, n_enr, status = (list(c) for c in zip(*rows)) if rows else [[]] * 4
    return pd.DataFrame({
        "url": pd.Series(list(urls), dtype=object),
        "geojson_out": pd.Series(out, dtype=object),
        "n_positions": pd.Series(n_pos, dtype="int32"),
        "n_enriched": pd.Series(n_enr, dtype="int32"),
        "status": pd.Series(status, dtype=object),
    })


def reassemble_geojson(docs: DataFrame, enriched: DataFrame,
                       url_col: str = "url",
                       geojson_col: str = "geojson",
                       max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES) -> DataFrame:
    """Inverse of flatten (op 12): write elevations back as coords[2] in
    the original documents.  enriched: (url, pos_idx, elevation, ...).
    Output position order == input order.

    Physical shape (SURVEY.md §2 op-12): elevations are gathered per doc
    with a JVM-side ``sort_array(collect_list(struct(pos_idx, elevation)))``
    aggregation, hash-joined back to the documents, and the JSON rewrite
    runs as ONE batched mapInPandas — NOT a per-url cogroup (one Arrow
    batch per tiny group is ~30x slower at millions of docs)."""
    agg = (enriched.groupBy("url")
           .agg(F.sort_array(F.collect_list(F.struct("pos_idx", "elevation")))
                .alias("_elevs")))
    joined = (docs.select(F.col(url_col).alias("url"), geojson_col)
              .join(agg, "url", "left"))

    def gen(batches):
        for pdf in batches:
            # the fused pass's call path, so a document nested right at the
            # recursion limit gets the same status on both
            parsed = _parse_batch(pdf[geojson_col], max_doc_bytes)[0]
            elevs = [[e["elevation"] for e in rows] if rows is not None else []
                     for rows in pdf["_elevs"]]
            yield _doc_frame(pdf["url"], parsed, elevs)

    return joined.mapInPandas(gen, _DOC_OUT_SCHEMA)


def _fused_pass(docs: DataFrame, bc: Broadcast, interpolation: str,
                max_doc_bytes: int) -> DataFrame:
    """Single-pass POST /geojson over the broadcast tile map: ONE
    mapInPandas walks, enriches (the same batch lookup as enrich_points'
    broadcast strategy) and rewrites each document in place — one JSON
    parse + one dump per doc, ZERO shuffle, and the document string
    crosses the Arrow boundary once each way (the flatten→enrich→reassemble
    pipeline parses twice and ships the doc text in twice).  Output rows,
    statuses and elevations are identical to the pipeline's (same parse,
    same kernel, same write-back).  The docs' tiles are only knowable by
    parsing them, so the map holds the WHOLE tile table: add_elevation_docs
    builds it only under its broadcast threshold."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tile_map = bc.value
        for pdf in batches:
            parsed, counts, lat, lon = _parse_batch(pdf["geojson"], max_doc_bytes)
            elev, _ = _lookup_batch(tile_map, lat, lon, interpolation)
            yield _doc_frame(pdf["url"], parsed, np.split(elev, np.cumsum(counts)[:-1]))

    # Map-only: parallelism comes from the input scan, as at real scale.
    # Deliberately NO local repartition for thin fixture inputs — spreading
    # a tiny corpus across 32 workers makes every worker cold-decode every
    # tile into its own cache (measured 3-5x slower end-to-end than letting
    # one warm worker stream through it).  Callers with a genuinely large
    # single-file input should .repartition() before calling.
    return docs.select("url", "geojson").mapInPandas(gen, _DOC_OUT_SCHEMA)


def add_elevation_docs(docs: DataFrame, tiles: DataFrame, *,
                       interpolation: str = "bilinear",
                       strategy: str = "auto",
                       max_doc_bytes: int = DEFAULT_MAX_DOC_BYTES,
                       broadcast_bytes_threshold: int = 512 << 20) -> DataFrame:
    """The full POST /geojson equivalent.  Returns (url, geojson_out,
    n_positions, n_enriched, status).

    strategy="fused" runs the single-pass map-only form (_fused_pass)
    when the WHOLE tile table fits the broadcast threshold, falling back
    to the pipeline otherwise (the fused pass cannot prune tiles — ADVICE
    r3); "auto" makes the same size-probed choice, routing small tile
    tables through the fused form and large ones through the pipeline
    with enrich_points' own auto broadcast/cogroup pick; "broadcast" / "cogroup" force the flatten →
    enrich → re-assemble pipeline with that kernel-join strategy."""
    if strategy in ("fused", "auto"):
        sz, bc = _broadcast_tiles(tiles, threshold=broadcast_bytes_threshold)
        if bc is not None:
            return _fused_pass(docs, bc, interpolation, max_doc_bytes)
        if strategy == "fused":
            # the caller asked for the map-only single-pass plan by name;
            # the fallback is a materially different plan (shuffling,
            # double-parse) — downgrade loudly, not silently (ADVICE r4)
            import warnings
            warnings.warn(
                f"add_elevation_docs: strategy='fused' downgraded to the "
                f"flatten/enrich/reassemble pipeline — tile table is {sz} "
                f"bytes > broadcast threshold {broadcast_bytes_threshold}",
                RuntimeWarning, stacklevel=2)
        strategy = "auto"  # oversize: pipeline + enrich's own size probe
    flat = flatten_geojson(docs, max_doc_bytes=max_doc_bytes)
    # forward the caller's driver-memory bound: enrich's broadcast-vs-
    # cogroup pick must honor the same threshold the fused guard applied
    enriched = enrich_points(flat, tiles, interpolation=interpolation,
                             strategy=strategy,
                             broadcast_bytes_threshold=broadcast_bytes_threshold)
    return reassemble_geojson(docs, enriched, max_doc_bytes=max_doc_bytes)
