"""M2: GeoJSON coordinate-augmentation goldens (reference semantics:
geojson-elevation test suite shape — mock provider first, real tiles
second; byte-compared canonical JSON)."""

import json

import pytest

from helpers import ref_bilinear

from elevation_service_spark import fixtures
from elevation_service_spark.operators.geojson import (add_elevation_docs,
                                                       canonical_json,
                                                       flatten_geojson,
                                                       walk_positions)
from elevation_service_spark.sources.tiles import fixture_tiles_df


# --- independent golden walker (deliberately different code shape) ---------

def golden_augment(doc, provider):
    """Recursive augmentation mirroring geojson-elevation/index.js:
    provider(lat, lon) -> elevation or None; writes coords[2] in place."""
    def visit_coords(coords, depth):
        if depth == 0:
            ele = provider(coords[1], coords[0])
            if ele is not None:
                if len(coords) >= 3:
                    coords[2] = float(ele)
                else:
                    coords.append(float(ele))
        else:
            for c in coords:
                visit_coords(c, depth - 1)
    t = doc["type"]
    if t == "Point":
        visit_coords(doc["coordinates"], 0)
    elif t in ("MultiPoint", "LineString"):
        visit_coords(doc["coordinates"], 1)
    elif t in ("MultiLineString", "Polygon"):
        visit_coords(doc["coordinates"], 2)
    elif t == "MultiPolygon":
        visit_coords(doc["coordinates"], 3)
    elif t == "GeometryCollection":
        for g in doc["geometries"]:
            golden_augment(g, provider)
    elif t == "Feature":
        if doc.get("geometry"):
            golden_augment(doc["geometry"], provider)
    elif t == "FeatureCollection":
        for f in doc["features"]:
            golden_augment(f, provider)
    return doc


def mock_provider(lat, lon):
    return lat * 1000.0 + lon


# --- walk-level (pure python) ------------------------------------------------

def test_walk_order_and_mock_augmentation_all_types():
    for row in fixtures.geojson_docs():
        if row["url"].split("//")[1] in ("invalid_json", "non_geojson"):
            continue
        doc = json.loads(row["geojson"])
        golden = golden_augment(json.loads(row["geojson"]), mock_provider)
        # engine-side: walk + assign in visit order
        positions = list(walk_positions(doc))
        for pos in positions:
            ele = mock_provider(pos[1], pos[0])
            if len(pos) >= 3:
                pos[2] = float(ele)
            else:
                pos.append(float(ele))
        assert canonical_json(doc) == canonical_json(golden), row["url"]


def test_walk_rejects_non_geojson():
    with pytest.raises(ValueError):
        list(walk_positions({"hello": "world"}))


def test_properties_and_foreign_members_pass_through():
    doc = {"type": "Feature", "properties": {"a": [1, 2], "b": {"c": "d"}},
           "custom": "kept", "geometry": {"type": "Point", "coordinates": [11.5, 57.5]}}
    positions = list(walk_positions(doc))
    positions[0].append(123.0)
    out = json.loads(canonical_json(doc))
    assert out["properties"] == {"a": [1, 2], "b": {"c": "d"}}
    assert out["custom"] == "kept"
    assert out["geometry"]["coordinates"] == [11.5, 57.5, 123.0]


# --- Spark end-to-end ----------------------------------------------------------

def _docs_df(spark):
    rows = fixtures.geojson_docs()
    return spark.createDataFrame([(r["url"], r["geojson"]) for r in rows],
                                 ["url", "geojson"])


def test_flatten_geojson_spark(spark):
    df = _docs_df(spark)
    flat = {(r["url"], r["pos_idx"]): (r["lon"], r["lat"])
            for r in flatten_geojson(df).collect()}
    for row in fixtures.geojson_docs():
        name = row["url"]
        try:
            positions = list(walk_positions(json.loads(row["geojson"])))
        except (ValueError, KeyError):
            positions = []
        for i, pos in enumerate(positions):
            assert flat[(name, i)] == (float(pos[0]), float(pos[1]))


def test_add_elevation_docs_end_to_end_byte_compare(spark):
    docs = _docs_df(spark)
    tiles = fixture_tiles_df(spark)
    out = {r["url"]: r for r in add_elevation_docs(docs, tiles, strategy="broadcast").collect()}

    grids = {t[0]: fixtures.tile_grid(t[1], t[2], t[3]) for t in fixtures.FIXTURE_TILES}
    sw = {t[0]: (t[1], t[2]) for t in fixtures.FIXTURE_TILES}

    def tile_provider(lat, lon):
        from elevation_service_spark import kernels
        key = kernels.skadi_key(lat, lon)
        if key not in grids:
            return None
        try:
            return ref_bilinear(grids[key], lat, lon, *sw[key])
        except ValueError:
            return None

    for row in fixtures.geojson_docs():
        url = row["url"]
        r = out[url]
        if url.endswith("invalid_json"):
            assert r["status"] == "INVALID_JSON" and r["geojson_out"] is None
            continue
        if url.endswith("non_geojson"):
            assert r["status"] == "NOT_GEOJSON" and r["geojson_out"] is None
            continue
        golden = golden_augment(json.loads(row["geojson"]), tile_provider)
        assert r["geojson_out"] == canonical_json(golden), url  # byte-identical
        n_pos = len(list(walk_positions(json.loads(row["geojson"]))))
        assert r["n_positions"] == n_pos
        if url.endswith("empty_fc"):
            assert r["status"] == "EMPTY"
        else:
            assert r["status"] == "OK", url  # all fixture doc coords are on real tiles


def test_partial_status_for_missing_tile(spark):
    doc = {"type": "LineString", "coordinates": [[11.5, 57.5], [10.5, 10.5]]}
    docs = spark.createDataFrame([("u1", json.dumps(doc))], ["url", "geojson"])
    out = add_elevation_docs(docs, fixture_tiles_df(spark), strategy="broadcast").collect()[0]
    assert out["status"] == "PARTIAL"
    assert out["n_positions"] == 2 and out["n_enriched"] == 1
    coords = json.loads(out["geojson_out"])["coordinates"]
    assert len(coords[0]) == 3 and len(coords[1]) == 2  # missing tile untouched


def test_malformed_positions_status_not_geojson(spark):
    """Structurally-valid JSON with malformed positions (empty coords,
    non-numeric values, scalar coordinates) must be statused NOT_GEOJSON —
    never crash the Arrow worker (op-14 total error surface)."""
    bad = [
        ("empty_pos", '{"type":"Point","coordinates":[]}'),
        ("short_pos", '{"type":"Point","coordinates":[11.5]}'),
        ("str_pos", '{"type":"Point","coordinates":["a","b"]}'),
        ("bool_pos", '{"type":"Point","coordinates":[true,false]}'),
        ("scalar_coords", '{"type":"LineString","coordinates":[[11.5,57.5],7]}'),
        ("null_geom_pos", '{"type":"Feature","geometry":{"type":"MultiPoint",'
                          '"coordinates":[[11.5,57.5],[null,57.5]]}}'),
    ]
    good = ("good", '{"type":"Point","coordinates":[11.5,57.5]}')
    docs = spark.createDataFrame(bad + [good], ["url", "geojson"])
    out = {r["url"]: r for r in
           add_elevation_docs(docs, fixture_tiles_df(spark),
                              strategy="broadcast").collect()}
    for url, _ in bad:
        assert out[url]["status"] == "NOT_GEOJSON", (url, out[url])
        assert out[url]["geojson_out"] is None
    assert out["good"]["status"] == "OK"
    assert len(json.loads(out["good"]["geojson_out"])["coordinates"]) == 3


def test_too_large_document_statused_without_parse(spark):
    """MAX_POST_SIZE parity: a document over max_doc_bytes is statused
    TOO_LARGE, is never parsed (even if its JSON is invalid), and yields
    no positions; small docs in the same batch are untouched."""
    big = ('{"type":"Point","coordinates":[11.5,57.5],"pad":"'
           + "x" * 600 + '"}')
    big_invalid = '{"broken json ' + "y" * 600
    small = '{"type":"Point","coordinates":[11.5,57.5]}'
    docs = spark.createDataFrame(
        [("big", big), ("big_invalid", big_invalid), ("small", small)],
        ["url", "geojson"])
    out = {r["url"]: r for r in
           add_elevation_docs(docs, fixture_tiles_df(spark),
                              strategy="broadcast",
                              max_doc_bytes=500).collect()}
    for url in ("big", "big_invalid"):
        assert out[url]["status"] == "TOO_LARGE", out[url]
        assert out[url]["geojson_out"] is None
        assert out[url]["n_positions"] == 0
    assert out["small"]["status"] == "OK"


def test_fused_strategy_byte_identical_to_pipeline(spark):
    """add_elevation_docs(strategy='fused') must produce byte-identical
    rows (geojson_out included) to the flatten->enrich->reassemble form on
    the full fixture set — all 9 geometry/container types PLUS the error
    docs (invalid JSON, non-GeoJSON, malformed positions, empty), and
    inputs that used to fail the whole job: nesting past the recursion
    limit, and coordinates beyond the double range (an integer literal
    and the float literal 1e400); a JSON ``null`` document is NOT_GEOJSON
    on both paths."""
    nested = '{"type":"Point","coordinates":[11.5,57.5]}'
    for _ in range(900):  # ~40 KB, far under the size cap
        nested = '{"type":"GeometryCollection","geometries":[' + nested + ']}'
    hard = [("nested", nested),
            ("big_int", '{"type":"Point","coordinates":[1' + "0" * 400 + ',57.5]}'),
            ("big_float", '{"type":"Point","coordinates":[1e400,57.5]}'),
            ("json_null", "null")]
    rows = fixtures.geojson_docs()
    docs = spark.createDataFrame(
        [(r["url"], r["geojson"]) for r in rows] + hard, ["url", "geojson"])
    tiles = fixture_tiles_df(spark)
    pipe = sorted(map(tuple, add_elevation_docs(
        docs, tiles, strategy="broadcast").collect()))
    fused = sorted(map(tuple, add_elevation_docs(
        docs, tiles, strategy="fused").collect()))
    assert pipe == fused
    got = {r[0]: r for r in fused}
    assert got["nested"][1:] == (None, 0, 0, "INVALID_JSON")
    assert got["json_null"][1:] == (None, 0, 0, "NOT_GEOJSON")
    for url in ("big_int", "big_float"):
        assert got[url][2:] == (1, 0, "PARTIAL"), got[url]
    # the fused plan is map-only: no Exchange anywhere
    plan = (add_elevation_docs(docs, tiles, strategy="fused")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_fused_broadcast_guard_and_auto_routing(spark):
    """ADVICE r3: the fused form collects the WHOLE tile table (it cannot
    prune without parsing docs), so (a) strategy='auto' routes small tile
    sets through the fused map-only plan and (b) an over-threshold table
    falls back to the prunable pipeline instead of an unbounded driver
    collect."""
    import pytest

    rows = fixtures.geojson_docs()
    docs = spark.createDataFrame(
        [(r["url"], r["geojson"]) for r in rows], ["url", "geojson"])
    tiles = fixture_tiles_df(spark)
    # (a) auto -> fused on a small tile set: map-only plan
    auto_df = add_elevation_docs(docs, tiles, strategy="auto")
    assert "Exchange" not in auto_df._jdf.queryExecution().executedPlan().toString()
    # (b) tiny threshold forces the pipeline fallback — still correct
    # rows, and the downgrade of an EXPLICITLY requested fused plan is
    # loud (ADVICE r4: callers relying on the map-only form must see it)
    small = sorted(map(tuple, auto_df.collect()))
    with pytest.warns(RuntimeWarning, match="downgraded"):
        piped_df = add_elevation_docs(
            docs, tiles, strategy="fused", broadcast_bytes_threshold=10)
    piped = sorted(map(tuple, piped_df.collect()))
    assert small == piped
    # auto's size-probed routing is a CHOICE, not a downgrade: no warning
    import warnings
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        add_elevation_docs(docs, tiles, strategy="auto",
                           broadcast_bytes_threshold=10)
