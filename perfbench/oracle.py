"""DuckDB oracle: the closed-form DEM bilinear over the generated inputs.

The expected elevation of every planted coordinate is recomputed in DuckDB
SQL from the integer-lattice DEM (FIXTURES.md, "Synthetic DEM") with the
same IEEE-754 operation sequence as the engine's bilinear kernel, mirroring
``queries._BILINEAR_ORACLE`` and the ``queries._dem_sql`` exactness rules:
integer lattice arithmetic cast to DOUBLE, no libm, the reference op order
``avg(avg(v00, v10, cf), avg(v01, v11, cf), rf)``.  Doubles are compared
bit for bit (``IS DISTINCT FROM``), never with a tolerance.

``check(workload, golden, output)`` returns a ``Check``: items attempted,
items failed (an item fails if one of its output rows is missing, extra or
differs), and the row count, status histogram and order-independent digest
of both sides.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _dem_sql(r: str, c: str) -> str:
    return ("CAST((((sw_lat + 90) * (size - 1) + (%s)) * 31 + "
            "((sw_lon + 180) * (size - 1) + (%s)) * 17) %% 2000 - 1000 AS DOUBLE)"
            % (r, c))


def bilinear_sql(src: str) -> str:
    """Every column of ``src`` (golden rows) plus ``elevation``: the
    closed-form bilinear where the golden status is OK, else NULL."""
    return f"""
WITH g AS (SELECT *, (lat - sw_lat) * (size - 1) AS rw,
                  (lon - sw_lon) * (size - 1) AS cl FROM {src}),
h AS (SELECT *, CAST(floor(rw) AS BIGINT) AS r0, CAST(floor(cl) AS BIGINT) AS c0,
             rw - floor(rw) AS rf, cl - floor(cl) AS cf FROM g),
v AS (SELECT *,
  {_dem_sql('r0', 'c0')} AS v00,
  {_dem_sql('r0', 'c0 + 1')} AS v10,
  {_dem_sql('r0 + 1', 'c0')} AS v01,
  {_dem_sql('r0 + 1', 'c0 + 1')} AS v11
  FROM h)
SELECT * EXCLUDE (rw, cl, r0, c0, rf, cf, v00, v10, v01, v11),
  CASE WHEN status = 'OK' THEN
    (v00 + (v10 - v00) * cf) + ((v01 + (v11 - v01) * cf) - (v00 + (v10 - v00) * cf)) * rf
  END AS elevation
FROM v"""


@dataclass(frozen=True)
class _Pair:
    """One expected/output relation pair (``exp_<name>``, ``out_<name>``),
    unique on ``keys``; both carry an ``item`` column naming the input item
    (point, page, document) a row belongs to."""
    name: str
    keys: tuple[str, ...]
    cols: tuple[str, ...]        # compared bit for bit
    digest: tuple[str, ...]      # hashed into the order-independent digest
    status: str                  # histogrammed


# Out-of-range points carry a tile key that names no tile; both sides null it
_POINTS_COLS = ("id AS item, id, lat, lon, elevation, status, "
                "CASE WHEN status = 'OUT_OF_BOUNDS' THEN NULL ELSE tile_key END AS tile_key")
_PAGES_COLS = ("url AS item, url, point_idx, lat, lon, matched, warc_us, "
               "tile_key, elevation, status")
_DOC_STATUS = "CASE WHEN count(elevation) = count(*) THEN 'OK' ELSE 'PARTIAL' END"

_SPECS = {
    "points_uniform": [_Pair("rows", ("id",),
                             ("lat", "lon", "elevation", "status", "tile_key"),
                             ("id", "elevation", "status"), "status")],
    "pages_skewed": [_Pair("rows", ("url", "point_idx"),
                           ("lat", "lon", "matched", "warc_us", "tile_key",
                            "elevation", "status"),
                           ("url", "point_idx", "elevation", "status"), "status")],
    "geojson_docs": [
        _Pair("docs", ("url",), ("n_positions", "n_enriched", "status"),
              ("url", "n_positions", "n_enriched", "status"), "status"),
        _Pair("positions", ("url", "pos_idx"), ("lon", "lat", "elevation"),
              ("url", "pos_idx", "elevation"),
              "CASE WHEN elevation IS NULL THEN 'UNENRICHED' ELSE 'ENRICHED' END"),
    ],
}


@dataclass
class Check:
    attempted: int
    failed: int
    rows: dict       # {pair: {"expected": n, "output": n}}
    statuses: dict   # {pair: {"expected": {status: n}, "output": {status: n}}}
    digests: dict    # {pair: {"expected": h, "output": h}}

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(
            d["expected"] == d["output"]
            for part in (self.rows, self.statuses, self.digests)
            for d in part.values())


def _geojson_output(con, output: Path) -> None:
    """Register the engine's documents and their parsed positions."""
    docs = pq.read_table(output, columns=["url", "geojson_out", "n_positions",
                                         "n_enriched", "status"])
    urls, idx, lons, lats, elevs = [], [], [], [], []
    for url, raw in zip(docs.column("url").to_pylist(),
                        docs.column("geojson_out").to_pylist()):
        if raw is None:
            continue
        geom = json.loads(raw)["geometry"]
        positions = (geom["coordinates"][0] if geom["type"] == "Polygon"
                     else geom["coordinates"])
        for i, pos in enumerate(positions):
            urls.append(url)
            idx.append(i)
            lons.append(pos[0])
            lats.append(pos[1])
            elevs.append(pos[2] if len(pos) > 2 else None)
    con.register("out_docs_raw", docs.drop_columns(["geojson_out"]))
    con.register("out_positions_raw", pa.table({
        "url": urls, "pos_idx": pa.array(idx, pa.int32()),
        "lon": pa.array(lons, pa.float64()), "lat": pa.array(lats, pa.float64()),
        "elevation": pa.array(elevs, pa.float64())}))
    con.execute("CREATE VIEW out_docs AS SELECT url AS item, * FROM out_docs_raw")
    con.execute("CREATE VIEW out_positions AS SELECT url AS item, * "
                "FROM out_positions_raw")
    con.execute("CREATE VIEW exp_positions AS SELECT url AS item, url, pos_idx, "
                "lon, lat, elevation FROM expected")
    con.execute(f"CREATE VIEW exp_docs AS SELECT url AS item, url, "
                f"count(*)::INT AS n_positions, count(elevation)::INT AS n_enriched, "
                f"{_DOC_STATUS} AS status FROM expected GROUP BY url")


def _bad_items_sql(p: _Pair) -> str:
    """(item, bad) per key of either side: bad when the key is missing on
    one side, repeated in the output, or any compared column differs."""
    keys = ", ".join(p.keys)
    any_cols = ", ".join(f"any_value({c}) AS {c}" for c in p.cols)
    on = " AND ".join(f"o.{k} = e.{k}" for k in p.keys)
    differs = " OR ".join(f"o.{c} IS DISTINCT FROM e.{c}" for c in p.cols)
    return f"""SELECT coalesce(o.item, e.item) AS item,
       (o.n IS NULL OR e.item IS NULL OR o.n <> 1 OR {differs}) AS bad
FROM (SELECT {keys}, any_value(item) AS item, count(*) AS n, {any_cols}
      FROM out_{p.name} GROUP BY {keys}) o
FULL OUTER JOIN exp_{p.name} e ON {on}"""


def _summary(con, rel: str, p: _Pair) -> tuple[int, dict, str]:
    n, digest = con.execute(
        f"SELECT count(*), coalesce(sum(hash({', '.join(p.digest)})::HUGEINT), 0)"
        f"::VARCHAR FROM {rel}").fetchone()
    hist = dict(con.execute(
        f"SELECT {p.status} AS s, count(*) FROM {rel} GROUP BY 1 ORDER BY 1").fetchall())
    return n, hist, digest


def check(workload: str, golden: Path, output: Path) -> Check:
    """Compare the engine's parquet ``output`` directory with the oracle
    over ``golden`` (the generator's planted coordinates)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        src = f"read_parquet('{golden}')"
        con.execute(f"CREATE TABLE expected AS {bilinear_sql(src)}")
        out = f"read_parquet('{output}/*.parquet')"
        if workload == "points_uniform":
            con.execute(f"CREATE VIEW out_rows AS SELECT {_POINTS_COLS} FROM {out}")
            con.execute(f"CREATE VIEW exp_rows AS SELECT {_POINTS_COLS} FROM expected")
        elif workload == "pages_skewed":
            con.execute(f"CREATE VIEW out_rows AS SELECT {_PAGES_COLS} FROM "
                        f"(SELECT *, epoch_us(warc_ts) AS warc_us FROM {out})")
            con.execute(f"CREATE VIEW exp_rows AS SELECT {_PAGES_COLS} FROM expected")
        else:
            _geojson_output(con, output)
        pairs = _SPECS[workload]
        union = " UNION ALL ".join(f"({_bad_items_sql(p)})" for p in pairs)
        failed = con.execute(
            f"SELECT count(DISTINCT item) FILTER (WHERE bad) FROM ({union})"
        ).fetchone()[0]
        item_col = "id" if workload == "points_uniform" else "url"
        attempted = con.execute(
            f"SELECT count(DISTINCT {item_col}) FROM expected").fetchone()[0]
        rows, statuses, digests = {}, {}, {}
        for p in pairs:
            n_e, s_e, h_e = _summary(con, f"exp_{p.name}", p)
            n_o, s_o, h_o = _summary(con, f"out_{p.name}", p)
            rows[p.name] = {"expected": n_e, "output": n_o}
            statuses[p.name] = {"expected": s_e, "output": s_o}
            digests[p.name] = {"expected": h_e, "output": h_o}
        return Check(attempted=attempted, failed=min(failed, attempted),
                     rows=rows, statuses=statuses, digests=digests)
    finally:
        con.close()


def expected_table(golden: Path) -> pa.Table:
    """The oracle's expected rows for ``golden`` (tests build outputs from
    these)."""
    con = duckdb.connect()
    try:
        return con.execute(bilinear_sql(f"read_parquet('{golden}')")).arrow()
    finally:
        con.close()
