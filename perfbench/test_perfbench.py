"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

The oracle and self-time tests need no Spark; the end-to-end test runs
every workload through ``run.main`` in one process (one JVM), untraced and
traced, on a few hundred items.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import inputs, oracle, run  # noqa: E402
from perfbench.layers import PER_LAYER_UNITS  # noqa: E402
from perfbench.trace import Span, compute_self_times, parse_sql_metric  # noqa: E402

TINY = {"points_uniform": 2_000, "pages_skewed": 200, "geojson_docs": 60}


# --- oracle -------------------------------------------------------------------

def _engine_like_output(workload: str, golden: Path) -> pa.Table:
    """The oracle's expected rows shaped like the engine's output table."""
    exp = oracle.expected_table(golden)
    if workload == "points_uniform":
        return exp.select(["id", "lat", "lon", "tile_key", "elevation", "status"])
    ts = pa.array(exp.column("warc_us").to_numpy(), pa.timestamp("us", tz="UTC"))
    return exp.select(["url", "point_idx", "lat", "lon", "matched", "tile_key",
                       "elevation", "status"]).append_column("warc_ts", ts)


def _write(tab: pa.Table, out_dir: Path) -> Path:
    out_dir.mkdir(parents=True)
    pq.write_table(tab, out_dir / "part-0.parquet")
    return out_dir


def _bump_one_elevation(tab: pa.Table) -> pa.Table:
    """The first non-null elevation moved one ulp up."""
    elev = tab.column("elevation").to_numpy(zero_copy_only=False).copy()
    i = int(np.nonzero(~np.isnan(elev))[0][0])
    elev[i] = np.nextafter(elev[i], np.inf)
    return tab.set_column(tab.schema.get_field_index("elevation"), "elevation",
                          pa.array(elev, pa.float64(), mask=np.isnan(elev)))


def _engine_like_docs(input_dir: Path, golden: Path, bump: bool) -> pa.Table:
    """The engine's document table (url, geojson_out, n_positions,
    n_enriched, status): each input document with the oracle's elevation
    appended to every enriched position; with ``bump`` the first enriched
    position's elevation is one ulp off."""
    exp = oracle.expected_table(golden)
    if bump:
        exp = _bump_one_elevation(exp)
    elev = {(r["url"], r["pos_idx"]): r["elevation"] for r in exp.to_pylist()}
    rows = []
    for doc in pq.read_table(input_dir / "input").to_pylist():
        obj = json.loads(doc["geojson"])
        geom = obj["geometry"]
        positions = (geom["coordinates"][0] if geom["type"] == "Polygon"
                     else geom["coordinates"])
        for i, pos in enumerate(positions):
            e = elev[(doc["url"], i)]
            if e is not None:
                pos.append(e)
        n_enriched = sum(len(pos) > 2 for pos in positions)
        rows.append({"url": doc["url"], "geojson_out": json.dumps(obj),
                     "n_positions": len(positions), "n_enriched": n_enriched,
                     "status": "OK" if n_enriched == len(positions) else "PARTIAL"})
    return pa.Table.from_pylist(rows)


@pytest.mark.parametrize("workload", list(TINY))
def test_corrupted_output_row_fails_the_oracle(tmp_path, workload):
    d, _ = inputs.ensure_inputs(tmp_path / "inputs", workload, 7, TINY[workload], 2)
    golden = d / "golden.parquet"
    if workload == "geojson_docs":
        good = _engine_like_docs(d, golden, bump=False)
        bad = _engine_like_docs(d, golden, bump=True)
    else:
        good = _engine_like_output(workload, golden)
        bad = _bump_one_elevation(good)
    chk = oracle.check(workload, golden, _write(good, tmp_path / "good"))
    assert chk.correct and chk.failed == 0 and chk.attempted > 0

    # one elevation one ulp off: bit-exact comparison must catch it
    chk = oracle.check(workload, golden, _write(bad, tmp_path / "bad"))
    assert not chk.correct
    assert chk.failed == 1


def test_seeds_share_counts_and_status_shares(tmp_path):
    hist = []
    for seed in (1, 2):
        d, _ = inputs.ensure_inputs(tmp_path, "points_uniform", seed, 2_000, 2)
        g = pq.read_table(d / "golden.parquet")
        hist.append(sorted(zip(*np.unique(g.column("status").to_numpy(
            zero_copy_only=False), return_counts=True))))
    assert hist[0] == hist[1]
    a = pq.read_table(tmp_path / "points_uniform-seed1-n2000-f2" / "input")
    b = pq.read_table(tmp_path / "points_uniform-seed2-n2000-f2" / "input")
    assert a.num_rows == b.num_rows and a.column("lat") != b.column("lat")


# --- trace --------------------------------------------------------------------

def test_self_times_sum_to_wall_with_overlapping_children():
    root = Span("run", 0.0, 10.0)
    p = root.add("pass", 1.0, 9.0)
    p.add("job 1", 2.0, 6.0).add("stage 1", 2.5, 5.0)
    p.add("job 2", 4.0, 8.0)      # overlaps job 1 (concurrent AQE stages)
    root.add("late", 9.5, 12.0)   # clipped to the root
    compute_self_times(root)
    assert sum(s.self_s for s in root.walk()) == pytest.approx(root.wall)
    assert root.self_s == pytest.approx(1.5)   # [0,1] + [9,9.5]
    assert p.self_s == pytest.approx(2.0)      # [1,2] + [8,9]


def test_parse_sql_metric():
    assert parse_sql_metric("20,000") == (20000.0, None)
    v, st = parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                             "9.3 s (2.3 s, 2.4 s, 2.4 s (stage 12.0: task 22))")
    assert v == pytest.approx(9300.0) and st == (12, 0)
    assert parse_sql_metric("176.7 KiB")[0] == pytest.approx(176.7 * 1024)


# --- end to end ---------------------------------------------------------------

def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_every_workload_prints_each_metric_with_its_unit(capsys, monkeypatch, trace):
    """Each workload prints exactly the metrics BENCHMARK.json declares.

    The traced run also checks that the Spark-sourced layer metrics read
    where they should: the Arrow boundary on every workload, the regex
    stage, shuffle and salting on pages_skewed only, the tile broadcast off
    it.  The engine salts a tile past 200k points, which neither the tiny
    nor the full-size pages input reaches; the traced run lowers that
    threshold so that the salted cogroup plan runs and is detected."""
    from elevation_service_spark.operators import lookup
    monkeypatch.setattr(run, "SIZES", TINY)
    if trace:
        monkeypatch.setattr(lookup._enrich_cogroup, "__defaults__", (100, 64))
    declared = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in declared["workloads"]] == list(TINY)
    units = {m["name"]: m["unit"]
             for m in declared["end_to_end" if trace == 0 else "per_layer"]}
    assert units == (run.END_TO_END if trace == 0 else PER_LAYER_UNITS)
    for workload in TINY:
        assert run.main(["--workload", workload, "--seed", "5", "--seconds", "0",
                         "--trace", str(trace)]) == 0
        res = _last_json(capsys)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0
        assert {k: m["unit"] for k, m in res["metrics"].items()} == units
        assert all(isinstance(m["value"], (int, float)) for m in res["metrics"].values())
        if trace:
            spans = json.loads((run.WORK / "traces" /
                                f"{workload}-seed5-trace1.json").read_text())

            def walk(s):
                yield s
                for c in s["children"]:
                    yield from walk(c)
            assert sum(s["self_s"] for s in walk(spans)) == \
                pytest.approx(spans["wall_s"], rel=1e-6)
            m = {k: v["value"] for k, v in res["metrics"].items()}
            pages = workload == "pages_skewed"
            assert m["python.total_ms"] > 0
            assert (m["shuffle.read_mb"] > 0) == pages
            assert (m["extract.scan_stage_ms"] > 0) == pages
            assert m["lookup.salted"] == float(pages)
            assert (m["tiles.broadcast_bytes"] > 0) == (not pages)
