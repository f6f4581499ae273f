"""Enrichment benchmark: three workloads through the engine's public calls.

    python3 perfbench/run.py --workload points_uniform --seed 1 --seconds 5 --trace 0

A run generates (or reuses) the workload's seed-keyed inputs, sets the Spark
session up (session start + ``read_tiles`` + an untimed same-shape warm-up
pass over the full input, whose parquet output is checked against the
DuckDB oracle), and then times passes for ``--seconds`` seconds and at
least ``MIN_PASSES`` passes.  A pass runs from the call into the public
function, eager probe jobs included, to the end of a ``noop`` write.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).  Everything else goes to stderr and
to ``.perfbench/`` in the checkout: the run artifact with the host-weather
record, and with ``--trace 1`` the span tree.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

#: measured input items per workload (points, pages, documents)
SIZES = {"points_uniform": 300_000, "pages_skewed": 16_000, "geojson_docs": 6_000}
#: Timed passes per run at least, however long they take.  Passes keep
#: speeding up for a few passes after the warm-up (the driver JVM still
#: compiling the planner); with a fixed minimum the median sits at the same
#: point of that curve in every run, where a bare time limit would take the
#: middle of two passes in one run and of three in the next.
MIN_PASSES = 3
END_TO_END = {"items_per_s": "1/s", "setup_s": "s", "peak_worker_rss_mb": "MB"}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _scratch_in_checkout() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # java.io.tmpdir for Spark's scratch files; no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


# --- host weather -------------------------------------------------------------

def cpu_probe_mops(procs: int) -> float:
    """All-core integer-loop throughput from a clean child process, taken
    before the session starts (a live py4j JVM depresses it)."""
    probe = Path(__file__).with_name("cpu_probe.py")
    out = subprocess.run([sys.executable, str(probe), str(procs)], check=True,
                         capture_output=True, text=True, timeout=60)
    return float(out.stdout.strip())


# --- workloads ----------------------------------------------------------------

def build(workload: str, spark, tiles, input_dir: Path, tracer, cache_metrics=None):
    """The workload's DataFrame, built through the engine's public calls
    inside spans named by layer."""
    from elevation_service_spark.operators.extract import extract_coords
    from elevation_service_spark.operators.geojson import add_elevation_docs
    from elevation_service_spark.operators.lookup import enrich_points

    with tracer.span("input.read"):
        src = spark.read.parquet(str(input_dir / "input"))
    if workload == "points_uniform":
        with tracer.span("lookup.plan"):
            return enrich_points(src, tiles, cache_metrics=cache_metrics)
    if workload == "pages_skewed":
        with tracer.span("extract.plan"):
            pts = extract_coords(src, keep_cols=("url", "warc_ts"))
        with tracer.span("lookup.plan"):
            return enrich_points(pts, tiles, strategy="cogroup")
    with tracer.span("geojson.plan"):
        return add_elevation_docs(src, tiles)


def run_pass(workload, spark, tiles, input_dir, tracer, name, out_path=None,
             status=None, cache_metrics=None):
    """One pass: public call(s) then the action (noop, or parquet when
    ``out_path`` is given).  With ``status`` the pass's Spark jobs and
    stages are read back and hung under its spans."""
    if status is not None:
        status.mark()
    with tracer.span(name) as pass_span:
        df = build(workload, spark, tiles, input_dir, tracer, cache_metrics)
        with tracer.span("action"):
            w = df.write.mode("overwrite")
            if out_path is None:
                w.format("noop").save()
            else:
                w.parquet(str(out_path))
    if status is not None:
        attach_spark(pass_span, status)
    return pass_span


def attach_spark(pass_span, status) -> None:
    """Hang the pass's jobs under the span open at their submission, and
    each job's stages under the job; keep Python-node metrics on the pass."""
    jobs = status.jobs_since_mark()
    stages = status.stages({s for j in jobs for s in j["stage_ids"]})
    leaves = [s for s in pass_span.walk() if s is not pass_span]
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        parent = next((s for s in reversed(leaves)
                       if s.start <= j["start"] <= s.end), pass_span)
        js = parent.add(f"job {j['id']}", j["start"], j["end"], kind="job")
        for sid in j["stage_ids"]:
            st = stages.get(sid)
            if st and st["start"] and st["end"]:
                js.add(f"stage {sid}", st["start"], st["end"], kind="stage",
                       stage_id=sid, **{k: v for k, v in st.items()
                                        if k not in ("start", "end")})
    pass_span.attrs.update(status.plan_nodes_since_mark())
    pass_span.attrs["stages"] = stages
    pass_span.attrs["broadcast_bytes"] = status.broadcast_bytes


# --- the run ------------------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def code_digest() -> str:
    """Hash of the engine's and the benchmark's Python sources.  The input
    and tile caches live under it, so a working tree that runs two commits
    never reads files the other commit's code wrote."""
    h = hashlib.sha256()
    for f in sorted([*(ROOT / "elevation_service_spark").rglob("*.py"),
                     *(ROOT / "perfbench").glob("*.py")]):
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def ensure_tiles(spark, tiles_rows, cache: Path) -> Path:
    """The five closed-form fixture tiles, written once per code digest with
    ``write_tiles``; later runs read the same files."""
    from elevation_service_spark.sources.tiles import TILES_SCHEMA, write_tiles
    path = cache / "tiles"
    if (path / "_SUCCESS").exists():
        return path
    df = spark.createDataFrame(
        [(r["tile_key"], r["z"], r["x"], r["y"], r["sw_lat"], r["sw_lon"],
          r["size"], r["encoding"], bytearray(r["data"])) for r in tiles_rows],
        schema=TILES_SCHEMA)
    write_tiles(df, str(path))
    return path


def kernel_layer(tiles_rows) -> dict:
    """Direct kernel timings in the driver: bilinear ns per point on a fixed
    array, and decode ms (bytes -> float64 grid, the grid cache's miss
    cost) per encoding."""
    import numpy as np
    from elevation_service_spark import kernels
    from elevation_service_spark.operators.lookup import decode_tile_bytes

    def median_ms(fn, reps=5):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append((time.perf_counter() - t0) * 1e3)
        return _median(ts)

    by_key = {r["tile_key"]: r for r in tiles_rows}
    out = {}
    for label, key in (("hgt", "N57E011"), ("hgt_gz", "S34W071"),
                       ("terrarium_png", "S01W001"), ("srtm1", "N00E000")):
        r = by_key[key]
        out[f"kernels.decode_ms.{label}"] = median_ms(
            lambda: decode_tile_bytes(r["encoding"], r["data"]).astype(np.float64))
    r = by_key["N57E011"]
    grid = decode_tile_bytes(r["encoding"], r["data"]).astype(np.float64)
    rng = np.random.default_rng(0)
    n = 1_000_000
    lat = 57 + rng.integers(20, 980, n) / 1000.0
    lon = 11 + rng.integers(20, 980, n) / 1000.0
    out["kernels.bilinear_ns_per_point"] = median_ms(
        lambda: kernels.lookup_elevation(grid, 57, 11, lat, lon)) * 1e6 / n
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import elevation_service_spark  # noqa: F401
    except ImportError as exc:
        _log(f"the engine is not importable from {ROOT}: {exc}")
        return 2
    _scratch_in_checkout()
    from perfbench import inputs, oracle
    from perfbench.trace import SparkStatus, Tracer, memory_mb

    from elevation_service_spark import fixtures

    workload, traced = args.workload, bool(args.trace)
    n_items = SIZES[workload]
    cores = len(os.sched_getaffinity(0))
    files = max(4, cores)
    tracer = Tracer(f"run {workload} seed={args.seed} trace={args.trace}")
    weather = {"nproc": cores, "loadavg_before": os.getloadavg()}
    with tracer.span("host.cpu_probe"):
        weather["cpu_probe_mops"] = cpu_probe_mops(cores)

    cache = WORK / f"cache-{code_digest()}"
    with tracer.span("gen.inputs") as gen:
        in_dir, gen_s = inputs.ensure_inputs(cache / "inputs", workload, args.seed,
                                             n_items, files)
        tiles_rows = fixtures.tiles_rows()
        gen.attrs["generated_s"] = gen_s
    _log(f"inputs ready: {in_dir.name} (generated in {gen_s:.2f} s)")

    from elevation_service_spark.operators.lookup import grid_cache_accumulators
    from elevation_service_spark.session import get_spark
    from elevation_service_spark.sources.tiles import read_tiles

    # set-up: session, tiles, and the warm-up pass, which is also the
    # verification pass (full input, parquet output for the oracle)
    out_dir = WORK / "out" / f"{workload}-seed{args.seed}"
    with tracer.span("setup"):
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = get_spark(app="perfbench", cpus=cores)
            spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - t0
        with tracer.span("gen.tiles"):
            tiles_dir = ensure_tiles(spark, tiles_rows, cache)
        t1 = time.perf_counter()
        with tracer.span("tiles.read"):
            tiles = read_tiles(spark, str(tiles_dir))
        t_tiles = time.perf_counter() - t1
        status = SparkStatus(spark) if traced else None
        t2 = time.perf_counter()
        warm = run_pass(workload, spark, tiles, in_dir, tracer, "warmup",
                        out_path=out_dir, status=status)
        t_warm = time.perf_counter() - t2
    setup = {"session_s": t_session, "tiles_s": t_tiles, "warmup_s": t_warm,
             "setup_s": t_session + t_tiles + t_warm}
    _log(f"setup: {setup}")
    with tracer.span("oracle"):
        chk = oracle.check(workload, in_dir / "golden.parquet", out_dir)
    _log(f"oracle: attempted={chk.attempted} failed={chk.failed} "
         f"rows={chk.rows} statuses={chk.statuses}")
    result = {"correct": chk.correct, "attempted": chk.attempted,
              "failed": chk.failed, "metrics": {}}
    artifact = {"workload": workload, "seed": args.seed, "trace": args.trace,
                "items": n_items, "files": files, "host": weather,
                "setup": setup, "check": chk.__dict__}

    if chk.correct:
        acc = grid_cache_accumulators(spark) if traced else None
        walls, untraced_walls, traced_passes = [], [], []
        t_end = time.perf_counter() + args.seconds
        i = 0
        while len(walls) < MIN_PASSES or time.perf_counter() < t_end:
            # the traced run alternates traced and untraced passes, so the
            # tracing overhead is measured within one process
            trace_this = traced and i % 2 == 0
            p = run_pass(workload, spark, tiles, in_dir, tracer, "pass",
                         status=status if trace_this else None,
                         cache_metrics=acc if trace_this else None)
            if trace_this:
                traced_passes.append(p)
            (untraced_walls if traced and not trace_this else walls).append(p.wall)
            i += 1
        mem = memory_mb(os.getpid())
        artifact.update(pass_walls_s=walls, untraced_pass_walls_s=untraced_walls,
                        memory=mem)
        if not traced:
            result["metrics"] = {
                "items_per_s": n_items / _median(walls),
                "setup_s": setup["setup_s"],
                "peak_worker_rss_mb": mem["peak_worker_rss_mb"],
            }
        else:
            from perfbench.layers import per_layer
            result["metrics"] = per_layer(
                workload=workload, n_items=n_items, passes=traced_passes,
                walls=walls, untraced_walls=untraced_walls, setup=setup,
                warm=warm, acc=acc, mem=mem, check=chk, status=status,
                kernel=kernel_layer(tiles_rows), gen_s=gen_s, weather=weather)
    spark.stop()
    weather["loadavg_after"] = os.getloadavg()
    root = tracer.finish()
    tag = f"{workload}-seed{args.seed}-trace{args.trace}"
    if traced:
        tracer.write(WORK / "traces" / f"{tag}.json")
    artifact.update(wall_s=root.wall, gen_s=gen_s, metrics=result["metrics"])
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    (WORK / "runs" / f"{tag}.json").write_text(
        json.dumps(artifact, indent=1, default=str))
    _log(f"host weather: {weather}; run wall {root.wall:.1f} s")
    if traced:
        from perfbench.layers import PER_LAYER_UNITS as units
    else:
        units = END_TO_END
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0 if chk.correct else 1


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it to exit; it exits when its
    stdin closes.  Not part of ``main`` so tests can run several workloads
    in one JVM."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


if __name__ == "__main__":
    try:
        code = main()
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
    sys.exit(code)
