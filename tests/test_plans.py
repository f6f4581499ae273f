"""Physical-plan regression tests: the properties that make the engine
viable at 100 TB must hold in the executed plan, not just in intent —
predicate pushdown to the parquet scan, column pruning, broadcast joins
for small dims, and shuffle-free map-only shapes for the hot paths."""

import pytest
from pyspark.sql import functions as F

from elevation_service_spark.operators.extract import extract_coords
from elevation_service_spark.operators.lookup import enrich_points, with_tile_key
from elevation_service_spark.sources.tiles import fixture_tiles_df

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_broadcast_is_map_only(spark):
    """The flagship 100 TB shape: enriching a points table with a small
    tile working set must not shuffle the points at all."""
    pts = (spark.read.parquet(f"{SF}/customer.parquet")
           .select(F.col("c_custkey").alias("pid"),
                   (F.lit(57.0) + (F.col("c_custkey") % 900) / 1000.0).alias("lat"),
                   (F.lit(11.0) + (F.col("c_custkey") % 900) / 1000.0).alias("lon")))
    out = enrich_points(pts, fixture_tiles_df(spark), strategy="broadcast")
    plan = plan_of(out)
    assert "Exchange" not in plan, plan


def test_extraction_is_pure_projection_no_python(spark):
    pages = (spark.read.parquet(f"{SF}/documents.parquet")
             .select(F.col("doc_id").alias("url"), "text"))
    plan = plan_of(extract_coords(pages))
    # r8: a few-split local input gains ONE round-robin scan spread
    # (operators/spread.py); the scale contract stays "no key shuffle" —
    # no hash/range exchange of the pages, no Python
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Python" not in plan  # regex + HOF stay JVM-side
    # at-scale shape: an already-distributed input must add NO exchange
    plan2 = plan_of(extract_coords(pages.repartition(64)))
    assert plan2.count("Exchange") == 1, plan2  # only the caller's own


def test_filter_pushdown_to_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") > 45.0).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan, plan


def test_column_pruning_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = docs.select("doc_id", F.length("text").alias("n"))
    plan = plan_of(df)
    # ReadSchema must not include lang/source/n_chars
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read, read


def test_small_dim_join_is_broadcast(spark):
    import __spark_entry__ as entrymod
    df = entrymod.queries()["top_customers"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_tile_key_expr_is_codegen(spark):
    pts = spark.createDataFrame([(57.5, 11.5)], ["lat", "lon"])
    plan = plan_of(with_tile_key(pts))
    assert "Python" not in plan


def test_semi_join_prunes_tile_scan(spark):
    """Only requested tiles may flow into the kernel join (lazy-load parity
    with the reference's on-demand tile fetch)."""
    pts = spark.createDataFrame([(57.5, 11.5)], ["lat", "lon"])
    tiles = fixture_tiles_df(spark)
    pts = with_tile_key(pts)
    pruned = tiles.join(pts.select("tile_key").distinct(), "tile_key", "left_semi")
    assert pruned.count() == 1


def test_cogroup_enrich_scans_points_once(spark, tmp_path):
    """The cogroup enrich prunes the tile side with its per-tile probe's
    keys: the executed plan scans and regex-extracts the pages once (no
    semi-join replaying their lineage) and the key filter reaches the
    tile scan."""
    from elevation_service_spark import fixtures
    from elevation_service_spark.sources.tiles import read_tiles, write_tiles
    pages, tiles = str(tmp_path / "pages"), str(tmp_path / "tiles")
    spark.createDataFrame([(p["url"], p["text"]) for p in fixtures.pages_rows(200)[0]],
                          "url string, text string").write.parquet(pages)
    write_tiles(fixture_tiles_df(spark), tiles)
    out = enrich_points(extract_coords(spark.read.parquet(pages)),
                        read_tiles(spark, tiles), strategy="cogroup")
    out.collect()
    # the final adaptive plan
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len([s for s in scans if pages in s]) == 1, plan
    assert plan.count("Generate") == 1, plan
    assert "LeftSemi" not in plan, plan
    (tile_scan,) = [s for s in scans if tiles in s]
    assert "PushedFilters: [In(tile_key, [" in tile_scan, tile_scan


def test_aqe_and_arrow_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    assert spark.conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"


def _iter_logical(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _iter_logical(ch.apply(i))


def test_no_global_window_or_rowwise_python_anywhere(spark):
    """No query may contain a Window without a partitionSpec (the 'Moving
    all data to a single partition' scale-killer — round-1's global token
    dictionary) nor a row-at-a-time Python eval (BatchEvalPython); every
    Python boundary must be Arrow-vectorized.  Checked on every
    driver-contract query."""
    import __spark_entry__ as entrymod
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, SF)
        qe = df._jdf.queryExecution()
        for node in _iter_logical(qe.optimizedPlan()):
            if node.getClass().getSimpleName() == "Window":
                assert node.partitionSpec().size() > 0, \
                    f"{name}: global (partition-less) Window in plan"
        assert "BatchEvalPython" not in qe.executedPlan().toString(), \
            f"{name}: row-at-a-time Python in physical plan"


def test_flagship_has_exactly_one_python_stage(spark):
    """The whole enrichment collapses to a single ArrowEvalPython node —
    one Python boundary crossing, everything else JVM codegen."""
    pts = (spark.read.parquet(f"{SF}/customer.parquet")
           .select(F.col("c_custkey").alias("pid"),
                   (F.lit(57.0) + (F.col("c_custkey") % 900) / 1000.0).alias("lat"),
                   (F.lit(11.0) + (F.col("c_custkey") % 900) / 1000.0).alias("lon")))
    out = enrich_points(pts, fixture_tiles_df(spark), strategy="broadcast")
    plan = plan_of(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the same key must equi-join with ZERO
    Exchange — the pay-the-shuffle-once-at-write-time strategy for joins
    repeated at read time (SURVEY.md §4 'co-located joins via bucketing')."""
    from elevation_service_spark.sources.tiles import write_bucketed
    pts = (spark.read.parquet(f"{SF}/customer.parquet")
           .select(F.col("c_custkey").alias("pid"),
                   F.concat(F.lit("K"), (F.col("c_custkey") % 40).cast("string"))
                    .alias("tile_key")))
    stats = (pts.groupBy("tile_key").agg(F.count(F.lit(1)).alias("n")))
    import shutil
    spark.sql("DROP TABLE IF EXISTS bkt_points")
    spark.sql("DROP TABLE IF EXISTS bkt_stats")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bkt_points", "bkt_stats"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    write_bucketed(pts, "bkt_points", n_buckets=8)
    write_bucketed(stats, "bkt_stats", n_buckets=8)
    a = spark.table("bkt_points")
    b = spark.table("bkt_stats")
    # disable auto-broadcast: at test scale the planner would broadcast the
    # tiny side (and skip bucketed reads entirely); at 100 TB neither side
    # broadcasts and bucket co-location is what saves the shuffle
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "tile_key")
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert joined.count() == pts.count()
        # and a groupBy on the bucket key needs no shuffle either
        agg_plan = plan_of(a.groupBy("tile_key").agg(F.count(F.lit(1))))
        assert "Exchange" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_lat_band_partition_pruning(spark, tmp_path):
    """The tile sink partitions by 10-degree latitude band; a
    band-restricted read must prune partitions at scan time
    (PartitionFilters on lat_band, not a post-scan filter)."""
    from elevation_service_spark.sources.tiles import write_tiles
    path = str(tmp_path / "tiles_banded")
    write_tiles(fixture_tiles_df(spark), path)
    df = spark.read.parquet(path).filter(F.col("lat_band") == 50)
    plan = plan_of(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "lat_band" in pf and "50" in pf, plan
    assert df.select("tile_key").distinct().count() == 2  # N57E011, N59E179


def test_elevation_broadcast_is_map_only_every_encoding(spark):
    """The broadcast enrich has one plan whatever the tiles' encodings:
    the expensive-decode (terrarium PNG) working set on a few-split input
    stays map-only like HGT, which beat a tile-key shuffle of the points
    at 4 cores (ARCHITECTURE.md)."""
    import __spark_entry__ as entrymod
    for name in ("elevation_terrarium", "elevation_hgt"):
        plan = plan_of(entrymod.queries()[name](spark, SF))
        assert "Exchange" not in plan, (name, plan)
        assert "hashpartitioning(tile_key" not in plan, (name, plan)


def test_contamination_split_filter_below_shingle_explode(spark):
    """VERDICT r3 #5: the hash-split filter must run on DOC rows before the
    n-gram explode — one md5 per doc, and non-train/test splits (val) never
    shingled.  Pin: every Generate (explode) node in the optimized plan has
    the md5-bucket Filter strictly BELOW it (in its child subtree)."""
    from elevation_service_spark.operators.text import contamination_check
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = contamination_check(docs)
    plan = df._jdf.queryExecution().optimizedPlan()
    generates = [n for n in _iter_logical(plan)
                 if n.getClass().getSimpleName() == "Generate"]
    assert generates, "expected shingle explode in plan"
    for g in generates:
        below = [n for n in _iter_logical(g)][1:]
        assert any(n.getClass().getSimpleName() == "Filter" and "md5" in n.toString()
                   for n in below), \
            "md5 split filter not pushed below the shingle explode"


def test_winnow_is_window_and_shuffle_free(spark):
    """r4: winnowing fingerprints are pure array-HOF per-doc arithmetic —
    the token-row Window shuffle of the r1-r3 form is gone.  Plan must
    contain no Window and no key shuffle; r8 allows the single
    round-robin scan spread on few-split local inputs
    (operators/spread.py), which disappears on distributed inputs."""
    from elevation_service_spark.operators.text import winnow_fingerprints
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(winnow_fingerprints(docs))
    assert "Window" not in plan, plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Python" not in plan
    plan2 = plan_of(winnow_fingerprints(docs.repartition(64)))
    assert plan2.count("Exchange") == 1, plan2  # only the caller's own


def test_pair_queries_single_tokenize_no_window(spark):
    """VERDICT r2 #3: simhash_pairs and jaccard_pairs must not re-tokenize
    the corpus per branch.  simhash_pairs fuses minhash+simhash into one
    aggregate and carries the fingerprint through the band explode (one
    scan, one tokenize); jaccard_pairs builds shingles with array HOFs
    (zero Window / token shuffle) and tokenizes only for the minhash."""
    from elevation_service_spark import queries as Q
    for name, max_scans in (("simhash_pairs", 1), ("jaccard_pairs", 3)):
        df = Q.SPARK_QUERIES[name](spark, "/root/testdata/sf0.001")
        df.collect()  # let AQE finalize so ReusedExchange is applied
        final = (df._jdf.queryExecution().executedPlan().toString()
                 .split("== Initial Plan ==")[0])
        assert final.count("posexplode") == 1, f"{name}: tokenized twice"
        assert final.count("Window [") == 0, f"{name}: token window shuffle"
        assert final.count("documents.parquet") <= max_scans, name
