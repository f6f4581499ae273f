"""kNN ring-expansion and point-in-polygon operator tests (golden =
in-test brute force)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from elevation_service_spark import fixtures
from elevation_service_spark.operators.knn import knn_join, with_cells
from elevation_service_spark.operators.pip import pip_assign


def brute_knn(queries, samples, k):
    """qid -> [(sid, d2)] exact, tie-break by sid."""
    out = {}
    for qid, qlat, qlon in queries:
        scored = sorted(((qlat - slat) * (qlat - slat) + (qlon - slon) * (qlon - slon), sid)
                        for sid, slat, slon in samples)
        out[qid] = [(sid, d2) for d2, sid in scored[:k]]
    return out


def test_knn_exact_vs_brute_force(spark):
    rng = np.random.default_rng(5)
    samples = [(i, float(57 + rng.uniform(0, 1)), float(11 + rng.uniform(0, 1)))
               for i in range(300)]
    queries = [(i, float(57 + rng.uniform(0, 1)), float(11 + rng.uniform(0, 1)))
               for i in range(40)]
    sdf = spark.createDataFrame(samples, ["sid", "lat", "lon"])
    qdf = spark.createDataFrame(queries, ["qid", "lat", "lon"])
    got = knn_join(qdf, sdf, k=5).collect()
    exp = brute_knn(queries, samples, 5)
    assert len(got) == 40 * 5
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["sid"], r["d2"]))
    for qid, rows in by_q.items():
        rows.sort()
        assert [(sid, d2) for _, sid, d2 in rows] == exp[qid]


def test_knn_forces_ring_expansion_and_fallback(spark):
    # 3 tight samples + 2 far ones; k=4 forces expansion well past ring 1
    samples = [(1, 57.10, 11.10), (2, 57.101, 11.101), (3, 57.102, 11.102),
               (4, 59.9, 13.9), (5, 50.0, 5.0)]
    queries = [(0, 57.1005, 11.1005)]
    got = knn_join(spark.createDataFrame(queries, ["qid", "lat", "lon"]),
                   spark.createDataFrame(samples, ["sid", "lat", "lon"]),
                   k=4, max_ring=4).collect()
    exp = brute_knn(queries, samples, 4)
    rows = sorted((r["rank"], r["sid"], r["d2"]) for r in got)
    assert [(sid, d2) for _, sid, d2 in rows] == exp[0]


def test_knn_chained_topk_matches_shard_strategy(spark):
    """r7 topk="chained" (k chained min(struct) rounds — true map-side
    partial aggregation, zero candidate shuffle) must be bit-identical
    to the default sharded collect_list aggregate on every path: dense
    one-ring, ring expansion, brute fallback, k > samples, and
    metric=True distances."""
    rng = np.random.default_rng(17)
    samples = [(i, float(57 + rng.uniform(0, 1)), float(11 + rng.uniform(0, 1)))
               for i in range(300)]
    queries = [(i, float(57 + rng.uniform(0, 1)), float(11 + rng.uniform(0, 1)))
               for i in range(25)]
    sdf = spark.createDataFrame(samples, ["sid", "lat", "lon"])
    qdf = spark.createDataFrame(queries, ["qid", "lat", "lon"])
    for metric in (False, True):
        a = sorted(tuple(r) for r in
                   knn_join(qdf, sdf, k=5, metric=metric).collect())
        b = sorted(tuple(r) for r in
                   knn_join(qdf, sdf, k=5, metric=metric,
                            topk="chained").collect())
        assert a == b, f"metric={metric}"
    # ring expansion + sparse fallback + k > in-ring candidates
    samples2 = [(1, 57.10, 11.10), (2, 57.101, 11.101), (3, 57.102, 11.102),
                (4, 59.9, 13.9), (5, 50.0, 5.0)]
    queries2 = [(0, 57.1005, 11.1005)]
    s2 = spark.createDataFrame(samples2, ["sid", "lat", "lon"])
    q2 = spark.createDataFrame(queries2, ["qid", "lat", "lon"])
    a = sorted(tuple(r) for r in knn_join(q2, s2, k=4, max_ring=4).collect())
    b = sorted(tuple(r) for r in
               knn_join(q2, s2, k=4, max_ring=4, topk="chained").collect())
    assert a == b


def test_knn_auto_topk_routes_on_density_and_matches_both(spark):
    """r8 topk="auto" (the default): the up-front density probe must
    route the degenerate one-cell shape to the chained aggregate and a
    normal-density shape to the sharded one, with results bit-identical
    to BOTH explicit strategies on each shape."""
    from elevation_service_spark.operators import knn as knn_mod

    # degenerate: every sample in ONE 0.25-degree cell -> est ring-1
    # candidates/query = 9 * n_samples >> threshold (with the test-scale
    # threshold override; the shipped default keeps the same ordering at
    # bench scale: 9e6 vs 100k vs ~2.7k)
    rng = np.random.default_rng(23)
    hot = [(i, float(57.0 + rng.uniform(0, 0.09)),
            float(11.0 + rng.uniform(0, 0.09))) for i in range(400)]
    sparse = [(i, float(-50 + (i % 20) * 3.0), float(10 + (i // 20) * 3.0))
              for i in range(60)]
    queries = [(i, float(57.0 + i / 1000.0), float(11.0 + i / 1000.0))
               for i in range(8)]
    qdf = spark.createDataFrame(queries, ["qid", "lat", "lon"])
    old = knn_mod.CHAINED_MIN_CAND_PER_QUERY
    knn_mod.CHAINED_MIN_CAND_PER_QUERY = 1000.0
    try:
        for samples in (hot, sparse):
            sdf = spark.createDataFrame(samples, ["sid", "lat", "lon"])
            auto = sorted(tuple(r) for r in
                          knn_join(qdf, sdf, k=4).collect())
            shard = sorted(tuple(r) for r in
                           knn_join(qdf, sdf, k=4, topk="shard").collect())
            chained = sorted(tuple(r) for r in
                             knn_join(qdf, sdf, k=4, topk="chained").collect())
            assert auto == shard == chained
        # routing itself: hot density 400/1 cell -> est 3600 >= 1000 ->
        # chained; sparse density ~1/cell -> est 9 < 1000 -> shard.  Pin
        # via the probe the router consumes.
        hot_d = knn_mod._sample_density(
            with_cells(spark.createDataFrame(hot, ["sid", "lat", "lon"])))
        sparse_d = knn_mod._sample_density(
            with_cells(spark.createDataFrame(sparse, ["sid", "lat", "lon"])))
        assert hot_d * 9 >= 1000.0
        assert sparse_d * 9 < 1000.0
    finally:
        knn_mod.CHAINED_MIN_CAND_PER_QUERY = old


def test_knn_k_larger_than_samples(spark):
    samples = [(1, 57.1, 11.1), (2, 57.2, 11.2)]
    queries = [(0, 57.15, 11.15)]
    got = knn_join(spark.createDataFrame(queries, ["qid", "lat", "lon"]),
                   spark.createDataFrame(samples, ["sid", "lat", "lon"]),
                   k=5, max_ring=2).collect()
    assert sorted(r["sid"] for r in got) == [1, 2]  # fallback returns all


def test_pip_assign_polygons(spark):
    # 'holed' hole covers lon [11.4,11.6] x lat [57.4,57.6]
    pts = [(0, 57.5, 11.5),     # inside the hole -> hot_box only
           (1, 57.5, 11.35),    # west of hole -> hot_box + holed
           (2, 57.5, 11.5),     # dup coords of 0 (different pid)
           (3, 57.3, 11.3),     # south of hole -> hot_box + holed
           (4, 0.2, 0.2),       # greenwich
           (5, -33.9, -70.5),   # tri (near base)
           (6, 20.0, 20.0)]     # nowhere
    df = spark.createDataFrame(pts, ["pid", "lat", "lon"])
    rows = fixtures.polygons_rows()
    polys = spark.createDataFrame(
        [(r["poly_id"], r["geojson"], r["minx"], r["miny"], r["maxx"], r["maxy"]) for r in rows],
        ["poly_id", "geojson", "minx", "miny", "maxx", "maxy"])
    got = {}
    for r in pip_assign(df, polys).collect():
        got.setdefault(r["pid"], set()).add(r["poly_id"])
    assert got[0] == {"hot_box"}
    assert got[1] == {"hot_box", "holed"}
    assert got[2] == {"hot_box"}
    assert got[3] == {"hot_box", "holed"}
    assert got[4] == {"greenwich"}
    assert got[5] == {"tri"}
    assert 6 not in got


def test_with_cells_floor_semantics(spark):
    df = spark.createDataFrame([(0, -0.1, -0.1), (1, 0.1, 0.1)], ["qid", "lat", "lon"])
    rows = {r["qid"]: (r["cx"], r["cy"]) for r in with_cells(df).collect()}
    assert rows[0] == (-1, -1)
    assert rows[1] == (0, 0)


def test_ann_lsh_recall_vs_brute(spark):
    """ANN recall: sign-LSH bucketed top-k vs exact brute force on the
    driver embeddings table — candidates are exact within the query's
    bucket, so rank-1 (self-bucket nearest) recall should be high on
    clustered data and every returned row must also appear in brute."""
    from elevation_service_spark.operators.similarity import (ann_brute_topk,
                                                              ann_lsh_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute = ann_brute_topk(emb, qids, k=10).collect()
    lsh = ann_lsh_topk(emb, qids, k=10).collect()
    brute_by_q = {}
    for r in brute:
        brute_by_q.setdefault(r["qid"], {})[r["vec_id"]] = r["score"]
    # scores of LSH results must equal the exact dot product (same kernel)
    for r in lsh:
        if r["vec_id"] in brute_by_q[r["qid"]]:
            assert r["score"] == brute_by_q[r["qid"]][r["vec_id"]]
    # aggregate recall@10 over the bucketed candidates (approximate — just
    # require it's nonzero and report-worthy, the guarantee is per-bucket
    # exactness, not global recall)
    hits = sum(1 for r in lsh if r["vec_id"] in brute_by_q[r["qid"]])
    assert len(lsh) > 0
    assert hits >= len(qids)  # at least the easy neighbours are found


def test_ann_ivf_exactness_within_list(spark):
    """IVF results are exact within the query's inverted list: every
    returned score equals the brute-force dot for that pair."""
    from elevation_service_spark.operators.similarity import (ann_brute_topk,
                                                              ann_ivf_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2]
    brute = {(r["qid"], r["vec_id"]): r["score"]
             for r in ann_brute_topk(emb, qids, k=200).collect()}
    ivf = ann_ivf_topk(emb, qids, k=10).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r["qid"], r["vec_id"])
        if key in brute:
            assert r["score"] == brute[key]


def test_knn_metric_column_matches_planar_at_equator(spark):
    """With metric=True the output carries dist_m (haversine meters) while
    ranking stays on d2 (results identical to metric=False).  Near the
    equator at small extents haversine ~= sqrt(d2) * (R*pi/180) meters, so
    dist_m must agree with the planar conversion to <0.1% AND be
    non-decreasing in rank (at lat~0 the degree metric is isotropic; at
    high latitudes d2-order and meter-order legitimately differ)."""
    rng = np.random.default_rng(11)
    samples = [(i, float(rng.uniform(0, 0.4)), float(rng.uniform(0, 0.4)))
               for i in range(200)]
    queries = [(i, float(rng.uniform(0, 0.4)), float(rng.uniform(0, 0.4)))
               for i in range(10)]
    sdf = spark.createDataFrame(samples, ["sid", "lat", "lon"])
    qdf = spark.createDataFrame(queries, ["qid", "lat", "lon"])
    got = knn_join(qdf, sdf, k=5, metric=True).collect()
    assert len(got) == 10 * 5
    m_per_deg = 6371000.0 * np.pi / 180.0
    by_q = {}
    for r in got:
        planar = float(np.sqrt(r["d2"])) * m_per_deg
        assert abs(r["dist_m"] - planar) <= 1e-3 * max(planar, 1.0), r
        by_q.setdefault(r["qid"], []).append((r["rank"], r["dist_m"]))
    plain = {(r["qid"], r["rank"]): (r["sid"], r["d2"])
             for r in knn_join(qdf, sdf, k=5, metric=False).collect()}
    metric_core = {(r["qid"], r["rank"]): (r["sid"], r["d2"]) for r in got}
    assert metric_core == plain  # metric column never changes the ranking
    for qid, rows in by_q.items():
        rows.sort()
        dists = [dm for _, dm in rows]
        assert dists == sorted(dists), (qid, rows)


def test_ann_ivf_nprobe_recall_monotone(spark):
    """Probing more inverted lists can only add candidates: recall@k vs
    brute force at nprobe=2 must be >= nprobe=1, and every nprobe=1 result
    must persist (with identical exact scores) at nprobe=2."""
    from elevation_service_spark.operators.similarity import (ann_brute_topk,
                                                              ann_ivf_topk)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    brute_top = {}
    for r in ann_brute_topk(emb, qids, k=10).collect():
        brute_top.setdefault(r["qid"], set()).add(r["vec_id"])

    def recall(rows):
        hits = sum(1 for r in rows if r["vec_id"] in brute_top[r["qid"]])
        return hits / sum(len(v) for v in brute_top.values())

    p1 = ann_ivf_topk(emb, qids, k=10, nprobe=1).collect()
    p2 = ann_ivf_topk(emb, qids, k=10, nprobe=2).collect()
    assert recall(p2) >= recall(p1)
    # candidate-set growth: every (qid, vec_id) from p1's candidate lists
    # that survived to top-k either persists or is displaced by a
    # strictly-better (score, vec_id) candidate from the extra list
    p2_by_q = {}
    for r in p2:
        p2_by_q.setdefault(r["qid"], {})[r["vec_id"]] = r["score"]
    for r in p1:
        kth = min(p2_by_q[r["qid"]].values())
        if r["vec_id"] in p2_by_q[r["qid"]]:
            assert p2_by_q[r["qid"]][r["vec_id"]] == r["score"]
        else:
            assert kth >= r["score"]  # displaced only by better candidates


def test_knn_empty_queries_returns_empty(spark):
    """An empty query side must yield an empty (correctly-typed) result,
    not crash (regression: results[0] IndexError)."""
    samples = spark.createDataFrame([(1, 57.1, 11.1)], ["sid", "lat", "lon"])
    empty = spark.createDataFrame([], "qid long, lat double, lon double")
    out = knn_join(empty, samples, k=3)
    assert out.count() == 0
    assert out.columns == ["qid", "rank", "sid", "d2"]


def test_pip_bucketed_large_polygon_set_no_driver_collect(spark, monkeypatch):
    """VERDICT r2 #2: the bucketed path must handle polygon tables too big
    to broadcast/collect.  100k polygons are generated distributively; a
    collect spy proves the operator never pulls geometry to the driver, and
    the result matches a closed-form expectation."""
    from pyspark.sql import DataFrame

    from elevation_service_spark.operators.pip import pip_assign_bucketed

    n = 100_000
    n_loc = 64_800  # 360 x 180 distinct 1-degree locations
    polys = spark.range(n).selectExpr(
        "concat('P', id) AS poly_id",
        f"CAST(id % 360 AS DOUBLE) - 180.0 + 0.5 AS lon0",
        f"CAST((id % {n_loc}) DIV 360 AS DOUBLE) - 90.0 + 0.5 AS lat0",
    ).selectExpr(
        "poly_id",
        "lon0 - 0.2 AS minx", "lat0 - 0.2 AS miny",
        "lon0 + 0.2 AS maxx", "lat0 + 0.2 AS maxy",
        """format_string(
            '{"type":"Polygon","coordinates":[[[%.6f,%.6f],[%.6f,%.6f],[%.6f,%.6f],[%.6f,%.6f],[%.6f,%.6f]]]}',
            lon0 - 0.2, lat0 - 0.2, lon0 + 0.2, lat0 - 0.2,
            lon0 + 0.2, lat0 + 0.2, lon0 - 0.2, lat0 + 0.2,
            lon0 - 0.2, lat0 - 0.2) AS geojson""",
    )

    # one query point at the centre of every 648th location
    locs = list(range(0, n_loc, 648))
    pts = spark.createDataFrame(
        [(i, (loc % n_loc) // 360 - 90 + 0.5, loc % 360 - 180 + 0.5)
         for i, loc in enumerate(locs)],
        ["pid", "lat", "lon"],
    )

    calls = []
    orig_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (calls.append(1), orig_collect(self))[1])

    out = pip_assign_bucketed(pts, polys)
    got = out.groupBy().count().toPandas()["count"][0]
    assert not calls, "pip_assign_bucketed collected a DataFrame to the driver"

    # location L is covered by polygon ids {L, L + 64800, ...} < n
    expected = sum(2 if loc < n - n_loc else 1 for loc in locs)
    assert got == expected


def _walk_exec(node):
    name = node.getClass().getSimpleName()
    yield node, name
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_exec(node.executedPlan())
    if "QueryStageExec" in name:
        yield from _walk_exec(node.plan())
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_exec(ch.apply(i))


def _shuffle_bytes_written(df) -> int:
    total = 0
    for node, _ in _walk_exec(df._jdf.queryExecution().executedPlan()):
        try:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "shuffleBytesWritten":
                    total += kv._2().value()
        except Exception:
            pass
    return total


def test_pip_bucketed_ring_bytes_not_per_candidate(spark):
    """VERDICT r3 #1: a 10^4-vertex polygon with ~10^5 candidate points
    must NOT ship the ring geometry once per candidate row.  The old form
    moved O(candidates x vertices) doubles through the shuffle (~16 GB
    here); the group-delivery form shuffles only the candidate coords
    (collect_list groups) and joins rings onto O(groups) rows.  Assert the
    measured shuffle-write bytes stay ~point-sized, and the optimized plan
    keeps `rings` out of the pre-aggregation subtree."""
    import math

    from elevation_service_spark.operators.pip import pip_assign, pip_assign_bucketed

    n_vert, n_pts = 10_000, 60_000
    ring = [[0.5 + 0.45 * math.cos(2 * math.pi * i / n_vert),
             0.5 + 0.45 * math.sin(2 * math.pi * i / n_vert)]
            for i in range(n_vert)]
    ring.append(ring[0])
    gj = json.dumps({"type": "Polygon", "coordinates": [ring]})
    polys = spark.createDataFrame(
        [("BIG", gj, 0.05, 0.05, 0.95, 0.95)],
        ["poly_id", "geojson", "minx", "miny", "maxx", "maxy"])
    pts = spark.range(n_pts).selectExpr(
        "id AS pid",
        "0.05 + ((id * 7919) % 9000) / 10000.0 AS lat",
        "0.05 + ((id * 104729) % 9000) / 10000.0 AS lon")

    out = pip_assign_bucketed(pts, polys)
    # plan shape: every Aggregate (the candidate collect_list) must sit on a
    # rings-free subtree — geometry joins on above the aggregation
    plan = out._jdf.queryExecution().optimizedPlan()
    def logical(nd):
        yield nd
        ch = nd.children()
        for i in range(ch.size()):
            yield from logical(ch.apply(i))
    aggs = [n for n in logical(plan)
            if n.getClass().getSimpleName() == "Aggregate"]
    assert aggs, "expected collect_list aggregate in bucketed PIP plan"
    for a in aggs:
        assert "rings" not in a.toString(), \
            "ring geometry flows through the candidate aggregation"

    got = out.collect()
    shuffled = _shuffle_bytes_written(out)
    # old form: >= n_pts * n_vert * 16 bytes ~ 10 GB; new form: candidate
    # coords + O(groups) ring rows.  50 MB is two orders under the old cost.
    assert shuffled < 50 << 20, f"shuffle wrote {shuffled} bytes"
    exp = pip_assign(pts, polys).collect()
    assert sorted(r["pid"] for r in got) == sorted(r["pid"] for r in exp)
    assert len(got) > 0


def test_polygon_oversize_report(spark):
    """VERDICT r3 #6: a continent-bbox polygon must be observable before it
    explodes to thousands of covering cells in the bucketed join."""
    from elevation_service_spark.operators.pip import (polygon_cells,
                                                       polygon_oversize_report)
    polys = spark.createDataFrame(
        [("SMALL", '{"type":"Polygon","coordinates":[[[0.1,0.1],[0.9,0.1],[0.9,0.9],[0.1,0.9],[0.1,0.1]]]}',
          0.1, 0.1, 0.9, 0.9),
         ("CONTINENT", '{"type":"Polygon","coordinates":[[[-170.0,-80.0],[170.0,-80.0],[170.0,80.0],[-170.0,80.0],[-170.0,-80.0]]]}',
          -170.0, -80.0, 170.0, 80.0)],
        ["poly_id", "geojson", "minx", "miny", "maxx", "maxy"])
    rep = polygon_oversize_report(polys, cell_deg=1.0, max_cells=1024).collect()
    assert [r["poly_id"] for r in rep] == ["CONTINENT"]
    n_cells = rep[0]["n_cells"]
    # the report's closed-form count equals the actual explode fan-out
    actual = (polygon_cells(polys.filter("poly_id = 'CONTINENT'"), 1.0)
              .groupBy().count().collect()[0]["count"])
    assert n_cells == actual == 341 * 161
    # report is explode-free: O(polygons) however big the worst bbox is
    plan = polygon_oversize_report(polys)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "Generate" not in plan and "explode" not in plan


def test_ann_ivf_1024_centroids_udf_path(spark):
    """VERDICT r2 #4: centroid assignment runs the broadcast-matrix
    pandas-UDF argmax, keeping plan size O(1) in centroid count — at 1024
    centroids and at 8 (the same one path).  Golden = numpy replication of
    the IVF semantics (argmax assignment, lowest-cid ties, nprobe lists,
    exact rerank)."""
    import numpy as np

    from elevation_service_spark.operators.similarity import (
        QUANT_SCALE, ann_ivf_topk)

    n, dim, n_cent, k, nprobe = 3000, 16, 1024, 5, 2
    rng = np.random.default_rng(11)
    vecs = rng.uniform(-1.0, 1.0, size=(n, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    query_ids = [2900, 2950, 2999]

    out = ann_ivf_topk(emb, query_ids, k=k, n_centroids=n_cent,
                       centroid_ids=list(range(n_cent)), nprobe=nprobe)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, "expected the pandas-UDF assign path"
    assert len(plan) < 200_000, f"plan blew up with centroid count: {len(plan)}"
    got = {(r["qid"], r["rank"]): (r["vec_id"], r["score"]) for r in out.collect()}

    # numpy golden
    qv = np.floor(vecs * QUANT_SCALE + 0.5).astype(np.int64)
    cmat = qv[:n_cent]
    scores = qv @ cmat.T                      # (n, n_cent)
    order = np.argsort(-scores, axis=1, kind="stable")
    assign = order[:, 0]
    expected = {}
    for qid in query_ids:
        probes = set(order[qid, :nprobe].tolist())
        cand = [(int(-(qv[qid] @ qv[v])), v) for v in range(n)
                if v != qid and assign[v] in probes]
        for rank, (neg, v) in enumerate(sorted(cand)[:k], 1):
            expected[(qid, rank)] = (v, -neg)
    assert got == expected

    # 8 centroids (cids 0..7, passed unsorted), 2 and 6 with identical
    # vectors: every vector nearest to that pair lands in list 2, and a
    # query probing two lists probes both of them
    n8 = 400
    cmat8 = rng.integers(-1000, 1000, size=(8, dim))
    cmat8[6] = cmat8[2]
    order8 = np.argsort(-(qv[:n8] @ cmat8.T), axis=1, kind="stable")
    assert (order8[:, 0] != 6).all()
    tied = np.flatnonzero(order8[:, 0] == 2)
    query_ids = [int(q) for q in tied[:3]] + [int(q) for q in
                                              np.flatnonzero(order8[:, 0] != 2)[:2]]
    assert len(query_ids) == 5
    for nprobe in (1, 2):
        out = ann_ivf_topk(emb.filter(F.col("vec_id") < n8), query_ids, k=k,
                           centroids=[(c, cmat8[c].tolist()) for c in range(7, -1, -1)],
                           nprobe=nprobe)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan, "expected the pandas-UDF assign path"
        got = {(r["qid"], r["rank"]): (r["vec_id"], r["score"])
               for r in out.collect()}
        expected = {}
        for qid in query_ids:
            probes = set(order8[qid, :nprobe].tolist())
            cand = [(int(-(qv[qid] @ qv[v])), v) for v in range(n8)
                    if v != qid and order8[v, 0] in probes]
            for rank, (neg, v) in enumerate(sorted(cand)[:k], 1):
                expected[(qid, rank)] = (v, -neg)
        assert got == expected, nprobe


def test_kmeans_centroids_learn_blobs_and_feed_ivf(spark):
    """Learned IVF centroids: quantized distributed Lloyd iterations find
    three well-separated blobs (assignment purity ~1), and ann_ivf_topk
    consumes them via centroids= with exact numpy-replicated results."""
    import numpy as np

    from elevation_service_spark.operators.similarity import (
        QUANT_SCALE, ann_ivf_topk, kmeans_centroids)

    rng = np.random.default_rng(7)
    dim, per = 8, 200
    blob_means = np.array([[0.8] * dim, [-0.8] * dim,
                           [0.8, -0.8] * (dim // 2)])
    vecs = np.concatenate([m + rng.normal(0, 0.05, size=(per, dim))
                           for m in blob_means])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<double>")

    cents = kmeans_centroids(emb, k=3, iters=4)
    assert [c for c, _ in cents] == [0, 1, 2]
    # every learned centroid sits on one distinct blob mean (within 3 sigma)
    qmeans = np.floor(blob_means * QUANT_SCALE + 0.5)
    matched = set()
    for _, cv in cents:
        d = np.abs(qmeans - np.array(cv)).max(axis=1)
        best = int(np.argmin(d))
        assert d[best] < 0.15 * QUANT_SCALE, (cv, d)
        matched.add(best)
    assert matched == {0, 1, 2}

    # the search path consumes learned centroids exactly
    query_ids = [0, 250, 599]
    out = ann_ivf_topk(emb, query_ids, k=4, centroids=cents, nprobe=1)
    got = {(r["qid"], r["rank"]): (r["vec_id"], r["score"])
           for r in out.collect()}
    qv = np.floor(vecs * QUANT_SCALE + 0.5).astype(np.int64)
    cmat = np.array([cv for _, cv in cents], dtype=np.int64)
    assign = np.argsort(-(qv @ cmat.T), axis=1, kind="stable")[:, 0]
    expected = {}
    for qid in query_ids:
        cand = [(int(-(qv[qid] @ qv[v])), v) for v in range(len(vecs))
                if v != qid and assign[v] == assign[qid]]
        for rank, (neg, v) in enumerate(sorted(cand)[:4], 1):
            expected[(qid, rank)] = (v, -neg)
    assert got == expected


def test_ann_pq_recall_and_scan_shape(spark):
    """PQ/ADC search: (a) reasonable recall vs brute force on clustered
    vectors, (b) the search plan is a SCAN — exactly one Python stage (the
    encode UDF), no Exchange before the final top-k window."""
    import numpy as np

    from elevation_service_spark.operators.similarity import (
        ann_brute_topk, ann_pq_topk, pq_train)

    rng = np.random.default_rng(11)
    centers = rng.normal(0, 1, (6, 64))
    rows = []
    for i in range(240):
        v = centers[i % 6] + rng.normal(0, 0.15, 64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qids = [0, 1, 2]
    cbs = pq_train(emb, iters=2)
    got = ann_pq_topk(emb, qids, k=10, codebooks=cbs)
    brute = ann_brute_topk(emb, qids, k=10)
    b = {(r["qid"], r["vec_id"]) for r in brute.collect()}
    # plain ADC: coarse — codes collapse intra-cluster ranking to ties, so
    # top-10-of-40-member-cluster recall has a ~0.25 tie-pick floor; pin a
    # loose sanity bound (the ORACLE pins arithmetic exactness, not recall)
    g = {(r["qid"], r["vec_id"]) for r in got.collect()}
    adc_recall = len(g & b) / len(b)
    assert adc_recall >= 0.25, f"ADC recall {adc_recall} vs brute"
    # production shape: ADC shortlist (R=50) -> exact integer-dot rerank;
    # the shortlist captures the right cluster, the rerank restores order
    rr = ann_pq_topk(emb, qids, k=10, codebooks=cbs, rerank=50)
    gr = {(r["qid"], r["vec_id"]) for r in rr.collect()}
    rr_recall = len(gr & b) / len(b)
    assert rr_recall >= 0.8, f"rerank recall {rr_recall} vs brute"
    # reranked scores are EXACT: equal to brute for every common pair
    brute_scores = {(r["qid"], r["vec_id"]): r["score"]
                    for r in brute.collect()}
    for r in rr.collect():
        key = (r["qid"], r["vec_id"])
        if key in brute_scores:
            assert r["score"] == brute_scores[key], key
    for df in (got, rr):  # encode is the ONLY Python stage
        plan = (df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])  # AQE appends the pre-plan
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "BatchEvalPython" not in plan


def test_ann_pq_large_q_flat_plan_bit_identical(spark):
    """VERDICT r4 #4: above PQ_EXPR_MAX_Q queries the ADC scoring must
    move to the broadcast-LUT Arrow path with a plan that stays FLAT in
    query count (the literal-column form grows linearly and would blow up
    Catalyst analysis at thousands of queries), and both paths must
    produce bit-identical (qid, rank, vec_id, score) rows on the same
    queries."""
    import numpy as np

    from elevation_service_spark.operators.similarity import (
        PQ_EXPR_MAX_Q, ann_pq_topk, pq_train)

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 64)]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    cbs = pq_train(emb, iters=1)
    small_q = list(range(PQ_EXPR_MAX_Q))           # expression path
    big_q = list(range(PQ_EXPR_MAX_Q + 200))       # Arrow path (264 > 64)
    small_df = ann_pq_topk(emb, small_q, k=5, codebooks=cbs)
    big_df = ann_pq_topk(emb, big_q, k=5, codebooks=cbs)
    # flat plan: 4x the queries must NOT grow the plan text (the LUT rides
    # a broadcast variable, the qid mapping a broadcast join)
    len_small = len(small_df._jdf.queryExecution().optimizedPlan().toString())
    len_big = len(big_df._jdf.queryExecution().optimizedPlan().toString())
    assert len_big < len_small, (len_small, len_big)
    # bit-identical on the overlap (the first PQ_EXPR_MAX_Q queries)
    exp = {(r["qid"], r["rank"]): (r["vec_id"], r["score"])
           for r in small_df.collect()}
    got = {(r["qid"], r["rank"]): (r["vec_id"], r["score"])
           for r in big_df.collect() if r["qid"] < PQ_EXPR_MAX_Q}
    assert got == exp
    # rerank path too: broadcast exact-rescore == literal-HOF rescore
    small_rr = ann_pq_topk(emb, small_q[:3], k=5, codebooks=cbs, rerank=20)
    big_rr = ann_pq_topk(emb, big_q, k=5, codebooks=cbs, rerank=20)
    exp_rr = {(r["qid"], r["rank"]): (r["vec_id"], r["score"])
              for r in small_rr.collect()}
    got_rr = {(r["qid"], r["rank"]): (r["vec_id"], r["score"])
              for r in big_rr.collect() if r["qid"] < 3}
    assert got_rr == exp_rr
    emb.unpersist()


def test_ann_pq_long_scores_and_missing_qid(spark):
    """(a) ADC scores accumulate 64-bit: with component magnitude ~6 the
    4-subspace sum exceeds 2^31 and must come back as the exact positive
    integer, not an int32 wrap; (b) query ids absent from the corpus emit
    no rows instead of a driver KeyError (the family-wide contract)."""
    from elevation_service_spark.operators.similarity import ann_pq_topk
    rows = [(i, [6.0] * 64) for i in range(3)] + [(3, [5.0] * 64)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # k=1 codebook per subspace centred on the 6.0 vectors
    cbs = [[(0, [6000] * 16)] for _ in range(4)]
    got = ann_pq_topk(emb, [0, 999], k=3, codebooks=cbs).collect()
    assert {r["qid"] for r in got} == {0}      # 999 absent -> no rows, no crash
    exp = 64 * 6000 * 6000                      # 2.304e9 > 2^31
    assert all(r["score"] == exp for r in got), got
    assert ann_pq_topk(emb, [999], k=3, codebooks=cbs).count() == 0


def test_semantic_dedup_matches_python_reference(spark):
    """r5 SemDeDup: clustered synthetic vectors — assignment, within-cluster
    pairing, components, and survivor rule all match a brute-force python
    reference; cross-cluster near-dups are (by design) NOT paired."""
    import numpy as np

    from elevation_service_spark.operators.similarity import (
        QUANT_SCALE, kmeans_centroids, semantic_dedup)

    rng = np.random.default_rng(23)
    centers = rng.normal(0, 1, (4, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(120):
        v = centers[i % 4] + rng.normal(0, 0.12, 32)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = kmeans_centroids(emb, 4, iters=2)
    min_score = 700_000
    got = {r["vec_id"]: r for r in semantic_dedup(
        emb, min_score=min_score, centroids=cents).collect()}

    # python reference with the same integer arithmetic
    q = {i: np.floor(np.asarray(v) * QUANT_SCALE + 0.5).astype(np.int64)
         for i, v in rows}
    cmat = {cid: np.asarray(cv, dtype=np.int64) for cid, cv in cents}
    assign = {}
    for i, v in q.items():
        scores = sorted(((int(v @ cv), -cid) for cid, cv in cmat.items()),
                        reverse=True)
        assign[i] = -scores[0][1]
    parent = {i: i for i in q}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    for i in q:
        for j in q:
            if i < j and assign[i] == assign[j] and int(q[i] @ q[j]) >= min_score:
                n_pairs += 1
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    assert n_pairs > 0  # the fixture really exercises merging
    for i in q:
        assert got[i]["cid"] == assign[i], i
        assert got[i]["component"] == find(i), i
        assert got[i]["is_survivor"] == (find(i) == i), i
    # some but not all vectors merged: the threshold is doing real work
    n_surv = sum(1 for i in q if got[i]["is_survivor"])
    assert 4 <= n_surv < 120


def test_semantic_dedup_max_cluster_guard_on_skewed_clusters(spark):
    """VERDICT r6 task 5: one boilerplate-heavy cluster must not go
    quadratic — with max_cluster set, the hot cluster is excluded from
    pair generation (members surface as singleton survivors), small
    clusters keep the exact uncapped merge result, and the dropped mass
    is observable via semantic_oversize_clusters."""
    import numpy as np

    from elevation_service_spark.operators.similarity import (
        kmeans_centroids, semantic_dedup, semantic_oversize_clusters)

    rng = np.random.default_rng(41)
    centers = rng.normal(0, 1, (3, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # hot boilerplate cluster: 80 near-identical vectors around center 0
    for i in range(80):
        v = centers[0] + rng.normal(0, 0.02, 16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # two small clusters of 15 around centers 1 and 2
    for i in range(80, 110):
        v = centers[1 + (i % 2)] + rng.normal(0, 0.1, 16)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    cents = kmeans_centroids(emb, 3, iters=2)
    min_score = 700_000
    uncapped = {r["vec_id"]: r for r in semantic_dedup(
        emb, min_score=min_score, centroids=cents).collect()}
    capped = {r["vec_id"]: r for r in semantic_dedup(
        emb, min_score=min_score, centroids=cents,
        max_cluster=40).collect()}
    assert set(capped) == set(uncapped)  # every vector still present
    sizes = {}
    for r in uncapped.values():
        sizes[r["cid"]] = sizes.get(r["cid"], 0) + 1
    hot = {cid for cid, n in sizes.items() if n > 40}
    assert hot, "fixture must produce an oversize cluster"
    changed = 0
    for i, r in capped.items():
        assert r["cid"] == uncapped[i]["cid"]  # assignment unaffected
        if r["cid"] in hot:
            # no pairs generated -> everyone is their own component
            assert r["component"] == i and r["is_survivor"]
            changed += int(not uncapped[i]["is_survivor"])
        else:
            # small clusters: bit-identical to the uncapped semantics
            assert r["component"] == uncapped[i]["component"]
            assert r["is_survivor"] == uncapped[i]["is_survivor"]
    assert changed > 0  # the cap provably bit (hot cluster HAD merges)
    report = semantic_oversize_clusters(
        emb, 40, centroids=cents).collect()
    assert {r["cid"] for r in report} == hot
    for r in report:
        assert r["n_members"] == sizes[r["cid"]]
        members = [i for i in uncapped if uncapped[i]["cid"] == r["cid"]]
        assert r["representative"] == min(members)
    emb.unpersist()


def test_semantic_dedup_arrow_assignment_path(spark):
    """SemDeDup assignment through the broadcast-matrix Arrow argmax
    matches the numpy integer semantics (highest dot, lowest cid) at 65
    and at 64 centroids."""
    import numpy as np

    from elevation_service_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(31)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(90)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()
    cents65 = [(c, [int(x) for x in rng.integers(-1000, 1000, 16)])
               for c in range(65)]
    got = semantic_dedup(emb, min_score=10_000_000, centroids=cents65)
    # the FIRST 64 centroids must agree wherever the 65th centroid wins
    # nothing
    got64 = {r["vec_id"]: r["cid"] for r in semantic_dedup(
        emb, min_score=10_000_000, centroids=cents65[:64]).collect()}
    g = {r["vec_id"]: r["cid"] for r in got.collect()}
    q = {i: np.floor(np.asarray(v) * 1000 + 0.5).astype(np.int64)
         for i, v in rows}
    cmat = np.asarray([cv for _, cv in cents65], dtype=np.int64)
    for i, v in q.items():
        scores = cmat @ v
        exp = int(np.argmax(scores))  # first max = lowest cid on ties
        assert g[i] == exp, i
        if exp != 64:
            assert got64[i] == exp, i
    emb.unpersist()


def test_centroid_assignment_total_over_bad_vectors(spark):
    """The one assignment kernel is total: a NULL embedding, a 2-element
    one and one with a NULL component get a NULL cid (never a candidate,
    a query match or a cluster member), a bad query id returns no rows,
    and every clean row's output equals its output on the clean frame —
    for IVF search at nprobe 1 and 2, SemDeDup and its oversize report
    with given centroids, and k-means training (kmeans_centroids, and
    SemDeDup without centroids) on the clean rows plus the NULL row."""
    from elevation_service_spark.operators.similarity import (
        ann_ivf_topk, kmeans_centroids, semantic_dedup,
        semantic_oversize_clusters)

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(60)]
    null_row = (100, None)
    bad = [null_row, (101, [0.5, -0.5]), (102, [1.0, None] + [0.25] * 6)]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + bad, schema)
    with_null = spark.createDataFrame(rows + [null_row], schema)
    bad_ids = [i for i, _ in bad]
    cents = [(c, rng.integers(-1000, 1000, 8).tolist()) for c in range(5)]

    def ivf(emb, qids, nprobe):
        return sorted(ann_ivf_topk(emb, qids, k=4, centroids=cents,
                                   nprobe=nprobe).collect())

    for nprobe in (1, 2):
        got = ivf(dirty, [3, 40] + bad_ids, nprobe)
        assert got == ivf(clean, [3, 40], nprobe), nprobe

    def dedup(emb, centroids):
        return {r["vec_id"]: r.asDict() for r in semantic_dedup(
            emb, k=4, min_score=1_000_000, centroids=centroids).collect()}

    for emb, ids, centroids in ((dirty, bad_ids, cents),
                                (with_null, [100], None)):
        got = dedup(emb, centroids)
        for i in ids:
            assert got.pop(i) == {"vec_id": i, "cid": None, "component": i,
                                  "is_survivor": True}
        assert got == dedup(clean, centroids)
    report = [sorted(semantic_oversize_clusters(emb, 0, centroids=cents).collect())
              for emb in (dirty, clean)]
    assert report[0] == report[1]
    assert kmeans_centroids(with_null, 4, iters=2) == \
        kmeans_centroids(clean, 4, iters=2)


def _python_rows_received(df) -> list[int]:
    """Rows each ArrowEvalPython node of df's executed plan sent back
    (read after an action on df)."""
    got = []
    for node, name in _walk_exec(df._jdf.queryExecution().executedPlan()):
        if name == "ArrowEvalPythonExec":
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "pythonNumRowsReceived":
                    got.append(kv._2().value())
    return got


def test_ann_ivf_one_python_pass_per_join_side(spark):
    """The corpus crosses into Python once per ann_ivf_topk call and the
    query side only with the query rows: the join's inferred
    isnotnull(centroid) filter must not run the argmax a second time."""
    from elevation_service_spark.operators.similarity import ann_ivf_topk

    rng = np.random.default_rng(17)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(62)],
        "vec_id long, embedding array<double>")
    for nprobe in (1, 2):
        out = ann_ivf_topk(emb, [3, 40], k=4, centroid_ids=[1, 5, 9],
                           nprobe=nprobe)
        assert len(out.collect()) == 8
        assert sorted(_python_rows_received(out)) == [2, 62], nprobe


def test_centroid_sources_total_over_bad_vectors(spark):
    """A NULL, short or NULL-component row named in centroid_ids= or drawn
    as a k-means seed is dropped from the centroid set instead of making
    the centroid matrix ragged on the driver; the clean rows' output is
    unchanged, and a centroid set with no usable row returns no rows."""
    from elevation_service_spark.operators.similarity import (
        ann_ivf_topk, kmeans_centroids)

    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(60)]
    bad = [(100, None), (101, [0.5, -0.5]), (102, [1.0, None] + [0.25] * 6)]
    bad_ids = [i for i, _ in bad]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + bad, schema)
    for nprobe in (1, 2):
        got = sorted(ann_ivf_topk(dirty, [3, 40], k=4, nprobe=nprobe,
                                  centroid_ids=[5, 17, 33] + bad_ids).collect())
        assert got and got == sorted(ann_ivf_topk(
            clean, [3, 40], k=4, nprobe=nprobe,
            centroid_ids=[5, 17, 33]).collect()), nprobe
    assert ann_ivf_topk(dirty, [3, 40], k=4, centroid_ids=[100, 102]).collect() == []
    # k covers every row, so all three bad rows are candidate seeds
    assert kmeans_centroids(dirty, 63, iters=2) == kmeans_centroids(clean, 60, iters=2)


def test_ann_pq_total_over_bad_vectors(spark):
    """PQ training skips a NULL, short or NULL-component vector in its
    seeds and partial sums, the encoder gives it NULL codes, and
    ann_pq_topk treats it as no candidate and no query."""
    from elevation_service_spark.operators.similarity import (
        ann_pq_topk, pq_encode, pq_train)

    rng = np.random.default_rng(29)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(80)]
    bad = [(100, None), (101, [0.5, -0.5]), (102, [1.0, None] + [0.25] * 6)]
    bad_ids = [i for i, _ in bad]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + bad, schema)
    with_null = spark.createDataFrame(rows + bad[:1], schema)
    assert pq_train(with_null, iters=2) == pq_train(clean, iters=2)
    cbs = pq_train(dirty, iters=2)
    assert all(len(cv) == 2 for cb in cbs for _, cv in cb)
    codes = {r["vec_id"]: r["codes"]
             for r in pq_encode(dirty, cbs).collect()}
    assert [codes[i] for i in bad_ids] == [None] * 3
    assert all(len(codes[i]) == 4 for i, _ in rows)
    got = sorted(ann_pq_topk(dirty, [3, 40] + bad_ids, k=4).collect())
    assert len(got) == 8
    for kw in ({}, {"rerank": 8}):
        assert sorted(ann_pq_topk(dirty, [3, 40] + bad_ids, k=4, codebooks=cbs,
                                  **kw).collect()) == \
            sorted(ann_pq_topk(clean, [3, 40], k=4, codebooks=cbs, **kw).collect())


def test_polygon_stats_fixture_exact(spark):
    """Hand-computed shoelace integers on the fixture set: hole subtraction
    (holed), non-rectangular edges (tri), and a MultiPolygon doc."""
    import json

    from elevation_service_spark import fixtures
    from elevation_service_spark.operators.geometry import polygon_stats

    rows = [(r["poly_id"], r["geojson"]) for r in fixtures.polygons_rows()]
    # MultiPolygon: hot_box's ring + tri's ring in one document
    rings = [json.loads(g)["coordinates"][0] for _, g in rows[:1]] \
        + [json.loads(rows[3][1])["coordinates"][0]]
    rows.append(("multi", json.dumps(
        {"type": "MultiPolygon", "coordinates": [[rings[0]], [rings[1]]]})))
    df = spark.createDataFrame(rows, ["poly_id", "geojson"])
    got = {r["poly_id"]: r.asDict() for r in
           polygon_stats(df, scale=10.0).collect()}
    # hot_box: 1.2x1.2 deg square -> side 12 lattice -> area2 = 2*144 = 288
    assert got["hot_box"] == {"poly_id": "hot_box", "n_polys": 1,
                              "n_rings": 1, "n_vertices": 5, "area2": 288}
    # holed: outer side 10 (200) minus hole side 2 (8) = 192
    assert got["holed"] == {"poly_id": "holed", "n_polys": 1, "n_rings": 2,
                            "n_vertices": 10, "area2": 192}
    # greenwich: 1x1 deg -> side 10 -> 200
    assert got["greenwich"]["area2"] == 200
    # tri: base 1 deg, height 1 deg -> area 0.5 deg^2 -> lattice 50 -> 100
    assert got["tri"] == {"poly_id": "tri", "n_polys": 1, "n_rings": 1,
                          "n_vertices": 4, "area2": 100}
    # multi = hot_box + tri, two member polygons
    assert got["multi"] == {"poly_id": "multi", "n_polys": 2, "n_rings": 2,
                            "n_vertices": 9, "area2": 388}


def test_polygon_stats_degenerate_rings(spark):
    """ADVICE r6: 0- and 1-position rings must surface as zero-area rows,
    not abort the job (sequence(1, size-1) descends through index 0 and
    element_at(xs, 0) throws under Spark 4 ANSI without the guard)."""
    import json

    from elevation_service_spark.operators.geometry import polygon_stats

    rows = [
        ("one_pos", json.dumps({"type": "Polygon",
                                "coordinates": [[[1.0, 1.0]]]})),
        ("empty_ring", json.dumps({"type": "Polygon",
                                   "coordinates": [[]]})),
        ("mixed", json.dumps({"type": "Polygon",
                              "coordinates": [[[0.0, 0.0], [1.0, 0.0],
                                               [1.0, 1.0], [0.0, 0.0]],
                                              [[5.0, 5.0]]]})),
    ]
    df = spark.createDataFrame(rows, ["poly_id", "geojson"])
    got = {r["poly_id"]: r.asDict() for r in
           polygon_stats(df, scale=10.0).collect()}
    assert got["one_pos"] == {"poly_id": "one_pos", "n_polys": 1,
                              "n_rings": 1, "n_vertices": 1, "area2": 0}
    assert got["empty_ring"]["area2"] == 0
    # the well-formed outer ring still contributes; the degenerate hole
    # contributes exactly zero instead of killing the job
    assert got["mixed"]["area2"] == 100
    assert got["mixed"]["n_rings"] == 2
