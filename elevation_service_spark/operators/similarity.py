"""Similarity search over embedding columns (array<float>).

- ``ann_brute_topk``: exact top-k by quantized dot product.  The query set
  is broadcast; scoring is a JVM higher-order expression
  (zip_with · aggregate) inside codegen — no Python, no shuffle except the
  final per-query top-k window.  O(N·Q): the correctness baseline.
- ``ann_lsh_topk``: the scale path — random-hyperplane (sign) LSH buckets
  via a deterministic ±1 plane matrix; candidates = bucket collisions
  (hamming-ball 0), exact rerank inside buckets.  Turns O(N·Q) into
  O(N + collisions).

Scores are integer dot products of round(x·1000) components — exact,
order-independent, and reproducible by the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT_SCALE = 1000
N_PLANES = 8


def _quant(col: Column) -> Column:
    return F.transform(col, lambda x: F.floor(x.cast("double") * QUANT_SCALE + F.lit(0.5)).cast("long"))


def _no_null_component(vec: Column) -> Column:
    """True for a vector that is not NULL and holds no NULL component."""
    return F.forall(vec, lambda x: x.isNotNull())


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def ann_brute_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(qid, rank, vec_id, score) — exact top-k neighbours per query id by
    quantized dot product; ties broken by vec_id ascending; self excluded."""
    q = (emb.filter(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("qid"), _quant(F.col(vec_col)).alias("qv")))
    cand = (emb.select(F.col(id_col).alias("vec_id"), _quant(F.col(vec_col)).alias("ev"))
            .crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id", _dot(F.col("qv"), F.col("ev")).alias("score")))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "score"))


def plane_sign(plane: int, pos: int) -> int:
    """Deterministic ±1 hyperplane matrix entry (shared with SQL oracle)."""
    return 1 if ((plane * 31 + pos * 17) % 2) == 0 else -1


def _bucket(vec: str, dim: int, n_planes: int = N_PLANES) -> Column:
    """Sign-LSH bucket id: bit j = (sum_i sign(j,i)·v_i) > 0.

    ``vec`` is a COLUMN NAME: the n_planes x dim term expression is built
    as ONE SQL text parsed JVM-side — the r1-r7 Column-API form made a
    py4j round trip per term (~2·n_planes·dim driver calls, measured
    ~1.5-2 s of pure driver build time per use at 8x64); the parsed tree
    and types are identical (int literals, left-assoc sums), so results
    are unchanged (oracle-pinned)."""
    planes = []
    for j in range(n_planes):
        proj = " + ".join(
            f"(element_at(`{vec}`, {i + 1}) * {plane_sign(j, i)})"
            for i in range(dim))
        planes.append(
            f"shiftleft(CASE WHEN ({proj}) > 0 THEN CAST(1 AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END, {j})")
    return F.expr(" + ".join(planes))


def ann_lsh_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                 dim: int = 64, n_planes: int = N_PLANES,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(qid, rank, vec_id, score) — approximate top-k: candidates share the
    query's sign-LSH bucket, exact integer-dot rerank within.  May return
    fewer than k rows per query (bucket miss) — that is the ANN recall
    trade-off; recall is measured against ann_brute_topk in tests."""
    base = emb.select(F.col(id_col).alias("vec_id"),
                      _quant(F.col(vec_col)).alias("ev"))
    base = base.withColumn("bucket", _bucket("ev", dim, n_planes))
    q = (base.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("qid"), F.col("ev").alias("qv"),
                 F.col("bucket").alias("qbucket")))
    cand = (base.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id", _dot(F.col("qv"), F.col("ev")).alias("score")))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "rank", "vec_id", "score"))


def embedding_centroids(emb: DataFrame, group_col: str = "label",
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Per-group integer centroid signatures — (group, pos, sum_q,
    n_vecs): the exact quantized per-dimension SUM and the member count,
    i.e. the centroid as an exact rational sum_q/n_vecs.  The
    domain-signature artifact for drift monitoring and per-source
    embedding QA (means drift when a source's content shifts); emitting
    the (sum, n) pair instead of the float mean keeps the result
    hash-gateable and mergeable (centroids of unioned corpora = summed
    rows).

    Scale shape: quantize (pure Column transform) -> ONE posexplode ->
    ONE map-side-combinable groupBy(group, pos); output is
    O(groups x dim), corpus-size-independent."""
    q = _quant(F.col(vec_col))
    return (emb.select(F.col(group_col).alias("grp"), q.alias("qv"))
            .select("grp", F.posexplode("qv").alias("pos", "val"))
            .groupBy("grp", "pos")
            .agg(F.sum("val").cast("long").alias("sum_q"),
                 F.count(F.lit(1)).cast("long").alias("n_vecs")))


def embedding_near_dup_pairs(emb: DataFrame, min_score: int,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = 64) -> DataFrame:
    """(id1, id2, score) — embedding near-duplicates: bucket-collision
    self-join + exact integer-dot threshold (cosine-style near-dup dedup
    at scale; never all-pairs)."""
    base = (emb.select(F.col(id_col).alias("id"), _quant(F.col(vec_col)).alias("v"))
            .withColumn("bucket", _bucket("v", dim)))
    a, b = base.alias("a"), base.alias("b")
    return (a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"),
                    _dot(F.col("a.v"), F.col("b.v")).alias("score"))
            .filter(F.col("score") >= min_score))


def semantic_dedup(emb: DataFrame, k: int = 8, iters: int = 2,
                   min_score: int = 1,
                   centroids: list[tuple[int, list[int]]] | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int | None = None) -> DataFrame:
    """(vec_id, cid, component, is_survivor) — SemDeDup-style semantic
    deduplication: learn k-means clusters over the embeddings (integer
    Lloyd, kmeans_centroids), emit near-duplicate pairs ONLY within a
    cluster (integer dot >= min_score), connect them into components, and
    keep the min-id representative per component.

    The 100 TB shape: clustering first bounds the candidate self-join to
    within-cluster pairs — never all-pairs; pick k ~ corpus / target
    cluster size so the per-cluster quadratic term stays bounded (the
    SemDeDup recipe).  One shuffle for the cluster-keyed self-join plus
    the O(rounds) component joins; the only Python is the Arrow
    centroid argmax (_centroid_probe_udf).  Every step is integer-exact,
    so the DuckDB oracle replays training, assignment, pairing, and the
    transitive closure bit-for-bit.  A NULL or wrong-length embedding
    gets a NULL cid: it pairs with nothing and comes back as its own
    surviving singleton component.

    ``max_cluster`` (VERDICT r6 task 5 — the lsh_candidate_pairs
    ``max_bucket`` precedent): "k ∝ corpus" is a convention, not a
    guarantee — one boilerplate-heavy cluster still goes quadratic.  With
    the cap set, clusters holding more than ``max_cluster`` members are
    dropped from pair generation BEFORE the self-join, so the worst
    cluster costs O(max_cluster²), never O(cluster²); their members pass
    through as singleton components (is_survivor=true).  The dropped mass
    is observable, never silent — route the flagged clusters through
    ``semantic_oversize_clusters``, which returns one representative +
    member count each (at that density the cluster IS one near-dup group;
    materializing its m²/2 pairs adds nothing).  ``max_cluster=None``
    keeps the exact uncapped semantics for oracle verification."""
    from .cluster import connected_components
    # materialize the argmax assignment once and truncate lineage: it is
    # read by both self-join sides AND the final comps join; likewise the
    # quadratic within-cluster join runs exactly once — CC's label init
    # and its cached sym table each re-evaluate their edges input
    # (r5 code-review)
    assigned = _assign_clusters(emb, k, iters, centroids,
                                id_col, vec_col).localCheckpoint()
    pair_src = assigned
    if max_cluster is not None:
        small = (assigned.groupBy("cid")
                 .agg(F.count(F.lit(1)).alias("_cn"))
                 .filter(F.col("_cn") <= max_cluster)
                 .select("cid"))
        pair_src = assigned.join(small, "cid", "left_semi")
    # spread ONLY the streamed side of the quadratic within-cluster
    # self-join when the input scan undersupplied parallelism (few-split
    # local inputs arrive checkpointed as 1-2 partitions, serializing
    # the pair scoring on one task — ~2 s of the r8 phase breakdown).
    # The probe is metadata-only: the frame is checkpointed, so
    # getNumPartitions reads the materialized RDD without executing
    # anything (the AQE hazard in CLAUDE.md applies to un-materialized
    # upstream shuffles).  The repartition is lazy with exactly one
    # consumer (the pairs checkpoint job) and is NOT applied to the
    # build side or any other assigned consumer, so the CC rounds keep
    # the original partitioning; at scale the scan supplies >= cores
    # partitions and no exchange is added at all.
    cores = emb.sparkSession.sparkContext.defaultParallelism
    spread = assigned.rdd.getNumPartitions() < cores
    pair_a = pair_src.repartition(cores) if spread else pair_src
    a, b = pair_a.alias("a"), pair_src.alias("b")
    pairs = (a.join(b, (F.col("a.cid") == F.col("b.cid"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("id1"),
                     F.col("b.vec_id").alias("id2"),
                     _dot(F.col("a.v"), F.col("b.v")).alias("score"))
             .filter(F.col("score") >= min_score)
             .select("id1", "id2"))
    if spread:
        # fold the surviving pairs (a tiny fraction of the scored
        # candidates) back to the pre-spread partition count before the
        # checkpoint: the spread exists to parallelize the SCORING, and
        # letting its 32-way layout leak into the checkpoint made every
        # downstream CC-round stage pay ~cores near-empty tasks
        # (measured: 732 vs 80 tasks for the same query, no wall gain)
        pairs = pairs.repartition(max(2, assigned.rdd.getNumPartitions()))
    pairs = pairs.localCheckpoint()
    comps = connected_components(pairs, assigned.select("vec_id"))
    return (assigned.select("vec_id", "cid")
            .join(comps.withColumnRenamed("id", "vec_id"), "vec_id")
            .select("vec_id", "cid", "component",
                    (F.col("vec_id") == F.col("component")).alias("is_survivor")))


def _assign_clusters(emb: DataFrame, k: int, iters: int,
                     centroids: list[tuple[int, list[int]]] | None,
                     id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, v, cid) — k-means argmax assignment shared by
    semantic_dedup and semantic_oversize_clusters (so the capped path and
    its oversize report can never disagree on cluster membership)."""
    if centroids is None:
        centroids = kmeans_centroids(emb, k, iters=iters,
                                     id_col=id_col, vec_col=vec_col)
    cents = sorted((int(c), [int(x) for x in v]) for c, v in centroids)
    base = emb.select(F.col(id_col).alias("vec_id"),
                      _quant(F.col(vec_col)).alias("v"))
    assign1 = _centroid_probe_udf(emb.sparkSession, cents, 1)
    return base.withColumn("cid", F.element_at(assign1(F.col("v")), 1))


def semantic_oversize_clusters(emb: DataFrame, max_cluster: int,
                               k: int = 8, iters: int = 2,
                               centroids: list[tuple[int, list[int]]] | None = None,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """(cid, n_members, representative) — the clusters that
    semantic_dedup(max_cluster=...) dropped from pair generation (the
    lsh_oversize_buckets mirror).  Callers log/route these: a cluster
    that dense is one near-dup neighborhood — keep the min-id
    representative (the same id the uncapped path would elect if the
    cluster were fully connected) and review or down-sample the rest,
    without ever materializing the m²/2 pairs.  Pass the same
    ``centroids`` given to semantic_dedup (or none, to retrain
    identically — init is content-hash deterministic) so both sides see
    the same assignment."""
    assigned = _assign_clusters(emb, k, iters, centroids, id_col, vec_col)
    # count(cid) is 0 for the NULL-cid group of rejected vectors, so it is
    # never reported
    return (assigned.groupBy("cid")
            .agg(F.count("cid").alias("n_members"),
                 F.min("vec_id").alias("representative"))
            .filter(F.col("n_members") > max_cluster))


def kmeans_centroids(emb: DataFrame, k: int, iters: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     salt: str = "km") -> list[tuple[int, list[int]]]:
    """Learned IVF centroids: quantized Lloyd iterations, fully distributed.

    - init: deterministic content-hash sample of k corpus vectors
      (partitioning-independent, rerun-stable — same scheme as
      operators/sampling.py), so runs are reproducible without RNG state;
    - assign: broadcast-matrix argmax (_centroid_probe_udf — the same
      kernel search and SemDeDup use); a NULL, NULL-component or
      wrong-length vector gets a NULL cid, never seeds a centroid and
      never enters the sums;
    - update: posexplode the vectors and average per (centroid, dim) — one
      map-side-combined aggregation, never collecting vectors; means are
      re-quantized to ints so every iteration (and the final search) stays
      in exact integer arithmetic.

    Only the k centroid vectors ever reach the driver (k*dim ints per
    iteration — the k-means state, small by definition).  Empty clusters
    keep their previous centroid.  Returns [(cid, quantized_vec)] sorted by
    cid, ready for ann_ivf_topk(centroids=...)."""
    base = (emb.select(F.col(id_col).alias("vec_id"),
                       _quant(F.col(vec_col)).alias("ev")))
    # deterministic k-sample: smallest-k by md5(vec_id || salt) — a
    # distributed TakeOrdered (orderBy+limit), NOT a global window
    bucket = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(salt)))
    seed_rows = (base.filter(_no_null_component(F.col("ev"))).withColumn("_b", bucket)
                 .orderBy("_b", "vec_id").limit(k)
                 .select("vec_id", "ev").collect())
    seeds = _centroid_rows(sorted(((r["vec_id"], r["ev"]) for r in seed_rows),
                                  key=lambda r: r[0]))
    cents = [(i, [int(x) for x in v]) for i, (_, v) in enumerate(seeds)]
    spark = emb.sparkSession

    def partial_sums(batches):
        # per-partition numpy partial sums: each partition emits at most k
        # rows of (cid, dim-sum vector, count) — the shuffle volume is
        # partitions x k x dim longs, NOT rows x dim exploded rows
        acc: dict[int, list] = {}
        for pdf in batches:
            pdf = pdf[pdf["cid"].notna()]  # vectors the kernel rejected
            if not len(pdf):
                continue
            cids = pdf["cid"].to_numpy(dtype=np.int64)
            vecs = np.asarray(pdf["ev"].tolist(), dtype=np.int64)
            for cid in np.unique(cids):
                m = cids == cid
                ent = acc.setdefault(int(cid),
                                     [np.zeros(vecs.shape[1], np.int64), 0])
                ent[0] += vecs[m].sum(axis=0)
                ent[1] += int(m.sum())
        yield pd.DataFrame({
            "cid": list(acc.keys()),
            "s": [e[0].tolist() for e in acc.values()],
            "n": [e[1] for e in acc.values()]})

    for _ in range(iters):
        # the rows cross into Python for the partial sums anyway, so the
        # numpy argmax costs no extra transport here
        assign1 = _centroid_probe_udf(spark, cents, 1)
        assigned = base.withColumn("cid", F.element_at(assign1(F.col("ev")), 1))
        parts = (assigned.select("cid", "ev")
                 .mapInPandas(partial_sums, "cid long, s array<long>, n long")
                 .collect())  # <= partitions x k tiny rows: the k-means state
        sums: dict[int, list] = {}
        for r in parts:
            ent = sums.setdefault(int(r["cid"]), [np.zeros(len(r["s"]), np.int64), 0])
            ent[0] += np.asarray(r["s"], dtype=np.int64)
            ent[1] += int(r["n"])
        new = dict(cents)  # empty clusters keep their previous centroid
        for cid, (svec, n) in sums.items():
            new[cid] = [_int_mean(int(s), n) for s in svec.tolist()]
        cents = sorted(new.items())
    return cents


PQ_M = 4      # subspaces
PQ_K = 16     # codes per subspace
PQ_EXPR_MAX_Q = 64  # above this, ADC scoring moves from Column literals
                    # to one broadcast-LUT Arrow pass (VERDICT r4 #4)


def _int_mean(s: int, n: int) -> int:
    """Integer mean, round half away from zero — the shared Lloyd rule."""
    return (2 * s + n) // (2 * n) if s >= 0 else -((2 * -s + n) // (2 * n))


def pq_train(emb: DataFrame, m: int = PQ_M, k: int = PQ_K, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             salt: str = "pq") -> list[list[tuple[int, list[int]]]]:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces and run quantized-integer Lloyd per subspace, all subspaces
    learned in ONE distributed pass per iteration.

    - init: the same deterministic md5-smallest-k corpus sample as
      kmeans_centroids, sliced per subspace (code id = seed's vec_id rank);
      a NULL, NULL-component or wrong-length vector never seeds a code and
      never enters the sums;
    - assign: L2 argmin per subspace (ties -> lowest code) via one
      Arrow-batched UDF against the broadcast codebook tensor;
    - update: per-partition numpy partial sums -> integer means
      (half away from zero), empty codes keep their previous centroid.

    Driver state is m*k*d_sub ints per iteration.  Returns
    ``codebooks[m] = [(code, subvec)]`` sorted by code, ready for
    ann_pq_topk.  Every step is integer-exact, so a DuckDB oracle can
    replay training bit-for-bit (queries_training.ann_pq)."""
    base = (emb.select(F.col(id_col).alias("vec_id"),
                       _quant(F.col(vec_col)).alias("ev")))
    bucket = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(salt)))
    seed_rows = (base.filter(_no_null_component(F.col("ev"))).withColumn("_b", bucket)
                 .orderBy("_b", "vec_id").limit(k)
                 .select("vec_id", "ev").collect())
    seeds = [v for _, v in _centroid_rows(sorted(
        ((r["vec_id"], r["ev"]) for r in seed_rows), key=lambda r: r[0]))]
    if not seeds:
        raise ValueError("pq_train: empty embeddings table")
    # dim comes free from the seed collect — no extra full-corpus scan
    dim = len(seeds[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d_sub = dim // m
    cbs = [[(c, [int(x) for x in sv[mm * d_sub:(mm + 1) * d_sub]])
            for c, sv in enumerate(seeds)] for mm in range(m)]
    spark = emb.sparkSession

    def partial_sums_fn(mats):
        def partial_sums(batches):
            # per-partition sums: at most m*k rows of (m, code, sum-vec, n)
            acc: dict[tuple[int, int], list] = {}
            for pdf in batches:
                rows, X = _accepted_vectors(pdf["ev"], dim)
                if not rows:
                    continue
                codes = _pq_codes(X, mats)
                for mm in range(mats.shape[0]):
                    sub = X[:, mm * d_sub:(mm + 1) * d_sub]
                    for c in np.unique(codes[:, mm]):
                        sel = codes[:, mm] == c
                        ent = acc.setdefault((mm, int(c)),
                                             [np.zeros(d_sub, np.int64), 0])
                        ent[0] += sub[sel].sum(axis=0)
                        ent[1] += int(sel.sum())
            yield pd.DataFrame({
                "m": [mc[0] for mc in acc],
                "code": [mc[1] for mc in acc],
                "s": [e[0].tolist() for e in acc.values()],
                "n": [e[1] for e in acc.values()]})
        return partial_sums

    for _ in range(iters):
        mats = np.asarray([[cv for _, cv in cb] for cb in cbs], dtype=np.int64)
        parts = (base.select("ev")
                 .mapInPandas(partial_sums_fn(mats),
                              "m long, code long, s array<long>, n long")
                 .collect())
        sums: dict[tuple[int, int], list] = {}
        for r in parts:
            ent = sums.setdefault((int(r["m"]), int(r["code"])),
                                  [np.zeros(d_sub, np.int64), 0])
            ent[0] += np.asarray(r["s"], dtype=np.int64)
            ent[1] += int(r["n"])
        new = [dict(cb) for cb in cbs]  # empty codes keep previous centroid
        for (mm, c), (svec, n) in sums.items():
            new[mm][c] = [_int_mean(int(s), n) for s in svec.tolist()]
        cbs = [sorted(d.items()) for d in new]
    return cbs


def _pq_codes(X: np.ndarray, mats: np.ndarray) -> np.ndarray:
    """L2 argmin per subspace; np.argmin takes the FIRST minimum, i.e.
    ties break to the lowest code — matching the oracle's (dd ASC, code
    ASC) row_number rule."""
    m, _k, d_sub = mats.shape
    out = np.empty((len(X), m), dtype=np.int32)
    for mm in range(m):
        sub = X[:, mm * d_sub:(mm + 1) * d_sub]
        d2 = ((sub[:, None, :] - mats[mm][None, :, :]) ** 2).sum(axis=2)
        out[:, mm] = np.argmin(d2, axis=1)
    return out


def pq_encode(emb: DataFrame, codebooks, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(vec_id, ev, codes) — each vector compressed to m small ints (the
    5-12x storage cut PQ exists for); ONE Arrow-batched pass, no shuffle.
    A NULL, NULL-component or wrong-length vector gets NULL codes."""
    mats = np.asarray([[cv for _, cv in cb] for cb in codebooks],
                      dtype=np.int64)
    dim = mats.shape[0] * mats.shape[2]
    bc = emb.sparkSession.sparkContext.broadcast(mats)

    @F.pandas_udf("array<int>")
    def codes_udf(ev: pd.Series) -> pd.Series:
        out = [None] * len(ev)
        rows, X = _accepted_vectors(ev, dim)
        if rows:
            for i, c in zip(rows, _pq_codes(X, bc.value)):
                out[i] = c
        return pd.Series(out, dtype=object)

    return (emb.select(F.col(id_col).alias("vec_id"),
                       _quant(F.col(vec_col)).alias("ev"))
            .withColumn("codes", codes_udf(F.col("ev"))))


def ann_pq_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                codebooks=None, id_col: str = "vec_id",
                vec_col: str = "embedding",
                rerank: int | None = None) -> DataFrame:
    """(qid, rank, vec_id, score) — asymmetric PQ search (ADC): database
    vectors are scored through their codes only, score = sum over
    subspaces of dot(query_sub, codebook[code]).  The 100 TB shape: after
    the one encode pass, search is a SCAN — the per-query lookup tables
    (m*k ints each) fold into pure JVM Column arithmetic, so the only
    Python is the encode UDF and the only shuffle is the final top-k
    window on (qid).  Approximate by construction (the standard PQ trade:
    m*log2(k) bits per vector instead of dim floats); ADC deliberately
    collapses fine intra-cluster ranking to code ties, so production PQ
    re-ranks: ``rerank=R`` keeps the ADC top-R shortlist per query and
    re-scores it with the EXACT integer dot (the vectors of R rows — not
    the corpus — cross the wire), returning exact-top-k-of-shortlist.
    Recall vs brute force is measured in tests for both modes.

    Plan size is BOUNDED in query count (VERDICT r4 #4): up to
    ``PQ_EXPR_MAX_Q`` queries the per-query ADC tables fold into pure JVM
    Column literals (zero Python in the search, the oracle-gated form);
    above it the stacked (Q, m, k) LUT tensor is broadcast and scored in
    ONE Arrow pandas_udf pass (mirroring _centroid_probe_udf), so a
    thousand-query batch costs one O(1)-size plan instead of a thousand
    literal columns blowing up Catalyst analysis (the r2 #4 failure mode).
    Both paths produce bit-identical integer scores."""
    if codebooks is None:
        codebooks = pq_train(emb, id_col=id_col, vec_col=vec_col)
    m = len(codebooks)
    d_sub = len(codebooks[0][0][1])
    # a vector the encoder rejects is no candidate and no query; the JVM
    # filter runs below the encode, so such rows never reach Python
    enc = pq_encode(emb, codebooks, id_col, vec_col).filter(
        (F.size("ev") == m * d_sub) & _no_null_component(F.col("ev")))
    qids = sorted(int(q) for q in query_ids)
    qrows = {r["vec_id"]: r["ev"]
             for r in enc.filter(F.col("vec_id").isin(qids))
             .select("vec_id", "ev").collect()}
    # query ids absent from the corpus simply return no rows (the same
    # contract as ann_brute/lsh/ivf), never a driver KeyError
    qids = [q for q in qids if q in qrows]
    if not qids:
        return emb.sparkSession.createDataFrame(
            [], "qid long, rank int, vec_id long, score long")
    # the ADC tables: luts[q][mm][code] = dot(query_sub, codebook[code])
    luts = [[[sum(int(a) * int(b) for a, b in zip(
                  qrows[q][mm * d_sub:(mm + 1) * d_sub], cv))
              for _, cv in codebooks[mm]] for mm in range(m)]
            for q in qids]
    sc = emb.sparkSession.sparkContext
    big_q = len(qids) > PQ_EXPR_MAX_Q
    if big_q:
        lut_bc = sc.broadcast(np.asarray(luts, dtype=np.int64))  # (Q, m, k)

        @F.pandas_udf("array<long>")
        def scores_udf(codes: pd.Series) -> pd.Series:
            if not len(codes):
                return pd.Series([], dtype=object)
            L = lut_bc.value
            C = np.asarray(codes.tolist(), dtype=np.int64)  # (n, m)
            n_q = L.shape[0]
            # block the batch rows so the (rows x Q) gather temporaries
            # stay ~4M elements: a 65536-row Arrow batch x 1000 queries
            # would otherwise materialize ~0.5 GB per subspace per task
            # (r5 code-review)
            step = max(1, 4_000_000 // max(1, n_q))
            out = []
            for s in range(0, C.shape[0], step):
                Cb = C[s:s + step]
                S = np.zeros((Cb.shape[0], n_q), dtype=np.int64)
                for mm in range(L.shape[1]):
                    # L[:, mm, :] is (Q, k); fancy-index its columns by
                    # this block's codes -> (Q, rows); transpose-add
                    S += L[:, mm, :][:, Cb[:, mm]].T
                out.extend(S)
            return pd.Series(out)

        score_arr = scores_udf(F.col("codes"))
    else:
        score_cols = []
        for lut_q in luts:
            parts = None
            for mm in range(m):
                # each literal is cast to LONG so the m-term sum
                # accumulates 64-bit like _dot does — int32-sized LUT
                # entries would otherwise sum in IntegerType and wrap for
                # large-magnitude embeddings (diverging from the oracle)
                term = F.element_at(
                    F.array(*[F.lit(v).cast("long") for v in lut_q[mm]]),
                    F.element_at(F.col("codes"), mm + 1) + 1)
                parts = term if parts is None else parts + term
            score_cols.append(parts.cast("long"))
        score_arr = F.array(*score_cols)
    # plain ADC never materializes vectors downstream of the encode; the
    # ev column rides along only when a rerank pass will need it
    carry = ["vec_id"] + (["ev"] if rerank is not None else [])
    qid_of_idx = (F.element_at(F.array(*[F.lit(q) for q in qids]),
                               F.col("qidx") + 1) if not big_q else None)
    if big_q:
        # Q literal qids would re-grow the plan linearly — map the index
        # through a broadcast-joined (qidx, qid) frame instead
        qmap = emb.sparkSession.createDataFrame(
            [(i, q) for i, q in enumerate(qids)], "qidx int, qid long")
        scored = (enc.select(*carry, F.posexplode(score_arr)
                             .alias("qidx", "score"))
                  .join(F.broadcast(qmap), "qidx")
                  .filter(F.col("vec_id") != F.col("qid")))
    else:
        scored = (enc.select(*carry, F.posexplode(score_arr)
                             .alias("qidx", "score"))
                  .withColumn("qid", qid_of_idx)
                  .filter(F.col("vec_id") != F.col("qid")))
    # both scoring paths emit the same schema (the literal path's qid is
    # int32, the broadcast-map path's is long — pin long)
    scored = scored.withColumn("qid", F.col("qid").cast("long"))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    if rerank is None:
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("qid", F.col("rank").cast("int").alias("rank"),
                        "vec_id", "score"))
    shortlist = (scored.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= int(rerank)))
    if big_q:
        # exact re-score via the broadcast query-vector matrix — one
        # Arrow pass over R*Q shortlist rows, plan O(1) in Q
        qmat = np.asarray([qrows[q] for q in qids], dtype=np.int64)
        qv_bc = sc.broadcast((qmat, {q: i for i, q in enumerate(qids)}))

        @F.pandas_udf("long")
        def exact_udf(qid: pd.Series, ev: pd.Series) -> pd.Series:
            if not len(qid):
                return pd.Series([], dtype="int64")
            qm, qindex = qv_bc.value
            X = np.asarray(ev.tolist(), dtype=np.int64)
            rows = qm[[qindex[int(x)] for x in qid]]
            return pd.Series((X * rows).sum(axis=1))

        exact = shortlist.withColumn(
            "score", exact_udf(F.col("qid"), F.col("ev")))
    else:
        # the query vector arrives as a per-qid literal array (tiny),
        # the dot is a JVM HOF — still no Python
        qv_arr = F.array(*[F.array(*[F.lit(int(x)) for x in qrows[q]])
                           for q in qids])
        qidx_of = F.array_position(F.array(*[F.lit(q) for q in qids]),
                                   F.col("qid"))
        exact = shortlist.withColumn(
            "score", _dot(F.element_at(qv_arr, qidx_of.cast("int")), F.col("ev")))
    return (exact.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", F.col("rank").cast("int").alias("rank"),
                    "vec_id", "score"))


def _centroid_rows(rows):
    """The centroid rows the assignment kernel can use, in their order: a
    NULL vector, one with a NULL component, or one whose length is not
    the length most rows share (ties to the earliest) is dropped — the
    kernel's NULL-cid rule, applied to a centroid source."""
    rows = [(c, v) for c, v in rows if v is not None and None not in v]
    if rows:
        lengths = [len(v) for _, v in rows]
        dim = max(lengths, key=lengths.count)
        rows = [(c, v) for c, v in rows if len(v) == dim]
    return rows


def _accepted_vectors(ev: pd.Series, dim: int) -> tuple[list[int], np.ndarray]:
    """(positions, int64 matrix) of the vectors in an Arrow batch that are
    not NULL, hold ``dim`` components and no NULL one; every Python stage
    that reads embeddings skips the rest."""
    rows = [i for i, v in enumerate(ev) if v is not None and len(v) == dim]
    if not rows:
        return rows, np.zeros((0, max(dim, 0)), np.int64)
    vecs = np.stack([ev.iat[i] for i in rows])
    if vecs.dtype.kind == "f":
        # Arrow hands a batch holding a NULL component over as float64
        # with NaN in its place
        keep = ~np.isnan(vecs).any(axis=1)
        rows = [i for i, ok in zip(rows, keep) if ok]
        vecs = vecs[keep]
    return rows, vecs.astype(np.int64)


def _centroid_probe_udf(spark, cents: list[tuple[int, list[int]]], nprobe: int):
    """The one centroid-assignment kernel (k-means training, IVF search,
    SemDeDup): an Arrow-batched top-``nprobe`` argmax of integer dots
    against a broadcast centroid matrix, plan size O(1) in centroid count.
    Ties go to the LOWEST cid (cents arrive cid-sorted; the stable argsort
    keeps that order on equal scores) — the oracles' ``ORDER BY s DESC,
    cid ASC``.

    Total over its input: a centroid row _centroid_rows rejects is not
    used; a NULL vector, one whose length is not the centroid dimension,
    or one with a NULL component gets a NULL cid list (so it is never a
    candidate, a query match or a cluster member), and an empty batch
    returns an empty result.

    The UDF is marked nondeterministic so that no filter on its output is
    pushed below it: a join's inferred ``isnotnull(cid)`` filter would
    otherwise run the argmax over every row a second time."""
    cents = _centroid_rows(cents)
    dim = len(cents[0][1]) if cents else -1  # no centroid: all rejected
    mat = np.asarray([cv for _, cv in cents], dtype=np.int64)
    ids = np.asarray([cid for cid, _ in cents], dtype=np.int64)
    bc = spark.sparkContext.broadcast((mat, ids))

    @F.pandas_udf("array<long>")
    def topn(ev: pd.Series) -> pd.Series:
        cmat, cids_ = bc.value
        out = [None] * len(ev)
        rows, vecs = _accepted_vectors(ev, dim)
        if rows:
            order = np.argsort(-(vecs @ cmat.T), axis=1, kind="stable")[:, :nprobe]
            for i, top in zip(rows, cids_[order]):
                out[i] = top
        return pd.Series(out, dtype=object)

    return topn.asNondeterministic()


def ann_ivf_topk(emb: DataFrame, query_ids: list[int], k: int = 10,
                 n_centroids: int = 8, centroid_ids: list[int] | None = None,
                 nprobe: int = 1,
                 centroids: list[tuple[int, list[int]]] | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(qid, rank, vec_id, score) — IVF-style ANN: vectors are assigned to
    their nearest centroid (integer-dot argmax, deterministic tie-break by
    centroid index) and queries search their ``nprobe`` nearest centroids'
    inverted lists, exact rerank within.  Centroids are either a
    deterministic sample of the corpus (centroid_ids — the oracle-gated
    form) or learned vectors passed via ``centroids=`` (kmeans_centroids —
    the quality path; identical partition/search plumbing).  Raising
    nprobe is the standard IVF recall/cost dial: candidates grow ~linearly
    with probed lists; recall is measured vs brute force in tests.

    Assignment and probing both run the one broadcast-matrix Arrow argmax
    (_centroid_probe_udf), plan size O(1) in centroid count.  A vector
    the kernel rejects (NULL or wrong length) lives in no inverted list,
    and a query id holding one returns no rows."""
    if centroids is not None:
        # learned centroids (e.g. kmeans_centroids) — already quantized ints
        cents = sorted((int(c), [int(x) for x in v]) for c, v in centroids)
    else:
        cids = centroid_ids or list(range(10, 10 + n_centroids))
        cents = (emb.filter(F.col(id_col).isin(cids))
                 .select(F.col(id_col).alias("cid"),
                         _quant(F.col(vec_col)).alias("cv"))
                 .collect())
        cents = sorted(((r["cid"], r["cv"]) for r in cents), key=lambda c: c[0])
    base = emb.select(F.col(id_col).alias("vec_id"), _quant(F.col(vec_col)).alias("ev"))

    spark = emb.sparkSession
    assign1 = _centroid_probe_udf(spark, cents, 1)
    assigned = base.withColumn("centroid", F.element_at(assign1(F.col("ev")), 1))
    # the query side probes from base: a filter over `assigned` would stay
    # above the (nondeterministic) argmax and run it over the corpus again
    if nprobe <= 1:
        probe = F.element_at(assign1(F.col("ev")), 1)
    else:
        # one probe row per (query, list); a NULL list explodes to none
        probe = F.explode(_centroid_probe_udf(spark, cents, nprobe)(F.col("ev")))
    q = (base.filter(F.col("vec_id").isin(query_ids))
         .select(F.col("vec_id").alias("qid"), F.col("ev").alias("qv"),
                 probe.alias("qcentroid")))
    # a vector lives in exactly one inverted list, so probing several lists
    # never duplicates a (qid, vec_id) candidate — no distinct needed
    cand = (assigned.join(F.broadcast(q), F.col("centroid") == F.col("qcentroid"))
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id", _dot(F.col("qv"), F.col("ev")).alias("score")))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", F.col("rank").cast("int").alias("rank"), "vec_id", "score"))
