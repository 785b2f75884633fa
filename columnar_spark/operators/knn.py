"""KNN / vector search — reference knn/ parity (SURVEY §2.F).

The reference exposes `CreateIterator(attr, query, k, ef, filter, ...)`
over a per-attribute HNSW graph (knn/knn.cpp:411-540) with L2/IP/COSINE
metrics and a filtered-search mode that falls back to brute force when the
filter is selective (`ShouldUseFullscan`, knn/knn.cpp:217).

Spark-first re-expression:

- `knn_topk` — exact brute force: distance expression + global top-k.
  `orderBy(dist).limit(k)` compiles to TakeOrderedAndProject: each
  partition keeps only its local top-k and the driver merges k*partitions
  rows — no full shuffle, no driver-side materialization of the table.
  This is the correctness path (deterministic, oracle-matchable) and the
  selective-filter path (the reference's fullscan fallback).

- `knn_topk_ivf` — scale path: IVF-style pruning. A small centroid table
  (trained once, broadcast) assigns each row a cluster id at write time;
  a query probes only the `nprobe` nearest clusters, turning top-k into a
  partition-prunable scan of ~nprobe/n_clusters of the data. The analog of
  the reference's HNSW graph restriction, but expressed as data layout +
  predicate so Parquet/Catalyst pruning does the work at 100 TB.

Distances follow hnswlib conventions (see functions/vector.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from columnar_spark.functions.vector import (
    cosine_dist,
    cosine_sim,
    ip_dist,
    l2_sq,
    py_norm,
    vec_lit,
)

METRICS = ("l2", "ip", "cosine")

# knn_batch_topk broadcasts the query set; above this it must be chunked
# (the broadcast and the n x q distance fan-out both scale with q).
BATCH_QUERY_MAX_ROWS = 10_000

# Codegen-unroll gate for the single-query distance chain. The 64-term
# dim-unrolled expression wins only when the scan amortizes its plan
# cost (+12% throughput measured at 400k x 64-dim rows, r10) — but it
# inflates per-EXECUTION analysis/codegen time by ~0.08-0.10s, which a
# sub-0.2s query eats whole (measured, tools/ab_unroll.py: topk
# 0.104s fold vs 0.185s unrolled; rerank shape 0.079s vs 0.176s at
# sf0.1). Auto mode unrolls only when the input's Catalyst size
# estimate clears the threshold; 0 forces the unroll, a huge value
# forces the fold. Scale-adaptive, not local-tuned: the default
# threshold is the measured win point (~128 MB ~ 400k rows x 64-dim
# doubles), so a 100 TB scan unrolls and a k-row rerank never does.
UNROLL_BYTES_CONF = "spark.columnar.knn.unrollBytesThreshold"
UNROLL_BYTES_DEFAULT = 128 * 1024 * 1024


def _unroll_dim(df: DataFrame, query_vec: Sequence[float]) -> "int | None":
    """len(query_vec) when the scan is big enough for the dim-unrolled
    chain to pay for its plan-size cost, else None (fold)."""
    try:
        thr = int(
            df.sparkSession.conf.get(UNROLL_BYTES_CONF, str(UNROLL_BYTES_DEFAULT))
        )
    except Exception:
        thr = UNROLL_BYTES_DEFAULT
    if thr <= 0:
        return len(query_vec)
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return len(query_vec) if size >= thr else None


def distance_expr(
    vec_col: Column,
    query_vec: Sequence[float],
    metric: str,
    dim: "int | None" = None,
) -> Column:
    # `dim` unrolls the chain into whole-stage codegen (functions.vector
    # dim= path; bit-equal to the fold). Callers with a DataFrame in
    # hand gate it through _unroll_dim; the default is the fold, whose
    # per-execution plan cost is flat (see UNROLL_BYTES_CONF above).
    q = vec_lit(query_vec)
    if metric == "l2":
        return l2_sq(vec_col, q, dim=dim)
    if metric == "ip":
        return ip_dist(vec_col, q, dim=dim)
    if metric == "cosine":
        return cosine_dist(vec_col, q, b_norm=py_norm(query_vec), dim=dim)
    raise ValueError(f"metric must be one of {METRICS}, got {metric!r}")


def knn_topk(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    k: int,
    metric: str = "cosine",
    id_col: str = "vec_id",
    pre_filter: Column | None = None,
    dist_col: str = "dist",
    observation=None,
    unroll: "bool | None" = None,
) -> DataFrame:
    """Exact top-k nearest rows. Filter-then-rank, the natural Spark plan
    for the reference's filtered-KNN (knn/knn.h:87-94): the predicate is
    pushed to the scan, distances are only computed for survivors.

    `observation` (a pyspark Observation) collects search stats on the
    ranked set — rows_ranked (= distance computations, the reference's
    pDistanceComputations counter, knn/knn.h:117) and the min/max
    distance seen — available via observation.get after an action.

    `unroll`: None auto-gates the codegen-unrolled distance chain on the
    input's size estimate (see UNROLL_BYTES_CONF); False forces the fold
    (rerank callers pass this — their candidate sets are k-row shortlists
    whose Catalyst estimate still reflects the full table); True forces
    the unroll."""
    out = df
    if pre_filter is not None:
        out = out.filter(pre_filter)
    if unroll is None:
        dim = _unroll_dim(df, query_vec)
    else:
        dim = len(query_vec) if unroll else None
    out = out.withColumn(
        dist_col, distance_expr(F.col(vec_col), query_vec, metric, dim=dim)
    )
    if observation is not None:
        out = out.observe(
            observation,
            F.count(F.lit(1)).alias("rows_ranked"),
            F.min(dist_col).alias("min_dist"),
            F.max(dist_col).alias("max_dist"),
        )
    # Deterministic tie-break on id keeps results stable across engines.
    # A NULL distance (NULL vector; zero norm under cosine) ranks after
    # every real neighbour — Spark's plain asc() would put it first.
    return out.orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()).limit(k)


def knn_radius(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    radius: float,
    metric: str = "cosine",
    id_col: str = "vec_id",
    pre_filter: Column | None = None,
    dist_col: str = "dist",
    limit: int | None = None,
    unroll: "bool | None" = None,
) -> DataFrame:
    """Range (radius) search: every row with distance <= radius — the
    fixed-threshold sibling of top-k (near-duplicate gates, recall
    filters, geo-style cutoffs). Pure filter over the distance
    expression: embarrassingly parallel, no global ordering unless a
    `limit` safety cap is requested (then TakeOrdered applies the same
    deterministic (dist, id) order as knn_topk). `unroll` as in
    knn_topk (None = size-gated auto)."""
    out = df
    if pre_filter is not None:
        out = out.filter(pre_filter)
    if unroll is None:
        dim = _unroll_dim(df, query_vec)
    else:
        dim = len(query_vec) if unroll else None
    out = out.withColumn(
        dist_col, distance_expr(F.col(vec_col), query_vec, metric, dim=dim)
    ).filter(F.col(dist_col) <= radius)
    if limit is not None:
        out = out.orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()).limit(limit)
    return out


def train_centroids(
    df: DataFrame,
    vec_col: str,
    n_clusters: int = 64,
    max_iter: int = 10,
    seed: int = 42,
):
    """K-means centroids for IVF assignment. Uses MLlib (JVM, distributed);
    returns a plain python list of centroid vectors (small — broadcastable)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_clusters, maxIter=max_iter, seed=seed).fit(feat)
    return [list(map(float, c)) for c in model.clusterCenters()]


def assign_clusters(
    df: DataFrame, vec_col: str, centroids: list[list[float]], cluster_col: str = "ivf_cluster"
) -> DataFrame:
    """Tag each row with its nearest centroid id — the IVF write-time step.
    Pure expression: argmin over a small literal centroid array."""
    # folds, not dim-unrolls: k centroid chains in one projection blow
    # past the JIT method limit and run interpreted (measured hazard)
    dists = F.array(*[l2_sq(F.col(vec_col), vec_lit(c)) for c in centroids])
    assigned = F.array_position(dists, F.array_min(dists)) - 1
    return df.withColumn(cluster_col, assigned.cast("int"))


def knn_topk_partitioned_ann(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    k: int,
    metric: str = "cosine",
    id_col: str = "vec_id",
    ef: int = 64,
    M: int = 16,
    backend: str = "auto",
) -> DataFrame:
    """Per-partition HNSW ANN + global top-k merge — the reference's graph
    search (knn/knn.cpp:411-540, hnswlib M=16/efConstruction=200 defaults
    per knn/knn.h:48-55) re-expressed for a cluster: each partition builds
    a transient HNSW index over its rows inside mapInPandas, emits its
    local top-k, and TakeOrderedAndProject merges k x partitions rows.

    backend: 'hnswlib' (C++ wheel), 'python' (operators.hnsw_py — the
    same published algorithm, numpy-backed, partition-size-guarded), or
    'auto' (hnswlib when importable, python otherwise) — so the graph-ANN
    path is executable and recall-tested even without the optional
    wheel."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if backend not in ("auto", "hnswlib", "python"):
        raise ValueError(f"backend must be auto|hnswlib|python, got {backend!r}")
    if backend in ("auto", "hnswlib"):
        try:
            import hnswlib  # noqa: F401

            backend = "hnswlib"
        except ImportError:
            if backend == "hnswlib":
                raise ImportError(
                    "backend='hnswlib' needs the optional 'hnswlib' package; "
                    "use backend='auto'/'python', knn_topk (exact) or "
                    "knn_topk_ivf (cluster-pruned)"
                ) from None
            backend = "python"

    space = {"l2": "l2", "ip": "ip", "cosine": "cosine"}[metric]
    q = np.asarray(query_vec, dtype=np.float32)
    use_hnswlib = backend == "hnswlib"

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("dist", T.DoubleType()),
        ]
    )

    def batches(it):
        ids_all, vecs_all = [], []
        for pdf in it:
            ids_all.extend(int(v) for v in pdf[id_col])
            vecs_all.extend(pdf[vec_col])
        if not ids_all:
            return
        mat = np.asarray(list(vecs_all), dtype=np.float32)
        if use_hnswlib:
            import hnswlib

            index = hnswlib.Index(space=space, dim=mat.shape[1])
            index.init_index(max_elements=len(ids_all), ef_construction=200, M=M)
            index.add_items(mat, np.asarray(ids_all))
            index.set_ef(max(ef, k))
            labels, dists = index.knn_query(q, k=min(k, len(ids_all)))
            yield pd.DataFrame({id_col: labels[0], "dist": dists[0].astype(float)})
        else:
            from columnar_spark.operators.hnsw_py import build_index

            index = build_index(ids_all, mat, metric=space, M=M)
            hits = index.search(q, k=min(k, len(ids_all)), ef=max(ef, k))
            yield pd.DataFrame(
                {id_col: [h[0] for h in hits], "dist": [float(h[1]) for h in hits]}
            )

    local = df.select(id_col, vec_col).mapInPandas(batches, out_schema)
    return local.orderBy(F.col("dist").asc_nulls_last(), F.col(id_col).asc()).limit(k)


def similarity_self_join(
    df: DataFrame,
    vec_col: str,
    k: int,
    centroids: list[list[float]],
    nprobe: int = 2,
    id_col: str = "vec_id",
    sim_col: str = "sim",
) -> DataFrame:
    """Approximate k-nearest-neighbors for EVERY row (similarity self-join)
    without the O(n²) cross join: the all-docs analog of knn_topk_ivf.

    Each left row probes its `nprobe` nearest centroids' buckets; right
    rows live in exactly one bucket (their nearest centroid). The join is
    a plain equi-join on the bucket id — one shuffle keyed on cluster,
    candidate volume ~ n * nprobe * (n / n_clusters) instead of n². Per-id
    top-k is a bucket-local window (partitioned by left id — no global
    sort). Recall < 1 by construction (neighbors in unprobed buckets are
    missed); recall floor is pytest-gated against the exact join at small
    SF. Bucket-size skew is AQE's problem (skew-join split), same as any
    grouped key.

    Cosine-geometry bucketing: pass vectors (and centroids trained) in
    unit-normalized form — functions.vector.unit_vector — so nearest-
    centroid L2 assignment is equivalent to cosine assignment; cosine
    similarity itself is scale-invariant, so outputs are unchanged.

    Returns (id_col, neighbor_id, sim_col) with cosine similarity rounded
    to 6 decimals, deterministic tie-break on neighbor id.
    """
    from pyspark.sql import Window

    cdists = F.array(*[l2_sq(F.col(vec_col), vec_lit(c)) for c in centroids])
    ranked = F.array_sort(
        F.transform(cdists, lambda d, i: F.struct(d.alias("d"), i.alias("cid")))
    )
    probes = F.transform(F.slice(ranked, 1, max(1, nprobe)), lambda s: s["cid"])
    left = df.select(
        F.col(id_col).alias("__lid"),
        F.col(vec_col).alias("__lvec"),
        F.explode(probes).alias("__bucket"),
    )
    right = assign_clusters(df, vec_col, centroids, "__bucket").select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__rvec"), "__bucket"
    )
    cand = left.join(right, "__bucket").filter(F.col("__lid") != F.col("neighbor_id"))
    # pair cosine stays on the fold: the dim-unrolled chain runs
    # interpreted (huge-method JIT bail) inside post-join projections
    scored = cand.select(
        "__lid",
        "neighbor_id",
        F.round(cosine_sim(F.col("__lvec"), F.col("__rvec")), 6).alias(sim_col),
    )
    w = Window.partitionBy("__lid").orderBy(F.col(sim_col).desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(F.col("__lid").alias(id_col), "neighbor_id", sim_col)
    )


def knn_topk_ivf(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    k: int,
    centroids: list[list[float]],
    nprobe: int = 8,
    metric: str = "cosine",
    id_col: str = "vec_id",
    cluster_col: str = "ivf_cluster",
    dist_col: str = "dist",
) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest clusters.

    If `cluster_col` is absent it is computed on the fly (correct but no
    pruning win); the intended deployment materializes it at write time and
    partitions/sorts by it so the probe predicate prunes row groups.
    """
    import math

    def _l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    order = sorted(range(len(centroids)), key=lambda i: _l2(centroids[i], query_vec))
    probe = order[: max(1, min(nprobe, len(centroids)))]
    if cluster_col not in df.columns:
        df = assign_clusters(df, vec_col, centroids, cluster_col)
    pruned = df.filter(F.col(cluster_col).isin(probe))
    return knn_topk(pruned, vec_col, query_vec, k, metric, id_col, None, dist_col)


def _batch_topk_cosine_arrow(
    df: DataFrame,
    vec_col: str,
    queries: DataFrame,
    k: int,
    id_col: str,
    q_id_col: str,
    q_vec_col: str,
    dist_col: str,
    round_digits: int | None,
) -> DataFrame | None:
    """mapInArrow batch-cosine top-k: per task, numpy computes the
    n x q distance block (accumulating SEQUENTIALLY over dims — the
    identical IEEE-754 op sequence of the old per-pair fold, no FMA/
    regrouping) and emits only candidates that can reach the global
    top-k; the JVM re-derives the rounded rank key and merges.

    Candidate rule when ranking on round(d, rd): monotone HALF_UP
    rounding moves a value by <= 0.5 x 10^-rd, so any row with raw
    d > kth_raw + 2 x 10^-rd rounds STRICTLY above the rounded kth and
    can never displace the k raw-smallest rows; candidates within the
    margin are then ordered by their EXACT Spark-equal rounding
    (Decimal(repr(x)) quantize HALF_UP == BigDecimal.valueOf(x)
    setScale HALF_UP — both shortest-roundtrip decimal) with id
    tie-break, and the exact local top-k is emitted with RAW distances
    (the JVM applies the same F.round for the output column and the
    global merge key, so values match the expression plan bit-for-bit).
    """
    q_rows = queries.select(q_id_col, q_vec_col).collect()
    if not q_rows:
        return None
    q_ids = [r[0] for r in q_rows]
    q_vecs = [list(map(float, r[1])) if r[1] is not None else None for r in q_rows]
    dims = {len(v) for v in q_vecs if v is not None}
    if len(dims) != 1 or any(v is None for v in q_vecs):
        return None  # degenerate query set: keep the expression path
    d = dims.pop()

    qid_field = queries.select(q_id_col).schema.fields[0]
    qid_type = qid_field.dataType.simpleString()
    id_type = df.select(id_col).schema.fields[0].dataType.simpleString()
    out_schema = f"{q_id_col} {qid_type}, {id_col} {id_type}, __rawdist double"
    # the qid column is BUILT inside the kernel (python values), so its
    # Arrow type must come from the DECLARED schema — value inference
    # (pa.array(q_ids).type) mismatches for e.g. int32 qid columns
    from pyspark.sql.pandas.types import to_arrow_type

    qid_arrow_type = to_arrow_type(qid_field.dataType)
    kk = int(k)
    rd = round_digits

    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa
        from decimal import ROUND_HALF_UP, Decimal

        Q = np.array(q_vecs, dtype=np.float64)  # q x d
        nq_ = Q.shape[0]
        qn = np.zeros(nq_, dtype=np.float64)
        for i in range(d):
            qn += Q[:, i] * Q[:, i]
        qn = np.sqrt(qn)
        quant = Decimal(1).scaleb(-rd) if rd is not None else None
        margin = 2.0 * (10.0 ** -rd) if rd is not None else 0.0

        def _round_exact(x):
            # Spark Round(double, rd): BigDecimal.valueOf (shortest
            # round-trip decimal) setScale HALF_UP back to double;
            # NaN/Inf pass through unrounded, exactly like Spark.
            if x != x or x in (float("inf"), float("-inf")):
                return x
            return float(Decimal(repr(x)).quantize(quant, rounding=ROUND_HALF_UP))

        def _fold_dist(v):
            # exact fold for ragged/null rows: fold over max-length
            # zip (null-padded) is NULL whenever lengths differ
            if v is None or len(v) != d:
                return None  # NULL for every query
            acc_n = 0.0
            for x in v:
                acc_n += x * x
            vn = acc_n ** 0.5
            out = []
            for j in range(nq_):
                acc = 0.0
                qv = q_vecs[j]
                for x, y in zip(v, qv):
                    acc += x * y
                den = vn * qn[j]  # zero norm: NaN, as numpy's 0/0 below
                out.append(1.0 - acc / den if den else float("nan"))
            return out

        qid_pa_type = qid_arrow_type

        def _emit(ids_list, qid_list, dist_list, id_pa_type):
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(qid_list, type=qid_pa_type),
                    pa.array(ids_list, type=id_pa_type),
                    pa.array(dist_list, type=pa.float64()),
                ],
                names=[q_id_col, id_col, "__rawdist"],
            )

        for batch in batches:
            ids_arr = batch.column(0)
            vecs = batch.column(1)
            id_pa_type = ids_arr.type
            if batch.num_rows == 0:
                yield _emit([], [], [], id_pa_type)
                continue
            lens = (
                np.diff(vecs.offsets.to_numpy(zero_copy_only=False))
                if hasattr(vecs, "offsets")
                else None
            )
            uniform = (
                vecs.null_count == 0
                and lens is not None
                and len(lens) > 0
                and bool((lens == d).all())
            )
            out_qid, out_id, out_dist = [], [], []
            ids_py = ids_arr.to_pylist()
            if not uniform:
                # mixed batch: exact per-row fold for every row (rare
                # path — correctness over speed)
                rows = vecs.to_pylist()
                per_q = [[] for _ in range(nq_)]
                for rid, v in zip(ids_py, rows):
                    dv = _fold_dist(v)
                    if dv is None:
                        for j in range(nq_):
                            per_q[j].append((None, rid))
                    else:
                        for j in range(nq_):
                            per_q[j].append((dv[j], rid))
                for j, cand in enumerate(per_q):
                    # NaN after numbers, NULL last (asc_nulls_last)
                    def key(t):
                        dd, rid = t
                        if dd is None:
                            return (2, 0.0, rid)
                        kd = _round_exact(dd) if rd is not None else dd
                        if kd != kd:
                            return (1, 0.0, rid)
                        return (0, kd, rid)

                    for dd, rid in sorted(cand, key=key)[:kk]:
                        out_qid.append(q_ids[j])
                        out_id.append(rid)
                        out_dist.append(dd)
                yield _emit(out_id, out_qid, out_dist, id_pa_type)
                continue
            V = vecs.flatten().to_numpy(zero_copy_only=False).reshape(-1, d)
            n = V.shape[0]
            vn = np.zeros(n, dtype=np.float64)
            for i in range(d):
                col = V[:, i]
                vn += col * col
            vn = np.sqrt(vn)
            ids_np = np.asarray(ids_py)
            # query-axis chunks bound the n x q block at ~64 MB — the
            # 10k-query guard times a 10k-row batch would otherwise
            # allocate an 800 MB matrix per task
            q_chunk = max(1, int(8_000_000 // max(n, 1)))
            for j0 in range(0, nq_, q_chunk):
                j1 = min(nq_, j0 + q_chunk)
                dots = np.zeros((n, j1 - j0), dtype=np.float64)
                for i in range(d):
                    dots += V[:, i][:, None] * Q[None, j0:j1, i]
                dists = 1.0 - dots / (vn[:, None] * qn[None, j0:j1])
                for j in range(j0, j1):
                    dj = dists[:, j - j0]
                    not_nan = ~np.isnan(dj)
                    if int(not_nan.sum()) > kk:
                        finite_vals = dj[not_nan]
                        kth = np.partition(finite_vals, kk - 1)[kk - 1]
                        cand_idx = np.flatnonzero(not_nan & (dj <= kth + margin))
                    else:
                        # too few non-NaN rows: everything is a
                        # candidate (NaN ranks LAST, Spark asc order)
                        cand_idx = np.arange(n)

                    def _key(t):
                        kd = t[0]
                        return (1, 0.0, t[1]) if kd != kd else (0, kd, t[1])

                    if rd is not None:
                        cand = sorted(
                            ((_round_exact(float(dj[i_])), ids_np[i_], float(dj[i_])) for i_ in cand_idx),
                            key=_key,
                        )[:kk]
                    else:
                        cand = sorted(
                            ((float(dj[i_]), ids_np[i_], float(dj[i_])) for i_ in cand_idx),
                            key=_key,
                        )[:kk]
                    for _, rid, raw in cand:
                        out_qid.append(q_ids[j])
                        out_id.append(rid.item() if hasattr(rid, "item") else rid)
                        out_dist.append(raw)
            yield _emit(out_id, out_qid, out_dist, id_pa_type)

    from pyspark.sql import Window

    cands = base.mapInArrow(_kernel, out_schema)
    dist_expr = F.col("__rawdist")
    if rd is not None:
        dist_expr = F.round(dist_expr, rd) + F.lit(0.0)
    scored = cands.select(
        F.col(q_id_col), F.col(id_col), dist_expr.alias(dist_col)
    )
    w_global = Window.partitionBy(q_id_col).orderBy(
        F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w_global))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_batch_topk(
    df: DataFrame,
    vec_col: str,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
    id_col: str = "vec_id",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
    dist_col: str = "dist",
    round_digits: int | None = None,
) -> DataFrame:
    """Top-k for a BATCH of query vectors in one data pass — the serving
    shape of retrieval pipelines (q queries against n rows; running
    knn_topk q times scans the table q times).

    Plan: the query set is small by contract and broadcast; one scan
    computes every (row, query) distance (n x q rows, JVM expressions);
    per-query top-k runs in TWO phases — local top-k inside each input
    partition (window over (query, partition), bounded rows per group),
    then a merge of the <= k x P survivors per query. No phase ever
    sorts a whole-table partition: the one-phase `Window.partitionBy
    (query)` alternative puts ALL n rows of each query in ONE partition,
    the exact single-partition hazard the round-1 audit flagged.
    Reference analog: the per-chunk KNN iterators merged by the host
    (knn/knn.cpp:411-540) — phase 1 is the chunk search, phase 2 the
    host merge."""
    from pyspark.sql import Window

    # "Query set small by contract" gets a hard guard, not a docstring:
    # a million-row query set would broadcast-explode n x q with no
    # backpressure (house pattern: dedup._guard_quadratic). Callers with
    # more queries chunk the query set and union the results.
    nq = queries.count()
    if nq > BATCH_QUERY_MAX_ROWS:
        raise ValueError(
            f"knn_batch_topk broadcasts the query set and computes n x q "
            f"distances; it refuses query sets over {BATCH_QUERY_MAX_ROWS} "
            f"rows (got {nq}). Chunk the query set and union the per-chunk "
            "top-k results, or join against a persisted IVF index instead."
        )

    metric_fn = {
        "cosine": cosine_dist,
        "l2": l2_sq,
        "ip": ip_dist,
    }[metric]

    if metric == "cosine":
        # r10 scale path: the n x q pair loop moves into an Arrow/numpy
        # kernel (guide §4.2) — the BroadcastNestedLoopJoin explosion,
        # the interpreted per-pair dot fold, and the (query, partition)
        # local window all disappear; each task emits only its exact
        # local top-k candidates and the one remaining shuffle is
        # O(k x q x tasks). Bit-identical to the fold (sequential
        # accumulation over dims) with margin-safe exact HALF_UP
        # rounding for candidate selection; NULL/ragged rows keep fold
        # semantics (NULL distance, which ranks LAST, after NaN) via a
        # per-row fallback.
        out = _batch_topk_cosine_arrow(
            df, vec_col, queries, k, id_col, q_id_col, q_vec_col,
            dist_col, round_digits,
        )
        if out is not None:
            return out
        # (kernel declines only when the query set is empty/degenerate —
        # fall through to the expression path)
        from columnar_spark.functions.vector import dot as _dot
        from columnar_spark.functions.vector import norm as _norm

        df = df.withColumn("__vn", _norm(F.col(vec_col).cast("array<double>")))
        queries = queries.withColumn(
            "__qn", _norm(F.col(q_vec_col).cast("array<double>"))
        )
        dist_expr = F.lit(1.0) - F.try_divide(
            _dot(F.col(vec_col).cast("array<double>"), F.col(q_vec_col)),
            F.col("__vn") * F.col("__qn"),
        )
    else:
        dist_expr = metric_fn(F.col(vec_col).cast("array<double>"), F.col(q_vec_col))
    if round_digits is not None:
        # rank on the ROUNDED distance so an oracle that rounds first
        # selects the identical row set at rank boundaries
        dist_expr = F.round(dist_expr, round_digits) + F.lit(0.0)
    joined = df.crossJoin(F.broadcast(queries)).select(
        F.col(q_id_col),
        F.col(id_col),
        dist_expr.alias(dist_col),
        F.spark_partition_id().alias("__pid"),
    )
    w_local = Window.partitionBy(q_id_col, "__pid").orderBy(
        F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()
    )
    local = (
        joined.withColumn("__rn", F.row_number().over(w_local))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__pid")
    )
    w_global = Window.partitionBy(q_id_col).orderBy(
        F.col(dist_col).asc_nulls_last(), F.col(id_col).asc()
    )
    return (
        local.withColumn("__rn", F.row_number().over(w_global))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def knn_batch_topk_ivf(
    df: DataFrame,
    vec_col: str,
    queries: DataFrame,
    k: int,
    centroids: list[list[float]],
    nprobe: int = 4,
    metric: str = "cosine",
    id_col: str = "vec_id",
    cluster_col: str = "ivf_cluster",
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
) -> DataFrame:
    """Batch retrieval with IVF pruning: each query is assigned its
    nprobe nearest clusters DRIVER-side (centroids are a tiny list),
    the (query, cluster) pairs join the cluster-assigned corpus as an
    equi-join on cluster — so each query's distance work touches only
    its probed fraction of the corpus, and with a cluster-partitioned
    layout the scan itself prunes. The exact-within-candidates ranking
    reuses knn_batch_topk's two-phase top-k.

    This is knn_topk_ivf x batch: O(n x q x nprobe/nlist) distance
    computations instead of the exact batch's O(n x q). Recall is
    IVF-bounded, gated in tests against the exact batch."""
    import math

    def _l2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    nq = queries.count()
    if nq > BATCH_QUERY_MAX_ROWS:
        raise ValueError(
            f"knn_batch_topk_ivf collects and broadcasts the query set; it "
            f"refuses query sets over {BATCH_QUERY_MAX_ROWS} rows (got {nq}). "
            "Chunk the query set and union the per-chunk results."
        )
    qrows = queries.select(q_id_col, q_vec_col).collect()
    probes = []
    for r in qrows:
        qv = list(r[q_vec_col])
        order = sorted(range(len(centroids)), key=lambda i: _l2(centroids[i], qv))
        for c in order[: max(1, min(nprobe, len(centroids)))]:
            probes.append((r[q_id_col], c))
    spark = df.sparkSession
    probe_df = spark.createDataFrame(probes, f"{q_id_col}: long, {cluster_col}: int")

    if cluster_col not in df.columns:
        df = assign_clusters(df, vec_col, centroids, cluster_col)
    # equi-join on cluster attaches each query only to its probed rows;
    # the query vectors ride in via the broadcast probe relation
    qvecs = queries.select(
        F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias(q_vec_col)
    )
    cand = df.join(
        F.broadcast(probe_df.withColumn(cluster_col, F.col(cluster_col).cast("int"))),
        cluster_col,
    ).join(F.broadcast(qvecs), q_id_col)

    metric_fn = {"cosine": cosine_dist, "l2": l2_sq, "ip": ip_dist}[metric]
    from pyspark.sql import Window

    scored = cand.select(
        F.col(q_id_col),
        F.col(id_col),
        metric_fn(F.col(vec_col).cast("array<double>"), F.col(q_vec_col)).alias("dist"),
        F.spark_partition_id().alias("__pid"),
    )
    w_local = Window.partitionBy(q_id_col, "__pid").orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    local = scored.withColumn("__rn", F.row_number().over(w_local)).filter(
        F.col("__rn") <= k
    ).drop("__rn", "__pid")
    w_global = Window.partitionBy(q_id_col).orderBy(
        F.col("dist").asc_nulls_last(), F.col(id_col).asc()
    )
    return local.withColumn("__rn", F.row_number().over(w_global)).filter(
        F.col("__rn") <= k
    ).drop("__rn")
