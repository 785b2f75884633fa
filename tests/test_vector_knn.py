"""Vector distances and KNN operators vs a numpy oracle (reference §2.F)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from columnar_spark.functions.vector import cosine_sim, dot, l2_sq, vec_lit
from columnar_spark.operators.knn import (
    assign_clusters,
    knn_topk,
    knn_topk_ivf,
    train_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def np_data(emb):
    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    labels = np.array([r["label"] for r in rows])
    return ids, mat, labels


def test_dot_and_l2_expressions(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a: array<double>, b: array<double>")
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        l2_sq(F.col("a"), F.col("b")).alias("l2"),
        cosine_sim(F.col("a"), F.col("b")).alias("c"),
    ).first()
    assert r["d"] == 32.0
    assert r["l2"] == 27.0
    assert abs(r["c"] - 32.0 / (math.sqrt(14) * math.sqrt(77))) < 1e-12


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_knn_topk_matches_numpy(emb, np_data, metric):
    ids, mat, _ = np_data
    q = mat[ids == 7][0]
    if metric == "l2":
        dist = ((mat - q) ** 2).sum(axis=1)
    elif metric == "ip":
        dist = 1.0 - mat @ q
    else:
        dist = 1.0 - (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, dist))
    want = list(ids[order][:10])

    got = [
        r["vec_id"]
        for r in knn_topk(emb, "embedding", [float(v) for v in q], 10, metric=metric).collect()
    ]
    assert got == want


def test_knn_filtered(emb, np_data):
    ids, mat, labels = np_data
    q = mat[ids == 7][0]
    mask = labels == 3
    dist = 1.0 - (mat[mask] @ q) / (np.linalg.norm(mat[mask], axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids[mask], dist))
    want = list(ids[mask][order][:5])
    got = [
        r["vec_id"]
        for r in knn_topk(
            emb, "embedding", [float(v) for v in q], 5, metric="cosine",
            pre_filter=F.col("label") == 3,
        ).collect()
    ]
    assert got == want


def test_ivf_recall(emb, np_data):
    ids, mat, _ = np_data
    q = mat[ids == 7][0]
    sim = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    exact = set(ids[np.lexsort((ids, 1.0 - sim))][:10])

    cents = train_centroids(emb, "embedding", n_clusters=8, seed=42)
    approx = {
        r["vec_id"]
        for r in knn_topk_ivf(
            emb, "embedding", [float(v) for v in q], 10, cents, nprobe=4, metric="cosine"
        ).collect()
    }
    assert len(exact & approx) >= 5  # recall >= 0.5 with half the clusters probed


def test_assign_clusters_argmin(spark):
    df = spark.createDataFrame([(0, [0.0, 0.0]), (1, [10.0, 10.0])], "id: long, v: array<double>")
    cents = [[0.1, 0.1], [9.0, 9.0]]
    got = {r["id"]: r["ivf_cluster"] for r in assign_clusters(df, "v", cents).collect()}
    assert got == {0: 0, 1: 1}


def test_knn_search_stats_observation(spark):
    """F6 search stats: the Observation on the ranked set reports
    rows_ranked (distance computations) and the distance envelope."""
    from pyspark.sql import Observation

    from columnar_spark.operators.knn import knn_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    obs = Observation("knn_stats")
    out = knn_topk(
        emb, "embedding", [0.1] * 64, 5,
        pre_filter=F.col("label") == 2, observation=obs,
    )
    rows = out.collect()
    assert len(rows) == 5
    stats = obs.get
    want = emb.filter(F.col("label") == 2).count()
    assert stats["rows_ranked"] == want  # distances computed only for survivors
    assert stats["min_dist"] <= rows[0]["dist"] <= stats["max_dist"]


def test_similarity_self_join_recall(emb, np_data):
    """IVF-bucketed similarity self-join vs the exact all-pairs top-k:
    mean recall@5 over all vectors must clear a floor with a narrow probe
    (nprobe=3 of 8 clusters; measured 0.81, deterministic via kmeans seed)."""
    from columnar_spark.operators.knn import similarity_self_join

    ids, mat, _ = np_data
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    order = np.argsort(-np.round(sims, 6), axis=1, kind="stable")
    exact = {int(ids[i]): {int(ids[j]) for j in order[i][:5]} for i in range(len(ids))}

    from columnar_spark.functions.vector import unit_vector

    emb_n = emb.withColumn("embedding", unit_vector(F.col("embedding")))
    cents = train_centroids(emb_n, "embedding", n_clusters=8, seed=42)
    got = similarity_self_join(emb_n, "embedding", k=5, centroids=cents, nprobe=3).collect()
    approx: dict[int, set[int]] = {}
    for r in got:
        approx.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    assert set(approx) == set(exact)  # every vector got neighbors
    assert all(len(v) == 5 for v in approx.values())
    recall = sum(len(exact[i] & approx[i]) for i in exact) / (5.0 * len(exact))
    assert recall >= 0.7, f"mean recall@5 {recall:.3f} below floor"


def test_batch_topk_matches_per_query(spark):
    from columnar_spark.operators.knn import knn_batch_topk, knn_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    batch = knn_batch_topk(emb, "embedding", qs, k=7, metric="l2", id_col="vec_id")
    got = {
        (r["qid"], r["vec_id"]): round(r["dist"], 9) for r in batch.collect()
    }
    for q in range(4):
        qvec = [float(v) for v in emb.filter(F.col("vec_id") == q).first()["embedding"]]
        single = knn_topk(emb, "embedding", qvec, 7, metric="l2", id_col="vec_id")
        for r in single.collect():
            assert round(r["dist"], 9) == got[(q, r["vec_id"])], (q, r["vec_id"])
    assert len(got) == 4 * 7
    # no single-partition whole-table sort in the plan
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan.split("Window")[0]


def test_batch_ivf_recall_and_pruning(spark):
    from columnar_spark.operators.knn import (
        knn_batch_topk,
        knn_batch_topk_ivf,
        train_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    cents = train_centroids(emb, "embedding", n_clusters=16, seed=42)

    exact = knn_batch_topk(emb, "embedding", queries, 10, metric="l2", id_col="vec_id")
    approx = knn_batch_topk_ivf(
        emb, "embedding", queries, 10, cents, nprobe=4, metric="l2", id_col="vec_id"
    )
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["qid"], set()).add(r["vec_id"])
    ap = {}
    for r in approx.collect():
        ap.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.7, recalls
    # every query produced k hits and only probed candidates scored
    assert all(len(v) == 10 for v in ap.values())


def test_batch_query_guard_refuses_oversized_query_set(spark):
    """The 'query set small by contract' contract has a hard guard
    (VERDICT r3): an unbounded query set must refuse, not broadcast-
    explode n x q."""
    import pytest as _pytest

    from columnar_spark.operators.knn import (
        BATCH_QUERY_MAX_ROWS,
        knn_batch_topk,
        knn_batch_topk_ivf,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    big = spark.range(BATCH_QUERY_MAX_ROWS + 1).select(
        F.col("id").alias("qid"),
        F.array(F.col("id").cast("double"), F.lit(0.0)).alias("qvec"),
    )
    with _pytest.raises(ValueError, match="refuses query sets"):
        knn_batch_topk(emb, "embedding", big, k=2)
    with _pytest.raises(ValueError, match="refuses query sets"):
        knn_batch_topk_ivf(emb, "embedding", big, 2, [[0.0, 0.0], [1.0, 1.0]])


def test_batch_cosine_arrow_kernel_matches_expression_path(spark):
    """The r10 Arrow batch-cosine kernel must be BIT-identical to the
    expression plan it replaced (fold dot + rounded two-phase window),
    including: NULL vectors and ragged dims (NULL distance, which ranks
    LAST, so neither is a neighbour of any query), rounding ties at the
    6th decimal, and id tie-breaks."""
    import random

    from pyspark.sql import Window

    from columnar_spark.functions.vector import dot as _dot
    from columnar_spark.functions.vector import norm as _norm
    from columnar_spark.operators.knn import knn_batch_topk

    rng = random.Random(11)
    d = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(300)]
    # near-duplicate vectors to force rounding ties with id tie-breaks
    for i in range(300, 330):
        base = rows[i % 20][1]
        rows.append((i, [x + rng.choice([0.0, 1e-9]) for x in base]))
    rows.append((400, None))              # NULL vector -> NULL dist
    rows.append((401, [1.0] * (d - 2)))   # ragged -> NULL dist
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    qs = spark.createDataFrame(
        [(i, rows[i][1]) for i in range(4)], "qid: long, qvec: array<double>"
    )

    got = knn_batch_topk(
        emb, "embedding", qs, k=6, metric="cosine", id_col="vec_id",
        round_digits=6,
    ).select("qid", "vec_id", "dist")

    # the pre-r10 expression plan, verbatim
    df0 = emb.withColumn("__vn", _norm(F.col("embedding").cast("array<double>")))
    q0 = qs.withColumn("__qn", _norm(F.col("qvec")))
    de = (
        F.round(
            F.lit(1.0)
            - _dot(F.col("embedding").cast("array<double>"), F.col("qvec"))
            / (F.col("__vn") * F.col("__qn")),
            6,
        )
        + F.lit(0.0)
    )
    joined = df0.crossJoin(F.broadcast(q0)).select(
        "qid", "vec_id", de.alias("dist"), F.spark_partition_id().alias("__pid")
    )
    wl = Window.partitionBy("qid", "__pid").orderBy(
        F.col("dist").asc_nulls_last(), F.col("vec_id").asc()
    )
    loc = (
        joined.withColumn("__rn", F.row_number().over(wl))
        .filter("__rn <= 6")
        .drop("__rn", "__pid")
    )
    wg = Window.partitionBy("qid").orderBy(
        F.col("dist").asc_nulls_last(), F.col("vec_id").asc()
    )
    want = (
        loc.withColumn("__rn", F.row_number().over(wg))
        .filter("__rn <= 6")
        .drop("__rn")
    )

    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b and len(a) == 24
    assert not {r[1] for r in a} & {400, 401}


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_unroll_gate_branches_same_rows(spark, tmp_path, metric):
    """Both sides of the dim-unroll size gate (knn._unroll_dim) return
    identical rows, on a zero-norm row and a NULL vector too, and
    neither of those is ever a nearest neighbour (their NULL distance
    ranks last). The byte-threshold conf forces each branch: 0 takes
    the unrolled chain, a huge value the fold. The corpus is read from
    parquet so the size estimate is real (an in-memory frame reads
    Long.MaxValue)."""
    from columnar_spark.operators.knn import (
        UNROLL_BYTES_CONF,
        knn_batch_topk,
        knn_radius,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero norm
        (3, [0.6, 0.8, 0.0]),
        (4, None),
        (5, [0.0, 1.0, 0.5]),
    ]
    spark.createDataFrame(rows, "vec_id: long, embedding: array<double>") \
        .coalesce(1).write.parquet(f"{tmp_path}/corpus")
    corpus = spark.read.parquet(f"{tmp_path}/corpus")
    q = [0.5, 0.5, 0.0]

    got = {}
    try:
        for thr, unrolled in (("0", True), (str(2**63 - 1), False)):
            spark.conf.set(UNROLL_BYTES_CONF, thr)
            top = knn_topk(corpus, "embedding", q, k=2, metric=metric)
            near = knn_radius(corpus, "embedding", q, radius=0.6, metric=metric)
            capped = knn_radius(
                corpus, "embedding", q, radius=0.6, metric=metric, limit=2
            )
            for df in (top, near, capped):
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert ("zip_with" not in plan) == unrolled, plan
            got[unrolled] = [
                sorted(map(tuple, d.collect())) for d in (top, near, capped)
            ]
    finally:
        spark.conf.unset(UNROLL_BYTES_CONF)
    assert got[True] == got[False]
    # every metric ranks id 3 first and id 1 second (l2 ties id 1 with the
    # zero vector at 0.5 and ip ties it with id 5; the id breaks both)
    assert [r[0] for r in sorted(got[True][0], key=lambda r: r[-1])] == [3, 1]
    assert got[True][1] and got[True][2]
    qs = spark.createDataFrame([(0, q)], "qid: long, qvec: array<double>")
    batch = knn_batch_topk(corpus, "embedding", qs, k=2, metric=metric)
    assert sorted(r["vec_id"] for r in batch.collect()) == [1, 3]
