"""Benchmark decontamination: planted n-gram overlap is found with the
right counts, clean docs survive, and the join is broadcast (the corpus
side must never shuffle its exploded grams)."""

import pytest
from pyspark.sql import functions as F

from columnar_spark.operators.decontaminate import (
    contamination_report,
    decontaminate,
)

BENCH_SENT = "the quick brown fox jumps over the lazy dog tonight"  # 10 words


def _dfs(spark):
    bench = spark.createDataFrame(
        [(0, BENCH_SENT)], "doc_id: long, text: string"
    )
    corpus = spark.createDataFrame(
        [
            # contains the full benchmark sentence -> 3 distinct 8-grams
            (1, "intro words " + BENCH_SENT + " trailing words"),
            # case difference only -> still contaminated (lowered)
            (2, BENCH_SENT.upper()),
            # clean
            (3, "completely unrelated text with many distinct words here"),
            # shares a 7-gram but not an 8-gram -> clean at n=8
            (4, "quick brown fox jumps over the lazy cat indeed"),
        ],
        "doc_id: long, text: string",
    )
    return corpus, bench


def test_contamination_report_counts(spark):
    corpus, bench = _dfs(spark)
    got = {r["doc_id"]: r["n_hits"] for r in contamination_report(corpus, bench).collect()}
    # 10-word benchmark sentence has 3 distinct 8-grams, all present in
    # doc 1 and (lowercased) doc 2
    assert got == {1: 3, 2: 3}


def test_decontaminate_drops_flagged(spark):
    corpus, bench = _dfs(spark)
    kept = {r["doc_id"] for r in decontaminate(corpus, bench).collect()}
    assert kept == {3, 4}


def test_corpus_grams_never_shuffle(spark):
    """r10: the corpus side runs through the Arrow kernel — no gram
    rows, no join at all; the only shuffle is the flagged-id merge."""
    corpus, bench = _dfs(spark)
    plan = contamination_report(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]


def _ref_report(corpus, bench, n):
    """Python reference: distinct word n-gram overlap counts."""
    def grams(text):
        t = text.lower().split(" ")
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    bgrams = set().union(*(grams(t) for t in bench)) if bench else set()
    out = {}
    for i, t in enumerate(corpus):
        hits = len(grams(t) & bgrams)
        if hits:
            out[i] = hits
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12)
             .map(" ".join), min_size=1, max_size=12),
    st.lists(st.lists(st.sampled_from(_WORDS), min_size=1, max_size=12)
             .map(" ".join), min_size=1, max_size=4),
    st.integers(min_value=2, max_value=4),
)
def test_fuzz_report_vs_reference(spark, corpus, bench, n):
    from columnar_spark.operators.decontaminate import contamination_report

    cdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id: long, text: string"
    )
    bdf = spark.createDataFrame([(t,) for t in bench], "text: string")
    got = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_report(cdf, bdf, n=n).collect()
    }
    assert got == _ref_report(corpus, bench, n)


def test_semantic_eval_set_guard_fires(spark):
    """The broadcast contract is enforced, not documented: an eval set
    over EVAL_SET_MAX_ROWS is refused with guidance before any join."""
    import pytest

    from columnar_spark.operators.decontaminate import (
        EVAL_SET_MAX_ROWS,
        semantic_contamination_report,
    )

    corpus = spark.range(5).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    big_eval = spark.range(EVAL_SET_MAX_ROWS + 1).select(
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="refuses eval sets"):
        semantic_contamination_report(corpus, big_eval)


def test_semantic_kernel_matches_fold_reference(spark):
    """The Arrow/numpy semantic kernel must be BIT-identical to the
    Catalyst fold it replaced — same left-to-right accumulation order —
    including the edge paths: ragged dims (fold over unequal lengths is
    NULL -> pair excluded), NULL vectors, duplicate corpus ids (merged
    by the final groupBy), and zero-hit corpora."""
    from columnar_spark.functions.vector import dot, norm
    from columnar_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    def mk(rows, schema="vec_id: long, embedding: array<double>"):
        return spark.createDataFrame(rows, schema)

    import random

    rng = random.Random(7)
    d = 16
    corpus_rows = [(i, [rng.uniform(-1, 1) for _ in range(d)]) for i in range(40)]
    # adversarial rows: ragged dim, null vector, duplicate id
    corpus_rows += [
        (100, [1.0] * (d - 3)),          # ragged: never matches (NULL sim)
        (101, None),                      # null vector: excluded
        (0, list(corpus_rows[0][1])),     # duplicate id: n_hits merges
    ]
    bench_rows = [(i, corpus_rows[i][1]) for i in range(0, 6)]
    corpus, bench = mk(corpus_rows), mk(bench_rows)

    got = {
        tuple(r)
        for r in semantic_contamination_report(
            corpus, bench, threshold=0.3
        ).collect()
    }

    # fold-based reference (the pre-optimization definition, verbatim)
    b_ref = F.broadcast(
        bench.select(F.col("embedding").cast("array<double>").alias("__bv"))
        .withColumn("__bn", norm(F.col("__bv")))
    )
    c_ref = corpus.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__cv")
    ).withColumn("__cn", norm(F.col("__cv")))
    sim = dot(F.col("__cv"), F.col("__bv")) / (F.col("__cn") * F.col("__bn"))
    want = {
        tuple(r)
        for r in c_ref.crossJoin(b_ref)
        .select("vec_id", sim.alias("__sim"))
        .filter(F.col("__sim") >= 0.3)
        .groupBy("vec_id")
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.round(F.max("__sim"), 6).alias("max_sim"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_semantic_kernel_empty_eval_set(spark):
    from columnar_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id: long, embedding: array<double>"
    )
    empty = corpus.filter("vec_id < 0").select("embedding")
    assert semantic_contamination_report(corpus, empty).count() == 0


@pytest.mark.parametrize("ragged", [False, True], ids=["dense", "ragged"])
def test_semantic_zero_norm_rows_same_on_both_gate_branches(spark, tmp_path, ragged):
    """A zero-norm corpus row and a zero-norm eval row score 0/0 — never
    a hit — on both sides of the kernel size gate. The byte-threshold
    conf forces each branch: 0 takes the Arrow kernel, a huge value the
    expression plan. The expression plan must not raise DIVIDE_BY_ZERO
    under ANSI, and the kernel's per-pair fallback (taken for a batch
    with a ragged row) must not raise ZeroDivisionError."""
    from columnar_spark.operators.decontaminate import (
        KERNEL_BYTES_CONF,
        semantic_contamination_report,
    )

    corpus_rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # zero-norm corpus row
        (3, [0.6, 0.8, 0.0]),
        (4, [0.0, 1.0, 0.0]),
    ]
    if ragged:
        corpus_rows.append((5, [1.0, 0.0]))  # unequal length: NULL, no hit
    bench_rows = [([0.0, 0.0, 0.0],), ([1.0, 0.0, 0.0],)]  # zero-norm eval row
    spark.createDataFrame(corpus_rows, "vec_id: long, embedding: array<double>") \
        .coalesce(1).write.parquet(f"{tmp_path}/corpus")
    spark.createDataFrame(bench_rows, "embedding: array<double>") \
        .coalesce(1).write.parquet(f"{tmp_path}/bench")
    corpus = spark.read.parquet(f"{tmp_path}/corpus")
    bench = spark.read.parquet(f"{tmp_path}/bench")

    got = {}
    try:
        for thr, kernel in (("0", True), (str(2**63 - 1), False)):
            spark.conf.set(KERNEL_BYTES_CONF, thr)
            df = semantic_contamination_report(corpus, bench, threshold=0.5)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert ("MapInArrow" in plan) == kernel, plan
            got[kernel] = sorted(tuple(r) for r in df.collect())
    finally:
        spark.conf.unset(KERNEL_BYTES_CONF)
    assert got[True] == got[False] == [(1, 1, 1.0), (3, 1, 0.6)]
