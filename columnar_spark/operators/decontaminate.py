"""Benchmark decontamination — flag training documents that share a
word n-gram with an evaluation/benchmark set.

The standard LLM-training-data hygiene pass (the 13-gram overlap check
popularized by GPT-3/PaLM dataset reports): any document containing an
n-gram that also appears in a benchmark/eval corpus is contaminated and
must be dropped or audited before training. The reference engine has no
counterpart (it stores and searches; corpus hygiene is host-side) — this
is one of the training-pipeline operators this engine adds as
first-class.

Scale posture (100 TB corpus vs ~MB-GB benchmark set):

- The benchmark n-gram set is DISTINCT-deduped then broadcast — eval
  suites are tiny next to the corpus, so the corpus side never
  shuffles its exploded grams for the join.
- The corpus side explodes per-document DISTINCT grams (array_distinct
  before explode keeps the explode width = unique grams per doc),
  broadcast-hash-joins, and partially aggregates per doc_id — the only
  shuffle is the final groupBy keyed on doc_id, whose width is bounded
  by the number of CONTAMINATED (doc, gram) pairs, a tiny fraction of
  the corpus.
- Everything is Catalyst expressions (split/transform/explode) — no
  Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from columnar_spark.functions.text import word_ngrams

# Hard ceiling on the broadcast eval-set side of the semantic report:
# 50k x 64-dim float64 vectors ~ 26 MB broadcast — comfortably inside
# executor memory, while corpus-sized eval sets are refused with
# guidance instead of OOMing mid-job.
EVAL_SET_MAX_ROWS = 50_000


def _gram_col(text: Column, n: int) -> Column:
    # lower() before splitting so casing differences never mask overlap;
    # single-space split matches an engine-agnostic string_split oracle.
    return F.array_distinct(word_ngrams(F.lower(text), n))


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    benchmark_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination counts: (id_col, n_hits) for every
    corpus document sharing >= 1 distinct word n-gram with any benchmark
    document. Documents with zero overlap are absent (filter-join
    semantics — the common case at scale, where almost nothing hits).

    Pass `benchmark_grams` (a precomputed/persisted distinct-gram frame,
    e.g. streaming/decontaminate.benchmark_gram_set) to skip re-exploding
    the benchmark corpus — the streaming path computes it once and
    reuses it every micro-batch."""
    if benchmark_grams is not None:
        bench_grams = benchmark_grams
    else:
        bench_grams = (
            benchmark.select(F.explode(_gram_col(F.col(text_col), n)).alias("gram"))
            .distinct()
        )

    # r10 scale path (guide §4.2): the corpus side's gram explosion —
    # an interpreted per-gram HOF (transform + array_join) followed by
    # explode + broadcast hash join — moves into a mapInArrow kernel
    # that counts per-document hits against the torrent-broadcast eval
    # gram set and never materializes corpus gram ROWS at all; the only
    # shuffle left is the tiny flagged-id merge. Bit-identity: lower()
    # stays in the JVM (Unicode case mapping is engine-specific), the
    # kernel reproduces Spark's split(text, " ") exactly — limit=-1,
    # i.e. Java Pattern.split keeping leading/interior/TRAILING empty
    # strings, which is precisely Python str.split(" ") — grams are the
    # same space-joined byte strings, and DISTINCT-gram counting is set
    # semantics on identical strings.
    bench_set = frozenset(
        r["gram"] for r in bench_grams.collect() if r["gram"] is not None
    )
    sc = corpus.sparkSession.sparkContext
    bench_b = sc.broadcast(bench_set)
    nn = int(n)

    id_type = corpus.select(id_col).schema.fields[0].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, n_hits long"
    lowered = corpus.select(F.col(id_col), F.lower(F.col(text_col)).alias("__lt"))

    def _kernel(batches):
        import pyarrow as pa

        grams_of = bench_b.value

        for batch in batches:
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            out_i, out_h = [], []
            for rid, t in zip(ids, texts):
                if t is None:
                    continue
                parts = t.split(" ")
                m = len(parts) - nn + 1
                if m <= 0:
                    continue
                matched = set()
                for i in range(m):
                    g = " ".join(parts[i : i + nn])
                    if g in grams_of:
                        matched.add(g)
                if matched:
                    out_i.append(rid)
                    out_h.append(len(matched))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_i, type=batch.column(0).type),
                    pa.array(out_h, type=pa.int64()),
                ],
                names=[id_col, "n_hits"],
            )

    per_row = lowered.mapInArrow(_kernel, out_schema)
    return per_row.groupBy(id_col).agg(
        F.sum("n_hits").cast("long").alias("n_hits")
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_hits: int = 0,
) -> DataFrame:
    """Return the clean corpus: drop documents with more than `max_hits`
    overlapping benchmark n-grams (default 0 = any overlap drops).
    Implemented as a left-anti join against the report. The flagged set
    is NOT broadcast-hinted: contamination is usually rare (AQE will
    broadcast a small set at runtime), but it is data-dependent and
    unbounded — a pathological overlap at 100 TB could flag millions of
    ids, where a forced broadcast would OOM the executors."""
    hits = contamination_report(corpus, benchmark, id_col, text_col, n)
    flagged = hits.filter(F.col("n_hits") > max_hits).select(id_col)
    return corpus.join(flagged, id_col, "left_anti")


# Arrow-kernel gate for the semantic report: the mapInArrow kernel pays
# a fixed per-execution Python-boundary cost (worker round-trip + Arrow
# transpose, measured ~+0.11s at sf0.1 where the whole query is 0.3s)
# and wins in proportion to corpus volume (4.4x at the 10x corpus,
# where the BNLJ+fold it replaces dominates). The crossover sits near
# ~1 MiB of corpus bytes at 64 dims; below it the (bit-identical)
# broadcast-crossJoin expression plan is faster. Conf-tunable; 0 forces
# the kernel everywhere.
KERNEL_BYTES_CONF = "spark.columnar.decontaminate.kernelBytesThreshold"
KERNEL_BYTES_DEFAULT = 1024 * 1024


def _semantic_report_expr(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Small-corpus plan: broadcast crossJoin + Catalyst HOF fold —
    bit-identical to the kernel (same left-to-right IEEE op sequence;
    pinned by tests/test_decontaminate kernel-vs-fold equality)."""
    from columnar_spark.functions.vector import dot, norm

    # Norms precomputed ONCE per row on each side (a projection below
    # the join evaluates per stream row / per broadcast row, not per
    # pair) — computing cosine_sim(a, b) per pair would re-fold both
    # norms |bench| times per corpus row.
    bench = F.broadcast(
        bench_emb.select(
            F.col(vec_col).cast("array<double>").alias("__bv")
        ).withColumn("__bn", norm(F.col("__bv")))
    )
    corpus = corpus_emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    ).withColumn("__cn", norm(F.col("__cv")))
    # try_divide: a zero-norm vector scores NULL (never a hit) instead of
    # raising DIVIDE_BY_ZERO under ANSI — the kernel's 0/0 = NaN, which
    # `>= threshold` excludes, is the same answer
    sim = F.try_divide(
        dot(F.col("__cv"), F.col("__bv")), F.col("__cn") * F.col("__bn")
    )
    return (
        corpus.crossJoin(bench)
        .select(F.col(id_col), sim.alias("__sim"))
        .filter(F.col("__sim") >= threshold)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_hits"),
            F.round(F.max("__sim"), 6).alias("max_sim"),
        )
    )


def _use_kernel(corpus: DataFrame) -> bool:
    try:
        thr = int(
            corpus.sparkSession.conf.get(KERNEL_BYTES_CONF, str(KERNEL_BYTES_DEFAULT))
        )
    except Exception:
        thr = KERNEL_BYTES_DEFAULT
    if thr <= 0:
        return True
    try:
        size = int(
            corpus._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return True
    return size >= thr


def semantic_contamination_report(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.5,
) -> DataFrame:
    """Embedding-space decontamination: flag corpus items whose vector is
    cosine-similar (>= threshold) to ANY benchmark/eval item — catches
    paraphrased or reformatted contamination the n-gram pass misses.

    Unlike corpus SELF near-dup (where all-pairs is quadratic and LSH is
    mandatory), corpus x benchmark is n x b with b tiny — so the exact
    broadcast cross product IS the scale path: one corpus scan, bench
    vectors broadcast, distances in codegen, per-id aggregation is the
    only shuffle (bounded by flagged rows). Returns
    (id_col, n_hits, max_sim)."""
    # "b tiny by contract" gets a hard guard, not a docstring (house
    # pattern: dedup._guard_quadratic, knn.BATCH_QUERY_MAX_ROWS): a
    # corpus-sized eval set would broadcast-OOM the executors and the
    # n x b cross product would silently go quadratic.
    nb = bench_emb.count()
    if nb > EVAL_SET_MAX_ROWS:
        raise ValueError(
            f"semantic_contamination_report broadcasts the eval set and "
            f"computes corpus x eval distances; it refuses eval sets over "
            f"{EVAL_SET_MAX_ROWS} rows (got {nb}). Chunk the eval set and "
            "union the reports, or use the LSH near-dup path "
            "(embedding_neardup_lsh) for set-vs-set at corpus scale."
        )

    # Size gate (guide §1: the optimization that helps one scale must
    # not hurt the measured one): small corpora take the expression
    # plan, large ones the Arrow kernel. Both proven bit-identical.
    if not _use_kernel(corpus_emb):
        return _semantic_report_expr(corpus_emb, bench_emb, id_col, vec_col, threshold)

    # The n x b pair loop is the entire cost of this operator. The
    # former plan exploded n x b rows through a broadcast cross join and
    # folded the dot per pair with Catalyst HOFs (aggregate/zip_with are
    # CodegenFallback — interpreted per element; a 64-term codegen unroll
    # measured WORSE inside the BNLJ loop, HotSpot refuses to JIT the
    # huge generated method). Guide §4.2 shape instead: hand whole Arrow
    # batches to numpy and keep the per-pair math OUT of the row plan.
    #
    # Bit-identity with the old fold (and so with the declared oracle):
    # the kernel accumulates `acc += v[i]*b[i]` SEQUENTIALLY over dims
    # (vectorized across the pair axis, scalar over i) — the identical
    # left-to-right IEEE-754 double op sequence the fold executed; no
    # FMA, no pairwise regrouping, same 0.0 start, same float->double
    # exact widening, sqrt/divide placement unchanged. Rounding stays in
    # JVM F.round (HALF_UP) — the kernel emits raw doubles.
    #
    # Scale: per-partition map, NO shuffle at all now (per-row n_hits/
    # max_sim collapse inside the kernel; a final tiny groupBy preserves
    # duplicate-id merge semantics on the flagged subset only). The eval
    # matrix rides the task closure (<= 50k x 64 f64 = 26 MB, guarded).
    bench_rows = (
        bench_emb.select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    bench_vecs = [list(r["v"]) if r["v"] is not None else None for r in bench_rows]
    id_field = corpus_emb.select(id_col).schema.fields[0]
    id_type = id_field.dataType.simpleString()
    out_schema = f"{id_col} {id_type}, n_hits long, __maxsim double"
    thr = float(threshold)

    corpus = corpus_emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv")
    )

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa

        dense = [v for v in bench_vecs if v is not None]
        dims = {len(v) for v in dense}
        uniform_b = len(dims) == 1
        d = dims.pop() if uniform_b else None
        B = np.array(dense, dtype=np.float64) if uniform_b and dense else None
        if B is not None:
            bn = np.zeros(B.shape[0], dtype=np.float64)
            for i in range(d):
                bn += B[:, i] * B[:, i]
            bn = np.sqrt(bn)

        def _rows_fallback(ids, vec_list):
            # exact fold per pair for ragged/null rows — same op order
            out_i, out_h, out_m = [], [], []
            for rid, v in zip(ids, vec_list):
                if v is None:
                    continue
                hits, mx = 0, None
                vn_acc = 0.0
                for x in v:
                    vn_acc += x * x
                vn = vn_acc ** 0.5
                for b in bench_vecs:
                    if b is None or len(b) != len(v):
                        continue  # fold over unequal lengths yields NULL
                    acc = 0.0
                    bnorm_acc = 0.0
                    for x, y in zip(v, b):
                        acc += x * y
                    for y in b:
                        bnorm_acc += y * y
                    den = vn * bnorm_acc ** 0.5
                    if den == 0.0:
                        continue  # zero-norm side: NaN, never a hit
                    s = acc / den
                    if s >= thr:
                        hits += 1
                        mx = s if mx is None or s > mx else mx
                if hits:
                    out_i.append(rid)
                    out_h.append(hits)
                    out_m.append(mx)
            return out_i, out_h, out_m

        for batch in batches:
            if not dense or batch.num_rows == 0:
                # empty/all-NULL bench set: the cross join scored no
                # pairs, so zero hits is exact
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0).slice(0, 0),
                     pa.array([], type=pa.int64()),
                     pa.array([], type=pa.float64())],
                    names=[batch.schema.field(0).name, "n_hits", "__maxsim"],
                )
                continue
            if B is None:
                # mixed-dimension bench set: no dense matrix, but the
                # cross join still scored every equal-length pair — the
                # exact per-pair fold handles it (never emit empty here:
                # that would silently report zero hits)
                oi, oh, om = _rows_fallback(
                    batch.column(0).to_pylist(), batch.column(1).to_pylist()
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(oi, type=batch.column(0).type),
                     pa.array(oh, type=pa.int64()),
                     pa.array(om, type=pa.float64())],
                    names=[batch.schema.field(0).name, "n_hits", "__maxsim"],
                )
                continue
            ids_arr = batch.column(0)
            vecs = batch.column(1)
            lens = (
                np.diff(vecs.offsets.to_numpy(zero_copy_only=False))
                if hasattr(vecs, "offsets") else None
            )
            uniform = (
                vecs.null_count == 0
                and lens is not None
                and len(lens) > 0
                and bool((lens == d).all())
            )
            if not uniform:
                oi, oh, om = _rows_fallback(
                    ids_arr.to_pylist(), vecs.to_pylist()
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(oi, type=ids_arr.type),
                     pa.array(oh, type=pa.int64()),
                     pa.array(om, type=pa.float64())],
                    names=[batch.schema.field(0).name, "n_hits", "__maxsim"],
                )
                continue
            V = vecs.flatten().to_numpy(zero_copy_only=False).reshape(-1, d)
            n = V.shape[0]
            cn = np.zeros(n, dtype=np.float64)
            sims = np.zeros((n, B.shape[0]), dtype=np.float64)
            for i in range(d):
                col = V[:, i]
                cn += col * col
                sims += col[:, None] * B[None, :, i]
            cn = np.sqrt(cn)
            sims /= cn[:, None] * bn[None, :]
            mask = sims >= thr
            hits = mask.sum(axis=1)
            flagged = hits > 0
            if not flagged.any():
                yield pa.RecordBatch.from_arrays(
                    [ids_arr.slice(0, 0),
                     pa.array([], type=pa.int64()),
                     pa.array([], type=pa.float64())],
                    names=[batch.schema.field(0).name, "n_hits", "__maxsim"],
                )
                continue
            masked = np.where(mask[flagged], sims[flagged], -np.inf)
            maxs = masked.max(axis=1)
            idx = np.flatnonzero(flagged)
            yield pa.RecordBatch.from_arrays(
                [ids_arr.take(pa.array(idx)),
                 pa.array(hits[flagged].astype("int64")),
                 pa.array(maxs)],
                names=[batch.schema.field(0).name, "n_hits", "__maxsim"],
            )

    per_row = corpus.mapInArrow(_kernel, out_schema)
    # Merge duplicate ids exactly as the old groupBy did (flagged subset
    # only — tiny); SUM of per-row counts == COUNT(*) over pairs, MAX of
    # per-row maxes == MAX over pairs, and the HALF_UP round stays JVM.
    return per_row.groupBy(id_col).agg(
        F.sum("n_hits").cast("long").alias("n_hits"),
        F.round(F.max("__maxsim"), 6).alias("max_sim"),
    )
