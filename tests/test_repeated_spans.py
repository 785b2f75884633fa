"""Substring-granular (ExactSubstr) dedup — repeated n-gram window
coverage, merged spans, and the keep-one-copy strip. Differential
against a direct python reference + hypothesis fuzz."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from columnar_spark.operators.dedup import (
    repeated_spans,
    strip_repeated_spans,
)


def py_occurrences(docs, n):
    occ = {}
    for did, text in docs:
        toks = text.split(" ")
        for i in range(len(toks) - n + 1):
            gram = " ".join(toks[i : i + n])
            occ.setdefault(gram, []).append((did, i + 1))
    return {g: sorted(v) for g, v in occ.items() if len(v) > 1}


def merge(spans):
    out = []
    for s, e in sorted(spans):
        if out and s <= out[-1][1] + 1:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def py_repeated_spans(docs, n, keep_first=False):
    per_doc = {}
    for _gram, lst in py_occurrences(docs, n).items():
        use = lst[1:] if keep_first else lst
        for did, s in use:
            per_doc.setdefault(did, []).append((s, s + n - 1))
    return sorted(
        (did, s, e) for did, sl in per_doc.items() for s, e in merge(sl)
    )


def py_strip(docs, n, keep_first=True):
    occ = py_occurrences(docs, n)
    cut, protect = {}, {}
    for _gram, lst in occ.items():
        use = lst[1:] if keep_first else lst
        for did, s in use:
            cut.setdefault(did, set()).update(range(s, s + n))
        if keep_first:
            did, s = lst[0]
            protect.setdefault(did, set()).update(range(s, s + n))
    out = []
    for did, text in docs:
        toks = text.split(" ")
        if did not in cut:
            out.append((did, text))
            continue
        kept = [
            t
            for i, t in enumerate(toks, start=1)
            if i not in cut[did] or i in protect.get(did, ())
        ]
        out.append((did, " ".join(kept)))
    return sorted(out)


DOCS = [
    (1, "a b c d e f g h i j unique tail one"),
    (2, "x y a b c d e f g h i j z w q"),
    (3, "p p p p p p p p p p"),
    (4, "totally different words here nothing shared at all"),
    (5, "short text"),
]


def _df(spark, docs):
    return spark.createDataFrame(docs, "doc_id int, text string")


def test_spans_match_python_reference(spark):
    df = _df(spark, DOCS)
    for keep_first in (False, True):
        got = sorted(
            tuple(r)
            for r in repeated_spans(df, n=5, keep_first=keep_first).collect()
        )
        assert got == py_repeated_spans(DOCS, 5, keep_first), keep_first


def test_hash_grams_same_answer(spark):
    df = _df(spark, DOCS)
    a = sorted(tuple(r) for r in repeated_spans(df, n=5, hash_grams=False).collect())
    b = sorted(tuple(r) for r in repeated_spans(df, n=5, hash_grams=True).collect())
    assert a == b


# whitespace edges: leading/trailing/interior space runs (empty tokens
# kept — the literal single-space-split contract), all-space, empty,
# NULL, shorter-than-n, self-repetition inside one doc
EDGE_DOCS = [
    (1, "a b c d e  f g h i j"),
    (2, " a b c d e  f g h i j "),
    (3, "a b c d e  f g h i j"),
    (4, "     "),
    (5, ""),
    (6, "q r"),
    (7, None),
    (8, "m m m m m m m m m m m m"),
]


def test_kernel_keys_same_answer(spark):
    """The Arrow rolling-hash key path (the bench query's plan) is
    row-identical to the oracle-exact gram-text keys, including every
    whitespace edge and keep_first."""
    for docs in (DOCS, EDGE_DOCS):
        df = _df(spark, docs)
        for keep_first in (False, True):
            a = sorted(
                tuple(r)
                for r in repeated_spans(
                    df, n=5, keep_first=keep_first, hash_grams=False
                ).collect()
            )
            b = sorted(
                tuple(r)
                for r in repeated_spans(
                    df, n=5, keep_first=keep_first, hash_grams="kernel"
                ).collect()
            )
            assert a == b, (docs is EDGE_DOCS, keep_first)


def test_strip_keeps_exactly_one_copy(spark):
    df = _df(spark, DOCS)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in strip_repeated_spans(df, n=5, keep_first=True).collect()
    )
    assert got == py_strip(DOCS, 5, keep_first=True)
    # the shared 10-token run survives in doc 1 only; doc 3 keeps one 5-gram
    d = dict(got)
    assert d[1] == DOCS[0][1]
    assert d[2] == "x y z w q"
    assert d[3] == "p p p p p"


def test_strip_all_occurrences(spark):
    df = _df(spark, DOCS)
    got = sorted(
        (r["doc_id"], r["text"])
        for r in strip_repeated_spans(df, n=5, keep_first=False).collect()
    )
    assert got == py_strip(DOCS, 5, keep_first=False)


texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
    ).map(" ".join),
    min_size=1,
    max_size=7,
)


@given(texts=texts, n=st.integers(min_value=2, max_value=4))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_spans_and_strip(spark, texts, n):
    docs = [(i, t) for i, t in enumerate(texts)]
    df = _df(spark, docs)
    got = sorted(tuple(r) for r in repeated_spans(df, n=n).collect())
    assert got == py_repeated_spans(docs, n)
    got_k = sorted(
        tuple(r) for r in repeated_spans(df, n=n, keep_first=True).collect()
    )
    assert got_k == py_repeated_spans(docs, n, keep_first=True)
    stripped = sorted(
        (r["doc_id"], r["text"])
        for r in strip_repeated_spans(df, n=n, keep_first=True).collect()
    )
    assert stripped == py_strip(docs, n, keep_first=True)


def test_kernel_gate_branches_same_rows(spark, tmp_path):
    """Both sides of the rolling-hash kernel size gate
    (dedup._spans_kernel_worthwhile) return identical rows. The
    byte-threshold conf forces each branch: 0 takes the Arrow kernel, a
    huge value the gram-text keys. The docs are read from parquet so
    the size estimate is real (an in-memory frame reads Long.MaxValue)."""
    from columnar_spark.operators.dedup import SPANS_KERNEL_BYTES_CONF

    _df(spark, DOCS + [(10 + i, t) for i, t in EDGE_DOCS]) \
        .coalesce(1).write.parquet(f"{tmp_path}/docs")
    df = spark.read.parquet(f"{tmp_path}/docs")
    got = {}
    try:
        for thr, kernel in (("0", True), (str(2**63 - 1), False)):
            spark.conf.set(SPANS_KERNEL_BYTES_CONF, thr)
            out = repeated_spans(df, n=5, keep_first=True, hash_grams="kernel")
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert ("MapInArrow" in plan) == kernel, plan
            got[kernel] = sorted(tuple(r) for r in out.collect())
    finally:
        spark.conf.unset(SPANS_KERNEL_BYTES_CONF)
    assert got[True] == got[False] and got[True]
