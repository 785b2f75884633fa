"""The concurrent sidecar fold schedule of append_batch.

Ledgered events appends must leave every sidecar equal to a from-scratch
rebuild of the table (stats manifest, a plain and a JSON-field value
index, the cohort matrix), including a batch that moves a user's first
day earlier and one that carries a bigint > 2^53 and NULL keys. A fold
that raises must surface only after every other fold finished, with the
writer lock released and the ledger left `inflight`, so the retry takes
the rebuild path and converges to the clean append's sidecars."""

import datetime
import json
import os
import time

import pytest

from columnar_spark.operators.cohort import (
    check_cohort_sidecar,
    cohort_sidecar_path,
    load_cohort_matrix,
    write_cohort_sidecar,
)
from columnar_spark.stats import (
    build_stats_manifest,
    build_value_index,
    index_is_fresh,
    json_field_expr,
    json_virtual_name,
    load_value_index,
    value_index_path,
    write_json_field_index,
    write_value_index,
)
from columnar_spark.streaming.ingest import append_batch, ingest_ledger_path
from columnar_spark.writer import WriteSpec, write_table

SCHEMA = "event_id long, user_id long, ts timestamp, event_type string, props string"
BIG = 2**53 + 3
JSON_COL = json_virtual_name("props", "$.k")


def _ev(i, user, day, etype="view", k=None):
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=day, hours=i % 7)
    props = None if k is None else json.dumps({"k": k})
    return (i, user, ts, etype, props)


BASE = [_ev(i, 1 + i % 5, 4 + i % 3, ["view", "click"][i % 2], i % 4) for i in range(30)]
BATCHES = {
    # new user 9, a known user on a new day, and already-seen pairs
    1: [_ev(100, 9, 10, "buy", 1), _ev(101, 1, 9, "view", 2), _ev(102, 2, 4, "view", 2)],
    # user 3's first day moves three days earlier: a cohort correction
    2: [_ev(200, 3, 1, "click", 3), _ev(201, 4, 8, "view", 0)],
    # bigint keys past 2^53 and NULL keys (user, event_type, props)
    3: [_ev(BIG, BIG, 5, "view", 7), _ev(300, None, 6, None, None),
        _ev(301, 2, 11, "buy", None)],
}


def _table(spark, path):
    write_table(spark.createDataFrame(BASE, SCHEMA), path, WriteSpec())
    write_value_index(spark, path, "user_id")
    write_json_field_index(spark, path, "props", "$.k")
    write_cohort_sidecar(spark, path, "ts", "user_id")
    return path


def _batch(spark, bid):
    return spark.createDataFrame(BATCHES[bid], SCHEMA)


def _sorted(rows):
    return sorted((tuple(r) for r in rows), key=lambda t: [(v is None, v) for v in t])


def _vidx(spark, path, col):
    return _sorted(load_value_index(spark, path, col, check_fresh=False).collect())


def _manifest(spark, path):
    return {r["column"]: r.asDict() for r in spark.read.parquet(path + ".stats").collect()}


def _assert_same_stats(got, want):
    """Exact counts and bounds; the HLL ndv within 2 (a merged sketch and
    a one-shot estimate may differ by a unit on a few dozen values)."""
    assert set(got) == set(want)
    for c, w in want.items():
        g = got[c]
        assert (g["row_count"], g["null_count"]) == (w["row_count"], w["null_count"]), c
        try:  # numeric bounds come back double-formatted after a merge
            assert float(g["min"]) == float(w["min"]) and float(g["max"]) == float(w["max"]), c
        except (TypeError, ValueError):
            assert (g["min"], g["max"]) == (w["min"], w["max"]), c
        assert abs(g["ndv"] - w["ndv"]) <= 2, c


def _parquet_files(d):
    return len([f for f in os.listdir(d) if f.endswith(".parquet")])


def test_ledgered_appends_match_from_scratch_sidecars(spark, tmp_path):
    p = _table(spark, f"{tmp_path}/events.parquet")
    croot = cohort_sidecar_path(p)
    for bid in sorted(BATCHES):
        before = {c: _parquet_files(f"{croot}/{c}") for c in ("pairs", "matrix", "user_min")}
        assert append_batch(_batch(spark, bid), p, batch_id=bid) is True
        # every batch brings new pairs: one file per cohort component
        for c, n in before.items():
            assert _parquet_files(f"{croot}/{c}") == n + 1, (bid, c)

    full = spark.read.parquet(p)
    assert full.count() == len(BASE) + sum(map(len, BATCHES.values()))

    want = {r["column"]: r.asDict() for r in build_stats_manifest(full).collect()}
    _assert_same_stats(_manifest(spark, p), want)

    assert _vidx(spark, p, "user_id") == _sorted(build_value_index(full, "user_id").collect())
    assert (BIG, 1) in _vidx(spark, p, "user_id") and (None, 1) in _vidx(spark, p, "user_id")
    jfull = full.withColumn(JSON_COL, json_field_expr("props", "$.k"))
    assert _vidx(spark, p, JSON_COL) == _sorted(build_value_index(jfull, JSON_COL).collect())
    assert check_cohort_sidecar(spark, p) == []
    for d in (value_index_path(p, "user_id"), value_index_path(p, JSON_COL), croot):
        assert index_is_fresh(p, d), d
    ledger = json.load(open(os.path.join(ingest_ledger_path(p), "meta.json")))
    assert ledger["inflight"] is None and set(ledger["applied_batches"]) == {"1", "2", "3"}


def test_failing_fold_waits_for_the_others_and_retry_converges(spark, tmp_path, monkeypatch):
    import columnar_spark.operators.cohort as cohort
    import columnar_spark.stats as stats

    clean = _table(spark, f"{tmp_path}/clean/events.parquet")
    p = _table(spark, f"{tmp_path}/failed/events.parquet")
    assert append_batch(_batch(spark, 2), clean, batch_id=2) is True

    done = []
    real_cohort = cohort.append_cohort_batch

    def slow_cohort(*a, **k):
        time.sleep(1.0)  # still running when the value-index fold raises
        real_cohort(*a, **k)
        done.append(time.perf_counter())

    def boom(*a, **k):
        raise RuntimeError("value-index fold failed")

    monkeypatch.setattr(cohort, "append_cohort_batch", slow_cohort)
    monkeypatch.setattr(stats, "merge_value_index", boom)
    with pytest.raises(RuntimeError, match="value-index fold failed"):
        append_batch(_batch(spark, 2), p, batch_id=2)
    raised = time.perf_counter()
    assert done and done[0] < raised  # the cohort fold finished first
    root = ingest_ledger_path(p)
    assert not os.path.exists(os.path.join(root, "writer.lock"))
    assert json.load(open(os.path.join(root, "meta.json")))["inflight"] == "2"

    monkeypatch.undo()
    assert append_batch(_batch(spark, 2), p, batch_id=2) is True  # rebuild path
    assert json.load(open(os.path.join(root, "meta.json")))["inflight"] is None
    assert spark.read.parquet(p).count() == spark.read.parquet(clean).count()
    for col in ("user_id", JSON_COL):
        assert _vidx(spark, p, col) == _vidx(spark, clean, col), col
    assert _sorted(load_cohort_matrix(spark, p).collect()) == _sorted(
        load_cohort_matrix(spark, clean).collect()
    )
    assert check_cohort_sidecar(spark, p) == []
    _assert_same_stats(_manifest(spark, p), _manifest(spark, clean))
