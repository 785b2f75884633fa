"""Seeded inputs: the same seed always gives the same query order, the
same append batches (byte for byte) and the same statements."""

import pyarrow.parquet as pq
import pytest

from perfbench import inputs

NAMES = [f"q{i}" for i in range(13)]


def test_query_order_is_a_seeded_permutation():
    a = inputs.pass_order(NAMES, 5, 0)
    assert a == inputs.pass_order(NAMES, 5, 0)
    assert sorted(a) == sorted(NAMES)
    assert a != inputs.pass_order(NAMES, 6, 0)
    assert a != inputs.pass_order(NAMES, 5, 1)


def test_append_batches_are_byte_identical_per_seed(tmp_path):
    paths = [tmp_path / f"events-{i}.parquet" for i in range(3)]
    inputs.write_events_batch(3, 1, str(paths[0]))
    inputs.write_events_batch(3, 1, str(paths[1]))
    inputs.write_events_batch(4, 1, str(paths[2]))
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert paths[0].read_bytes() != paths[2].read_bytes()


def test_append_keys_are_fresh_and_disjoint_across_rounds():
    ev = inputs.corpus_table("events")
    seen = set(ev["event_id"].to_pylist())
    for r in range(3):
        b = inputs.events_batch(9, r)
        ids = set(b["event_id"].to_pylist())
        assert len(ids) == b.num_rows == inputs.BATCH_ROWS
        assert not ids & seen
        seen |= ids
        assert min(b["ts"].to_pylist()) > max(ev["ts"].to_pylist())
        assert set(b["user_id"].to_pylist()) <= set(ev["user_id"].to_pylist())
    assert b.schema == ev.schema


def test_statements_are_seeded():
    dom = inputs.Domains()
    a = inputs.statements(2, 1, dom)
    assert a == inputs.statements(2, 1, dom)
    assert [s[0] for s in a] == [
        "vidx_count", "vidx_group", "json_group", "rollup", "q1_shape", "join_chain", "knn", "match",
    ]
    assert a != inputs.statements(3, 1, dom)


def test_corpus_is_the_committed_one():
    for t in inputs.CORPUS_TABLES:
        assert pq.ParquetFile(f"{inputs.CORPUS_DIR}/{t}.parquet").metadata.num_rows > 0
