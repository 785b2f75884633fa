"""The benchmark's own arithmetic: tail percentile, span self time,
the inputFiles classifier."""

import pytest

from perfbench import measure


def test_tail_picks_highest_percentile_with_ten_samples_beyond():
    values = list(range(1, 101))  # 100 samples
    pct, value, n = measure.tail(values)
    # p90 has exactly 10 samples above rank 90; p91 only 9
    assert (pct, value, n) == (90, 90, 100)


def test_tail_counts_samples_not_distinct_values():
    pct, value, n = measure.tail([1.0] * 30 + [5.0] * 10)
    assert n == 40 and pct == 75 and value == 1.0


def test_tail_with_few_samples_falls_back_to_the_median():
    assert measure.tail([3.0, 1.0, 2.0, 10.0]) == (50, 2.5, 4)
    assert measure.tail([]) == (None, None, 0)


def test_tail_moves_with_sample_count():
    # 20 samples: p50 is the only percentile with 10 beyond
    assert measure.tail(list(range(20)))[0] == 50
    assert measure.tail(list(range(1000)))[0] == 99


def _span(id_, parent, name, t0, t1, op=1):
    return {"id": id_, "parent": parent, "op": op, "name": name, "t0": t0, "t1": t1}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(1, None, "query", 0.0, 10.0),
        _span(2, 1, "construct", 0.0, 3.0),
        _span(3, 2, "inner", 1.0, 2.0),
        _span(4, 1, "exec", 4.0, 9.0),
    ]
    s = measure.self_times(spans)
    assert s["query"] == pytest.approx(2.0)  # 10 - 3 - 5
    assert s["construct"] == pytest.approx(2.0)  # 3 - 1
    assert s["inner"] == pytest.approx(1.0)
    assert s["exec"] == pytest.approx(5.0)
    # self times partition the root's duration
    assert sum(s.values()) == pytest.approx(10.0)


def test_self_time_sums_over_operations_and_never_goes_negative():
    spans = [
        _span(1, None, "query", 0.0, 1.0, op=1),
        _span(2, 1, "exec", 0.0, 1.0, op=1),
        _span(3, None, "query", 2.0, 2.5, op=2),
        _span(4, 3, "exec", 2.0, 2.6, op=2),  # clock skew: child > parent
    ]
    s = measure.self_times(spans)
    assert s["query"] == 0.0
    assert s["exec"] == pytest.approx(1.6)


def test_tracer_nests_and_shares_the_operation_id():
    tr = measure.Tracer()
    with tr.span("statement", op=7):
        with tr.span("sql_call"):
            pass
        with tr.span("collect"):
            pass
    by_name = {s["name"]: s for s in tr.spans}
    root = by_name["statement"]
    assert root["parent"] is None
    assert by_name["sql_call"]["parent"] == root["id"]
    assert by_name["collect"]["parent"] == root["id"]
    assert {s["op"] for s in tr.spans} == {7}


@pytest.mark.parametrize(
    "path,expected",
    [
        ("file:/x/layout/lineitem.parquet/part-00000-abc.snappy.parquet", ("base", "lineitem")),
        ("file:///x/layout/events.parquet/part-ingest-b1-0.parquet", ("base", "events")),
        ("file:/x/layout/lineitem.parquet.aggproj/pricing_day/part-0.parquet", ("sidecar", "aggproj")),
        ("file:/x/layout/events.parquet.rollup-user_day/part-0.parquet", ("sidecar", "rollup")),
        ("file:/x/layout/embeddings.parquet.knn-graph/part=1/n.parquet", ("sidecar", "knn-graph")),
        ("file:/x/layout/embeddings.parquet.knn/codes/c=3/p.parquet", ("sidecar", "knn")),
        ("file:/x/layout/events.parquet.vidx/event_type/part-0.parquet", ("sidecar", "vidx")),
        ("file:/x/layout/documents.parquet.ftidx/post/b=2/part-0.parquet", ("sidecar", "ftidx")),
        ("file:/x/layout/lineitem.parquet.proj/lineorder/part-0.parquet", ("sidecar", "proj")),
        ("file:/x/layout/events.parquet.ingest/stage/part-0.parquet", ("other", None)),
        ("file:/tmp/spark-local/some.parquet", ("other", None)),
    ],
)
def test_input_file_classifier(path, expected):
    assert measure.classify_input_file(path) == expected


def test_census_counts_by_kind_and_family():
    c = measure.census([
        "file:/l/orders.parquet/a.parquet",
        "file:/l/orders.parquet.vidx/o_custkey/b.parquet",
        "file:/l/orders.parquet.vidx/o_orderstatus/c.parquet",
        "file:/elsewhere/d.parquet",
    ])
    assert c == {"base": 1, "sidecar": 2, "other": 1, "families": {"vidx": 2}}


def test_rows_match_tolerates_float_rounding_only():
    cols = ["flag", "sum_base", "n"]
    routed = [("R", 287623545.5, 5432), ("A", 282291200.27, 5386)]
    # the same result from a double-summing plan, columns and rows reordered
    base = [(5386, "A", 282291200.27000004), (5432, "R", 287623545.4999993)]
    assert measure.rows_match(cols, routed, ["n", "flag", "sum_base"], base)
    off = [(5386, "A", 282291200.27000004), (5432, "R", 287623546.5)]
    assert not measure.rows_match(cols, routed, ["n", "flag", "sum_base"], off)
    assert not measure.rows_match(cols, routed, ["n", "flag", "sum_base"], base[:1])
    assert not measure.rows_match(cols, routed, ["n", "flag", "other"], base)
    assert not measure.rows_match(["v"], [(None,)], ["v"], [(1.0,)])
    assert measure.rows_match(["v"], [([1.0, 2.0],)], ["v"], [((1.0, 2.0000000001),)])


def test_layout_bytes_by_family(tmp_path):
    (tmp_path / "events.parquet").mkdir()
    (tmp_path / "events.parquet" / "p.parquet").write_bytes(b"x" * 10)
    (tmp_path / "events.parquet.rollup").mkdir()
    (tmp_path / "events.parquet.rollup" / "r.parquet").write_bytes(b"x" * 3)
    (tmp_path / "_LAYOUT_OK").write_bytes(b"x" * 2)
    b = measure.layout_bytes(str(tmp_path))
    assert b["table"] == 10 and b["rollup"] == 3 and b["total"] == 15
    assert set(b) == set(measure.BYTE_FAMILIES) | {"total"}



def test_fastest_keeps_the_k_smallest():
    assert measure.fastest([5.0, 1.0, 4.0, 2.0, 3.0, 6.0], 2) == {1, 3}
    assert measure.fastest([2.0, 1.0, 3.0], 5) == {0, 1, 2}
    assert measure.fastest([1.0, 1.0], 1) == {0}
    assert measure.fastest([], 2) == set()


def test_run_length_fixes_the_tail_percentile():
    from perfbench import workloads

    # the pass count follows --seconds only, so every commit reports the
    # same percentile: the fastest 2 of 6 passes of 15 queries at
    # --seconds 21 give p66
    passes = workloads.measured_rounds(21, workloads.PASS_S)
    assert passes == 6
    kept = len(measure.fastest([0.0] * passes, workloads.KEPT_PASSES))
    assert measure.tail([0.0] * kept * len(workloads.SERVE_MIX))[:1] == (66,)
    assert workloads.measured_rounds(21, workloads.CYCLE_S) == 1
    assert workloads.measured_rounds(1, workloads.CYCLE_S) == 1
