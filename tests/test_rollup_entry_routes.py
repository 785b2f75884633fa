"""The `.rollup`-sidecar entry routes (time_bucket_agg,
daily_counts_gapfill, streaming_window_day, continuous_rollup_events):
on a layout carrying a fresh `.rollup` sidecar each query must (a) read
the sidecar and never the events base table, and (b) return exactly the
fallback plan's rows — bit-identical, since cnt/sum_v are associative
integer partials."""

import shutil

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from columnar_spark.streaming.rollup import write_rollup_sidecar

SF = "/root/testdata/sf0.001"

QUERIES = [
    "daily_counts_gapfill",
    "streaming_window_day",
    "time_bucket_agg",
    "continuous_rollup_events",
]


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    routed = tmp_path_factory.mktemp("rollup_routed")
    bare = tmp_path_factory.mktemp("rollup_bare")
    for d in (routed, bare):
        shutil.copy(f"{SF}/events.parquet", d / "events.parquet")
    p = str(routed / "events.parquet")
    ev = spark.read.parquet(p)
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    write_rollup_sidecar(ev, p)
    # the freshness gate reads the table row count from the .stats
    # manifest, exactly as on an ingested layout
    from columnar_spark.stats import build_stats_manifest, write_stats_sidecar

    write_stats_sidecar(spark, build_stats_manifest(spark.read.parquet(p)), p)
    return str(routed), str(bare)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("qname", QUERIES)
def test_route_reads_sidecar_and_matches_fallback(spark, dirs, qname):
    routed_dir, bare_dir = dirs
    fn = E.queries()[qname]
    routed = fn(spark, routed_dir)
    # toString() elides long paths; the sidecar's ReadSchema (partial
    # columns) vs the raw log's (ts/event_type/value) is the stable tell
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "struct<bucket_start" in plan, f"{qname} did not route to the sidecar"
    fallback = fn(spark, bare_dir)
    fplan = fallback._jdf.queryExecution().executedPlan().toString()
    assert "struct<bucket_start" not in fplan
    assert _rows(routed) == _rows(fallback)


@pytest.mark.parametrize("qname", QUERIES)
def test_stale_sidecar_falls_back(spark, dirs, qname, tmp_path):
    """Appending to the TABLE (with the .stats manifest refreshed, as
    write_table does) without refreshing the rollup must break the
    freshness gate (sum(cnt) != manifest rows) and fall back."""
    routed_dir, _ = dirs
    d = tmp_path / "stale"
    d.mkdir()
    p = str(d / "events.parquet")
    src = spark.read.parquet(f"{routed_dir}/events.parquet")
    # directory-form table (the testdata file form can't take appends)
    src.write.parquet(p)
    ev = spark.read.parquet(p)
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    write_rollup_sidecar(ev, p)
    batch = src.limit(50).withColumn("event_id", F.col("event_id") + 10_000_000)
    batch.write.mode("append").parquet(p)
    from columnar_spark.stats import build_stats_manifest, write_stats_sidecar

    write_stats_sidecar(spark, build_stats_manifest(spark.read.parquet(p)), p)
    fn = E.queries()[qname]
    df = fn(spark, str(d))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "struct<bucket_start" not in plan, f"{qname} served a STALE sidecar"


def test_routed_build_fires_no_jobs_once_gated(spark, dirs):
    """The freshness gate's one Spark job (sum(cnt) vs the manifest row
    count) runs once per sidecar state; every later build of a routed
    query is metadata-only."""
    routed_dir, _ = dirs
    sc = spark.sparkContext
    for qname in QUERIES:
        E.queries()[qname](spark, routed_dir)  # first call may check
        group = f"rollup-build-{qname}"
        sc.setJobGroup(group, qname)
        try:
            E.queries()[qname](spark, routed_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], qname
