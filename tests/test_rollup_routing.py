"""Materialized-view routing: time-bucketed GROUP BY served from the
continuous-rollup sidecar, freshness-gated. `Engine.sql` hands these
statements to spark.sql, where the JVM Catalyst rule
(CountRewriteRule.rewriteRollup) is their one router."""

import pytest
from pyspark.sql import functions as F

from columnar_spark.stats import (
    build_stats_manifest,
    rewrites_disabled,
    write_stats_sidecar,
)
from columnar_spark.streaming.rollup import (
    append_rollup_batch,
    rollup_sidecar_path,
    write_rollup_sidecar,
)
from columnar_spark.table import Engine


def _layout(spark, d, bucket="1 day"):
    """events table + rollup sidecar + `.stats` manifest in `d`: the
    ingest contract (write_table writes the manifest the rule's
    completeness check reads)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(ev.dtypes)["ts"] in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    p = str(d / "events.parquet")
    ev.write.parquet(p)
    write_rollup_sidecar(spark.read.parquet(p), p, bucket=bucket)
    _write_manifest(spark, p)
    return str(d)


def _write_manifest(spark, p):
    write_stats_sidecar(spark, build_stats_manifest(spark.read.parquet(p)), p)


def _plain_rows(spark, q):
    """The base plan's rows: every sidecar rewrite off."""
    with rewrites_disabled(spark):
        return sorted(map(tuple, spark.sql(q).collect()))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """A private sf_dir with an events table + rollup sidecar."""
    return _layout(spark, tmp_path_factory.mktemp("mv"))


def test_routed_equals_plain(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    eng.table("events").createOrReplaceTempView("events")
    q = (
        "SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n, "
        "SUM(value) AS sv, MIN(value) AS mn, MAX(value) AS mx, AVG(value) AS av "
        "FROM events GROUP BY 1, 2"
    )
    routed = eng.sql(q)
    # the routed plan reads the sidecar, not the base table
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert ".rollup" in plan and "events.parquet]" not in plan

    plain = spark.sql(
        q.replace("SUM(value)", "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
        .replace("AVG(value)", "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)")
    )
    a = sorted(map(tuple, routed.collect()))
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_rollup_of_all_keys_merges_further(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    eng.table("events").createOrReplaceTempView("events")
    routed = eng.sql(
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1"
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert ".rollup" in plan
    assert sorted(map(tuple, routed.collect())) == _plain_rows(
        spark,
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1",
    )


def test_incremental_append_stays_fresh(spark, sf_dir):
    """Appending to the TABLE and the ROLLUP keeps routing valid."""
    p = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(p).limit(500).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    batch.write.mode("append").parquet(p)
    _write_manifest(spark, p)  # as append_batch / write_table do
    append_rollup_batch(batch, rollup_sidecar_path(p) + "/partials")

    eng = Engine(spark, sf_dir)
    eng.table("events").createOrReplaceTempView("events")
    routed = eng.sql(
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1"
    )
    assert ".rollup" in routed._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, routed.collect())) == _plain_rows(
        spark,
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1",
    )


def test_stale_rollup_falls_back(spark, sf_dir):
    """Appending to the TABLE but not the rollup must fall back to the
    base scan (freshness gate), still correct."""
    p = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(p).limit(100).withColumn(
        "event_id", F.col("event_id") + 20_000_000
    )
    batch.write.mode("append").parquet(p)

    eng = Engine(spark, sf_dir)
    eng.table("events").createOrReplaceTempView("events")
    routed = eng.sql(
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1"
    )
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert ".rollup" not in plan  # fell back
    plain = spark.sql(
        "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1"
    )
    assert sorted(map(tuple, routed.collect())) == sorted(map(tuple, plain.collect()))


def test_uncovered_shapes_fall_through(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    eng.table("events").createOrReplaceTempView("events")
    # wrong value column -> fallback, still runs
    out = eng.sql(
        "SELECT date_trunc('day', ts) AS day, SUM(user_id) AS s FROM events GROUP BY 1"
    )
    assert ".rollup" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.count() > 0


def test_week_rollup_is_not_routed(spark, tmp_path):
    """A `1 week` rollup buckets on epoch-aligned (Thursday) window
    starts, while date_trunc('week') starts weeks on Monday: Engine.sql
    must return the base plan's rows, not the sidecar's buckets."""
    eng = Engine(spark, _layout(spark, tmp_path, bucket="1 week"))
    eng.register_views()
    q = "SELECT date_trunc('week', ts) AS w, COUNT(*) AS n FROM events GROUP BY 1"
    got = eng.sql(q)
    assert "bucket_start" not in _plan(got)
    assert sorted(map(tuple, got.collect())) == _plain_rows(spark, q)


def test_hour_rollup_routes_through_the_rule(spark, tmp_path):
    eng = Engine(spark, _layout(spark, tmp_path, bucket="1 hour"))
    eng.register_views()
    q = (
        "SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n, "
        "MIN(value) AS mn, MAX(value) AS mx FROM events GROUP BY 1, 2"
    )
    got = eng.sql(q)
    plan = _plan(got)
    assert "struct<bucket_start" in plan and "events.parquet]" not in plan
    assert sorted(map(tuple, got.collect())) == _plain_rows(spark, q)
