"""Continuous aggregate rollup: streamed per-batch partials merge-on-read
to exactly the one-shot batch aggregate; compaction preserves reads."""

import datetime

from pyspark.sql import functions as F

from columnar_spark.snapshots import history
from columnar_spark.streaming.rollup import (
    compact_rollup,
    finalize_rollup,
    merge_rollup,
    read_rollup,
    rollup_partials,
    stream_rollup,
)


def _events_df(spark, n=3000):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(minutes=i * 7),
            ["click", "view", "buy"][i % 3],
            float(i % 100) / 4.0,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "event_id: long, ts: timestamp, event_type: string, value: double")


def _collect_view(df):
    return {
        (r["bucket_start"], r["event_type"]): (
            r["cnt"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in df.collect()
    }


def test_streamed_rollup_equals_batch_aggregate(spark, tmp_path):
    ev = _events_df(spark)
    src = str(tmp_path / "src")
    # three separate ingest files = three micro-batches worth of data
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).write.mode("append").parquet(src)

    rollup = str(tmp_path / "rollup.parquet")
    q = stream_rollup(
        spark,
        src,
        rollup,
        str(tmp_path / "ckpt"),
        schema=ev.schema,
        bucket="1 day",
    )
    q.awaitTermination(120)

    got = _collect_view(read_rollup(spark, rollup))
    want = _collect_view(finalize_rollup(merge_rollup(rollup_partials(ev))))
    assert got == want and len(got) > 10


def test_batch_split_invariance_and_compaction(spark, tmp_path):
    ev = _events_df(spark, n=2000)
    rollup = str(tmp_path / "r2.parquet")
    # append partials in 4 arbitrary uneven splits
    for i in range(4):
        part = ev.filter((F.col("event_id") % 10 >= i * 2) & (F.col("event_id") % 10 < (i + 1) * 2 + (6 if i == 3 else 0)))
        rollup_partials(part).write.mode("append").parquet(rollup)

    before = _collect_view(read_rollup(spark, rollup))
    nb, na = compact_rollup(spark, rollup)
    assert na <= nb
    # one row per (bucket, key) after compaction
    merged = spark.read.parquet(rollup)
    assert merged.count() == merged.select("bucket_start", "event_type").distinct().count()
    assert _collect_view(read_rollup(spark, rollup)) == before
    assert [e.op for e in history(rollup)] == ["compact-rollup"]


def test_hll_distinct_rollup_split_invariant(spark):
    """The mergeable-sketch metric: per-bucket approx distinct users.
    HLL union is associative, so ANY batch split yields the identical
    estimate; and the estimate is near-exact at test cardinalities."""
    ev = _events_df(spark, n=4000).withColumn(
        "user_id", (F.col("event_id") % 97).cast("long")
    )
    one_shot = finalize_rollup(
        merge_rollup(rollup_partials(ev, distinct_col="user_id"))
    )
    split = None
    for i in range(3):
        p = rollup_partials(ev.filter(F.col("event_id") % 3 == i), distinct_col="user_id")
        split = p if split is None else split.unionByName(p)
    merged_split = finalize_rollup(merge_rollup(split))

    a = {(r["bucket_start"], r["event_type"]): r["approx_distinct"] for r in one_shot.collect()}
    b = {(r["bucket_start"], r["event_type"]): r["approx_distinct"] for r in merged_split.collect()}
    assert a == b and len(a) > 10

    # near-exact at this cardinality (HLL lgK default): within 5%
    exact = {
        (r["bucket_start"], r["event_type"]): r["nd"]
        for r in ev.groupBy(
            F.window("ts", "1 day").start.alias("bucket_start"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    for k, est in a.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_backfill_repairs_bucket_range(spark, tmp_path):
    """Corrections arrive for 2 days: drop those buckets' partials,
    recompute from corrected raw, untouched buckets stay identical, and
    the pre-backfill rollup is restorable."""
    ev = _events_df(spark, n=3000)
    rollup = str(tmp_path / "bf.parquet")
    for i in range(3):
        rollup_partials(ev.filter(F.col("event_id") % 3 == i)).write.mode(
            "append"
        ).parquet(rollup)

    # corrected raw: values doubled on two specific days
    lo = datetime.datetime(2024, 1, 3)
    hi = datetime.datetime(2024, 1, 5)
    corrected = ev.withColumn(
        "value",
        F.when(
            (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi)), F.col("value") * 2
        ).otherwise(F.col("value")),
    )

    before = _collect_view(read_rollup(spark, rollup))
    from columnar_spark.streaming.rollup import backfill_rollup

    dropped, added = backfill_rollup(spark, rollup, corrected, lo, hi)
    assert dropped > 0 and added > 0

    after = _collect_view(read_rollup(spark, rollup))
    want = _collect_view(finalize_rollup(merge_rollup(rollup_partials(corrected))))
    assert after == want
    # untouched buckets byte-identical views
    for k in after:
        if not (lo <= k[0] < hi):
            assert after[k] == before[k]
    # audited + restorable
    from columnar_spark.snapshots import history, restore

    assert [e.op for e in history(rollup)] == ["backfill-rollup"]
    restore(rollup, 1)
    assert _collect_view(read_rollup(spark, rollup)) == before


def test_legacy_decimal_sidecar_still_serves(spark, tmp_path):
    """Sidecars written before the fixed-point change stored sum_v as a
    decimal; unscale_sum_v type-dispatches on the stored schema so they
    finalize to the same values as a current scaled-long sidecar."""
    ev = _events_df(spark, 500)
    current = rollup_partials(ev)
    # simulate the legacy layout: same groups, decimal sum of the raw value
    legacy = ev.groupBy(
        F.window(F.col("ts"), "1 day").start.alias("bucket_start"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    legacy_path = str(tmp_path / "legacy_partials")
    legacy.write.parquet(legacy_path)
    got = _collect_view(finalize_rollup(merge_rollup(spark.read.parquet(legacy_path))))
    want = _collect_view(finalize_rollup(merge_rollup(current)))
    assert got == want


def test_named_user_day_rollup_serves_retention(spark, tmp_path):
    """The named `user_day` rollup (distinct (user, day-bucket) partials)
    serves retention_cohorts identically to the raw-event scan; an
    out-of-band append to events makes it stale and the query falls back
    — same answer either way."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from columnar_spark.streaming.rollup import write_rollup_sidecar
    from columnar_spark.writer import WriteSpec, write_table

    sf = str(tmp_path)
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # dup-heavy log: replicate every event 6x with distinct event_ids so
    # the (user, day) pair count is a STRONG reduction — the selectivity
    # switch (pairs*3 <= rows) routes only in this regime
    src = src.crossJoin(spark.range(6).withColumnRenamed("id", "__rep")).withColumn(
        "event_id", F.col("event_id") * 10 + F.col("__rep")
    ).drop("__rep")
    dest = f"{sf}/events.parquet"
    write_table(src, dest, WriteSpec())  # writes the .stats manifest too

    qs = entry.queries()

    def rows(df):
        return sorted([tuple(r) for r in df.collect()])

    live = rows(qs["retention_cohorts"](spark, sf))

    ev = spark.read.parquet(dest)
    if dict(ev.dtypes).get("ts") in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    write_rollup_sidecar(ev, dest, keys=("user_id",), name="user_day")
    served = qs["retention_cohorts"](spark, sf)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "bucket_start" in plan, "user_day rollup route did not fire"
    assert rows(served) == live

    # out-of-band append: mtime ordering makes the rollup stale
    spark.read.parquet(dest).limit(3).write.mode("append").parquet(dest)
    fallback = qs["retention_cohorts"](spark, sf)
    assert "bucket_start" not in fallback._jdf.queryExecution().executedPlan().toString()


def test_rollup_routes_refuse_count_preserving_rewrite(spark, tmp_path):
    """Both rollup routes check the sidecar's recorded table signature.
    After a COUNT-PRESERVING out-of-band rewrite of events, dated before
    the rollups, neither sum(cnt) == rows nor the mtime order can see the
    change. The named user_day route (retention_cohorts) and the
    Engine.sql day-bucket route must still fall back to the live plan
    and return the rewritten table's answer."""
    import os
    import shutil

    import __spark_entry__ as entry

    from columnar_spark.streaming.rollup import write_rollup_sidecar
    from columnar_spark.table import Engine
    from columnar_spark.writer import WriteSpec, write_table

    sf, bare = str(tmp_path / "sf"), str(tmp_path / "bare")
    # dup-heavy log (six events per user-day), so the user_day route's
    # selectivity switch (pairs * 3 <= rows) routes
    src = _events_df(spark, n=1200).withColumn("user_id", F.col("event_id") % 40)
    dest = f"{sf}/events.parquet"
    write_table(src, dest, WriteSpec())  # writes the .stats manifest too
    ev = spark.read.parquet(dest)
    write_rollup_sidecar(ev, dest)
    write_rollup_sidecar(ev, dest, keys=("user_id",), name="user_day")

    qs = entry.queries()
    q = "SELECT date_trunc('day', ts) AS day, COUNT(*) AS n FROM events GROUP BY 1"

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def day_counts(sf_dir):
        eng = Engine(spark, sf_dir)
        eng.register_views()
        return eng.sql(q)

    assert "bucket_start" in plan(qs["retention_cohorts"](spark, sf))
    before = day_counts(sf)
    # toString() elides long paths; the partials' ReadSchema is the tell
    assert "bucket_start" in plan(before)
    before = rows(before)

    # out-of-band rewrite: half the users' events move one day earlier;
    # same row count, files back-dated before both rollups
    rewritten = spark.read.parquet(dest).withColumn(
        "ts",
        F.when(F.col("user_id") % 2 == 0, F.col("ts") - F.expr("INTERVAL 1 DAY"))
        .otherwise(F.col("ts")),
    )
    rewritten.write.parquet(f"{tmp_path}/rewrite")
    shutil.rmtree(dest)
    shutil.move(f"{tmp_path}/rewrite", dest)
    for root, _dirs, names in os.walk(dest):
        for n in names:
            os.utime(os.path.join(root, n), (946684800, 946684800))
    shutil.copytree(dest, f"{bare}/events.parquet")  # no sidecars: live plans

    served = qs["retention_cohorts"](spark, sf)
    assert "bucket_start" not in plan(served), "user_day route served a stale rollup"
    assert rows(served) == rows(qs["retention_cohorts"](spark, bare))

    after = day_counts(sf)
    assert "bucket_start" not in plan(after), "Engine.sql served a stale rollup"
    live = rows(day_counts(bare))
    assert rows(after) == live and live != before
