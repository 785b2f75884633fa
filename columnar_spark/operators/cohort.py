"""Cohort-retention matrix sidecar — answer-from-the-index for the one
aggregate the rollup algebra cannot maintain: COUNT(DISTINCT user) per
(first-seen day, activity day).

The retention matrix is NOT a sum of per-batch partials: a late batch
containing an EARLIER day for a known user moves that user's entire
cohort row — every previously-counted (cohort, day) cell of theirs is
wrong. Two rounds of A/Bs (the r7/r8 numbers in the query docstring and
tools/ab_retention.py) pinned every events-READING plan to a ~0.26s
scan+fold floor against DuckDB's ~0.09s, so the only winning plan is
the one that reads no events at all: maintain the finished matrix as a
sidecar with CORRECTION partials (negative counts retract a moved
user's old cells), and serve the query as a scan of O(cohorts × days)
rows.

Artifact layout (`<events>.cohort/`):
- `pairs/`    — deduped (user_id, day) activity pairs, appended per
                batch after an anti-join against the existing set;
- `user_min/` — (user_id, day0) partials, merged on read by MIN — the
                cohort assignment;
- `matrix/`   — (cohort_day, day, cnt) partials where cnt may be
                NEGATIVE (a correction), merged on read by SUM and
                filtered > 0;
- `meta.json` + `_table_sig.json` — the standard freshness gate: any
  out-of-band rewrite of the events table makes the sidecar stale and
  the query falls back to the live plan, which is always correct.

Batch append algebra (exact, proven by test_cohort_sidecar fuzz):
  bp        = distinct (user, day) of the batch
  new_pairs = bp ⟕̸ pairs                      (anti-join: already-seen
                                               pairs contribute nothing)
  per user u in new_pairs with batch-min m, existing day0 d (null if new):
    d is null  ->  cohort m: +1 for each new pair          (new user)
    d <= m     ->  cohort d: +1 for each new pair          (unchanged)
    m < d      ->  cohort moved: -1 for each OLD pair at d,
                   +1 for each old AND new pair at m       (correction)
  user_min gets the batch mins appended (MIN-merge keeps the lower).

Scale posture: per batch one anti-join against pairs (bucketable on
user at real scale), one merge of user_min (O(users) — dim-sized) into
a per-user classification that is staged once, and correction reads
that touch only the MOVED users' pairs — planned only when some user
moved, so a batch that moves nobody reads pairs/ once. Each staged
component is one file (bounded by REBUILD_CUTOFF), its row count comes
from the parquet footer, and on POSIX the sidecar appends are renames
of the staged files: a fold adds one file per component, not one per
shuffle partition. The query itself never joins and never sees the
event log. Reference analog: E6/E7's answer-from-the-index COUNT
regime (secondary/secondary.cpp:531-551) for the one shape the
associative rollup (streaming/rollup.py) cannot express."""

from __future__ import annotations

import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

US_PER_DAY = 86_400_000_000

COHORT_SUFFIX = ".cohort"

# Above this many NEW pairs (or staged correction rows) the incremental
# fold rebuilds instead: the batch is no longer small relative to the
# artifact and the full build is both cheaper and simpler to reason
# about (economy cutoff — correctness never depends on it, and since
# the r10 staging rework nothing is collected to the driver either way).
REBUILD_CUTOFF = 2_000_000


def cohort_sidecar_path(table_path: str) -> str:
    return table_path.rstrip("/") + COHORT_SUFFIX


def pairs_from_events(events: DataFrame, ts_col: str = "ts", user_col: str = "user_id") -> DataFrame:
    """(user_id, day) pairs from an event frame, handling both testdata
    ts vintages (TIMESTAMP -> unix_micros; bigint nanos -> div 1000) —
    the same normalization convention as __spark_entry__._events."""
    dt = dict(events.dtypes)[ts_col]
    if dt in ("bigint", "long"):
        ts_us = F.expr(f"{ts_col} div 1000")
    else:
        ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return events.select(
        F.col(user_col).alias("user_id"),
        (ts_us / F.lit(US_PER_DAY)).cast("long").alias("day"),
    ).where(F.col("user_id").isNotNull())


def _write_sig(table_path: str) -> None:
    from columnar_spark.stats import _write_table_sig

    _write_table_sig(table_path, cohort_sidecar_path(table_path))


def write_cohort_sidecar(
    spark: SparkSession, table_path: str, ts_col: str = "ts", user_col: str = "user_id"
) -> str:
    """Full build from the current table state (ingest / crash recovery /
    DML refresh). Appends go through append_cohort_batch."""
    from columnar_spark import objstore

    objstore.require_transport(table_path)
    root = cohort_sidecar_path(table_path)
    events = spark.read.parquet(table_path)
    pairs = pairs_from_events(events, ts_col, user_col).distinct()
    if objstore.is_object_store(table_path):
        # manifest-pointer commits per component dir (objstore.py). The
        # three pointer flips are not one atomic commit, but queries
        # read ONLY matrix/ (old or new atomically) and maintenance
        # reads run under the per-table writer lock — the same serial
        # contract every delta fold here already assumes.
        objstore.write_df(spark, pairs, os.path.join(root, "pairs"))
        pairs = objstore.read_df(spark, os.path.join(root, "pairs"))
        user_min = pairs.groupBy("user_id").agg(F.min("day").alias("day0"))
        objstore.write_df(spark, user_min, os.path.join(root, "user_min"))
        user_min = objstore.read_df(spark, os.path.join(root, "user_min"))
        matrix = (
            pairs.join(user_min, "user_id")
            .groupBy(F.col("day0").alias("cohort_day"), F.col("day"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        objstore.write_df(spark, matrix, os.path.join(root, "matrix"))
        objstore.put_json(root, "meta.json", {"ts_col": ts_col, "user_col": user_col})
        _write_sig(table_path)
        return root
    tmp = root + ".__build__"
    shutil.rmtree(tmp, ignore_errors=True)
    pairs.write.parquet(os.path.join(tmp, "pairs"))
    pairs = spark.read.parquet(os.path.join(tmp, "pairs"))
    user_min = pairs.groupBy("user_id").agg(F.min("day").alias("day0"))
    user_min.write.parquet(os.path.join(tmp, "user_min"))
    user_min = spark.read.parquet(os.path.join(tmp, "user_min"))
    matrix = (
        pairs.join(user_min, "user_id")
        .groupBy(F.col("day0").alias("cohort_day"), F.col("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    matrix.write.parquet(os.path.join(tmp, "matrix"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"ts_col": ts_col, "user_col": user_col}, f)
    if os.path.isdir(root):
        old = root + ".__old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(root, old)
        os.rename(tmp, root)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, root)
    _write_sig(table_path)
    return root


def cohort_meta(table_path: str) -> dict | None:
    from columnar_spark import objstore

    return objstore.read_json(cohort_sidecar_path(table_path), "meta.json")


def _stage(df: DataFrame, path: str) -> DataFrame:
    """Materialize one staged component as a single parquet file and
    return a reader of it. The staged frames are bounded by
    REBUILD_CUTOFF (or by the batch), so one file is the right size for
    them; the reader takes the known schema, so it costs no
    schema-inference job. A frame whose last operator joins an
    UNBOUNDED side (pairs/, user_min/) arrives repartition(1)-ed, so the
    coalesce does not pull that join into a single task."""
    df.coalesce(1).write.parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def _staged_rows(path: str) -> int:
    """Row count of a staged component from its parquet footers — the
    staging dir is on a local filesystem, so this is metadata only, no
    Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _append_component(
    spark: SparkSession, staged: str, table_path: str, root: str, sub: str
) -> None:
    """Append a staged component to the sidecar: on POSIX its one file
    renames in (no Spark job); object stores publish through the
    manifest-pointer protocol (objstore.py)."""
    from columnar_spark import objstore

    target = os.path.join(root, sub)
    if objstore.is_object_store(table_path):
        objstore.write_df(spark, spark.read.parquet(staged), target, mode="append")
        return
    for name in os.listdir(staged):
        if name.endswith(".parquet"):
            os.replace(os.path.join(staged, name), os.path.join(target, name))


def append_cohort_batch(
    spark: SparkSession,
    table_path: str,
    batch: DataFrame,
    pre_sig: "dict | None" = None,
) -> None:
    """Fold one appended event batch in — the correction algebra from
    the module docstring. O(batch + moved-users' pairs) new rows; the
    anti-join and the user_min merge read the existing sidecar (the
    merge_value_index maintenance posture, E9).

    Staging discipline: every frame whose plan READS the sidecar
    (new_pairs, the per-user classification, the matrix delta) is
    materialized to a staging parquet file before anything appends to
    the paths those plans read — the executor-side twin of the old
    collect-before-overwrite rule, with nothing collected into the
    calling process. Each staged component is ONE file, and the sidecar
    appends are renames of those files. The classification (batch-min day vs the user's
    current cohort) is staged once, split by whether the user's cohort
    moved, and the correction branches are planned only when the moved
    split is non-empty — so a batch that moves nobody never reads
    `pairs/` beyond the anti-join. Staged row counts come from the
    parquet footers, not from count() jobs. Both the new-pair count AND
    the staged correction volume take the full-rebuild exit past
    REBUILD_CUTOFF — a moved-user correction can dwarf the batch, and
    past that size the rebuild is the cheaper plan anyway. `pre_sig`
    (the events table's pre-append signature from the ingest fold)
    rebuilds instead of masking an out-of-band rewrite."""
    import tempfile

    from columnar_spark import objstore

    meta = cohort_meta(table_path)
    if meta is None:
        return
    root = cohort_sidecar_path(table_path)
    if pre_sig is not None:
        rec = objstore.read_json(root, "_table_sig.json")
        if rec is None or any(
            rec.get(k) != pre_sig.get(k) for k in ("files", "bytes", "max_mtime_ms")
        ):
            write_cohort_sidecar(spark, table_path, meta["ts_col"], meta["user_col"])
            return
    pairs_cur = objstore.read_df(spark, os.path.join(root, "pairs"))
    bp = pairs_from_events(batch, meta["ts_col"], meta["user_col"]).distinct()
    # staged beside the sidecar, on its filesystem, because the appends
    # are renames; an object-store sidecar stages locally and publishes
    # through objstore.write_df
    stage = tempfile.mkdtemp(
        prefix=os.path.basename(root) + ".stage-",
        dir=None if objstore.is_object_store(table_path)
        else os.path.dirname(os.path.abspath(root)),
    )
    try:

        def sp(name: str) -> str:
            return os.path.join(stage, name)

        new_pairs = _stage(
            bp.join(pairs_cur, ["user_id", "day"], "left_anti").repartition(1),
            sp("new_pairs"),
        )
        n_new = _staged_rows(sp("new_pairs"))
        if n_new > REBUILD_CUTOFF:
            write_cohort_sidecar(spark, table_path, meta["ts_col"], meta["user_col"])
            return
        if n_new == 0:
            _write_sig(table_path)
            return
        um = (
            objstore.read_df(spark, os.path.join(root, "user_min"))
            .groupBy("user_id")
            .agg(F.min("day0").alias("day0"))
        )
        nu_min = new_pairs.groupBy("user_id").agg(F.min("day").alias("bmin"))
        # per-user classification, staged once: the batch-min day, the
        # current cohort (null for a new user), split by whether the
        # batch moves the user's cohort earlier
        cls = nu_min.join(um, "user_id", "left")
        cls.withColumn(
            "moved", F.col("day0").isNotNull() & (F.col("bmin") < F.col("day0"))
        ).repartition(1).write.partitionBy("moved").parquet(sp("cls"))
        splits = {
            moved: spark.read.schema(cls.schema).parquet(d)
            for moved, d in ((False, sp("cls/moved=false")), (True, sp("cls/moved=true")))
            if os.path.isdir(d)
        }
        # cohort assignment for the non-moved users' new pairs
        parts = []
        if False in splits:
            parts.append(
                new_pairs.join(
                    splits[False].select(
                        "user_id", F.coalesce("day0", "bmin").alias("cohort_day")
                    ),
                    "user_id",
                )
                .groupBy("cohort_day", "day")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        if True in splits:
            # corrections for moved users: retract old cells, re-emit
            # everything (old + new pairs) under the new cohort
            moved_keys = splits[True]
            old_moved = pairs_cur.join(moved_keys, "user_id")
            parts.append(
                old_moved.groupBy(F.col("day0").alias("cohort_day"), "day")
                .agg((-F.count(F.lit(1))).alias("cnt"))
            )
            parts.append(
                old_moved.select("bmin", "day", "user_id")
                .unionByName(
                    new_pairs.join(moved_keys, "user_id").select("bmin", "day", "user_id")
                )
                .groupBy(F.col("bmin").alias("cohort_day"), "day")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
        _stage(functools.reduce(DataFrame.unionByName, parts), sp("delta"))
        if _staged_rows(sp("delta")) > REBUILD_CUTOFF:
            write_cohort_sidecar(spark, table_path, meta["ts_col"], meta["user_col"])
            return
        batch_min = functools.reduce(DataFrame.unionByName, splits.values())
        _stage(batch_min.select("user_id", F.col("bmin").alias("day0")), sp("user_min"))
        # all reads of the live sidecar are materialized — append freely
        for sub, staged in (("matrix", "delta"), ("pairs", "new_pairs"),
                            ("user_min", "user_min")):
            _append_component(spark, sp(staged), table_path, root, sub)
        _write_sig(table_path)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def load_cohort_matrix(
    spark: SparkSession, table_path: str, check_fresh: bool = True
) -> DataFrame | None:
    """The merged matrix (cohort_day, day, active_users), or None when
    absent/stale. O(cohorts × days) rows — no events read, no join."""
    from columnar_spark import objstore
    from columnar_spark.stats import index_is_fresh

    root = cohort_sidecar_path(table_path)
    if "://" not in root and not os.path.isdir(os.path.join(root, "matrix")):
        return None
    if check_fresh and not index_is_fresh(table_path, root):
        return None
    m = objstore.read_df(spark, os.path.join(root, "matrix"))
    return (
        m.groupBy("cohort_day", "day")
        .agg(F.sum("cnt").cast("long").alias("active_users"))
        .filter(F.col("active_users") > 0)
    )


def check_cohort_sidecar(spark: SparkSession, table_path: str) -> "list[str]":
    """Structural audit: the merged matrix must equal a live recompute
    from the events table, row for row."""
    meta = cohort_meta(table_path)
    if meta is None:
        return [f"cohort sidecar at {table_path}: missing meta.json"]
    got = load_cohort_matrix(spark, table_path, check_fresh=False)
    pairs = pairs_from_events(
        spark.read.parquet(table_path), meta["ts_col"], meta["user_col"]
    ).distinct()
    um = pairs.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    want = (
        pairs.join(um, "user_id")
        .groupBy("cohort_day", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )
    bad = (
        got.exceptAll(want).limit(1).count() + want.exceptAll(got).limit(1).count()
    )
    if bad:
        return ["cohort sidecar: matrix disagrees with live recompute"]
    return []
