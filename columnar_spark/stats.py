"""Stats manifest + index-equivalent fast paths — reference §2.D/E parity
(SURVEY P3).

The reference maintains, per column: a hierarchical min/max tree for
block pruning and selectivity estimates (D1/D3, columnar.cpp:37-187,
649-675), an exact per-filter count from the secondary index (E6
CalcCount, secondary.cpp:531-551), and a precomputed count-distinct (E7,
secondary.cpp:380-388).

Spark-first equivalents:

- `build_stats_manifest(df)` — one aggregate pass producing a tiny
  per-column table: min / max / ndv / null_count / row_count. This is the
  Delta-style file/table-stats surface; Parquet row-group stats cover the
  intra-file hierarchy automatically.
- `estimate_selectivity(manifest, filter)` — D3 analog: cheap range
  overlap against manifest min/max (uniformity assumption), used by the
  scan-vs-index planner heuristic.
- `build_value_index(df, col)` — E6/E7 analog: a materialized
  `value -> count` aggregate table for low-cardinality columns. A COUNT
  with an index-covered predicate is answered from this table alone —
  `covered_count` — no base-table scan. At 100 TB the value index is a
  few KB per indexed column and the count query touches only it.

All artifacts are plain DataFrames/parquet — rebuildable per batch
(reference E9 maintenance ↔ overwrite on ingest).
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark.filters import Filter, FilterType, compile_filter

# Kill switch honored by the JVM Catalyst rule (CountRewriteRule.apply).
# Index MAINTENANCE and AUDIT plans must read the BASE table: with the
# rule live, a sidecar rebuild would be answered from the very sidecar
# being overwritten (self-overwrite FAILED_READ_FILE, or a silently
# stale rebuild after the base changed), and an audit's "live recount"
# would compare the sidecar to itself. Wrap those plans in
# `rewrites_disabled(spark)`.
REWRITE_ENABLED_KEY = "spark.columnar_spark.rewrite.enabled"


@contextlib.contextmanager
def rewrites_disabled(spark: SparkSession):
    try:
        old = spark.conf.get(REWRITE_ENABLED_KEY)
    except Exception:
        old = None
    spark.conf.set(REWRITE_ENABLED_KEY, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(REWRITE_ENABLED_KEY)
        else:
            spark.conf.set(REWRITE_ENABLED_KEY, old)


def _local_relation(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Local in-memory copy of a small DataFrame as a JVM LocalTableScan.

    `createDataFrame(df.collect())` builds a Python-pickled ExistingRDD
    that re-crosses the JVM->Python boundary on EVERY execution of every
    plan that embeds it (~0.3s/exec fixed cost, measured at sf0.1); the
    Arrow round-trip (DataFrame.toArrow -> createDataFrame(pa.Table))
    yields a LocalRelation evaluated entirely JVM-side, type-exact for
    every Spark SQL type Arrow can carry (bigint/NULLs/decimal/date
    round-trip pinned in tests). Falls back to the row path when Arrow
    cannot represent the schema."""
    try:
        out = spark.createDataFrame(df.toArrow(), schema=df.schema)
    except Exception:
        out = spark.createDataFrame(df.collect(), df.schema)
    return out


def build_stats_manifest(df: DataFrame) -> DataFrame:
    """Per-column stats in ONE wide aggregate (single scan):
    (column, min, max, ndv, null_count, row_count) with values as strings
    for type uniformity."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        dt = dict(df.dtypes)[c]
        if dt.startswith("array") or dt.startswith("map") or dt.startswith("struct"):
            aggs += [
                F.lit(None).cast("string").alias(f"__min__{c}"),
                F.lit(None).cast("string").alias(f"__max__{c}"),
                F.lit(None).cast("long").alias(f"__ndv__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"),
            ]
        else:
            # approx_count_distinct (HLL++): the manifest ndv only feeds
            # selectivity estimates, and a multi-column exact distinct is a
            # giant aggregate at 100 TB. Exact ndv lives where exactness is
            # needed — build_value_index on indexed columns (reference E7).
            aggs += [
                F.min(F.col(c)).cast("string").alias(f"__min__{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max__{c}"),
                F.approx_count_distinct(F.col(c)).alias(f"__ndv__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"),
            ]
    wide = df.agg(*aggs)
    rows = []
    for c in df.columns:
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__min__{c}").alias("min"),
                F.col(f"__max__{c}").alias("max"),
                F.col(f"__ndv__{c}").alias("ndv"),
                F.col(f"__nulls__{c}").alias("null_count"),
                F.col("__n").alias("row_count"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def estimate_selectivity(manifest_rows: dict[str, dict], f: Filter) -> float:
    """D3/D5 analog: selectivity in [0,1] from manifest stats under a
    uniformity assumption. `manifest_rows` maps column -> stats dict."""
    st = manifest_rows.get(f.name)
    if st is None or st.get("min") is None:
        return 1.0
    n = max(int(st["row_count"]), 1)
    ndv = max(int(st["ndv"] or 1), 1)
    if f.type in (FilterType.VALUES, FilterType.STRINGS):
        k = len(f.values) if f.type == FilterType.VALUES else len(f.strings)
        sel = min(k / ndv, 1.0)
    elif f.type in (FilterType.RANGE, FilterType.FLOATRANGE):
        def _num(v):
            # ISO dates rank by ordinal so date-range selectivity works
            # (the reference's minmax tree stores dates as ints too)
            try:
                return float(v)
            except (TypeError, ValueError):
                import datetime

                try:
                    return float(datetime.date.fromisoformat(str(v)[:10]).toordinal())
                except ValueError:
                    return None

        lo_s, hi_s = _num(st["min"]), _num(st["max"])
        if lo_s is None or hi_s is None:
            return 1.0
        span = hi_s - lo_s
        if span <= 0:
            return 1.0
        lo = _num(f.min_value) if f.min_value is not None else lo_s
        hi = _num(f.max_value) if f.max_value is not None else hi_s
        if lo is None or hi is None:
            return 1.0
        sel = max(0.0, min(hi, hi_s) - max(lo, lo_s)) / span
    elif f.type == FilterType.NOTNULL:
        sel = 1.0 - int(st["null_count"] or 0) / n
    else:
        sel = 1.0
    return 1.0 - sel if f.exclude else sel


def stats_can_match(manifest_rows: dict[str, dict], f: Filter) -> bool:
    """Conservative EarlyReject test (reference columnar.cpp:695-704):
    returns False ONLY when manifest stats *prove* no row can match the
    filter; any uncertainty returns True. Unlike `estimate_selectivity`
    (a measure under a uniformity assumption, where a point range on a
    continuous span legitimately estimates ~0.0), this is an interval-
    OVERLAP test honoring bound closedness — a degenerate [v, v] range
    inside [min, max] can always match.

    Null semantics mirror filters.py: a null never matches an inclusive
    filter; it DOES match the exclude form."""
    st = manifest_rows.get(f.name)
    if st is None:
        return True
    n = int(st["row_count"] or 0)
    nulls = int(st["null_count"] or 0)

    if f.exclude:
        # Exclude matches nulls, so any null row defeats a reject; proving
        # "every non-null row matches the inner predicate" from min/max
        # alone is only safe in degenerate cases not worth chasing.
        if f.type == FilterType.NOTNULL:
            return nulls > 0  # exclude(NOTNULL) == IS NULL
        return True

    if f.type == FilterType.NOTNULL:
        return nulls < n

    # Inclusive value/range filters need at least one non-null value.
    if nulls >= n:
        return False
    if st.get("min") is None or st.get("max") is None:
        return True  # no min/max stats (array/map column) — cannot prove

    if f.type == FilterType.STRINGS:
        lo_s, hi_s = str(st["min"]), str(st["max"])
        return any(lo_s <= s <= hi_s for s in f.strings)

    try:
        lo_d, hi_d = float(st["min"]), float(st["max"])
    except (TypeError, ValueError):
        return True  # non-numeric column with a numeric filter — no proof

    if f.type == FilterType.VALUES:
        return any(lo_d <= float(v) <= hi_d for v in f.values)

    if f.type in (FilterType.RANGE, FilterType.FLOATRANGE):
        if f.max_value is not None:
            hi = float(f.max_value)
            if hi < lo_d or (hi == lo_d and not f.right_closed):
                return False
        if f.min_value is not None:
            lo = float(f.min_value)
            if lo > hi_d or (lo == hi_d and not f.left_closed):
                return False
        return True

    return True



def write_stats_sidecar(spark: SparkSession, manifest_df: DataFrame, table_path: str) -> None:
    """Publish the stats manifest beside the table: POSIX overwrite, or
    the staging + atomic manifest-pointer commit on object stores
    (objstore.py) — one of the three sidecars whose flat-segment layout
    supports rename-free publication."""
    from columnar_spark import objstore

    p = table_path.rstrip("/") + ".stats"
    if objstore.is_object_store(p):
        objstore.write_df(spark, manifest_df, p, mode="overwrite")
    else:
        manifest_df.write.mode("overwrite").parquet(p)


def load_manifest(spark: SparkSession, path: str) -> dict[str, dict]:
    from columnar_spark import objstore

    return {r["column"]: r.asDict() for r in objstore.read_df(spark, path).collect()}


def manifest_from_sidecar(table_path: str) -> dict[str, dict] | None:
    """Full per-column stats from the `<table>.parquet.stats` sidecar,
    driver-side via pyarrow (no Spark job). None without a sidecar."""
    import glob as _glob
    import os

    sidecar = table_path.rstrip("/") + ".stats"
    if not os.path.isdir(sidecar):
        return None
    try:
        import pyarrow.parquet as pq

        from columnar_spark import objstore

        out: dict[str, dict] = {}
        for f in objstore.data_files(sidecar):
            for row in pq.read_table(f).to_pylist():
                out[row["column"]] = row
        return out or None
    except Exception:
        return None


def estimated_filtered_rows(table_path: str, filters) -> int | None:
    """D3 end-to-end: estimated surviving rows for a conjunctive filter
    list, from the stats sidecar alone (uniformity assumption,
    independence across filters — the reference's CostEstimate makes
    the same assumptions over its minmax tree + SI ndv,
    secondary.cpp:531+). None without a sidecar; callers use it for
    access-path and BUILD-SIDE decisions (broadcast the side the stats
    prove small) and must treat it as an estimate, not a bound."""
    rows = manifest_from_sidecar(table_path)
    if rows is None:
        return None
    n = None
    for st in rows.values():
        if st.get("row_count") is not None:
            n = int(st["row_count"])
            break
    if n is None:
        return None
    sel = 1.0
    for f in filters:
        sel *= estimate_selectivity(rows, f)
    return int(n * sel)


def ndv_from_sidecar(table_path: str) -> dict[str, int] | None:
    """Read the `<table>.parquet.stats` sidecar manifest driver-side
    (pyarrow — the manifest is a handful of rows; spinning up a Spark
    job to read it would cost more than it saves) and return
    column -> ndv. None when the table has no sidecar (raw, un-ingested
    data): callers fall back to an approx_count_distinct probe.

    This is the D3 planner contract end-to-end: ingest writes the stats
    once, every later query's access-path decision reads them for free
    instead of re-scanning (reference keeps per-column ndv in its
    secondary-index metadata the same way)."""
    import glob as _glob
    import os

    sidecar = table_path.rstrip("/") + ".stats"
    if not os.path.isdir(sidecar):
        return None
    try:
        import pyarrow.parquet as pq

        from columnar_spark import objstore

        out: dict[str, int] = {}
        for f in objstore.data_files(sidecar):
            t = pq.read_table(f, columns=["column", "ndv"])
            for col, ndv in zip(t["column"].to_pylist(), t["ndv"].to_pylist()):
                if ndv is not None:
                    out[col] = int(ndv)
        return out or None
    except Exception:
        return None


def row_count_from_sidecar(table_path: str) -> int | None:
    """Driver-side table row count from the `.stats` manifest sidecar
    (same contract as ndv_from_sidecar). None without a sidecar."""
    import glob as _glob
    import os

    sidecar = table_path.rstrip("/") + ".stats"
    if not os.path.isdir(sidecar):
        return None
    try:
        import pyarrow.parquet as pq

        from columnar_spark import objstore

        for f in objstore.data_files(sidecar):
            t = pq.read_table(f, columns=["row_count"])
            vals = [v for v in t["row_count"].to_pylist() if v is not None]
            if vals:
                return int(vals[0])
        return None
    except Exception:
        return None


# ------------------------------------------------------------ value index

def measure_col_name(col: str) -> str:
    return f"m_{col}"


def build_value_index(
    df: DataFrame, col: str, measures: "Sequence[tuple[str, int]] | None" = None
) -> DataFrame:
    """Materialized value->count table — the reference secondary index's
    E6/E7 surface re-expressed as an aggregate table. Intended for
    low/medium-cardinality columns (the reference builds SIs per column
    the same way, secondary/builder.cpp:849+).

    `measures` extends the artifact with per-value exact SUMs: each
    (measure_col, fx_scale) pair adds an int64 fixed-point `m_<col>`
    column (functions.money.scaled — associative, so the incremental
    append merge stays exact). This is what lets a large
    `col IN (...)` + COUNT/SUM aggregate be served index-only: the
    probe touches |index| rows instead of the base table (the
    reference's bitmap-union regime, blockreader.cpp:556-585, answers
    the same shape from SI blocks)."""
    from columnar_spark.functions.money import scaled

    aggs = [F.count(F.lit(1)).alias("cnt")]
    for mcol, dp in measures or ():
        aggs.append(
            F.sum(scaled(mcol, dp)).cast("long").alias(measure_col_name(mcol))
        )
    return df.groupBy(F.col(col).alias("value")).agg(*aggs)


def covered_count(index_df: DataFrame, f: Filter) -> int | None:
    """Exact COUNT(*) for a single-column filter answered from the value
    index alone (E6 CalcCount parity). Returns None if the filter is not
    covered (wrong column handled by caller; MVA not covered)."""
    if f.mva.value != "none":
        return None
    schema = index_df.select(F.col("value").alias(f.name)).schema
    pred = compile_filter(f, schema)
    renamed = index_df.withColumnRenamed("value", f.name)
    row = renamed.filter(pred).agg(F.sum("cnt").alias("n")).first()
    return int(row["n"] or 0)


def count_distinct_from_index(index_df: DataFrame) -> int:
    """E7 parity: count-distinct in O(index size)."""
    return index_df.count()


# --------------------------------------------------------- posting lists

def build_posting_index(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """A11 secondary-index artifact: value -> sorted row-id postings
    (+ count). The reference's SI stores per-value compressed row-id
    blocks (secondary/builder.cpp:849+); here each posting list is a
    sorted array column, written/partitioned like any table. Intended for
    low/medium-cardinality columns — a pathologically hot value
    concentrates its postings in one row (document the skew; the
    reference has the same hot-posting block chains)."""
    return df.groupBy(F.col(col).alias("value")).agg(
        F.sort_array(F.collect_list(id_col)).alias("postings"),
        F.count(F.lit(1)).alias("cnt"),
    )


def point_lookup(index_df: DataFrame, value) -> DataFrame:
    """E2 VALUES lookup answered from the posting index alone: one index
    row explodes to the matching row ids — no base-table scan."""
    return index_df.filter(F.col("value") == value).select(
        F.explode("postings").alias("row_id")
    )


# ------------------------------------------------- incremental stats (E9)

# The manifest above is a one-shot full-scan aggregate. Streaming ingest
# must NOT pay O(table) per micro-batch, so the incremental form keeps a
# MERGEABLE sketch sidecar: exact min/max/null/row counters (associative)
# plus a Datasketches HLL per column (hll_sketch_agg / hll_union_agg —
# union-able, unlike a finalized approx_count_distinct number). Per batch:
# sketch the BATCH, union with the prior sketch (n_columns rows), derive
# the manifest. Cost is O(batch) + O(columns), independent of table size.

_NUMERIC_PREFIXES = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")


def sketch_path(table_path: str) -> str:
    return table_path.rstrip("/") + ".stats_sketch"


def build_stats_sketch(df: DataFrame) -> DataFrame:
    """Per-column mergeable stats in one wide aggregate:
    (column, dtype, is_numeric, min_s, max_s, null_count, row_count,
    sketch). hll_sketch_agg accepts int/long/string/binary, so other
    types are sketched via a canonical string cast (consistent across
    batches, which is all a union needs)."""
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        dt = dtypes[c]
        complex_t = dt.startswith(("array", "map", "struct"))
        if complex_t:
            aggs += [
                F.lit(None).cast("string").alias(f"__min__{c}"),
                F.lit(None).cast("string").alias(f"__max__{c}"),
                F.lit(None).cast("binary").alias(f"__hll__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"),
            ]
        else:
            hll_in = F.col(c) if dt in ("int", "bigint", "string", "binary") else F.col(c).cast("string")
            aggs += [
                F.min(F.col(c)).cast("string").alias(f"__min__{c}"),
                F.max(F.col(c)).cast("string").alias(f"__max__{c}"),
                F.hll_sketch_agg(hll_in).alias(f"__hll__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"),
            ]
    wide = df.agg(*aggs)
    rows = []
    for c in df.columns:
        dt = dtypes[c]
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dt).alias("dtype"),
                F.lit(dt.startswith(_NUMERIC_PREFIXES)).alias("is_numeric"),
                F.col(f"__min__{c}").alias("min_s"),
                F.col(f"__max__{c}").alias("max_s"),
                F.col(f"__nulls__{c}").alias("null_count"),
                F.col("__n").alias("row_count"),
                F.col(f"__hll__{c}").alias("sketch"),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def merge_sketches(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two sketch tables (e.g. prior sidecar + current batch) into
    one. Numeric min/max compare as doubles (string compare would say
    '9' > '10'); strings/timestamps/dates compare lexicographically,
    which is order-correct for their canonical casts. HLLs union."""
    # n_columns rows per side: one partition, no shuffle before the merge
    u = a.unionByName(b).coalesce(1)
    merged = u.groupBy("column", "dtype", "is_numeric").agg(
        F.min(F.when(F.col("is_numeric"), F.col("min_s").cast("double"))).alias("_min_n"),
        F.max(F.when(F.col("is_numeric"), F.col("max_s").cast("double"))).alias("_max_n"),
        F.min(F.when(~F.col("is_numeric"), F.col("min_s"))).alias("_min_s"),
        F.max(F.when(~F.col("is_numeric"), F.col("max_s"))).alias("_max_s"),
        F.sum("null_count").alias("null_count"),
        F.sum("row_count").alias("row_count"),
        F.hll_union_agg(F.col("sketch"), True).alias("sketch"),
    )
    return merged.select(
        "column", "dtype", "is_numeric",
        F.coalesce(F.col("_min_n").cast("string"), F.col("_min_s")).alias("min_s"),
        F.coalesce(F.col("_max_n").cast("string"), F.col("_max_s")).alias("max_s"),
        "null_count", "row_count", "sketch",
    )


def manifest_from_sketch(sk: DataFrame) -> DataFrame:
    """Derive the (column, min, max, ndv, null_count, row_count) manifest
    the rest of the engine consumes from a sketch table."""
    return sk.select(
        "column",
        F.col("min_s").alias("min"),
        F.col("max_s").alias("max"),
        F.when(
            F.col("sketch").isNotNull(), F.hll_sketch_estimate(F.col("sketch"))
        ).cast("long").alias("ndv"),
        "null_count",
        "row_count",
    )


# ----------------------------------------- persisted value-index sidecar

# URI schemes with no atomic rename / O_EXCL: a directory-swap commit
# there can tear (readers see a half-written sidecar as current). One
# list shared by every sidecar writer; the ledgered-append lock keeps
# its own copy of the same set (streaming/ingest._NON_POSIX_SCHEMES).
_NON_POSIX_SCHEMES = (
    "s3", "s3a", "s3n", "gs", "gcs", "abfs", "abfss", "wasb", "wasbs",
    "oss", "cos", "swift",
)


def require_posix_commit(path: str, what: str = "sidecar") -> None:
    """Refuse object-store destinations for sidecar COMMITS. Every
    sidecar writer here publishes via write-then-rename (or
    overwrite-in-place under the per-table writer lock), which is atomic
    only on POSIX filesystems; on s3/gs/abfss the swap can tear and a
    reader would adopt a half-written artifact as fresh. The refusal is
    up-front with guidance — base-table QUERIES against object stores
    are unaffected (reads need no atomicity), only artifact builds must
    land on a POSIX staging path and be uploaded whole."""
    from columnar_spark import objstore

    scheme = path.split("://", 1)[0].lower() if "://" in path else ""
    if scheme in _NON_POSIX_SCHEMES or objstore.is_object_store(path):
        raise ValueError(
            f"{what} commit needs POSIX-atomic rename and {path!r} is on "
            f"an object store ({scheme or 'registered'}://). Build the "
            f"{what} on a POSIX staging path and upload the completed "
            "directory, or serve this table without the sidecar (queries "
            "stay correct via the live fallback). The .stats/.vidx/"
            ".rollup/.proj/.aggproj/.cohort/.textstats/.dedupsig "
            "sidecars support object stores natively via the "
            "manifest-pointer commit (objstore.py)."
        )


def table_signature(table_path: str) -> dict:
    """Cheap content signature of the table's data directory: regular-file
    count, total bytes, and the newest mtime in whole milliseconds.
    Recorded into each value-index sidecar at (re)build/merge time
    (`_table_sig.json`) and re-checked by the Catalyst rewrite rule before
    serving a count from the sidecar — the freshness gate that keeps a
    table overwritten OUTSIDE the framework's append/DML paths from being
    silently answered with stale index counts (the reference invalidates
    secondary artifacts on any segment rewrite, secondary.cpp:391-434).
    Pure filesystem metadata — no Spark job; the Java side
    (CountRewriteRule.tableSig) computes the identical triple."""
    import os

    files = 0
    total = 0
    newest = 0
    for root, _dirs, names in os.walk(table_path):
        for n in names:
            p = os.path.join(root, n)
            try:
                st = os.stat(p)
            except OSError:
                continue
            files += 1
            total += st.st_size
            newest = max(newest, st.st_mtime_ns // 1_000_000)
    return {"files": files, "bytes": total, "max_mtime_ms": newest}


def _write_table_sig(table_path: str, index_dir: str) -> None:
    from columnar_spark import objstore

    objstore.put_json(index_dir, "_table_sig.json", table_signature(table_path))


def index_is_fresh(table_path: str, index_dir: str) -> bool:
    """Python twin of CountRewriteRule.indexFresh: the `_table_sig.json`
    recorded by the index writer must match the table's CURRENT signature,
    else the table was rewritten outside the framework's append/DML paths
    and the sidecar describes dead data — refuse to serve it (the base
    scan stands, which is always correct). A sidecar without a recorded
    signature (pre-signature layout) is served as before; every current
    writer records one. Pure filesystem metadata — no Spark job."""
    import os

    from columnar_spark import objstore

    if "://" not in index_dir and not os.path.isfile(
        os.path.join(index_dir, "_table_sig.json")
    ):
        return True  # legacy index: no signal
    rec = objstore.read_json(index_dir, "_table_sig.json")
    if rec is None:
        return False
    live = table_signature(table_path)
    return all(rec.get(k) == live[k] for k in ("files", "bytes", "max_mtime_ms"))


def value_index_path(table_path: str, col: str) -> str:
    return table_path.rstrip("/") + f".vidx/{col}"


def persisted_value_index_cols(table_path: str) -> list[str]:
    """Columns with a persisted value-index sidecar for this table."""
    import os

    root = table_path.rstrip("/") + ".vidx"
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
    )


def composite_virtual_name(cols: "Sequence[str]") -> str:
    """('o_orderstatus', 'o_orderpriority') -> the virtual-column /
    sidecar-directory name of a COMPOSITE value index. The struct-valued
    (value, cnt[, m_*]) relation is the exact GROUP BY over the key
    tuple, so CUBE / GROUPING SETS / grouped aggregates over those keys
    are served from |distinct tuples| rows instead of the base table
    (grouped-aggregate generalization of the reference's per-attribute
    SI count surface, secondary.cpp GetCount family)."""
    return "__x__".join(cols)


def composite_index_cols(table_path: str, name: str) -> "list[str] | None":
    """The key columns of a composite value index, from its _meta.json;
    None for ordinary single-column indexes."""
    import json
    import os

    mp = os.path.join(value_index_path(table_path, name), "_meta.json")
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        return json.load(f).get("composite")


def _with_composite_col(df: DataFrame, name: str, cols: "Sequence[str]") -> DataFrame:
    return df.withColumn(name, F.struct(*[F.col(c) for c in cols]))


def write_value_index(
    spark: SparkSession,
    table_path: str,
    col: "str | Sequence[str]",
    fmt: str = "parquet",
    measures: "Sequence[tuple[str, int]] | None" = None,
) -> None:
    """Build and persist the (value, cnt[, m_*]) sidecar for `col` — the
    A11 secondary-index artifact at the storage layer (reference
    secondary/builder.cpp:849+ writes per-column SI files beside the
    columnar blob the same way). The `measures` spec is recorded in
    _meta.json so incremental merges maintain the sum columns with the
    SAME fixed-point scales. A tuple `col` builds a COMPOSITE index:
    value = struct(*cols), recorded in _meta.json so appends, MERGE
    rebuilds and the checker recompute the key from the base columns."""
    import json
    import os

    df = getattr(spark.read, fmt)(table_path)
    meta: dict = {}
    if isinstance(col, str):
        # rebuild-by-name of an existing composite sidecar (MERGE,
        # recovery, ingest refresh): recover the key list from _meta
        existing = composite_index_cols(table_path, col)
        if existing:
            col = tuple(existing)
    if not isinstance(col, str):
        cols = list(col)
        col = composite_virtual_name(cols)
        df = _with_composite_col(df, col, cols)
        meta["composite"] = cols
    if measures:
        meta["measures"] = [[c, dp] for c, dp in measures]
    p = value_index_path(table_path, col)
    from columnar_spark import objstore

    with rewrites_disabled(spark):  # rebuild must scan the BASE table
        idx = build_value_index(df, col, measures)
        if objstore.is_object_store(p):
            # staging + atomic manifest-pointer commit (objstore.py):
            # segments PUT once, one JSON pointer flip publishes them —
            # the r8 "object-store destinations are refused" gap closed
            # for the flat-segment sidecars
            objstore.write_df(spark, idx, p, mode="overwrite")
        else:
            idx.write.mode("overwrite").parquet(p)
    if meta:
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, "_meta.json"), "w") as f:
            json.dump(meta, f)
    _write_table_sig(table_path, p)


def load_value_index(
    spark: SparkSession, table_path: str, col: str, *, check_fresh: bool = True
) -> DataFrame | None:
    """The persisted (value, cnt) sidecar for `col`, or None when absent
    — or when STALE (table signature mismatch), so query-serving callers
    (Engine._get_value_index, Engine.sql count rewrites) fall back to the
    base scan exactly like the JVM CountRewriteRule. Maintenance paths
    that must read the sidecar regardless (merge_value_index runs after
    the table append so the sig is legitimately behind; the storage
    checker validates content itself) pass check_fresh=False."""
    import os

    p = value_index_path(table_path, col)
    if not os.path.isdir(p):
        return None
    if check_fresh and not index_is_fresh(table_path, p):
        return None
    from columnar_spark import objstore

    return objstore.read_df(spark, p)


def merge_value_index(spark: SparkSession, table_path: str, col: str, batch_df: DataFrame) -> None:
    """Incremental E9 maintenance: fold ONE batch's value counts into the
    persisted index — O(index + batch-ndv) work, no table re-scan; counts
    are associative so batch boundaries are invisible (same contract as
    the stats sketch and the rollup partials)."""
    # check_fresh=False: merge runs AFTER the batch's table append, so the
    # recorded signature is legitimately one step behind right now.
    existing = load_value_index(spark, table_path, col, check_fresh=False)
    if existing is None:
        return
    # JSON field index: the batch carries the PARENT column; compute the
    # virtual field column before counting (parent linkage from _meta).
    jmeta = json_index_meta(table_path, col)
    if jmeta is not None and col not in batch_df.columns:
        batch_df = batch_df.withColumn(
            col, json_field_expr(jmeta["parent"], jmeta["json_path"])
        )
    # Composite index: the batch carries the KEY columns; rebuild the
    # struct key before counting (column list from _meta).
    cmeta = composite_index_cols(table_path, col)
    if cmeta is not None and col not in batch_df.columns:
        batch_df = _with_composite_col(batch_df, col, cmeta)
    measures = [
        (c, int(dp)) for c, dp in (value_index_measures(table_path, col) or [])
    ]
    delta = build_value_index(batch_df, col, measures or None)
    maggs = [F.sum("cnt").cast("long").alias("cnt")] + [
        F.sum(measure_col_name(c)).cast("long").alias(measure_col_name(c))
        for c, _dp in measures
    ]
    # one partition: the merged index is collected in full anyway,
    # and a single-partition input needs no shuffle before the merge
    merged = existing.unionByName(delta).coalesce(1).groupBy("value").agg(*maggs)
    # materialized in memory before the overwrite of the path `merged`
    # reads; the batch count must NOT be served from the index being
    # merged into
    with rewrites_disabled(spark):
        out = _local_relation(spark, merged)
    from columnar_spark import objstore

    _vp = value_index_path(table_path, col)
    if objstore.is_object_store(_vp):
        objstore.write_df(spark, out, _vp, mode="overwrite")
    else:
        out.write.mode("overwrite").parquet(_vp)
    if jmeta is not None or cmeta is not None or measures:
        # overwrite clears the dir — restore meta
        import json
        import os

        meta = dict(jmeta or {})
        if cmeta is not None:
            meta["composite"] = cmeta
        if measures:
            meta["measures"] = [[c, dp] for c, dp in measures]
        with open(os.path.join(value_index_path(table_path, col), "_meta.json"), "w") as f:
            json.dump(meta, f)
    # merge runs AFTER the batch's table append, so the signature taken
    # now matches the table state the merged counts describe
    _write_table_sig(table_path, value_index_path(table_path, col))


# ------------------------------------------- JSON per-field indexes (A11
# over semi-structured data). The reference flattens JSON attributes into
# per-field secondary indexes with parent linkage and invalidates them
# when the parent JSON column updates (secondary/secondary.cpp:426-433,
# secondary/blockreader.h:96). Spark-first form: the field is a VIRTUAL
# column `get_json_object(parent, path)` named by a fixed convention; its
# value index is an ordinary .vidx sidecar whose _meta.json records the
# parent linkage, so appends maintain it from the parent column and a
# parent-rewriting MERGE invalidates it (the reference's disable-on-update
# semantic).

def json_virtual_name(parent: str, json_path: str) -> str:
    """('props', '$.kind') -> 'props__j_kind' — the virtual-column naming
    convention for per-field JSON indexes (sibling of the '<col>__hash'
    companion convention)."""
    import re

    frag = re.sub(r"[^A-Za-z0-9]+", "_", json_path.lstrip("$").strip(".")).strip("_")
    if not frag:
        raise ValueError(f"empty JSON path {json_path!r}")
    return f"{parent}__j_{frag}"


def json_field_expr(parent: str, json_path: str):
    return F.get_json_object(F.col(parent), json_path)


def write_json_field_index(
    spark: SparkSession, table_path: str, parent: str, json_path: str, fmt: str = "parquet"
) -> str:
    """Build + persist the (value, cnt) index for one JSON field; returns
    the virtual column name the index is keyed by. E6/E7 rewrites then
    cover predicates on `get_json_object(parent, path)` exactly like
    plain-column predicates."""
    from columnar_spark import objstore

    objstore.require_transport(table_path)
    vname = json_virtual_name(parent, json_path)
    df = getattr(spark.read, fmt)(table_path).withColumn(
        vname, json_field_expr(parent, json_path)
    )
    p = value_index_path(table_path, vname)
    with rewrites_disabled(spark):  # rebuild must scan the BASE table
        idx = build_value_index(df, vname)
        if objstore.is_object_store(table_path):
            objstore.write_df(spark, idx, p, mode="overwrite")
        else:
            idx.write.mode("overwrite").parquet(p)
    objstore.put_json(p, "_meta.json", {"parent": parent, "json_path": json_path})
    _write_table_sig(table_path, p)
    return vname


def value_index_measures(table_path: str, col: str) -> list | None:
    """The (measure_col, fx_scale) spec recorded in the sidecar's
    _meta.json, or None for a plain count-only index."""
    from columnar_spark import objstore

    meta = objstore.read_json(value_index_path(table_path, col), "_meta.json")
    return meta.get("measures") if meta else None


def json_index_meta(table_path: str, col: str) -> dict | None:
    """Parent linkage of a persisted value index, or None for a plain
    column index."""
    from columnar_spark import objstore

    meta = objstore.read_json(value_index_path(table_path, col), "_meta.json")
    return meta if meta and "parent" in meta else None


def invalidate_json_field_indexes(table_path: str, parent: str | None = None) -> list[str]:
    """Drop JSON field indexes (all, or those linked to `parent`) — the
    reference's update invalidation: a rewrite of the parent JSON column
    may change any field value, and unlike appends there is no O(batch)
    patch, so the index is disabled until explicitly rebuilt
    (write_json_field_index)."""
    import shutil

    removed = []
    for c in persisted_value_index_cols(table_path):
        meta = json_index_meta(table_path, c)
        if meta is None:
            continue
        if parent is None or meta["parent"] == parent:
            shutil.rmtree(value_index_path(table_path, c))
            removed.append(c)
    return removed


def posting_index_path(table_path: str, col: str) -> str:
    return table_path.rstrip("/") + f".pidx/{col}"


def persisted_posting_index_cols(table_path: str) -> list[str]:
    import os

    root = table_path.rstrip("/") + ".pidx"
    if not os.path.isdir(root):
        return []
    return sorted(
        d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
    )


def write_posting_index(
    spark: SparkSession, table_path: str, col: str, id_col: str, fmt: str = "parquet"
) -> None:
    """Persist the value -> sorted-postings sidecar (the full A11
    artifact beside the .vidx count sidecar; the reference persists both
    shapes in its SI files)."""
    from columnar_spark import objstore

    objstore.require_transport(table_path)
    df = getattr(spark.read, fmt)(table_path)
    p = posting_index_path(table_path, col)
    idx = build_posting_index(df, col, id_col)
    if objstore.is_object_store(table_path):
        objstore.write_df(spark, idx, p, mode="overwrite")
    else:
        idx.write.mode("overwrite").parquet(p)
    objstore.put_json(p, "_meta.json", {"id_col": id_col})
    _write_table_sig(table_path, p)


def load_posting_index(
    spark: SparkSession, table_path: str, col: str, *, check_fresh: bool = True
) -> DataFrame | None:
    """Same freshness contract as load_value_index: a stale sidecar
    (table rewritten outside the framework's paths) is treated as absent
    so the base scan serves the query."""
    import os

    from columnar_spark import objstore

    p = posting_index_path(table_path, col)
    if "://" not in p and not os.path.isdir(p):
        return None
    if check_fresh and not index_is_fresh(table_path, p):
        return None
    return objstore.read_df(spark, p)


def posting_index_id_col(table_path: str, col: str) -> str | None:
    from columnar_spark import objstore

    meta = objstore.read_json(posting_index_path(table_path, col), "_meta.json")
    return meta["id_col"] if meta else None


def merge_posting_index(
    spark: SparkSession, table_path: str, col: str, batch_df: DataFrame, id_col: str
) -> None:
    """Incremental maintenance: fold one batch's postings in —
    concat + re-sort per touched value, O(index + batch) like the value
    index. Sorted-postings invariant is preserved by construction."""
    # check_fresh=False: merge runs AFTER the batch's table append (same
    # one-step-behind signature situation as merge_value_index).
    existing = load_posting_index(spark, table_path, col, check_fresh=False)
    if existing is None:
        return
    delta = build_posting_index(batch_df, col, id_col)
    merged = (
        existing.unionByName(delta)
        .groupBy("value")
        .agg(
            F.sort_array(F.flatten(F.collect_list("postings"))).alias("postings"),
            F.sum("cnt").cast("long").alias("cnt"),
        )
    )
    from columnar_spark import objstore

    # same small-by-contract bound as the value index
    out = _local_relation(spark, merged)
    p = posting_index_path(table_path, col)
    if objstore.is_object_store(table_path):
        objstore.write_df(spark, out, p, mode="overwrite")
    else:
        out.write.mode("overwrite").parquet(p)
    objstore.put_json(p, "_meta.json", {"id_col": id_col})
    # merge runs AFTER the batch's table append, so the signature taken
    # now matches the table state the merged postings describe
    _write_table_sig(table_path, p)
