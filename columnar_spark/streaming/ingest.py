"""Streaming ingest + index maintenance — reference §2.G streaming row.

The reference itself is write-once-read-many; its host daemon handles
streaming by rebuilding MCL files from RT segments, and index updates
invalidate/rebuild secondary artifacts (secondary.cpp:391-434, E9).

Spark-first equivalent: Structured Streaming file source ->
`foreachBatch` that (a) appends the normalized batch to the table and
(b) transactionally refreshes the stats manifest — the same
"storage + sidecar indexes rebuilt together" contract. Watermarked
windowed aggregation covers the reference's host-side time-bucket
analytics over late data.

Replay safety (foreachBatch sinks run AT LEAST once): one per-table
ledger (`<table>.ingest/meta.json`) gates the WHOLE batch —
a batch id already in `applied_batches` is a complete no-op, the table
append itself is idempotent (staged write, files renamed in under
batch-derived names a retry first sweeps), and a retry of a batch whose
previous attempt crashed MID-application (ledger `inflight` marker)
rebuilds the derived sidecars from the table instead of re-merging —
the one recovery that cannot double-count. The text-index and vocab
sidecars keep their own applied-batch staging (stage-then-commit) and
are consistent under either path.

Fold schedule: after the table append, each sidecar family the table
carries (stats; vector + graph; value + posting indexes; textstats;
dedupsig; join projections; aggregate projections; cohort) folds the
batch in through ONE callable, and the callables run concurrently on a
thread pool in the calling process (`_run_folds`). Their contract: a
fold writes only its own family's sidecars and reads only base tables,
the batch and its own sidecars — so no fold can observe another's
half-written state. The schedule runs under one hoisted
`rewrites_disabled` (a session-wide conf no thread may flip on its
own, so other threads' queries on the session also run without the
sidecar rewrites meanwhile); every fold finishes before the first
error is re-raised, so nothing writes after the writer lock is
released, and the ledger keeps its `inflight` marker for the rebuild
path. The crash-recovery rebuild (`_rebuild_sidecars`) stays serial.

Scale posture: foreachBatch bodies are plain DataFrame jobs (no driver
loops); small maintenance results (the stats sketch, merged value
and posting indexes) are collected as JVM-local relations via Arrow,
never as pickled Python rows; state for windowed aggs is bounded by
the watermark; the ledger is O(#batches) JSON metadata, no data-plane
cost.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_spark import objstore
from columnar_spark.functions import money

from columnar_spark.stats import (
    _local_relation,
    build_stats_sketch,
    manifest_from_sketch,
    merge_sketches,
    rewrites_disabled,
    sketch_path,
    write_stats_sidecar,
)
from columnar_spark.writer import WriteSpec, normalize, stats_path


def ingest_ledger_path(dst_path: str) -> str:
    return dst_path.rstrip("/") + ".ingest"


def _load_ledger(dst_path: str) -> dict:
    mp = os.path.join(ingest_ledger_path(dst_path), "meta.json")
    if not os.path.exists(mp):
        return {"applied_batches": {}, "inflight": None}
    with open(mp) as f:
        return json.load(f)


# A writer lock held for longer than this is presumed crashed (the
# holder process died between acquire and release) and is broken by the
# next acquirer. Generous: a single batch application is seconds.
LOCK_STALE_SEC = 3600.0


class TableWriterLockHeld(RuntimeError):
    pass


# URI schemes whose exclusive-create is NOT atomic: object stores have
# no O_EXCL — two PUTs both "succeed". Ledgered appends refuse these
# outright rather than hand out a lock that does not lock.
_NON_POSIX_SCHEMES = (
    "s3", "s3a", "s3n", "gs", "gcs", "abfs", "abfss", "wasb", "wasbs",
    "oss", "cos", "swift",
)


def _acquire_writer_lock(dst_path: str) -> str:
    """Exclusive per-table writer lock for the LEDGERED append path.

    The ledger is load-modify-replace JSON: two concurrent ledgered
    writers (two streams, or a stream plus a CLI append_batch with a
    batch_id) would interleave _load_ledger/_commit_ledger and lose each
    other's applied_batches entries — defeating replay safety. The lock
    makes the single-writer-per-table contract ENFORCED: a second writer
    fails fast with guidance instead of silently corrupting the ledger.

    Protocol (POSIX filesystems ONLY — object-store schemes are refused
    up front, exclusive-create is not atomic there):
    1. O_CREAT|O_EXCL create with a unique owner token, then READ BACK
       and compare — a racing stale-breaker that captured our fresh file
       leaves a missing/foreign token and we retry instead of proceeding
       unlocked.
    2. Stale locks (holder crashed, age > LOCK_STALE_SEC) are broken by
       ATOMIC RENAME to a unique captive name: exactly one of N waiting
       breakers wins the rename (the rest get ENOENT and re-enter the
       loop), so no breaker can delete another writer's freshly created
       lock — the failure mode of remove-based breaking. The winner
       compares the captive file's inode with the pre-rename stat; if it
       captured a DIFFERENT (fresh) lock it restores it via no-overwrite
       os.link and refuses, preserving mutual exclusion.
    """
    import time
    import uuid

    scheme = dst_path.split("://", 1)[0].lower() if "://" in dst_path else ""
    if scheme in _NON_POSIX_SCHEMES:
        raise TableWriterLockHeld(
            f"ledgered appends need a POSIX-atomic lock file and "
            f"{dst_path!r} is on an object store ({scheme}://) where "
            "exclusive-create is not atomic. Run the ledgered writer "
            "against a POSIX staging path, or route all appends for this "
            "table through one process and use the unledgered path."
        )
    root = ingest_ledger_path(dst_path)
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, "writer.lock")
    token = f"{os.getpid()}:{uuid.uuid4().hex}"
    for _ in range(4):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            # ownership read-back: only the writer whose token survived
            # owns the lock (closes the stolen-fresh-lock window)
            try:
                with open(lock) as f:
                    if f.read() == token:
                        return lock
            except OSError:
                pass
            continue  # our lock was captured by a racing breaker: retry
        except FileExistsError:
            try:
                st = os.stat(lock)
            except OSError:
                continue  # holder released between the open and the stat
            age = time.time() - st.st_mtime
            if age > LOCK_STALE_SEC:
                captive = f"{lock}.stale-{uuid.uuid4().hex}"
                try:
                    os.rename(lock, captive)  # atomic: one breaker wins
                except OSError:
                    continue  # another breaker won; retry the acquire
                try:
                    cap_ino = os.stat(captive).st_ino
                except OSError:
                    cap_ino = None
                if cap_ino is not None and cap_ino != st.st_ino:
                    # captured a DIFFERENT file than the stale one we
                    # statted — a fresh lock raced in. Restore it without
                    # overwriting anything newer and refuse.
                    try:
                        os.link(captive, lock)
                    except OSError:
                        pass  # path re-taken: its owner verified via read-back
                    os.remove(captive)
                    raise TableWriterLockHeld(
                        f"another ledgered writer acquired {lock} while a "
                        "stale lock was being broken; retry the append"
                    )
                try:
                    os.remove(captive)
                except OSError:
                    pass
                continue
            raise TableWriterLockHeld(
                f"another ledgered writer holds {lock} (age {age:.0f}s): "
                "tables accept ONE ledgered writer at a time — stop the "
                "other stream/CLI append, or give each destination its "
                "own table. (A crashed holder's lock self-expires after "
                f"{LOCK_STALE_SEC:.0f}s.)"
            )
    raise TableWriterLockHeld(f"could not acquire {lock}")


def _release_writer_lock(lock: str) -> None:
    try:
        os.remove(lock)
    except OSError:
        pass


def _commit_ledger(dst_path: str, meta: dict) -> None:
    """Atomic rename — the transaction point for the whole batch."""
    root = ingest_ledger_path(dst_path)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(root, "meta.json"))


def idempotent_append(
    df: DataFrame,
    dst_path: str,
    batch_id: int | None,
    compression: str = "snappy",
    stage_root: str | None = None,
    prefix: str | None = None,
) -> list[str]:
    """Exactly-once parquet append for at-least-once foreachBatch sinks,
    with no ledger: the batch stages beside the target, any files a
    previous attempt of the SAME batch left behind are swept, and the
    staged files rename in under batch-derived names — every retry
    converges on one final file set. Returns the committed file paths.
    With batch_id=None (no retry semantics to defend against) this is a
    plain append.

    Single-stream contract: epoch ids are unique within ONE streaming
    query's checkpoint. Two different queries appending to the same
    destination would collide on batch-derived names — give each its
    own `prefix` (e.g. a query name) if that topology is ever needed."""
    if batch_id is None:
        df.write.mode("append").option("compression", compression).parquet(dst_path)
        return []
    stage_root = stage_root or dst_path.rstrip("/") + ".stage"
    stage = os.path.join(stage_root, str(batch_id))
    df.write.mode("overwrite").option("compression", compression).parquet(stage)
    pre = prefix or f"part-b{batch_id}-"
    os.makedirs(dst_path, exist_ok=True)
    # RENAME FIRST, SWEEP LAST — read consistency under retry: target
    # names are canonicalized to the staged files' sorted index, so a
    # retry's os.replace atomically overwrites the previous attempt's
    # file of the same rank; a concurrent reader of the destination
    # never observes the batch missing. Only leftovers from an attempt
    # that produced MORE files are swept afterwards (the one transient a
    # reader can see is a short-lived duplicate of those tail rows — the
    # benign direction; the old sweep-first order made previously
    # visible rows vanish mid-retry).
    staged = [n for n in sorted(os.listdir(stage)) if not n.startswith(("_", "."))]
    moved = []
    final_names = set()
    for i, name in enumerate(staged):
        ext = os.path.splitext(name)[1] or ".parquet"
        tgt_name = f"{pre}{i:05d}{ext}"
        os.replace(os.path.join(stage, name), os.path.join(dst_path, tgt_name))
        final_names.add(tgt_name)
        moved.append(os.path.join(dst_path, tgt_name))
    for name in os.listdir(dst_path):
        if name.startswith(pre) and name not in final_names:
            os.remove(os.path.join(dst_path, name))
    shutil.rmtree(stage, ignore_errors=True)
    return moved


def _rebuild_sidecars(ss: SparkSession, dst_path: str) -> None:
    """Crash recovery: a previous attempt died mid-application, so the
    incremental merges cannot know which sidecars already absorbed the
    batch. Rebuild every count-derived sidecar from the (now idempotent-
    appended) table — O(table) once, the same bootstrap paths first-time
    ingest uses. The text/vocab sidecars are NOT rebuilt: their own
    applied-batch staging makes the incremental call retry-exact."""
    from columnar_spark.operators.knn_index import (
        build_vector_index,
        load_vector_index,
    )
    from columnar_spark.stats import (
        json_index_meta,
        persisted_posting_index_cols,
        persisted_value_index_cols,
        posting_index_id_col,
        write_json_field_index,
        write_posting_index,
        write_value_index,
    )

    full = ss.read.parquet(dst_path)
    sdf = _local_relation(ss, build_stats_sketch(full))
    sdf.coalesce(1).write.mode("overwrite").parquet(sketch_path(dst_path))
    write_stats_sidecar(ss, manifest_from_sketch(sdf).coalesce(1), dst_path)
    for c in persisted_value_index_cols(dst_path):
        jm = json_index_meta(dst_path, c)
        if jm is not None:
            write_json_field_index(ss, dst_path, jm["parent"], jm["json_path"])
        else:
            from columnar_spark.stats import (
                composite_index_cols,
                value_index_measures,
            )

            ms = value_index_measures(dst_path, c)
            cm = composite_index_cols(dst_path, c)
            write_value_index(
                ss, dst_path, tuple(cm) if cm else c,
                measures=[(mc, int(dp)) for mc, dp in ms] if ms else None,
            )
    for c in persisted_posting_index_cols(dst_path):
        idc = posting_index_id_col(dst_path, c)
        if idc:
            write_posting_index(ss, dst_path, c, idc)
    from columnar_spark.operators.knn_index import (
        _load_vector_index_dir,
        vector_index_dirs,
    )

    for vdir in vector_index_dirs(dst_path):
        vidx = _load_vector_index_dir(dst_path, vdir, check_fresh=False)
        if vidx is not None and vidx.vec_col in full.columns:
            store_vectors = "vec" in ss.read.parquet(vidx.vectors_path).columns
            build_vector_index(
                ss, full, dst_path,
                vec_col=vidx.vec_col, id_col=vidx.id_col, metric=vidx.metric,
                nlist=vidx.nlist, m=vidx.m, k=vidx.k,
                store_vectors=store_vectors, index_path=vdir,
            )
    from columnar_spark.textstats import textstats_meta, write_textstats_sidecar

    tsm = textstats_meta(dst_path)
    if tsm is not None and tsm["text_col"] in full.columns:
        # feature rows are row-local, so a full rebuild from the
        # idempotent-appended table is exact (cannot-double-count recovery)
        write_textstats_sidecar(ss, dst_path, tsm["id_col"], tsm["text_col"])
    from columnar_spark.dedupsig import dedupsig_meta, write_dedupsig_sidecar

    dsm = dedupsig_meta(dst_path)
    if dsm is not None and dsm["text_col"] in full.columns:
        write_dedupsig_sidecar(
            ss, dst_path, dsm["id_col"], dsm["text_col"],
            num_hashes=dsm["num_hashes"], shingle_k=dsm["shingle_k"],
        )
    # Join projections touching this table (either side): the crashed
    # attempt may or may not have appended its delta — rebuild from the
    # idempotent-appended base tables (cannot-double-count recovery).
    from columnar_spark.projections import (
        projections_on,
        projections_referencing_dim,
        rebuild_projection,
    )

    for pname in projections_on(dst_path):
        rebuild_projection(ss, dst_path, pname)
    for fpath, pname in projections_referencing_dim(dst_path):
        rebuild_projection(ss, fpath, pname)
    # Aggregate projections: same cannot-double-count recovery.
    from columnar_spark.aggprojections import (
        agg_projections_on,
        agg_projections_referencing,
        rebuild_agg_projection,
    )

    for pname in agg_projections_on(dst_path):
        rebuild_agg_projection(ss, dst_path, pname)
    for fpath, pname in agg_projections_referencing(dst_path):
        rebuild_agg_projection(ss, fpath, pname)
    from columnar_spark.operators.cohort import cohort_meta, write_cohort_sidecar

    cm = cohort_meta(dst_path)
    if cm is not None:
        write_cohort_sidecar(ss, dst_path, cm["ts_col"], cm["user_col"])
    from columnar_spark.operators.hnsw_index import (
        build_graph_index,
        graph_index_dirs,
        load_graph_index_meta,
    )

    for gdir in graph_index_dirs(dst_path):
        gmeta = load_graph_index_meta(dst_path, check_fresh=False, index_path=gdir)
        if gmeta is not None and gmeta["vec_col"] in full.columns:
            # a crashed attempt may have extended SOME parts: rebuild the
            # graph from the table (the cannot-double-count recovery, same
            # as every count-derived sidecar), preserving the artifact's
            # quantization ladder and trained bounds
            build_graph_index(
                ss, full, dst_path,
                vec_col=gmeta["vec_col"], id_col=gmeta["id_col"],
                metric=gmeta["metric"], M=gmeta["m"],
                ef_construction=gmeta["ef_construction"],
                num_parts=gmeta["num_parts"], seed=gmeta["seed"],
                quantize=gmeta["quantize"], index_path=gdir,
                q8_bounds=(
                    (gmeta["q8_lo"], gmeta["q8_hi"])
                    if gmeta["q8_lo"] is not None
                    else None
                ),
            )


# ------------------------------------------------ incremental sidecar folds
# One per sidecar family, all called as (ss, dst_path, appended, pre_sig)
# under the contract in the module docstring ("Fold schedule"). A fold
# whose family the table does not carry returns at once.


def _fold_stats(ss, dst_path, appended, pre_sig):
    """Stats sketch + manifest: merge in the batch's contribution
    (O(batch), mergeable HLL + associative min/max/counts)."""
    sp = sketch_path(dst_path)
    if os.path.isdir(sp):
        merged = merge_sketches(
            objstore.read_df(ss, sp),
            build_stats_sketch(appended),
        )
    else:
        # first sidecar for this table: the table may have pre-existing
        # rows the batch sketch wouldn't cover — bootstrap from the full
        # post-append table (one-time O(table); every later append merges
        # O(batch)). For a brand-new table this reads exactly the batch.
        merged = build_stats_sketch(ss.read.parquet(dst_path))
    # materialize before overwriting the path the plan reads from
    merged_df = _local_relation(ss, merged)
    merged_df.coalesce(1).write.mode("overwrite").parquet(sp)
    write_stats_sidecar(ss, manifest_from_sketch(merged_df).coalesce(1), dst_path)


def _fold_vectors(ss, dst_path, appended, pre_sig):
    """IVF-PQ and HNSW graph sidecars. The batch encodes with the
    EXISTING centroids/codebooks and its codes append — rebuild happens
    at compaction, like the reference's segment rebuilds; touched
    sub-graphs extend with deterministic level sampling (replay-safe)
    and untouched parts are not read or written."""
    from columnar_spark.operators.hnsw_index import (
        append_to_graph_index,
        graph_index_dirs,
        load_graph_index_meta,
    )
    from columnar_spark.operators.knn_index import (
        _load_vector_index_dir,
        append_to_vector_index,
        vector_index_dirs,
    )

    # check_fresh=False: the table append legitimately moved the
    # signature ahead of the sidecar's recorded one. Every per-attribute
    # artifact (root + col=*) absorbs the batch.
    for vdir in vector_index_dirs(dst_path):
        vidx = _load_vector_index_dir(dst_path, vdir, check_fresh=False)
        if vidx is not None and vidx.vec_col in appended.columns:
            append_to_vector_index(ss, appended, dst_path, vec_col=vidx.vec_col)
    for gdir in graph_index_dirs(dst_path):
        gmeta = load_graph_index_meta(dst_path, check_fresh=False, index_path=gdir)
        if gmeta is not None and gmeta["vec_col"] in appended.columns:
            append_to_graph_index(ss, appended, dst_path, index_path=gdir)


def _fold_value_indexes(ss, dst_path, appended, pre_sig):
    """Persisted value-index (A11) and posting-index sidecars: fold the
    batch's value counts / postings in — O(index + batch-ndv)."""
    from columnar_spark.stats import (
        composite_index_cols,
        json_index_meta,
        merge_posting_index,
        merge_value_index,
        persisted_posting_index_cols,
        persisted_value_index_cols,
        posting_index_id_col,
    )

    cols = set(appended.columns)
    for c in persisted_value_index_cols(dst_path):
        jmeta = json_index_meta(dst_path, c)
        cmeta = composite_index_cols(dst_path, c)
        if (
            c in cols
            or (jmeta is not None and jmeta["parent"] in cols)
            or (cmeta is not None and all(x in cols for x in cmeta))
        ):
            # JSON field / composite indexes merge from their source
            # columns (the virtual key is computed inside merge_value_index)
            merge_value_index(ss, dst_path, c, appended)
    for c in persisted_posting_index_cols(dst_path):
        idc = posting_index_id_col(dst_path, c)
        if c in cols and idc and idc in cols:
            merge_posting_index(ss, dst_path, c, appended, idc)


def _fold_textstats(ss, dst_path, appended, pre_sig):
    """Text-feature companion: features are row-local, so the batch's
    rows append directly — O(batch), no re-scan."""
    from columnar_spark.textstats import merge_textstats, textstats_meta

    tsm = textstats_meta(dst_path)
    if tsm is not None and {tsm["text_col"], tsm["id_col"]} <= set(appended.columns):
        merge_textstats(ss, dst_path, appended)


def _fold_dedupsig(ss, dst_path, appended, pre_sig):
    """Near-dup signature companion: row-local, O(batch) append."""
    from columnar_spark.dedupsig import dedupsig_meta, merge_dedupsig

    dsm = dedupsig_meta(dst_path)
    if dsm is not None and {dsm["text_col"], dsm["id_col"]} <= set(appended.columns):
        merge_dedupsig(ss, dst_path, appended)


def _fold_projections(ss, dst_path, appended, pre_sig):
    """Join projections: this table may be the FACT side (its delta joins
    the current dim) or the DIM side of a sibling's projection (the
    sibling fact joins this delta). The two increments run serially
    inside this one fold, so they sum to exactly Δ(F⋈D) —
    projections.py delta algebra."""
    from columnar_spark.projections import (
        merge_projection_dim_delta,
        merge_projection_fact_delta,
        projection_meta,
        projections_on,
        projections_referencing_dim,
    )

    for pname in projections_on(dst_path):
        pm = projection_meta(dst_path, pname)
        if pm and pm["fact_key"] in appended.columns:
            merge_projection_fact_delta(ss, dst_path, pname, appended, pre_sig=pre_sig)
    for fpath, pname in projections_referencing_dim(dst_path):
        pm = projection_meta(fpath, pname)
        if pm and pm["dim_key"] in appended.columns:
            merge_projection_dim_delta(ss, fpath, pname, appended, pre_sig=pre_sig)


def _fold_agg_projections(ss, dst_path, appended, pre_sig):
    """Aggregate projections: the same two-direction delta algebra —
    this table may be the SOURCE (batch partials append) or an
    ENRICHMENT dim of a sibling's aggregate (source ⋈ Δdim partials
    append). aggprojections.py."""
    from columnar_spark.aggprojections import (
        agg_projection_path,
        agg_projections_on,
        agg_projections_referencing,
        compact_agg_projection,
        merge_agg_enrich_delta,
        merge_agg_fact_delta,
    )

    for pname in agg_projections_on(dst_path):
        merge_agg_fact_delta(ss, dst_path, pname, appended, pre_sig=pre_sig)
        # bounded fragmentation: many micro-batches accumulate a partial
        # file per append and reads pay a merge groupBy — fold back to
        # one row per group once the file count says the merge is no
        # longer cheap (same self-maintenance the text index's delta
        # folding does at OPTIMIZE, but inline because agg partials are
        # tiny)
        pdir = agg_projection_path(dst_path, pname)
        if len([f for f in os.listdir(pdir) if f.endswith(".parquet")]) > 64:
            compact_agg_projection(ss, dst_path, pname)
    rel = os.path.basename(dst_path.rstrip("/"))
    for fpath, pname in agg_projections_referencing(dst_path):
        merge_agg_enrich_delta(ss, fpath, pname, rel, appended, pre_sig=pre_sig)


def _fold_cohort(ss, dst_path, appended, pre_sig):
    """Cohort matrix sidecar: correction-partial fold (the one aggregate
    the rollup algebra cannot maintain)."""
    from columnar_spark.operators.cohort import append_cohort_batch, cohort_meta

    if cohort_meta(dst_path) is not None:
        append_cohort_batch(ss, dst_path, appended, pre_sig=pre_sig)


_FOLDS = (
    _fold_stats,
    _fold_vectors,
    _fold_value_indexes,
    _fold_textstats,
    _fold_dedupsig,
    _fold_projections,
    _fold_agg_projections,
    _fold_cohort,
)


def _run_folds(ss: SparkSession, dst_path: str, appended: DataFrame, pre_sig) -> None:
    """Run every sidecar fold concurrently on threads of this process.

    Each fold is a few small Spark jobs whose wall time is mostly fixed
    per-job cost, and the folds write disjoint sidecars, so overlapping
    them lets the scheduler fill the cores serial folds leave idle. The
    whole schedule runs under ONE rewrites_disabled: the conf is
    session-wide, so threads must not flip it against each other, and
    maintenance reads base data anyway. Each fold runs through
    inheritable_thread_target, so the caller's job group, tags and local
    properties carry into its jobs. Every fold finishes before the
    first error (in schedule order) is re-raised: no fold can still be
    writing once the caller releases the writer lock, and the ledger
    keeps its `inflight` marker, so the retry takes the rebuild path."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with rewrites_disabled(ss), ThreadPoolExecutor(
        max_workers=len(_FOLDS), thread_name_prefix="sidecar-fold"
    ) as pool:
        futures = []
        for fold in _FOLDS:
            wrap = inheritable_thread_target(ss)
            # outside pinned-thread mode there is nothing to inherit
            target = fold if wrap is ss else wrap(fold)
            futures.append(pool.submit(target, ss, dst_path, appended, pre_sig))
    # leaving the pool waited for every fold; result() re-raises
    for fut in futures:
        fut.result()


def append_batch(
    batch_df: DataFrame,
    dst_path: str,
    spec: WriteSpec | None = None,
    batch_id: int | None = None,
) -> bool:
    """Append one batch to a table with full sidecar maintenance: the
    normalized rows land in the table, then every sidecar family folds
    the batch's contribution in — the stats sketch/manifest (O(batch),
    mergeable HLL + associative min/max/counts), the persisted IVF-PQ
    codes under the existing centroids/codebooks (no retrain), the
    value/posting indexes, the row-local companions, the projections
    and the cohort matrix. The folds run concurrently (module docstring,
    "Fold schedule"): each writes only its own sidecars and reads only
    base tables, the batch and its own sidecars, and the call returns —
    or raises the first fold error — only after every fold finished.
    While the folds run, the sidecar rewrites are off for the whole
    session (`rewrites_disabled` is a session conf): a query another
    thread runs on the same session during an append gets the same
    answer from its base-table plan, without the count, value-index or
    rollup shortcuts. The text-index and vocab appends follow serially.
    One contract shared by batch CLI appends and the streaming
    foreachBatch sink, mirroring the reference's storage-plus-sidecars
    rebuild unit (secondary.cpp:391-434, E9).

    With `batch_id` (the streaming epoch id) the ENTIRE application is
    replay-safe through the per-table ledger (module docstring); returns
    True if the batch was applied, False if it was skipped as already
    applied. Without one (ad-hoc CLI appends — no retry semantics to
    defend against) the batch applies unconditionally."""
    spec = spec or WriteSpec()
    ss = batch_df.sparkSession

    ledger = None
    crashed = False
    lock = None
    if batch_id is not None:
        # single-writer-per-table, enforced (see _acquire_writer_lock):
        # the lock spans the whole ledgered application so two writers
        # can never interleave load-modify-replace on the ledger
        lock = _acquire_writer_lock(dst_path)
        try:
            ledger = _load_ledger(dst_path)
            if str(batch_id) in ledger.get("applied_batches", {}):
                _release_writer_lock(lock)
                return False
            # an inflight marker means SOME batch's previous attempt died
            # between first effect and commit — sidecar state is unknown
            crashed = ledger.get("inflight") is not None
            ledger["inflight"] = str(batch_id)
            _commit_ledger(dst_path, ledger)
        except BaseException:
            _release_writer_lock(lock)
            raise
    try:

        out = normalize(batch_df, spec)
        # Align column order with the existing table: JSON/CSV readers order
        # columns alphabetically/by header, and while Spark merges parquet
        # schemas by name, stricter readers expect one field order per table.
        if os.path.isdir(dst_path):
            existing = ss.read.parquet(dst_path).columns
            if set(existing) <= set(out.columns):
                out = out.select(*existing, *[c for c in out.columns if c not in existing])

        # The destination's signature as of JUST BEFORE this append —
        # the projection/cohort delta folds compare it against each
        # artifact's recorded signature so an out-of-band rewrite
        # between ingest events triggers a rebuild instead of being
        # masked by the fold's post-append re-stamp.
        from columnar_spark.stats import table_signature as _tsig

        try:
            pre_sig = _tsig(dst_path) if os.path.exists(dst_path) else None
        except Exception:
            pre_sig = None

        if batch_id is None:
            out.write.mode("append").option("compression", spec.compression).parquet(
                dst_path
            )
            appended = out
        else:
            # Idempotent table append (idempotent_append): stage the batch,
            # sweep any files a crashed attempt left, rename in under
            # batch-derived names — the rows land exactly once no matter how
            # many times the sink is re-invoked.
            moved = idempotent_append(
                out,
                dst_path,
                batch_id,
                compression=spec.compression,
                stage_root=os.path.join(ingest_ledger_path(dst_path), "stage"),
                prefix=f"part-ingest-b{batch_id}-",
            )
            # sidecars merge from the COMMITTED rows, not a re-evaluation of
            # the batch plan (same principle as the text index counting its
            # written delta)
            # (the known schema spares a schema-inference job)
            appended = ss.read.schema(out.schema).parquet(*moved) if moved else None

        if crashed:
            _rebuild_sidecars(ss, dst_path)
        elif appended is not None:
            _run_folds(ss, dst_path, appended, pre_sig)

        # Inverted-text + vocab sidecars: their own applied-batch staging
        # makes these calls retry-exact under BOTH the incremental and the
        # crash-recovery path — already-committed appends skip themselves.
        if appended is not None:
            from columnar_spark.operators.fulltext import (
                append_to_text_index,
                load_text_index,
            )

            loaded = load_text_index(ss, dst_path)
            if loaded is not None and loaded[2]["text_col"] in appended.columns:
                append_to_text_index(ss, dst_path, appended, batch_id=batch_id)
            from columnar_spark.streaming.vocab import append_vocab_delta, vocab_meta

            vm = vocab_meta(dst_path)
            if vm is not None and vm["text_col"] in appended.columns:
                append_vocab_delta(ss, dst_path, appended, batch_id=batch_id)

        if batch_id is not None:
            ledger["applied_batches"][str(batch_id)] = "applied"
            ledger["inflight"] = None
            _commit_ledger(dst_path, ledger)
    finally:
        if lock is not None:
            _release_writer_lock(lock)
    return True


def stream_ingest(
    spark: SparkSession,
    src_dir: str,
    dst_path: str,
    checkpoint_dir: str,
    schema,
    spec: WriteSpec | None = None,
    available_now: bool = True,
):
    """File-source streaming ingest with per-batch stats maintenance.

    Returns the started StreamingQuery; with available_now=True it drains
    the source and stops (batch-incremental mode — call repeatedly as new
    files land)."""
    spec = spec or WriteSpec()
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, dst_path, spec, batch_id=batch_id)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 day",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window aggregation — works identically on a
    static DataFrame (tests/oracles) and a streaming one (production).
    `ts_col` must be a TimestampType column."""
    wm = events.withWatermark(ts_col, watermark)
    return wm.groupBy(
        F.window(F.col(ts_col), window).alias("win"), *[F.col(c) for c in group_cols]
    ).agg(
        F.count(F.lit(1)).alias("n"),
        money.unscale(F.sum(money.scaled(F.col("value"))), 2).alias("total_value"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *group_cols,
        "n",
        "total_value",
    )
