"""Object-store artifact commits: staging dir + atomic manifest pointer.

Every sidecar writer in this engine publishes via write-then-rename,
which is atomic only on POSIX filesystems — on s3/gs/abfss a rename is
copy+delete and a concurrent reader can adopt a half-swapped artifact.
stats.require_posix_commit therefore refuses object-store destinations
outright. This module turns that refusal into support for the sidecars
whose layout is a flat set of parquet segments plus small JSON metadata
(`.stats`, `.vidx`, `.rollup`) using the protocol every table format on
object storage converges on (Iceberg/Delta-lite):

- data segments are written ONCE under the artifact root with
  generation-unique names (`seg-<uuid>-<n>.parquet`) — PUT only, never
  renamed, never overwritten;
- the LIVE segment set is named by ONE small JSON object
  (`_live.json`). Publishing a build or an append is a single
  overwrite PUT of that pointer — atomic per object-store semantics
  (S3/GCS/Azure all guarantee atomic single-object PUT);
- readers resolve the manifest, not the directory listing: a
  half-uploaded generation is invisible until the pointer names it,
  and eventual-consistency of LIST never matters because reads never
  LIST;
- appends PUT new segments and a new pointer naming old+new — no
  copies of old data, O(batch) work, exactly the partials-append
  contract the sidecars already use;
- Spark itself writes to a POSIX STAGING directory first (its file
  committer renames freely there), and the completed parts are
  uploaded whole — the pattern the refusal message has always
  recommended, now automated.

Transport: single-object PUT/GET here is plain local file IO — this
runs tests against a rename-forbidden local root (simulate_object_store)
and real deployments swap `_put_bytes`/`_get_bytes` for their fsspec /
boto3 client; the protocol (staging, naming, pointer flip, manifest
reads) is transport-independent. Artifacts built around directory
RENAME swaps (`.knn`, `.ftidx`, projections, rollup COMPACTION) keep
the explicit refusal until they get the same treatment.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_live.json"

# Schemes that need the manifest protocol (mirrors stats._NON_POSIX_SCHEMES).
OBJECT_SCHEMES = {
    "s3", "s3a", "s3n", "gs", "gcs", "abfs", "abfss", "wasb", "wasbs",
    "oss", "cos", "swift",
}

# Test hook: local roots treated as object stores (rename-free commits).
_SIMULATED: list[str] = []


class simulate_object_store:
    """Context manager registering a local path prefix as an object
    store: writers under it must follow the manifest protocol (the test
    additionally forbids os.rename/os.replace/shutil.move under it)."""

    def __init__(self, prefix: str):
        self.prefix = os.path.abspath(prefix)

    def __enter__(self):
        _SIMULATED.append(self.prefix)
        return self.prefix

    def __exit__(self, *exc):
        _SIMULATED.remove(self.prefix)
        return False


def is_object_store(path: str) -> bool:
    scheme = path.split("://", 1)[0].lower() if "://" in path else ""
    if scheme in OBJECT_SCHEMES:
        return True
    ap = os.path.abspath(path)
    return any(ap == p or ap.startswith(p + os.sep) for p in _SIMULATED)


# ------------------------------------------------------------- transport
# Single-object PUT/GET/LIST/DELETE. Local file IO simulates the object
# store's atomic-PUT guarantee for plain paths and simulate_object_store
# roots. A REAL scheme (s3://, gs://, ...) requires a registered
# transport — without one every call REFUSES loudly instead of silently
# writing to a local directory literally named "s3:/bucket/..." (the r9
# advice finding). register_transport is the deployment extension point:
# hand it the boto3/fsspec-backed callables and every sidecar family's
# manifest commit works unchanged, because ALL metadata and segment IO
# funnels through these four functions.

_TRANSPORTS: "dict[str, dict]" = {}


class TransportError(ValueError):
    """A real object-store scheme with no registered transport — raised
    instead of silently writing to a local directory named after the
    URI. Distinct from ValueError so metadata readers can swallow
    corrupt-JSON errors without swallowing this refusal."""


def register_transport(
    scheme: str,
    *,
    put_bytes,
    get_bytes,
    list_names,
    delete,
) -> None:
    """Install the single-object client for a real scheme: put_bytes
    (atomic overwrite PUT), get_bytes, list_names(root) -> [names],
    delete(path). The manifest protocol needs nothing else."""
    _TRANSPORTS[scheme.lower()] = {
        "put": put_bytes, "get": get_bytes, "list": list_names,
        "delete": delete,
    }


def _scheme(path: str) -> str:
    return path.split("://", 1)[0].lower() if "://" in path else ""


def _transport(path: str) -> "dict | None":
    """The registered transport for a real object-store path, None for
    local/simulated paths, ValueError for a real scheme nobody wired."""
    s = _scheme(path)
    if not s:
        return None
    t = _TRANSPORTS.get(s)
    if t is None:
        raise TransportError(
            f"{path!r} is on a real object store ({s}://) and no "
            f"transport is registered for {s!r} — refusing rather than "
            "writing to a local directory of that name. Wire one with "
            "objstore.register_transport(scheme, put_bytes=..., "
            "get_bytes=..., list_names=..., delete=...)."
        )
    return t


def _put_bytes(path: str, data: bytes) -> None:
    t = _transport(path)
    if t is not None:
        t["put"](path, data)
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def _get_bytes(path: str) -> bytes:
    t = _transport(path)
    if t is not None:
        return t["get"](path)
    with open(path, "rb") as f:
        return f.read()


def _list_names(root: str) -> "list[str]":
    t = _transport(root)
    if t is not None:
        return list(t["list"](root))
    try:
        return os.listdir(root)
    except OSError:
        return []


def _delete(path: str) -> None:
    t = _transport(path)
    if t is not None:
        t["delete"](path)
        return
    os.remove(path)


def require_transport(path: str) -> None:
    """Raise TransportError when `path` is on a real object-store scheme
    with no registered transport; no-op for local/simulated paths. Call
    this BEFORE handing a path to Spark — Spark's own missing-filesystem
    error is later and far less actionable."""
    _transport(path)


def list_names(root: str) -> "list[str]":
    """Child names under `root` via the transport (local listdir for
    plain/simulated paths) — empty on a missing root."""
    return _list_names(root)


def put_json(root: str, name: str, obj) -> None:
    """Small JSON metadata object (meta/sig/pointer): one overwrite PUT."""
    _put_bytes(os.path.join(root, name), json.dumps(obj).encode())


def read_json(root: str, name: str):
    try:
        return json.loads(_get_bytes(os.path.join(root, name)).decode())
    except TransportError:
        raise
    except (OSError, ValueError):
        return None


# -------------------------------------------------------------- manifest


def live_files(root: str) -> "list[str] | None":
    """Relative segment names the pointer currently publishes, or None
    when the artifact has no manifest (plain POSIX layout)."""
    man = read_json(root, MANIFEST)
    if man is None or "files" not in man:
        return None
    return list(man["files"])


def data_files(root: str) -> "list[str]":
    """Absolute data-file paths for driver-side (pyarrow) readers:
    manifest-resolved when present, directory glob otherwise."""
    files = live_files(root)
    if files is not None:
        return [os.path.join(root, f) for f in files]
    return sorted(glob.glob(os.path.join(root, "*.parquet")))


# Footer key under which Spark's parquet writer records the row schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(root: str):
    """The Spark schema recorded in the footer of the artifact's first
    data file, read with pyarrow — the schema spark.read.parquet infers
    with mergeSchema off (one file; the files of an artifact share one
    schema), without the Spark job that inference runs. None for remote
    roots, empty artifacts, or files Spark did not write."""
    if "://" in root:
        return None
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    files = data_files(root)
    if not files:
        return None
    try:  # unreadable footer or schema: fall back to inference
        raw = (pq.read_schema(files[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
        return StructType.fromJson(json.loads(raw)) if raw else None
    except (OSError, ValueError, KeyError):
        return None


def read_df(spark: SparkSession, root: str) -> DataFrame:
    """The artifact as a DataFrame: manifest-resolved segment list when
    present (uncommitted uploads invisible), plain directory read
    otherwise. The schema comes from a data file's footer
    (footer_schema), sparing the schema-inference job; Spark infers it
    only where the footer cannot say."""
    _transport(root)  # loud refusal before Spark touches a real store
    schema = footer_schema(root)
    reader = spark.read if schema is None else spark.read.schema(schema)
    files = live_files(root)
    if files is None:
        return reader.parquet(root)
    if not files:
        raise ValueError(f"object-store artifact at {root} has an empty live set")
    return reader.parquet(*[os.path.join(root, f) for f in files])


def vacuum_artifact(
    root: str, keep: "set[str] | None" = None, grace_s: float = 3600.0
) -> "list[str]":
    """Delete unreferenced segments — uploads whose publishing PUT never
    happened (a writer died mid-commit) or segments a later overwrite
    superseded. Readers only ever resolve the pointer, so orphans are
    invisible garbage, never a correctness issue; this is the storage-
    cost GC (the Iceberg expire-snapshots analog, minus history). Only
    touches `seg-*.parquet` names, never metadata objects. Returns the
    deleted names; no-op (and empty) without a manifest.

    Concurrency: a GC racing an IN-FLIGHT append (segments PUT, pointer
    not yet flipped) must not delete the new generation — segments
    younger than `grace_s` seconds are therefore skipped (the Iceberg
    expire-snapshots grace convention; local mtime, best-effort on real
    transports). Pointer updates themselves (write_df's read-modify-
    write of _live.json) are serial by contract: they run under the
    same per-table writer lock every other sidecar maintenance path
    holds — two concurrent appends would lose one pointer update."""
    import time

    live = live_files(root)
    if live is None:
        return []
    protect = set(live) | (keep or set())
    now = time.time()
    removed = []
    for e in _list_names(root):
        if e.startswith("seg-") and e.endswith(".parquet") and e not in protect:
            if _transport(root) is None:
                try:
                    if now - os.path.getmtime(os.path.join(root, e)) < grace_s:
                        continue
                except OSError:
                    continue
            try:
                _delete(os.path.join(root, e))
                removed.append(e)
            except OSError:
                pass
    return removed


def write_df(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    mode: str = "overwrite",
    batch_id: "int | None" = None,
) -> None:
    """Publish `df` as (or into) the artifact at `root` with the
    staging + pointer-flip protocol. mode='append' keeps the previous
    pointer's segments in the new live set (partials append); the old
    pointer stays readable until the single PUT flips it.

    `batch_id` (streaming epochs) makes appends replay-safe without
    rename-based staging: the pointer records applied batch ids, and a
    retry of an already-published batch is a no-op — an attempt that
    died before the pointer flip left only unreferenced segments, which
    readers never see."""
    _transport(root)  # loud refusal before Spark touches a real store
    man = read_json(root, MANIFEST) or {}
    applied = man.get("batches", [])
    if mode == "append" and batch_id is not None and str(batch_id) in applied:
        return
    staging = tempfile.mkdtemp(prefix="objstore-stage-")
    try:
        df.write.mode("overwrite").parquet(staging)
        gen = uuid.uuid4().hex[:12]
        names = []
        for i, part in enumerate(
            sorted(glob.glob(os.path.join(staging, "*.parquet")))
        ):
            name = f"seg-{gen}-{i:05d}.parquet"
            # upload-whole: the part file is complete before the PUT
            _put_bytes(os.path.join(root, name), open(part, "rb").read())
            names.append(name)
        if mode == "append":
            live = (man.get("files") or []) + names
            batches = applied + ([str(batch_id)] if batch_id is not None else [])
        else:
            live, batches = names, []
        put_json(root, MANIFEST, {"files": live, "gen": gen, "batches": batches})
    finally:
        shutil.rmtree(staging, ignore_errors=True)


# ------------------------------------------------- generation-dir commit
# The flat-segment manifest above fits sidecars that are ONE parquet
# dataset. The index families (.knn, .knn-graph, .ftidx) are directory
# TREES — several components, hive-partitioned code/posting datasets,
# parquet metadata files — whose internal layout the readers rely on.
# For those, the commit unit is the whole tree: build into a POSIX
# staging directory (Spark's committer renames freely there), upload
# the COMPLETED tree file-by-file under `gen-<uuid>/`, then publish
# with a single `_live.json` PUT naming the generation. Readers resolve
# the pointer first and then read the generation directory like any
# normal layout; a half-uploaded generation is invisible, and retired
# generations remain readable until vacuumed. Appends PUT whole
# part-files INTO the live generation under fresh names — single-object
# PUT is atomic, so a reader's directory scan sees each file entirely
# or not at all (the same guarantee a POSIX append gives today).


def publish_tree(local_dir: str, root: str) -> str:
    """Upload the completed `local_dir` tree as a new generation of the
    artifact at `root` and flip the pointer. Returns the generation's
    path under root."""
    gen = f"gen-{uuid.uuid4().hex[:12]}"
    for dirpath, _dirs, names in os.walk(local_dir):
        rel = os.path.relpath(dirpath, local_dir)
        for n in names:
            if n.startswith(".") or n.endswith(".crc"):
                continue
            dst = os.path.join(root, gen, rel, n) if rel != "." else os.path.join(
                root, gen, n
            )
            with open(os.path.join(dirpath, n), "rb") as f:
                _put_bytes(dst, f.read())
    put_json(root, MANIFEST, {"gen": gen})
    return os.path.join(root, gen)


def resolve_tree(root: str) -> str:
    """The live generation directory of a tree artifact, or `root`
    itself for plain POSIX layouts (no pointer)."""
    man = read_json(root, MANIFEST)
    if man is None or "gen" not in man:
        return root
    return os.path.join(root, man["gen"])


def append_parquet_tree(
    spark: SparkSession, df: DataFrame, target_dir: str, partition_by=None
) -> None:
    """Append `df` into a (possibly hive-partitioned) dataset directory
    inside a live generation WITHOUT renames: stage to a POSIX temp dir,
    then PUT each completed part under a fresh unique name preserving
    the partition subpaths. Plain mode-append write on POSIX layouts."""
    if not is_object_store(target_dir):
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(target_dir)
        return
    staging = tempfile.mkdtemp(prefix="objstore-tree-stage-")
    try:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(staging)
        gen = uuid.uuid4().hex[:12]
        i = 0
        for dirpath, _dirs, names in os.walk(staging):
            rel = os.path.relpath(dirpath, staging)
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                name = f"part-append-{gen}-{i:05d}.parquet"
                i += 1
                dst = (
                    os.path.join(target_dir, rel, name)
                    if rel != "."
                    else os.path.join(target_dir, name)
                )
                with open(os.path.join(dirpath, n), "rb") as f:
                    _put_bytes(dst, f.read())
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def vacuum_tree(root: str, grace_s: float = 3600.0) -> "list[str]":
    """Delete retired/unpublished generations of a tree artifact (local
    and simulated layouts; transport-backed stores need a recursive
    delete the four-call client doesn't model). Same grace window as
    vacuum_artifact."""
    import time

    man = read_json(root, MANIFEST)
    if man is None or "gen" not in man:
        return []
    live = man["gen"]
    removed = []
    if _transport(root) is not None:
        return []
    now = time.time()
    try:
        entries = os.listdir(root)
    except OSError:
        return []
    for e in entries:
        p = os.path.join(root, e)
        if e.startswith("gen-") and e != live and os.path.isdir(p):
            try:
                if now - os.path.getmtime(p) < grace_s:
                    continue
                shutil.rmtree(p)
                removed.append(e)
            except OSError:
                pass
    return removed
