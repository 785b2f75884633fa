"""End-to-end benchmark of the engine, one workload per run.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve_sf001 --seed 1 --seconds 21 --trace 0

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). The full report, stamped with the environment, goes to
stderr and to perfbench/.work/results/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _confine_temp_files():
    """Keep Python, Spark and JVM scratch files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def _source_stamp():
    """git commit when the checkout is a repository, and always a hash
    of the engine sources (a checkout without .git still gets one)."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for root, dirs, names in os.walk(os.path.join(ROOT, "columnar_spark")):
        dirs.sort()
        paths += [os.path.join(root, n) for n in sorted(names) if n.endswith((".py", ".jar"))]
    for p in paths:
        with open(p, "rb") as fh:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "columnar_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: the engine sources (columnar_spark/, __spark_entry__.py) "
              "are not beside perfbench/ — nothing to measure", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    _confine_temp_files()
    sys.path.insert(0, ROOT)
    from perfbench import measure, workloads

    ticks0 = measure.cpu_ticks()

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    if not workloads.is_prepared():
        subprocess.run([sys.executable, os.path.join(HERE, "prepare.py")], check=True)
    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    spark, start_s = workloads.start_session(nproc)
    try:
        build = workloads.prepare(spark)
        t_run = time.perf_counter()
        report = {"elapsed": lambda: time.perf_counter() - t_run}
        floor_s = workloads.session_floor(spark)
        ops = workloads.WORKLOADS[args.workload](
            spark, args.seed, args.seconds, bool(args.trace), nproc, run_dir, report
        )
        sc = spark.sparkContext
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "master": sc.master,
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "corpus": workloads.corpus_stamp(),
            **_source_stamp(),
        }
    finally:
        workloads.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = start_s + report.pop("setup_tail_s")
    e2e = {"setup_s": setup_s, **report["end_to_end"]}
    failed_ratio = ops.failed / ops.attempted
    L = ops.layer
    extra = report["layer_extra"]
    selfs = measure.self_times(ops.tracer.spans)
    construct = selfs.get("construct", 0.0) + selfs.get("sql_call", 0.0)
    reads = [r for r in ops.records if r["kind"] != "append" and r["ok"]]
    read_total = sum(r["latency"] for r in reads)
    layer = {
        "session.start_s": start_s,
        "session.floor_s": floor_s,
        "warm.construct_s": extra["warm.construct_s"],
        "entry.construct_s": construct,
        "entry.construct_jobs": L["construct_jobs"],
        "entry.construct_share": construct / read_total if read_total else 0.0,
        "catalyst.plan_s": selfs.get("plan", 0.0),
        "exec.s": selfs.get("exec", 0.0) + selfs.get("collect", 0.0),
        "exec.jobs": L["exec_jobs"],
        "exec.stages": L["exec_stages"],
        "exec.tasks": L["exec_tasks"],
        "sidecar.files_read": L["sidecar_files"],
        "base.files_read": L["base_files"],
        "sidecar.hit_ratio": L["ops_sidecar"] / L["read_ops"] if L["read_ops"] else 0.0,
        "failed_ratio": failed_ratio,
    }
    for fam, b in report["layout_bytes"].items():
        if fam != "total":
            layer[f"ingest.bytes.{fam}"] = b
    named = {
        **extra,
        "ingest.build_s": build["build_s"],
        "router.rewrite_ratio": L["ops_no_base"] / L["read_ops"] if L["read_ops"] else None,
        "span_self_s": selfs,
    }
    full = {
        "stamp": stamp,
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "failed_ratio": failed_ratio,
        "end_to_end": e2e,
        "workload_metrics": report["workload"],
        "per_layer": layer,
        "layer_detail": named,
        "route_census": {"families_read": L["families"], "files_by_operation": L["by_name"]},
        "operations": ops.records,
        "wall_s": time.perf_counter() - t_start,
        "steal_share": measure.steal_share(ticks0, measure.cpu_ticks()),
    }
    _save(full, ops, args)

    units = _units()
    chosen = units["per_layer" if args.trace else "end_to_end"]
    metrics = {k: {"value": (e2e if not args.trace else layer)[k], "unit": u} for k, u in chosen.items()}
    line = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    print(json.dumps(full, default=str), file=sys.stderr)
    sys.stderr.flush()
    sys.stdout.write("\n" + json.dumps(line) + "\n")
    sys.stdout.flush()
    return 0


def _units():
    """{'end_to_end': {name: unit}, 'per_layer': {name: unit}} from
    BENCHMARK.json, which names the metrics a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}


def _save(full, ops, args):
    """Write the report (and, traced, the spans) under .work/results/;
    a traced run also reports its overhead against the latest untraced
    run of the same workload."""
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        untraced = [
            os.path.join(out, n) for n in os.listdir(out)
            if n.startswith(f"{args.workload}-seed") and n.endswith("-trace0.json")
        ]
        if untraced:
            with open(max(untraced, key=os.path.getmtime)) as fh:
                base = json.load(fh)["end_to_end"]["round_s"]
            full["tracing_overhead_round_s"] = full["end_to_end"]["round_s"] - base
        with open(stem + ".spans.jsonl", "w") as fh:
            for s in ops.tracer.spans:
                fh.write(json.dumps(s) + "\n")
    with open(stem + ".json", "w") as fh:
        json.dump(full, fh, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
