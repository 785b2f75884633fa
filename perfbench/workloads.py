"""The two workloads, driven from outside the engine through its public
calls: get_spark, build_sf_layout, __spark_entry__.queries(), the noop
write, Engine.sql, append_batch, DataFrame.inputFiles() and the
SparkContext statusTracker, read by job group."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import inputs, measure
from perfbench.measure import Tracer, census, duration, median

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
LAYOUT = os.path.join(WORK, "layout_sf0.01")
LAYOUT_META = LAYOUT + ".json"
PINS = os.path.join(WORK, "pins_sf0.01.json")

# The serving mix: bench.py BENCH_QUERIES that cover every exec family
# and the sidecar routes a query reads, small enough that a pass fits the
# run budget. Several sit near the median latency, so query_p50_s does
# not jump between two distant queries from run to run. The text index
# and the Engine.sql router are read by ingest_sql's statements instead
# (bm25_search_docs and json_field_counts cost a third of a pass).
SERVE_MIX = {
    "q1_pricing_summary": "tpch",
    "q3_shipping_priority": "tpch",
    "q14_promo_revenue": "tpch",
    "q18_large_orders": "tpch",
    "value_index_counts": "filter_agg",
    "cube_orders": "filter_agg",
    "string_funcs_parts": "filter_agg",
    "window_running_sum": "window",
    "group_topk_window": "window",
    "window_rank_family": "window",
    "time_bucket_agg": "events",
    "retention_cohorts": "events",
    "knn_cosine_topk": "knn",
    "knn_graph_cosine": "knn",
    "doc_text_stats": "text",
}
EXEC_FAMILIES = ("tpch", "filter_agg", "window", "events", "knn", "text")

# A run stops starting new passes or cycles after this many seconds.
RUN_BUDGET_S = 140.0
# Nominal seconds of one serve pass and of one ingest cycle with its
# untimed checks, on 4 cores. A run measures round(--seconds / nominal)
# of them (at least one), a count that does not depend on how fast the
# code under test is, so every commit reports the same tail percentile
# over the same number of samples.
PASS_S = 3.5
CYCLE_S = 19.0
# Serve's timed metrics come from this many of the fastest measured
# passes; see run_serve.
KEPT_PASSES = 2
# Seed-stream index of ingest's untimed warm-up statements; measured
# cycles use 0, 1, ...
WARM_ROUND = 1_000_000
# 1-row noop writes timed for session.floor_s.
FLOOR_SAMPLES = 7


def log(msg):
    print(f"# {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------- session


def start_session(nproc):
    """get_spark on local[nproc] with the confs bench.py applies at
    sf <= 0.1, plus bench.py's JVM warm-up; returns (spark, seconds)."""
    from columnar_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=nproc)
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_session(spark):
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def session_floor(spark):
    """Median 1-row noop write: the per-query scheduling floor."""
    df = spark.range(1)
    noop(df)
    times = []
    for _ in range(FLOOR_SAMPLES):
        t0 = time.perf_counter()
        noop(df)
        times.append(time.perf_counter() - t0)
    return median(times)


def job_census(sc, group):
    """(jobs, stages, tasks) of every Spark job run under `group`."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


# ---------------------------------------------------------------- corpus


def corpus_stamp():
    out = {}
    import pyarrow.parquet as pq

    for t in inputs.CORPUS_TABLES:
        p = os.path.join(inputs.CORPUS_DIR, f"{t}.parquet")
        out[t] = {"rows": pq.ParquetFile(p).metadata.num_rows, "bytes": os.path.getsize(p)}
    return out


def source_bytes():
    return sum(v["bytes"] for v in corpus_stamp().values())


def multiset_hash(cols, rows):
    from tools.check_correctness import _rows_to_multiset

    return hashlib.sha256("\n".join(_rows_to_multiset(cols, rows)).encode()).hexdigest()


def _oracle_pins(names):
    """Expected result of each named serve query, from the DuckDB oracle
    SQL its @_q carries, over the raw corpus; no-oracle queries get a row
    count pinned on first sight."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in inputs.CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs.CORPUS_DIR}/{t}.parquet'")
    pins = {}
    for name in names:
        if name in oracles:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            pins[name] = {"kind": "oracle", "rows": len(rows), "hash": multiset_hash(cols, rows)}
        else:
            pins[name] = {"kind": "rows", "rows": None}
    con.close()
    return pins


def is_prepared():
    if not (os.path.exists(LAYOUT_META) and os.path.exists(PINS)):
        return False
    with open(PINS) as fh:
        return set(SERVE_MIX) <= set(json.load(fh))


def prepare(spark):
    """Build, once per checkout, the sf0.01 layout (build_sf_layout from
    empty) and the oracle pins. Returns the layout build record."""
    from columnar_spark.writer import build_sf_layout

    os.makedirs(WORK, exist_ok=True)
    if not os.path.exists(LAYOUT_META):
        tmp = LAYOUT + ".building"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(LAYOUT, ignore_errors=True)
        log("building the sf0.01 layout from empty (once per checkout)")
        t0 = time.perf_counter()
        build_sf_layout(spark, inputs.CORPUS_DIR, tmp, force=True)
        build_s = time.perf_counter() - t0
        os.rename(tmp, LAYOUT)
        with open(LAYOUT_META, "w") as fh:
            json.dump({"build_s": build_s, "bytes": measure.layout_bytes(LAYOUT)}, fh)
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as fh:
            pins = json.load(fh)
    missing = [n for n in SERVE_MIX if n not in pins]
    if missing:
        pins.update(_oracle_pins(missing))
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
    with open(LAYOUT_META) as fh:
        return json.load(fh)


def private_layout(run_dir):
    """A private copy of the layout (mtimes kept, so every sidecar stays
    fresh); lazy first-use builds land in it, not in the cache."""
    dest = os.path.join(run_dir, "layout")
    shutil.copytree(LAYOUT, dest)
    return dest


# ----------------------------------------------------------------- serve


class Ops:
    """Per-operation records plus the layer counters a traced run adds."""

    def __init__(self, spark, traced):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = traced
        self.tracer = Tracer()
        self.n = 0
        self.attempted = 0
        self.failed = 0
        self.records = []
        self.layer = {
            "construct_jobs": 0, "exec_jobs": 0, "exec_stages": 0, "exec_tasks": 0,
            "sidecar_files": 0, "base_files": 0, "ops_sidecar": 0, "ops_no_base": 0,
            "read_ops": 0, "families": {}, "by_name": {},
        }

    def next_id(self):
        self.n += 1
        return self.n

    def group(self, op, phase):
        if self.traced:
            self.sc.setJobGroup(f"pb-{op}-{phase}", f"perfbench {phase}")

    def count_jobs(self, op, phase):
        if not self.traced:
            return
        jobs, stages, tasks = job_census(self.sc, f"pb-{op}-{phase}")
        if phase == "construct":
            self.layer["construct_jobs"] += jobs
        else:
            self.layer["exec_jobs"] += jobs
            self.layer["exec_stages"] += stages
            self.layer["exec_tasks"] += tasks

    def files(self, name, df):
        """inputFiles census of one built DataFrame (traced runs)."""
        if not self.traced:
            return
        c = census(df.inputFiles())
        L = self.layer
        L["read_ops"] += 1
        L["sidecar_files"] += c["sidecar"]
        L["base_files"] += c["base"]
        L["ops_sidecar"] += c["sidecar"] > 0
        L["ops_no_base"] += c["base"] == 0
        for f, k in c["families"].items():
            L["families"][f] = L["families"].get(f, 0) + k
        per = L["by_name"].setdefault(name, {})
        for f, k in [("base", c["base"])] + list(c["families"].items()):
            per[f] = per.get(f, 0) + k

    def plan(self, df):
        if self.traced:
            with self.tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()


def measured_rounds(seconds, nominal_s):
    return max(1, round(seconds / nominal_s))


def run_concurrent_op(spark, queries, layout, name):
    """Build `name` and run one noop write in the concurrent pass;
    False (logged) if it raised."""
    try:
        noop(queries[name](spark, layout))
        return True
    except Exception as ex:  # noqa: BLE001 - counted by the caller
        log(f"{name} (concurrent): FAILED {type(ex).__name__}: {ex}"[:300])
        return False


def serve_op(ops, queries, layout, name):
    """Build `name` fresh and execute it once; returns the record."""
    op = ops.next_id()
    rec = {"op": op, "kind": "query", "name": name, "family": SERVE_MIX[name], "ok": True}
    ops.attempted += 1
    tr = ops.tracer
    try:
        with tr.span("query", op=op) as root:
            ops.group(op, "construct")
            with tr.span("construct") as c:
                df = queries[name](ops.spark, layout)
            ops.count_jobs(op, "construct")
            ops.plan(df)
            ops.files(name, df)
            ops.group(op, "exec")
            with tr.span("exec") as e:
                noop(df)
            ops.count_jobs(op, "exec")
        rec.update(latency=duration(root), construct=duration(c), exec=duration(e))
    except Exception as ex:  # noqa: BLE001 - a failed op is counted, never fatal
        ops.failed += 1
        rec.update(ok=False, error=f"{type(ex).__name__}: {ex}"[:300])
        log(f"{name}: FAILED {rec['error'][:200]}")
    ops.records.append(rec)
    return rec


def check_serve(spark, queries, layout, pins, tracer):
    """Warm-up pass: build every query once, collect it and compare it
    with its pin. Returns ({name: ok}, construct seconds)."""
    ok = {}
    construct_s = 0.0
    changed = False
    for name in SERVE_MIX:
        try:
            with tracer.span("construct", op=f"warm-{name}") as c:
                df = queries[name](spark, layout)
            construct_s += duration(c)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:  # noqa: BLE001
            log(f"warm-up {name}: FAILED {type(ex).__name__}: {ex}"[:300])
            ok[name] = False
            continue
        pin = pins[name]
        if pin["kind"] == "oracle":
            ok[name] = len(rows) == pin["rows"] and multiset_hash(cols, rows) == pin["hash"]
        else:
            if pin["rows"] is None:
                pin["rows"] = len(rows)
                changed = True
            ok[name] = len(rows) == pin["rows"]
        if not ok[name]:
            log(f"{name}: WRONG ANSWER ({len(rows)} rows vs pinned {pin['rows']})")
    if changed:
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
    return ok, construct_s


def run_serve(spark, seed, seconds, traced, nproc, run_dir, report):
    import __spark_entry__ as entry

    queries = entry.queries()
    names = list(SERVE_MIX)
    ops = Ops(spark, traced)

    t0 = time.perf_counter()
    layout = private_layout(run_dir)
    with open(PINS) as fh:
        pins = json.load(fh)
    correct, warm_construct = check_serve(spark, queries, layout, pins, ops.tracer)
    setup_tail = time.perf_counter() - t0
    ops.tracer.spans.clear()

    passes = []
    t_measure = time.perf_counter()
    for p in range(measured_rounds(seconds, PASS_S)):
        if p and report["elapsed"]() + passes[-1] > RUN_BUDGET_S:
            log(f"run budget reached after {p} passes")
            break
        t_pass = time.perf_counter()
        for name in inputs.pass_order(names, seed, p):
            rec = serve_op(ops, queries, layout, name)
            rec["pass"] = p
            if rec["ok"] and not correct[name]:
                rec["ok"] = False
                ops.failed += 1
        passes.append(time.perf_counter() - t_pass)
    measured = time.perf_counter() - t_measure

    # Concurrent pass: one pass split over nproc client threads.
    order = inputs.pass_order(names, seed, len(passes))

    def one(name):
        return run_concurrent_op(spark, queries, layout, name) and correct[name]

    t_conc = time.perf_counter()
    with ThreadPoolExecutor(max_workers=nproc) as ex:
        done = list(ex.map(one, order))
    conc_s = time.perf_counter() - t_conc
    ops.attempted += len(done)
    ops.failed += done.count(False)

    # The timed metrics come from the KEPT_PASSES fastest passes, a
    # best-of-n as in bench.py: a pass that other tenants' load or the
    # still-warming JIT slowed is dropped, while a change that slows
    # every pass still shows in full.
    kept = measure.fastest(passes, KEPT_PASSES)
    lat = [r["latency"] for r in ops.records if r["ok"] and r["pass"] in kept]
    lat_all = [r["latency"] for r in ops.records if r["ok"]]
    pct, tail_v, n = measure.tail(lat)
    layout_b = measure.layout_bytes(layout)
    w = {
        "query_p50_s": median(lat),
        "query_tail_s": tail_v,
        "query_tail_pct": pct,
        "query_samples": n,
        "query_s": {q: median([r["latency"] for r in ops.records if r["ok"] and r["name"] == q])
                    for q in names},
        "mix_e2e_s": median([passes[i] for i in kept]),
        "all_passes": {
            "query_p50_s": median(lat_all),
            "query_tail": measure.tail(lat_all),
            "mix_e2e_s": median(passes),
        },
        "passes": len(passes),
        "passes_kept": sorted(kept),
        "pass_s": passes,
        "measured_s": measured,
        "concurrent_qps": sum(done) / conc_s,
        "layout_bytes_ratio": layout_b["total"] / source_bytes(),
        "wrong_queries": sorted(k for k, v in correct.items() if not v),
    }
    by_family = {f: 0.0 for f in EXEC_FAMILIES}
    for r in ops.records:
        if r["ok"]:
            by_family[r["family"]] += r["exec"]
    report["workload"] = w
    report["end_to_end"] = {
        "read_p50_s": w["query_p50_s"],
        "read_tail_s": w["query_tail_s"],
        "round_s": w["mix_e2e_s"],
        "stored_bytes_ratio": w["layout_bytes_ratio"],
    }
    report["setup_tail_s"] = setup_tail
    report["layer_extra"] = {
        "warm.construct_s": warm_construct,
        "exec.s.by_family": by_family,
    }
    report["layout_bytes"] = layout_b
    return ops


# ---------------------------------------------------------------- ingest


def check_statement(spark, layout, dom, kind, sql, extra, cols, rows):
    """Compare one statement's rows with an untimed reference: the same
    statement under stats.rewrites_disabled, an exact numpy scan for
    KNN, and the live bm25_search operator for MATCH."""
    if kind == "knn":
        q = dom.vector_of(extra)
        m = dom.vectors
        dist = 1.0 - (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
        exact = dict(zip(dom.vec_ids, dist))
        got = [(r[0], r[1]) for r in rows]
        want = sorted(dist)[: len(got)]
        return len(got) == 10 and all(
            abs(d - exact[i]) < 1e-6 and abs(d - w) < 1e-6
            for (i, d), w in zip(got, want)
        )
    if kind == "match":
        from columnar_spark.operators import fulltext as FT

        docs = spark.read.parquet(os.path.join(layout, "documents.parquet"))
        want = [(r.doc_id, r.score) for r in FT.bm25_search(docs, extra, k=10).collect()]
        return measure.rows_match(["id", "w"], [(r[0], r[1]) for r in rows], ["id", "w"], want)
    from columnar_spark.stats import rewrites_disabled
    from columnar_spark.table import Engine

    with rewrites_disabled(spark):
        ref = Engine(spark, layout).sql(sql)
        ref_rows = [tuple(r) for r in ref.collect()]
    return measure.rows_match(cols, rows, ref.columns, ref_rows)


def run_ingest(spark, seed, seconds, traced, nproc, run_dir, report):
    from columnar_spark.streaming.ingest import append_batch
    from columnar_spark.table import Engine
    from columnar_spark.writer import _LAYOUT_SPECS

    ops = Ops(spark, traced)
    tr = ops.tracer
    dom = inputs.Domains()

    def engine():
        e = Engine(spark, layout)
        e.register_views()
        return e

    def warm(eng, kind, family, sql, extra):
        try:
            with tr.span("sql_call") as c:
                df = eng.sql(sql)
            df.collect()
            return duration(c)
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, never fatal
            ops.attempted += 1
            ops.failed += 1
            log(f"warm-up statement {kind}: FAILED {type(ex).__name__}: {ex}"[:300])
            return 0.0

    def statement(eng, kind, family, sql, extra):
        op = ops.next_id()
        rec = {"op": op, "kind": "statement", "name": kind, "family": family, "ok": True}
        ops.attempted += 1
        try:
            with tr.span("statement", op=op) as root:
                ops.group(op, "construct")
                with tr.span("sql_call") as c:
                    df = eng.sql(sql)
                ops.count_jobs(op, "construct")
                ops.plan(df)
                ops.files(kind, df)
                ops.group(op, "exec")
                with tr.span("collect") as e:
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                ops.count_jobs(op, "exec")
            rec.update(latency=duration(root), construct=duration(c), exec=duration(e))
            rec["ok"] = check_statement(spark, layout, dom, kind, sql, extra, cols, rows)
            if not rec["ok"]:
                log(f"statement {kind}: WRONG ANSWER for {sql[:120]}")
        except Exception as ex:  # noqa: BLE001
            rec.update(ok=False, error=f"{type(ex).__name__}: {ex}"[:300])
            log(f"statement {kind}: FAILED {rec['error'][:200]}")
        ops.failed += not rec["ok"]
        ops.records.append(rec)

    # Warm-up: one untimed set of statements, seeded apart from the
    # measured ones, so the reads after the append are not first calls.
    t0 = time.perf_counter()
    layout = private_layout(run_dir)
    eng = engine()
    warm_construct = sum(warm(eng, *st) for st in inputs.statements(seed, WARM_ROUND, dom))
    setup_tail = time.perf_counter() - t0
    tr.spans.clear()

    events = os.path.join(layout, "events.parquet")
    appends = []
    cycles = []
    bytes_before = measure.layout_bytes(layout)
    batch_bytes = 0
    t_measure = time.perf_counter()
    for c in range(measured_rounds(seconds, CYCLE_S)):
        if c and report["elapsed"]() + cycle_wall > RUN_BUDGET_S:
            log(f"run budget reached after {c} cycles")
            break
        t_cycle = time.perf_counter()
        bpath = os.path.join(run_dir, f"events-batch-{c}.parquet")
        nrows = inputs.write_events_batch(seed, c, bpath)
        batch_bytes += os.path.getsize(bpath)
        before_rows = _table_rows(events)
        before_b = measure.layout_bytes(layout)
        op = ops.next_id()
        ops.attempted += 1
        rec = {"op": op, "kind": "append", "name": "events", "ok": True, "rows": nrows}
        try:
            with tr.span("append_op", op=op) as root:
                with tr.span("append"):
                    append_batch(spark.read.parquet(bpath), events, _LAYOUT_SPECS["events"], batch_id=c + 1)
            rec["latency"] = duration(root)
            rec["ok"] = _table_rows(events) == before_rows + nrows
            if not rec["ok"]:
                log(f"append: events did not grow by {nrows} rows")
        except Exception as ex:  # noqa: BLE001
            rec.update(ok=False, error=f"{type(ex).__name__}: {ex}"[:300])
            log(f"append: FAILED {rec['error'][:200]}")
        ops.failed += not rec["ok"]
        after_b = measure.layout_bytes(layout)
        rec["bytes"] = {f: after_b[f] - before_b[f] for f in measure.BYTE_FAMILIES}
        ops.records.append(rec)
        appends.append(rec)
        eng = engine()
        first = len(ops.records)
        for st in inputs.statements(seed, c, dom):
            statement(eng, *st)
        # what the caller pays for the cycle: the append and the reads,
        # not the untimed checks
        cycles.append(sum(r.get("latency", 0.0) for r in [rec] + ops.records[first:]))
        cycle_wall = time.perf_counter() - t_cycle
    measured = time.perf_counter() - t_measure

    ok_appends = [a for a in appends if a["ok"]]
    append_total = sum(a["latency"] for a in ok_appends)
    sql_lat = [r["latency"] for r in ops.records if r["kind"] == "statement" and r["ok"]]
    pct, tail_v, n = measure.tail(sql_lat)
    bytes_after = measure.layout_bytes(layout)
    w = {
        "append_p50_s": median([a["latency"] for a in ok_appends]),
        "append_rows_per_s": sum(a["rows"] for a in ok_appends) / append_total if append_total else None,
        "write_amp": (bytes_after["total"] - bytes_before["total"]) / batch_bytes,
        "sql_p50_s": median(sql_lat),
        "sql_tail_s": tail_v,
        "sql_tail_pct": pct,
        "sql_samples": n,
        "append_samples": len(ok_appends),
        "cycle_p50_s": median(cycles),
        "cycles": len(cycles),
        "measured_s": measured,
    }
    by_family = {f: 0.0 for f in EXEC_FAMILIES}
    for r in ops.records:
        if r["kind"] == "statement" and r["ok"]:
            by_family[r["family"]] += r["exec"]
    report["workload"] = w
    report["end_to_end"] = {
        "read_p50_s": w["sql_p50_s"],
        "read_tail_s": w["sql_tail_s"],
        "round_s": w["cycle_p50_s"],
        "stored_bytes_ratio": w["write_amp"],
    }
    report["setup_tail_s"] = setup_tail
    report["layer_extra"] = {
        "warm.construct_s": warm_construct,
        "exec.s.by_family": by_family,
        "router.sql_call_s": sum(r.get("construct", 0.0) for r in ops.records if r["kind"] == "statement"),
        "append.s": {"events": append_total},
        "append.bytes": {f: sum(a["bytes"][f] for a in appends) for f in measure.BYTE_FAMILIES},
    }
    report["layout_bytes"] = bytes_after
    return ops


def _table_rows(path):
    import pyarrow.parquet as pq

    total = 0
    for root, _d, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                total += pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
    return total


WORKLOADS = {"serve_sf001": run_serve, "ingest_sql": run_ingest}
