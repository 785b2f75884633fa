"""Seeded inputs: query order, append batches and ad-hoc statements.

Everything here is a pure function of (seed, round) and the committed
corpus, so the same seed always yields the same order, the same batch
bytes and the same statements (perfbench/tests/test_inputs.py).
"""

from __future__ import annotations

import datetime
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS_DIR = os.path.join(HERE, "corpus", "sf0.01")
CORPUS_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Rows per events append batch. events carries the stats, value-index,
# JSON-field and cohort sidecars that append_batch maintains, and the
# rollups its reads route to.
BATCH_ROWS = 2000

# Same split rule as columnar_spark.operators.fulltext.TOKEN_SPLIT_RE.
_TOKEN_SPLIT = re.compile("[^a-z0-9]+")

# Stream ids keep the per-purpose generators independent of each other.
_ORDER, _BATCH, _STATEMENT = 1, 2, 3


def rng(seed, stream, index=0):
    return np.random.default_rng([int(seed), stream, int(index)])


def pass_order(names, seed, pass_no):
    """The query order of one pass: a seeded permutation of `names`."""
    perm = rng(seed, _ORDER, pass_no).permutation(len(names))
    return [names[i] for i in perm]


def corpus_table(table):
    return pq.read_table(os.path.join(CORPUS_DIR, f"{table}.parquet"))


def _replace(tb, col, values):
    i = tb.schema.get_field_index(col)
    return tb.set_column(i, tb.schema.field(i), pa.array(values, type=tb.schema.field(i).type))


def events_batch(seed, round_no):
    """Events for append round `round_no`: corpus rows sampled by the
    seed, with keys shifted past every key the corpus and earlier rounds
    use. They keep their users, get fresh event_ids, and move forward by
    whole corpus time spans, so every round brings new days of activity
    for the rollups and the cohort matrix to fold in."""
    src = corpus_table("events")
    n = BATCH_ROWS
    idx = np.sort(rng(seed, _BATCH, round_no).choice(src.num_rows, size=n, replace=False))
    tb = src.take(pa.array(idx))
    base = pc.max(src["event_id"]).as_py() + 1 + round_no * n
    tb = _replace(tb, "event_id", np.arange(base, base + n))
    lo, hi = (v.as_py().date() for v in (pc.min(src["ts"]), pc.max(src["ts"])))
    shift = datetime.timedelta(days=(hi - lo).days + 1) * (round_no + 1)
    return _replace(tb, "ts", [t + shift for t in tb["ts"].to_pylist()])


def write_events_batch(seed, round_no, path):
    tb = events_batch(seed, round_no)
    pq.write_table(tb, path)
    return tb.num_rows


class Domains:
    """Value domains the statements draw from, read from the corpus."""

    def __init__(self):
        ev = corpus_table("events")
        self.event_types = sorted(set(ev["event_type"].to_pylist()))
        li = corpus_table("lineitem")
        self.ship_days = sorted({d.date().isoformat() for d in li["l_shipdate"].to_pylist()})
        od = corpus_table("orders")
        self.order_days = sorted({d.date().isoformat() for d in od["o_orderdate"].to_pylist()})
        emb = corpus_table("embeddings")
        self.vec_ids = emb["vec_id"].to_pylist()
        self.vectors = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
        docs = corpus_table("documents")
        df = {}
        for text in docs["text"].to_pylist():
            for t in {t for t in _TOKEN_SPLIT.split((text or "").lower()) if t}:
                df[t] = df.get(t, 0) + 1
        ndocs = docs.num_rows
        # common terms only (the corpus vocabulary is ~30 words, each in
        # ~75% of documents): postings of similar length, so the seed
        # changes the terms but hardly the cost
        self.terms = sorted(t for t, c in df.items() if c >= 0.5 * ndocs)

    def vector_of(self, vec_id):
        return self.vectors[self.vec_ids.index(vec_id)]


def statements(seed, round_no, dom):
    """The ad-hoc Engine.sql statements read after append round
    `round_no`, one per route: (kind, family, sql, extra). The seed picks
    literals, never shapes, so every seed reads the same routes."""
    r = rng(seed, _STATEMENT, round_no)

    def pick(seq):
        return seq[int(r.integers(len(seq)))]

    et = pick(dom.event_types)
    ship_cut = pick(dom.ship_days[len(dom.ship_days) // 2:])
    order_from = pick(dom.order_days[: len(dom.order_days) // 2])
    vec_id = pick(dom.vec_ids)
    vec = ", ".join(repr(float(v)) for v in dom.vector_of(vec_id))
    terms = " ".join(sorted({pick(dom.terms), pick(dom.terms)}))
    return [
        ("vidx_count", "filter_agg",
         f"SELECT COUNT(*) AS n FROM events WHERE event_type = '{et}'", None),
        ("vidx_group", "filter_agg",
         "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type", None),
        ("json_group", "filter_agg",
         "SELECT get_json_object(props, '$.k') AS k, COUNT(*) AS cnt FROM events "
         "WHERE get_json_object(props, '$.k') IS NOT NULL GROUP BY 1", None),
        ("rollup", "events",
         "SELECT date_trunc('day', ts) AS day, event_type, COUNT(*) AS n "
         "FROM events GROUP BY 1, 2", None),
        ("q1_shape", "tpch",
         "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
         "SUM(l_extendedprice) AS sum_base, COUNT(*) AS n FROM lineitem "
         f"WHERE l_shipdate <= DATE '{ship_cut}' "
         "GROUP BY l_returnflag, l_linestatus", None),
        ("join_chain", "tpch",
         "SELECT o_orderpriority, COUNT(*) AS n, SUM(l_quantity) AS qty "
         "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
         f"WHERE o_orderdate >= DATE '{order_from}' GROUP BY o_orderpriority", None),
        ("knn", "knn",
         f"SELECT vec_id, knn_dist() FROM embeddings WHERE KNN(embedding, 10, ({vec}))",
         vec_id),
        ("match", "text",
         f"SELECT doc_id, WEIGHT() FROM documents WHERE MATCH('{terms}') LIMIT 10",
         terms),
    ]
