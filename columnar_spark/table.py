"""Engine facade — the MCL host contract as a user-facing API.

The reference's consumer (the Manticore daemon) drives it through a
narrow sequence (SURVEY §3.2): create reader -> estimate / early-reject
-> build filter iterators -> fetch projected columns -> optional KNN
iterator. `Engine` exposes the same contract Spark-first:

    eng = Engine(spark, "/root/testdata/sf0.01")
    df  = eng.scan("lineitem", filters=[...], select=[...], limit=100)
    n   = eng.count("orders", filters=[...])          # E6 fast path aware
    top = eng.knn("embeddings", "embedding", qvec, k=10)
    rep = eng.explain(df)                             # access-path report

Every method returns a lazy DataFrame (or a plain int for counts); the
planner work — pushdown, pruning, broadcast, top-k — is Catalyst's, and
`explain` surfaces what it chose (the AddDesc analog).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession

from columnar_spark.catalog import load_table, table_path
from columnar_spark.filters import Filter, apply_filters, compile_filters
from columnar_spark.operators.knn import knn_topk, knn_topk_ivf, train_centroids
from columnar_spark.plans.explain import AccessPathReport, access_path_report
from columnar_spark.session import tune
from columnar_spark.stats import (
    _local_relation,
    build_stats_manifest,
    build_value_index,
    covered_count,
    estimate_selectivity,
    stats_can_match,
)


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = tune(spark)
        self.sf_dir = sf_dir
        self._tables: dict[str, DataFrame] = {}
        self._value_indexes: dict[tuple[str, str], DataFrame] = {}
        self._views: set[str] = set()
        self._manifests: dict[str, dict[str, dict]] = {}
        self._knn_indexes: dict[tuple[str, str], list[list[float]]] = {}
        # Structured MV-router skip telemetry (r8 verdict item 7): when a
        # query REFERENCES tables covered by a declared projection but
        # the router refuses to serve it, the reason is recorded here
        # (bounded) and logged — so a user can discover WHY a query
        # missed the MV instead of silently paying the live join.
        self.mv_router_skips: list[dict] = []

    # ------------------------------------------------------------ catalog

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            import os as _os

            if not _os.path.exists(table_path(self.sf_dir, name)):
                pf = self._projection_frame(name)
                if pf is not None:
                    # do NOT cache: freshness is decided per call, so a
                    # projection that goes stale mid-session transparently
                    # flips to the live join on the next resolution
                    return pf
            self._tables[name] = load_table(self.spark, self.sf_dir, name)
        return self._tables[name]

    def _projection_frame(self, name: str) -> "DataFrame | None":
        """Resolve `name` as a join projection on some table in this
        sf_dir: the stored pre-joined sidecar when FRESH, else the live
        defining join (always correct) — view-with-materialization
        semantics, so `Engine.table('lineorder')` and SQL `FROM
        lineorder` work on any layout."""
        from columnar_spark.projections import (
            live_join_frame,
            load_join_projection,
            projections_on,
        )

        import glob as _glob

        for p in _glob.glob(f"{self.sf_dir}/*.parquet"):
            if name in projections_on(p):
                df = load_join_projection(self.spark, p, name)
                if df is not None:
                    return df
                return live_join_frame(self.spark, p, name)
        return None

    def _projection_specs(self) -> "dict[str, tuple[str, str, str, str]]":
        """{projection_name: (fact_table, dim_table, fact_key, dim_key)}
        for every projection in this sf_dir — metadata reads only."""
        import glob as _glob
        import os as _os

        from columnar_spark.projections import projection_meta, projections_on

        out: dict[str, tuple[str, str, str, str]] = {}
        for p in _glob.glob(f"{self.sf_dir}/*.parquet"):
            fact = _os.path.basename(p)[: -len(".parquet")]
            for pname in projections_on(p):
                meta = projection_meta(p, pname)
                if meta is None:
                    continue
                dim = _os.path.basename(meta["dim"])
                if dim.endswith(".parquet"):
                    dim = dim[: -len(".parquet")]
                out[pname] = (fact, dim, meta["fact_key"], meta["dim_key"])
        return out

    def _mv_skip(self, query: str, reason: str) -> None:
        """Record a router refusal, but only when the query actually
        references BOTH tables of a declared projection — a refusal on a
        query the projection could never serve is noise, not telemetry.
        Bounded ring so a long session cannot grow it unboundedly."""
        import logging
        import re as _re

        try:
            specs = self._projection_specs()
        except Exception:
            return
        masked = _re.sub(r"'(?:[^']|'')*'", "", query).lower()
        for pname, (fact, dim, _fk, _dk) in specs.items():
            if _re.search(rf"\b{_re.escape(fact)}\b", masked) and _re.search(
                rf"\b{_re.escape(dim)}\b", masked
            ):
                self.mv_router_skips.append(
                    {"projection": pname, "reason": reason, "query": query[:300]}
                )
                if len(self.mv_router_skips) > 200:
                    del self.mv_router_skips[:100]
                logging.getLogger("columnar_spark.mv_router").info(
                    "projection %s skipped: %s", pname, reason
                )
                return

    @staticmethod
    def _parse_agg_projection_clauses(rest: str) -> dict:
        """CREATE AGGREGATE PROJECTION clause parser: JOIN...CARRY(...)
        enrichments, KEYS(...), MEASURES(...), CLUSTER BY(...). Commas
        and closing parens are tracked at paren depth 0 so measure
        expressions may nest freely (SUM(CAST(FLOOR(...)))))."""
        import re as _re

        def _take_parens(s: str, i: int) -> "tuple[str, int]":
            # s[i] must be '('; returns (inside, index after ')')
            assert s[i] == "("
            depth, j = 0, i
            while j < len(s):
                if s[j] == "(":
                    depth += 1
                elif s[j] == ")":
                    depth -= 1
                    if depth == 0:
                        return s[i + 1 : j], j + 1
                j += 1
            raise ValueError("unbalanced parens in AGGREGATE PROJECTION DDL")

        def _split_top(s: str) -> "list[str]":
            out, depth, cur = [], 0, []
            for ch in s:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                if ch == "," and depth == 0:
                    out.append("".join(cur).strip())
                    cur = []
                else:
                    cur.append(ch)
            tail = "".join(cur).strip()
            if tail:
                out.append(tail)
            return out

        pos = 0
        enrich = []
        jre = _re.compile(
            r"\s*JOIN\s+(\w+)\s+ON\s+(\w+)\s*=\s*(\w+)\s+CARRY\s*", _re.IGNORECASE
        )
        while True:
            mj = jre.match(rest, pos)
            if mj is None:
                break
            inside, pos = _take_parens(rest, mj.end())
            cols = {}
            for item in _split_top(inside):
                ma = _re.match(r"(\w+)(?:\s+AS\s+(\w+))?$", item, _re.IGNORECASE)
                if ma is None:
                    raise ValueError(f"bad CARRY item {item!r}")
                cols[ma.group(1)] = ma.group(2) or ma.group(1)
            enrich.append(
                {"table": f"{mj.group(1)}.parquet", "left_on": mj.group(2),
                 "right_on": mj.group(3), "cols": cols}
            )
        mk = _re.compile(r"\s*KEYS\s*", _re.IGNORECASE).match(rest, pos)
        if mk is None or rest[mk.end()] != "(":
            raise ValueError("AGGREGATE PROJECTION needs a KEYS (...) clause")
        inside, pos = _take_parens(rest, mk.end())
        keys = {}
        for item in _split_top(inside):
            ma = _re.match(r"(.*?)\s+AS\s+(\w+)$", item, _re.IGNORECASE | _re.DOTALL)
            if ma:
                keys[ma.group(2)] = ma.group(1).strip()
            elif _re.match(r"^\w+$", item):
                keys[item] = item
            else:
                raise ValueError(f"key expression {item!r} needs an AS name")
        mm = _re.compile(r"\s*MEASURES\s*", _re.IGNORECASE).match(rest, pos)
        if mm is None or rest[mm.end()] != "(":
            raise ValueError("AGGREGATE PROJECTION needs a MEASURES (...) clause")
        inside, pos = _take_parens(rest, mm.end())
        measures = []
        for item in _split_top(inside):
            ma = _re.match(
                r"(COUNT|SUM|MIN|MAX|PAIRS)\s*\((.*)\)\s+AS\s+(\w+)$",
                item, _re.IGNORECASE | _re.DOTALL,
            )
            if ma is None:
                raise ValueError(f"bad measure {item!r}")
            kind, args, name = ma.group(1).lower(), ma.group(2).strip(), ma.group(3)
            if kind == "count":
                if args != "*":
                    raise ValueError("only COUNT(*) is a declared measure")
                measures.append({"name": name, "agg": "count"})
            elif kind == "pairs":
                parts = _split_top(args)
                if len(parts) != 2:
                    raise ValueError("PAIRS takes exactly (key_expr, value_expr)")
                measures.append({"name": name, "agg": "pairs",
                                 "expr": parts[0], "expr2": parts[1]})
            else:
                measures.append({"name": name, "agg": kind, "expr": args})
        cluster: "tuple[str, ...]" = ()
        mc = _re.compile(r"\s*CLUSTER\s+BY\s*", _re.IGNORECASE).match(rest, pos)
        if mc is not None and mc.end() < len(rest) and rest[mc.end()] == "(":
            inside, pos = _take_parens(rest, mc.end())
            cluster = tuple(c.strip() for c in inside.split(",") if c.strip())
        if rest[pos:].strip():
            raise ValueError(
                f"unparsed AGGREGATE PROJECTION tail: {rest[pos:].strip()!r}"
            )
        return dict(keys=keys, measures=measures, enrich=tuple(enrich),
                    cluster_by=cluster)

    def _refresh_projection_views(self, query: str) -> None:
        """Re-resolve any projection view the query references: a Spark
        temp view binds its file listing at registration, so both
        framework appends (new sidecar files) and staleness (live-join
        fallback) require re-registration at use. Metadata-only when
        nothing matches."""
        import re as _re

        for pname in self._projection_specs():
            if pname in self._views and _re.search(
                rf"\b{_re.escape(pname)}\b", query, _re.IGNORECASE
            ):
                df = self._projection_frame(pname)
                if df is not None:
                    df.createOrReplaceTempView(pname)

    def _compact_companion(self, base: str, suffix: str) -> bool:
        """Coalesce-rewrite a row-local companion sidecar (.textstats /
        .dedupsig) fragmented by per-batch appends: content is
        row-identical, so the meta and table-signature files carry over
        unchanged. Rewrite-then-swap like every compaction here."""
        import os
        import shutil

        from columnar_spark.writer import ROWS_PER_SPLIT

        p = base.rstrip("/") + suffix
        # crash recovery first: a previous compaction that died between
        # its two renames leaves p missing with p.old intact (answers
        # stayed correct — loaders fall back to the live path), plus
        # orphan .old/.compact.tmp dirs no later run would sweep because
        # the isdir(p) early-return below fires first
        old, tmp = p + ".old", p + ".compact.tmp"
        if not os.path.isdir(p) and os.path.isdir(old):
            os.rename(old, p)
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(p):
            shutil.rmtree(old, ignore_errors=True)
        if not os.path.isdir(p):
            return False
        files = [f for f in os.listdir(p) if f.endswith(".parquet")]
        df = self.spark.read.parquet(p)
        n = df.count()
        target = max(1, n // ROWS_PER_SPLIT + (1 if n % ROWS_PER_SPLIT else 0))
        if len(files) <= max(target, 4):
            return False
        df.repartition(target).write.mode("overwrite").parquet(tmp)
        for extra in ("_meta.json", "_table_sig.json"):
            src = os.path.join(p, extra)
            if os.path.isfile(src):
                shutil.copy(src, os.path.join(tmp, extra))
        os.rename(p, old)
        os.rename(tmp, p)
        shutil.rmtree(old)
        return True

    def _try_agg_projection_route(self, query: str) -> "DataFrame | None":
        """Serve a covered filter+GROUP-BY+associative-measure query from
        a declared .aggproj sidecar (aggprojections.py). Matching is
        declaration-driven (plans/count_rewrite.parse_agg_proj_query /
        match_agg_projection); among several covering projections the
        coarsest grain (fewest keys) wins — it reads the fewest partial
        rows. A stale artifact serves the live defining aggregation
        instead, which uses the same fixed-point measure algebra and is
        therefore bit-identical to the routed result (the sidecar
        contract every artifact here carries)."""
        import os as _os

        from columnar_spark.plans.count_rewrite import (
            agg_proj_route_df,
            match_agg_projection,
            parse_agg_proj_query,
        )

        q = parse_agg_proj_query(query)
        if q is None:
            return None
        fact_path = f"{self.sf_dir}/{q.table}.parquet"
        if not _os.path.exists(fact_path):
            return None
        from columnar_spark.aggprojections import (
            agg_projection_meta,
            agg_projections_on,
            live_agg_frame,
            load_agg_projection,
        )

        candidates = []
        for name in agg_projections_on(fact_path):
            meta = agg_projection_meta(fact_path, name)
            if meta is None:
                continue
            plan = match_agg_projection(q, meta)
            if plan is not None:
                candidates.append((len(meta["keys"]), name, plan))
        if not candidates:
            return None
        candidates.sort()
        _, name, plan = candidates[0]
        partials = load_agg_projection(self.spark, fact_path, name)
        if partials is None:
            partials = live_agg_frame(self.spark, fact_path, name)
            if partials is None:
                return None
        return agg_proj_route_df(partials, plan, q)

    def _try_join_mv_route(self, query: str) -> "DataFrame | None":
        """Rewrite an inner-equi-join chain (`FROM t0 [a0] JOIN t1 [a1]
        ON k=k ...`, aliases and qualified keys allowed, up to 4 joins)
        onto matching join projections: any chain pair whose (tables,
        keys) match a declared projection collapses onto the pre-joined
        sidecar; the remaining joins run live against it. None when
        nothing matches or the rewritten query fails analysis (a
        referenced column the projection doesn't carry), in which case
        the caller runs the original plan.

        Conservative by construction:
        - string literals are masked with equal-length placeholders
          before any matching (a JOIN inside a literal must never be
          counted or rewritten — rewriting one would silently change
          DATA, the one failure mode analysis cannot catch);
        - CTEs, subqueries, outer/cross joins, and `*` select lists are
          left alone entirely (`SELECT *` over the projection would
          ANALYZE fine yet return the projection's pruned/reordered
          column set — analysis cannot catch that either);
        - when the original query itself analyzes, the rewritten plan's
          column names must match it exactly or we fall back."""
        import re as _re

        # mask '...' literals (with '' escapes) position-preservingly so
        # regex spans computed on the mask apply to the original text
        masked = _re.sub(r"'(?:[^']|'')*'", lambda mm: "\x00" * len(mm.group(0)), query)
        if _re.search(r"\bWITH\b", masked, _re.IGNORECASE):
            self._mv_skip(query, "CTE present: a CTE could shadow a table name")
            return None
        if _re.search(r"\b(?:LEFT|RIGHT|FULL|CROSS|SEMI|ANTI)\s+(?:OUTER\s+)?JOIN\b",
                      masked, _re.IGNORECASE):
            self._mv_skip(
                query,
                "non-inner join form: projections store INNER join rows "
                "(a LEFT fact->dim join is servable only under an "
                "FK-completeness proof this router does not attempt)",
            )
            return None
        njoin = len(_re.findall(r"\bJOIN\b", masked, _re.IGNORECASE))
        if not 1 <= njoin <= 4:
            return None
        if len(_re.findall(r"\bFROM\b", masked, _re.IGNORECASE)) != 1:
            return None  # subqueries: shadowing/correlation out of scope
        mfrom = _re.search(r"\bFROM\b", masked, _re.IGNORECASE)
        # a star SELECT ITEM (`*` / `t.*` at list start or after a comma)
        # expands to the source's column set, and the projection's is
        # pruned + reordered — analysis can't catch that, so bail; `*`
        # inside parens (COUNT(*)) or arithmetic (a * b) is fine
        if _re.search(
            r"(?:\bSELECT\s+(?:DISTINCT\s+)?|,\s*)(?:\w+\s*\.\s*)?\*",
            masked[: mfrom.start()], _re.IGNORECASE,
        ):
            self._mv_skip(query, "star select item: the projection's "
                          "pruned/reordered column set would change the "
                          "expansion")
            return None
        _KW = (r"(?!(?:JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ON|WHERE|GROUP|ORDER"
               r"|LIMIT|HAVING|UNION|EXCEPT|INTERSECT|AS)\b)")
        m0 = _re.match(
            rf"\bFROM\s+(\w+)(?:\s+(?:AS\s+)?{_KW}(\w+))?",
            masked[mfrom.start():], _re.IGNORECASE,
        )
        if m0 is None:
            return None
        join_re = _re.compile(
            rf"\s+(?:INNER\s+)?JOIN\s+(\w+)(?:\s+(?:AS\s+)?{_KW}(\w+))?"
            r"\s+ON\s+((?:\w+\s*\.\s*)?\w+)\s*=\s*((?:\w+\s*\.\s*)?\w+)",
            _re.IGNORECASE,
        )
        # parse the chain: elements[(table, alias)], joins[(elem_idx,
        # lhs, rhs)] — aliases default to the table name
        pos = mfrom.start() + m0.end()
        elems = [(m0.group(1).lower(), (m0.group(2) or m0.group(1)).lower())]
        conds: list[tuple[int, str, str]] = []
        for _ in range(njoin):
            mj = join_re.match(masked, pos)
            if mj is None:
                return None  # chain shape we don't understand -> leave alone
            elems.append((mj.group(1).lower(), (mj.group(2) or mj.group(1)).lower()))
            conds.append((len(elems) - 1, mj.group(3), mj.group(4)))
            pos = mj.end()
            # an ON clause that continues past the first equality (AND/OR
            # conjuncts) would be left OUTSIDE the rebuilt chain span and
            # re-spliced verbatim after it — for OR that silently changes
            # semantics (the disjunct attaches to a different join with
            # flipped precedence). Bail on both: AND is relocatable for
            # inner joins but conservative refusal matches the router's
            # posture everywhere else.
            if _re.match(r"\s*(?:AND|OR)\b", masked[pos:], _re.IGNORECASE):
                self._mv_skip(query, "multi-predicate ON clause: only "
                              "single-equality joins are relocatable")
                return None
        chain_span = (mfrom.start(), pos)
        alias2elem = {}
        for i, (t, a) in enumerate(elems):
            if a in alias2elem or (a != t and t in alias2elem):
                return None  # duplicated alias/table: out of scope
            alias2elem[a] = i
            alias2elem.setdefault(t, i)

        def _resolve(ref: str, fact: str, fk: str, dim: str, dk: str):
            """(elem_idx, colname) a key reference binds to, given the
            candidate projection — None when it binds to neither key."""
            q, _, c = _re.sub(r"\s+", "", ref).rpartition(".")
            c = c.lower()
            if q:
                i = alias2elem.get(q.lower())
                if i is None:
                    return None
                t = elems[i][0]
                if t == fact and c == fk:
                    return (i, "fact")
                if t == dim and c == dk:
                    return (i, "dim")
                return None
            # unqualified: bind by declared-key ownership (column names
            # are unambiguous across the pair by schema)
            if c == fk and fact in (t for t, _ in elems):
                return (alias2elem[fact], "fact")
            if c == dk and dim in (t for t, _ in elems):
                return (alias2elem[dim], "dim")
            return None

        # greedy collapse: for each join condition, the first declared
        # projection whose (fact, dim, fk, dk) it binds consumes that
        # condition and both elements; later conditions may collapse a
        # second disjoint pair
        specs = self._projection_specs()
        consumed_elems: set[int] = set()
        collapsed: list[tuple[str, set[int]]] = []  # (pname, member elems)
        live_conds: list[tuple[int, str, str]] = []
        for cond in conds:
            ei, lhs, rhs = cond
            hit = None
            for pname, (fact, dim, fk, dk) in specs.items():
                a = _resolve(lhs, fact.lower(), fk.lower(), dim.lower(), dk.lower())
                b = _resolve(rhs, fact.lower(), fk.lower(), dim.lower(), dk.lower())
                if a is None or b is None or a[1] == b[1]:
                    continue
                pair = {a[0], b[0]}
                if ei not in pair or pair & consumed_elems or len(pair) != 2:
                    continue
                hit = (pname, pair)
                break
            if hit is None:
                live_conds.append(cond)
            else:
                consumed_elems |= hit[1]
                collapsed.append((hit[0], hit[1]))
        if not collapsed:
            return None
        # load + freshness-resolve every matched projection up front
        for pname, _members in collapsed:
            df = self._projection_frame(pname)
            if df is None:
                return None
            df.createOrReplaceTempView(pname)
            self._views.add(pname)

        # node list in original element order: collapsed pairs appear at
        # their earliest member's position under the projection name
        alias_of_elem = {i: a for i, (_, a) in enumerate(elems)}
        node_of_elem: dict[int, int] = {}
        nodes: list[str] = []
        for i in range(len(elems)):
            if i in node_of_elem:
                continue
            for pname, members in collapsed:
                if i in members:
                    nodes.append(pname)
                    for j in members:
                        node_of_elem[j] = len(nodes) - 1
                    break
            else:
                nodes.append(f"{elems[i][0]}"
                             + (f" {elems[i][1]}" if elems[i][1] != elems[i][0] else ""))
                node_of_elem[i] = len(nodes) - 1
        # rewrite collapsed aliases' qualifiers to the projection name
        pname_of_alias = {
            alias_of_elem[i]: pname
            for pname, members in collapsed for i in members
        }
        pname_of_alias.update({
            elems[i][0]: pname
            for pname, members in collapsed for i in members
        })

        def _requal(ref: str) -> str:
            q, _, c = _re.sub(r"\s+", "", ref).rpartition(".")
            if q and q.lower() in pname_of_alias:
                return f"{pname_of_alias[q.lower()]}.{c}"
            return _re.sub(r"\s+", "", ref)

        # attach each surviving condition to the LATER node it references;
        # every non-first node needs >=1 condition (no implicit cross join)
        node_conds: dict[int, list[str]] = {}
        for ei, lhs, rhs in live_conds:
            refs = []
            for ref in (lhs, rhs):
                q, _, c = _re.sub(r"\s+", "", ref).rpartition(".")
                if q and q.lower() in alias2elem:
                    refs.append(node_of_elem[alias2elem[q.lower()]])
            refs.append(node_of_elem[ei])
            node_conds.setdefault(max(refs), []).append(
                f"{_requal(lhs)} = {_requal(rhs)}"
            )
        parts = [f"FROM {nodes[0]}"]
        for k in range(1, len(nodes)):
            cs = node_conds.get(k)
            if not cs:
                return None  # a node lost its only condition -> cross join
            parts.append(f"JOIN {nodes[k]} ON " + " AND ".join(cs))
        new_from = " ".join(parts)

        # splice: qualifier replacements outside the chain span + the
        # chain span itself, rebuilt right-to-left so spans stay valid
        edits: list[tuple[int, int, str]] = [(chain_span[0], chain_span[1], new_from)]
        qual_re = _re.compile(
            r"\b(" + "|".join(_re.escape(a) for a in pname_of_alias) + r")\s*\.\s*",
            _re.IGNORECASE,
        )
        for mq in qual_re.finditer(masked):
            if not (chain_span[0] <= mq.start() < chain_span[1]):
                edits.append((mq.start(), mq.end(),
                              f"{pname_of_alias[mq.group(1).lower()]}."))
        rewritten = query
        for s, e, txt in sorted(edits, reverse=True):
            rewritten = rewritten[:s] + txt + rewritten[e:]
        try:
            orig_cols = self.spark.sql(query).columns
        except Exception:
            orig_cols = None  # base views unregistered: the `*` guard
            # above still protects the only analysis-blind failure mode
        try:
            out = self.spark.sql(rewritten)
        except Exception:
            self._mv_skip(query, "rewritten plan failed analysis: the "
                          "query references a column the projection does "
                          "not carry")
            return None  # column not carried -> original plan
        if orig_cols is not None and out.columns != orig_cols:
            self._mv_skip(query, "rewritten column set differs from the "
                          "original plan's")
            return None
        return out

    def _invalidate_table_caches(self, name: str) -> None:
        """Drop cached frames after DML rewrote the table directory —
        a cached DataFrame may pin the pre-swap file listing, and
        adopted value indexes were rebuilt (or invalidated) on disk.
        A registered temp view pins the old listing the same way, so
        re-register it from the fresh directory."""
        self._tables.pop(name, None)
        for key in [k for k in self._value_indexes if k[0] == name]:
            self._value_indexes.pop(key, None)
        if name in self._views:
            self.table(name).createOrReplaceTempView(name)

    # --------------------------------------------------------------- scan

    def scan(
        self,
        name: str,
        filters: Sequence[Filter] = (),
        select: Sequence[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Filtered projected scan with cutoff — B/C/D6 surface."""
        df = self.table(name)
        if filters:
            df = apply_filters(df, filters)
        if select:
            df = df.select(*select)
        if limit is not None:
            df = df.limit(limit)
        return df

    # -------------------------------------------------------------- count

    def build_value_index(self, name: str, col: str, max_local_rows: int = 100_000) -> None:
        """Build the E6/E7 value->count index for (table, col) — EAGER,
        like the reference's index build (secondary/builder.cpp:849+).

        A low/medium-cardinality index (the intended use; a few KB) is
        collected into a driver-local relation, so plans over it contain
        NO base-table reference at all — the analog of CalcCount reading
        the index artifact instead of the table. Indexes too big to hold
        driver-side stay as a cached distributed DataFrame (still
        index-only at execution; its printed lineage keeps the build
        scan)."""
        idx = build_value_index(self.table(name), col)
        if idx.count() <= max_local_rows:
            idx = _local_relation(self.spark, idx)
        else:
            idx = idx.cache()
        self._value_indexes[(name, col)] = idx

    def build_json_field_index(
        self, name: str, parent: str, json_path: str, max_local_rows: int = 100_000
    ) -> str:
        """In-session per-field JSON index (reference secondary.cpp:426-433
        flattens JSON attributes into per-field SIs): the value index is
        built over the virtual column `get_json_object(parent, path)` and
        registered under the stats.json_virtual_name convention, so
        Engine.sql COUNT/GROUP BY on that expression is answered from the
        index alone. For the persisted form see
        stats.write_json_field_index."""
        from columnar_spark.stats import json_field_expr, json_virtual_name

        vname = json_virtual_name(parent, json_path)
        df = self.table(name).withColumn(vname, json_field_expr(parent, json_path))
        idx = build_value_index(df, vname)
        if idx.count() <= max_local_rows:
            idx = _local_relation(self.spark, idx)
        else:
            idx = idx.cache()
        self._value_indexes[(name, vname)] = idx
        return vname

    def load_persisted_value_indexes(self, name: str) -> list[str]:
        """Adopt every on-disk value-index sidecar for `name` (written by
        stats.write_value_index at ingest, maintained incrementally on
        append) — the reference's load-the-SI-file path, vs
        build_value_index's build-in-session path. Returns the adopted
        column names."""
        from columnar_spark.stats import load_value_index, persisted_value_index_cols

        table_path = f"{self.sf_dir}/{name}.parquet"
        adopted = []
        for c in persisted_value_index_cols(table_path):
            # load_value_index refuses stale sidecars (signature gate) —
            # only actually-adopted columns are reported
            idx = load_value_index(self.spark, table_path, c)
            if idx is not None:
                self._value_indexes[(name, c)] = idx
                adopted.append(c)
        return adopted

    def _get_value_index(self, name: str, col: str):
        """In-session index, or lazily adopt the on-disk .vidx sidecar
        so SQL users get the index-covered rewrites without an explicit
        load call."""
        idx = self._value_indexes.get((name, col))
        if idx is not None:
            return idx
        from columnar_spark.stats import load_value_index

        idx = load_value_index(self.spark, f"{self.sf_dir}/{name}.parquet", col)
        if idx is not None:
            self._value_indexes[(name, col)] = idx
        return idx

    def count(self, name: str, filters: Sequence[Filter] = ()) -> int:
        """COUNT(*) with filters; answered from a value index alone when a
        single-column filter is covered (CalcCount parity, E6)."""
        if len(filters) == 1:
            idx = self._value_indexes.get((name, filters[0].name))
            if idx is not None:
                n = covered_count(idx, filters[0])
                if n is not None:
                    return n
        return self.scan(name, filters).count()

    # ---------------------------------------------------------------- sql

    def register_views(self, names: Sequence[str] = ()) -> None:
        """Expose tables as temp views for Engine.sql / spark.sql. With
        no names, registers every `*.parquet` table in sf_dir."""
        if not names:
            import glob as _glob
            import os as _os

            names = [
                _os.path.basename(p)[: -len(".parquet")]
                for p in _glob.glob(f"{self.sf_dir}/*.parquet")
            ]
            # join projections register as queryable views too
            # (view-with-materialization: fresh sidecar or live join)
            from columnar_spark.projections import projections_on

            names = list(names) + [
                pn
                for p in _glob.glob(f"{self.sf_dir}/*.parquet")
                for pn in projections_on(p)
            ]
        self._views.update(names)
        for n in names:
            self.table(n).createOrReplaceTempView(n)

    def sql(self, query: str) -> DataFrame:
        """SQL entry point with the index-covered COUNT rewrite (SURVEY §4
        shortlist #1; reference CalcCount, secondary.cpp:531-551): a
        COUNT(*) whose WHERE conjuncts all target one column with a built
        value index is answered from the few-KB index table — the base
        scan disappears from the plan. Everything else runs unchanged
        through spark.sql. (A JVM `spark.sql.extensions` rule is the
        production placement; Python cannot inject Catalyst rules, so the
        engine's SQL surface hosts the rewrite.)"""
        from columnar_spark.plans.count_rewrite import (
            covered_count_df,
            parse_covered_count,
        )

        import re as _re

        # EXPLAIN <any Engine.sql statement> — the daemon's EXPLAIN
        # QUERY analog: the inner statement goes through the SAME
        # dispatch (rewrites, MATCH/KNN forms, verbs that return result
        # frames), and the FORMATTED physical plan comes back as a
        # result set — so a user can see whether a count was served
        # index-only, a rollup routed, a join broadcast.
        m = _re.match(r"^\s*EXPLAIN\s+(.+)$", query, _re.IGNORECASE | _re.DOTALL)
        if m:
            # The dispatch EXECUTES mutating verbs to build their echo
            # frame — explaining one would silently run it. ALLOWLIST of
            # read-only first keywords (not a denylist of mutating ones:
            # a future verb added to Engine.sql but not to a denylist
            # would be silently executed by EXPLAIN; an unknown verb
            # here is refused by default).
            if not _re.match(
                r"^\s*(SELECT|WITH|SHOW|DESCRIBE|DESC|CALL|EXPLAIN|VALUES)\b",
                m.group(1),
                _re.IGNORECASE,
            ):
                raise ValueError(
                    "EXPLAIN accepts read-only statements only "
                    "(SELECT/WITH/SHOW/DESCRIBE/CALL/EXPLAIN/VALUES) — "
                    "running a mutating statement is the only way to "
                    "produce its result frame"
                )
            inner = self.sql(m.group(1))
            jqe = inner._jdf.queryExecution()
            try:
                jvm = self.spark._jvm
                plan = jqe.explainString(
                    jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception:  # noqa: BLE001 — fall back to the default render
                plan = jqe.toString()
            return self.spark.createDataFrame([(plan,)], "plan: string")

        # CALL PQ('queries_table', 'document text' [, 'boolean']) — the
        # daemon's percolate call: stored queries are the table, the
        # GIVEN document is the probe. The stored-queries table is small
        # by contract (it broadcasts inside the operator); returns the
        # matching query_ids.
        m = _re.match(
            r"^\s*CALL\s+PQ\s*\(\s*'(?P<table>\w+)'\s*,\s*'(?P<data>[^']*)'\s*"
            r"(?:,\s*'(?P<mode>and|boolean)'\s*)?\)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from pyspark.sql import functions as _F

            from columnar_spark.operators.fulltext import (
                percolate,
                percolate_boolean,
            )

            qdf = self.table(m.group("table"))
            if len(qdf.columns) < 2:
                raise ValueError(
                    "CALL PQ: the stored-queries table needs (query_id, "
                    f"query_text) columns; {m.group('table')!r} has "
                    f"{qdf.columns}"
                )
            qid_col = "query_id" if "query_id" in qdf.columns else qdf.columns[0]
            qtext_col = (
                "query_text" if "query_text" in qdf.columns else qdf.columns[1]
            )
            stored = [
                (str(r[qid_col]), r[qtext_col])
                for r in qdf.select(qid_col, qtext_col).collect()
            ]
            probe = self.spark.createDataFrame(
                [(0, m.group("data"))], "doc_id: long, text: string"
            )
            fn = (
                percolate_boolean
                if (m.group("mode") or "").lower() == "boolean"
                else percolate
            )
            return (
                fn(probe, stored)
                .select("query_id")
                .orderBy(_F.col("query_id").asc())
            )

        # Time-travel syntax: `FROM <table> VERSION AS OF <n>` reads the
        # retained snapshot (snapshots.read_table) through a temp view —
        # the Delta SQL surface over this engine's COW version log.
        m = _re.search(
            r"\bFROM\s+(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\b", query, _re.IGNORECASE
        )
        if m:
            from columnar_spark.snapshots import read_table as _read_snapshot

            name, version = m.group(1), int(m.group(2))
            snap = _read_snapshot(
                self.spark, f"{self.sf_dir}/{name}.parquet", version
            )
            view = f"__{name}_v{version}"
            snap.createOrReplaceTempView(view)
            rewritten = (
                query[: m.start()] + f"FROM {view}" + query[m.end():]
            )
            return self.spark.sql(rewritten)

        # CALL surface — the daemon's stored-procedure-style helpers:
        #   CALL SUGGEST('word', 'table')    -> Levenshtein did-you-mean
        #   CALL QSUGGEST('prefix', 'table') -> prefix autocomplete
        #   CALL KEYWORDS('text', 'table')   -> tokenizer/analyzer output
        m = _re.match(
            r"^\s*CALL\s+(?P<fn>SUGGEST|QSUGGEST|KEYWORDS)\s*\(\s*"
            r"'(?P<arg>[^']*)'\s*,\s*'(?P<table>\w+)'\s*\)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.operators import fulltext as FT

            fn = m.group("fn").upper()
            arg, table = m.group("arg"), m.group("table")
            df = self.table(table)
            path = f"{self.sf_dir}/{table}.parquet"
            loaded = FT.load_text_index(self.spark, path)
            postings = loaded[0] if loaded else None
            if fn == "SUGGEST":
                return FT.spell_suggest(df, arg, postings=postings)
            if fn == "QSUGGEST":
                return FT.keyword_suggest(df, arg, postings=postings)
            # KEYWORDS: the daemon echoes each query token with its
            # normalized (analyzed) form — the index's analyzer when the
            # table carries one, identity otherwise.
            analyzer = loaded[2].get("analyzer") if loaded else None
            toks = [t for t in arg.split() if t]
            pairs = []
            for t in toks:
                if analyzer:
                    # per-token so an analyzer-dropped stopword shows as
                    # '' rather than misaligning the echo
                    a = FT.analyze_query_terms([t.lower()], analyzer)
                    pairs.append((t, a[0] if a else ""))
                else:
                    pairs.append((t, t.lower()))
            return self.spark.createDataFrame(
                pairs or [("", "")], "keyword: string, normalized: string"
            )

        # Fulltext MATCH SQL surface — the daemon's most-used query shape:
        #   SELECT <cols | WEIGHT()> FROM t
        #   WHERE MATCH('<terms>') [AND <attr pred>] [LIMIT n]
        #   [OPTION mode=bm25|boolean|phrase]
        # BM25-ranked by default with WEIGHT() mapped to the score;
        # attribute predicates compose filter-then-rank (the daemon's
        # attribute-filter semantics); LIMIT is the ranked cutoff (default
        # 10, like the daemon). Plain MATCH with no residual serves from
        # the persisted .ftidx sidecar when the table carries one;
        # boolean/phrase modes expose the match DSL with the engine's
        # deterministic id-ordered cutoff (WEIGHT() is a ranking concept —
        # requesting it outside bm25 mode is refused loudly).
        m = _re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<table>\w+)\s+"
            r"WHERE\s+MATCH\s*\(\s*'(?P<q>[^']*)'\s*\)\s*"
            r"(?:AND\s+(?P<rest>.+?))?\s*"
            r"(?:LIMIT\s+(?P<k>\d+)\s*)?"
            r"(?:FACET\s+(?P<facets>\w+(?:\s*,\s*\w+)*)\s*)?"
            r"(?:OPTION\s+mode\s*=\s*(?P<mode>bm25|boolean|phrase)\s*)?;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from pyspark.sql import functions as _F

            from columnar_spark.operators import fulltext as FT

            table, q = m.group("table"), m.group("q")
            mode = (m.group("mode") or "bm25").lower()
            k = int(m.group("k") or 10)
            rest = m.group("rest")
            df = self.table(table)
            id_col = "doc_id" if "doc_id" in df.columns else df.columns[0]
            if m.group("facets"):
                # FACET clause — the daemon returns the main page plus
                # facet result sets; one DataFrame per query means this
                # surface returns THE FACET FRAME (facet, value, cnt)
                # over the full matching set (not just the page), the
                # single-frame adaptation. Terms-match semantics
                # (min_should_match=1), so only the default bm25 mode.
                if mode != "bm25":
                    raise ValueError("FACET supports the default bm25 mode only")
                cols = [c.strip() for c in m.group("facets").split(",")]
                base = df.filter(_F.expr(rest)) if rest else df
                return FT.facet_counts(base, q, cols, id_col=id_col).orderBy(
                    "facet", "value"
                )
            if rest is None and mode in ("bm25", "boolean", "phrase"):
                # sidecar-aware path (identical results, parity pinned)
                ranked = self.search(table, q, k=k, mode=mode, id_col=id_col)
            else:
                base = df.filter(_F.expr(rest)) if rest else df
                if mode == "bm25":
                    ranked = FT.bm25_search(base, q, k=k, id_col=id_col)
                elif mode == "boolean":
                    ranked = (
                        FT.match_boolean(base, q, id_col=id_col)
                        .orderBy(id_col)
                        .limit(k)
                    )
                else:
                    ranked = (
                        FT.phrase_match(base, q, id_col=id_col)
                        .orderBy(id_col)
                        .limit(k)
                    )
            has_score = "score" in ranked.columns
            hits = ranked.select(
                _F.col("doc_id").alias(id_col)
                if "doc_id" in ranked.columns
                else _F.col(id_col),
                *([_F.col("score")] if has_score else []),
            )
            joined = _F.broadcast(hits).join(df, id_col)
            out_cols, order = [], []
            for item in [s.strip() for s in m.group("sel").split(",")]:
                am = _re.fullmatch(
                    r"(?P<expr>.+?)(?:\s+AS\s+(?P<alias>\w+))?",
                    item,
                    _re.IGNORECASE | _re.DOTALL,
                )
                expr, alias = am.group("expr").strip(), am.group("alias")
                if _re.fullmatch(r"WEIGHT\s*\(\s*\)", expr, _re.IGNORECASE):
                    if not has_score:
                        raise ValueError(
                            "WEIGHT() is the bm25 rank — boolean/phrase "
                            "matches carry no score (drop WEIGHT() or use "
                            "OPTION mode=bm25)"
                        )
                    out_cols.append(_F.col("score").alias(alias or "weight"))
                elif _re.fullmatch(r"HIGHLIGHT\s*\(\s*\)", expr, _re.IGNORECASE):
                    # snippet around the earliest query-term occurrence,
                    # matched terms wrapped in <b></b> (the daemon's
                    # HIGHLIGHT contract). Runs on the k-row result page
                    # only — the array HOF never touches the corpus.
                    terms = [
                        t.lower()
                        for t in q.replace('"', " ").split()
                        if t.upper() not in ("AND", "OR", "NOT")
                        and t not in ("(", ")")
                    ]
                    if not terms:
                        raise ValueError("HIGHLIGHT() needs at least one query term")
                    # snippet source column: the text index's registered
                    # text_col when a sidecar exists (a table whose text
                    # lives under another name must not fail — or worse,
                    # highlight an unrelated 'text' column); bare 'text'
                    # only as the no-sidecar fallback. Meta-only read —
                    # no postings/lengths frames for a column name.
                    from columnar_spark.operators.fulltext import (
                        text_index_meta as _tim,
                    )

                    _meta = _tim(f"{self.sf_dir}/{table}.parquet")
                    tcol = _meta["text_col"] if _meta is not None else "text"
                    text_lc = _F.lower(_F.col(tcol))
                    locs = _F.array(
                        *[_F.locate(t, text_lc) for t in terms]
                    )
                    off = _F.array_min(_F.filter(locs, lambda x: x > 0))
                    start = _F.greatest(off - _F.lit(20), _F.lit(1))
                    raw = _F.when(
                        off.isNotNull(),
                        _F.substring(_F.col(tcol), start.cast("int"), 96),
                    ).otherwise(_F.substring(_F.col(tcol), 1, 96))
                    pat = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")"
                    out_cols.append(
                        _F.regexp_replace(raw, pat, "<b>$1</b>").alias(
                            alias or "highlight"
                        )
                    )
                elif expr == "*":
                    out_cols.extend(_F.col(c) for c in df.columns)
                else:
                    out_cols.append(
                        _F.col(expr).alias(alias) if alias else _F.col(expr)
                    )
            if has_score:
                order = [_F.col("score").desc(), _F.col(id_col).asc()]
            else:
                order = [_F.col(id_col).asc()]
            return joined.orderBy(*order).select(*out_cols)

        # FACET on a PLAIN select (no MATCH): the daemon supports FACET
        # after any SELECT — same single-frame adaptation as the MATCH
        # form: the facet frame (facet, value, cnt) over the WHERE-
        # filtered set.
        m = _re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<table>\w+)\s*"
            r"(?:WHERE\s+(?P<rest>(?:(?!MATCH\s*\().)+?)\s*)?"
            r"FACET\s+(?P<facets>\w+(?:\s*,\s*\w+)*)\s*"
            r"(?:LIMIT\s+(?P<fk>\d+)\s*)?;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from pyspark.sql import functions as _F
            from pyspark.sql import Window as _W

            df = self.table(m.group("table"))
            base = df.filter(_F.expr(m.group("rest"))) if m.group("rest") else df
            parts = [
                base.groupBy(
                    _F.lit(c.strip()).alias("facet"),
                    _F.col(c.strip()).cast("string").alias("value"),
                ).agg(_F.count(_F.lit(1)).alias("cnt"))
                for c in m.group("facets").split(",")
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            if m.group("fk"):
                # the daemon's FACET ... LIMIT n: top-n values PER facet
                # by count (deterministic value tie-break)
                w = _W.partitionBy("facet").orderBy(
                    _F.col("cnt").desc(), _F.col("value").asc()
                )
                out = (
                    out.withColumn("__rn", _F.row_number().over(w))
                    .filter(_F.col("__rn") <= int(m.group("fk")))
                    .drop("__rn")
                )
            return out.orderBy("facet", "value")

        # KNN SQL surface — the reference daemon's
        #   SELECT <cols | knn_dist()> FROM t
        #   WHERE KNN(vec_col, k, (v1, v2, ...)) [AND <residual pred>]
        #   [OPTION mode=exact|index]
        # form. Residual predicates pre-filter (filter-then-rank, the
        # reference's filtered-KNN semantics); knn_dist() maps onto the
        # result's dist column; deterministic id tie-break. mode=index
        # serves the persisted IVF-PQ sidecar (partition-pruned probes +
        # exact re-rank — approximate, like the reference's HNSW-backed
        # SQL KNN); mode=graph serves the persisted per-part HNSW graph
        # sidecar (hnsw_index.knn_query_graph — loaded, never rebuilt);
        # default is the exact scan-and-rank path.
        m = _re.match(
            r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<table>\w+)\s+"
            r"WHERE\s+KNN\s*\(\s*(?P<col>\w+)\s*,\s*(?P<k>\d+)\s*,\s*"
            r"\(\s*(?P<vec>[-+\d.eE\s,]+?)\s*\)\s*\)\s*"
            r"(?:AND\s+(?P<rest>.+?))?\s*"
            r"(?:OPTION\s+mode\s*=\s*(?P<mode>exact|index|graph)\s*)?;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from pyspark.sql import functions as _F

            from columnar_spark.operators.knn import knn_topk

            vec = [float(x) for x in m.group("vec").split(",")]
            df = self.table(m.group("table"))
            pre = _F.expr(m.group("rest")) if m.group("rest") else None
            id_col = "vec_id" if "vec_id" in df.columns else df.columns[0]
            mode = (m.group("mode") or "exact").lower()
            if mode == "index":
                from columnar_spark.operators.knn_index import (
                    knn_query_indexed,
                    load_vector_index,
                )

                # resolve by the KNN() clause's column among per-attribute
                # artifacts (a root index over a DIFFERENT column must not
                # serve this query)
                idx = load_vector_index(
                    f"{self.sf_dir}/{m.group('table')}.parquet",
                    vec_col=m.group("col"),
                )
                if idx is None:
                    raise ValueError(
                        f"OPTION mode=index: no persisted vector index for "
                        f"{m.group('table')}.{m.group('col')} — build one at "
                        "ingest (knn_index.build_vector_index) or drop the "
                        "option"
                    )
                if pre is not None:
                    raise ValueError(
                        "OPTION mode=index does not combine with residual "
                        "predicates; use the exact path for filtered KNN"
                    )
                out = knn_query_indexed(
                    self.spark, idx, vec, int(m.group("k"))
                ).withColumnRenamed("id", id_col)
                # re-attach requested payload columns by id (k-row left
                # side — broadcastable), keep the distance order
                out = out.join(df, id_col, "left").orderBy(
                    _F.col("dist").asc(), _F.col(id_col).asc()
                )
            elif mode == "graph":
                from columnar_spark.operators.hnsw_index import (
                    KNN_ALLOW_SET_CAP,
                    knn_query_graph,
                )

                allowed = None
                if pre is not None:
                    # Filter-DURING-walk (KNNFilter_i::IsAllowed,
                    # knn/knn.h:87-94): the residual predicate's
                    # surviving ids become the in-walk allow-set —
                    # disallowed nodes are traversed for connectivity
                    # but never ranked. The limit bounds driver memory;
                    # one row past the cap triggers knn_query_graph's
                    # loud refusal (pre-filtered exact is the right
                    # path at that selectivity, and mode=auto/absent
                    # picks it).
                    allowed = [
                        r[0]
                        for r in df.filter(pre)
                        .select(id_col)
                        .limit(KNN_ALLOW_SET_CAP + 1)
                        .collect()
                    ]
                out = knn_query_graph(
                    self.spark,
                    f"{self.sf_dir}/{m.group('table')}.parquet",
                    vec,
                    int(m.group("k")),
                    allowed=allowed,
                    vec_col=m.group("col"),
                )
                # the artifact's id column is meta-declared; align it
                # with the table's id column for the payload join
                if out.columns[0] != id_col:
                    out = out.withColumnRenamed(out.columns[0], id_col)
                out = out.join(df, id_col, "left").orderBy(
                    _F.col("dist").asc(), _F.col(id_col).asc()
                )
            else:
                out = knn_topk(
                    df, m.group("col"), vec, int(m.group("k")),
                    id_col=id_col, pre_filter=pre,
                )
            items = [s.strip() for s in m.group("sel").split(",")]
            exprs = [
                "dist AS knn_dist" if _re.fullmatch(r"KNN_DIST\s*\(\s*\)", s, _re.IGNORECASE)
                else s
                for s in items
            ]
            return out.selectExpr(*exprs)

        # INSERT INTO — the append path with INCREMENTAL sidecar
        # maintenance (streaming/ingest.append_batch: stats sketch merge,
        # .vidx merge, vector-index code append — O(batch), no rebuild).
        #   INSERT INTO t VALUES (...), (...)
        #   INSERT INTO t SELECT ...
        # Values/select bind to the target schema POSITIONALLY with a
        # cast, standard SQL INSERT semantics.
        m = _re.match(
            r"^\s*INSERT\s+INTO\s+(\w+)\s+(VALUES\s+.+|SELECT\s+.+?)\s*;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from pyspark.sql import functions as _F

            from columnar_spark.streaming.ingest import append_batch

            name, body = m.group(1), m.group(2)
            target = self.table(name)
            batch = self.spark.sql(body)
            if len(batch.columns) != len(target.columns):
                raise ValueError(
                    f"INSERT: {len(batch.columns)} values for "
                    f"{len(target.columns)} columns of {name}"
                )
            batch = batch.select(
                *[
                    _F.col(b).cast(target.schema[t].dataType).alias(t)
                    for b, t in zip(batch.columns, target.columns)
                ]
            )
            n_ins = batch.count()
            append_batch(batch, f"{self.sf_dir}/{name}.parquet")
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("insert", name, n_ins, self.table(name).count())],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )

        # Row-mutating DML — the reference host's UPDATE/DELETE surface
        # mapped onto the CoW machinery (operators/upsert.py): rewrite-
        # then-swap with time-travel history, value/posting sidecars
        # rebuilt, JSON field indexes invalidated (disable-on-update
        # parity, secondary.cpp:426-433). One-row echo result.
        m = _re.match(
            r"^\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from columnar_spark.operators.upsert import delete_where

            name = m.group(1)
            n_del, n_rows = delete_where(
                self.spark, f"{self.sf_dir}/{name}.parquet", m.group(2)
            )
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("delete", name, n_del, n_rows)],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )
        m = _re.match(
            r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from columnar_spark.operators.upsert import update_set

            name = m.group(1)
            assignments: dict[str, str] = {}
            # split the SET list on top-level commas only (expressions
            # may contain calls like coalesce(a, b))
            depth, start, parts = 0, 0, []
            s = m.group(2)
            for i, ch in enumerate(s):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    parts.append(s[start:i])
                    start = i + 1
            parts.append(s[start:])
            for part in parts:
                am = _re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", part, _re.DOTALL)
                if not am:
                    raise ValueError(f"UPDATE: cannot parse assignment {part!r}")
                assignments[am.group(1)] = am.group(2)
            n_match, n_rows = update_set(
                self.spark,
                f"{self.sf_dir}/{name}.parquet",
                assignments,
                m.group(3),
            )
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("update", name, n_match, n_rows)],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )

        # Index DDL — the reference daemon's CREATE/DROP surface over
        # this engine's sidecar artifacts. One-row result echoing the
        # artifact path, like the CLI's JSON contract.
        #   CREATE INDEX ON t(col)
        #   CREATE INDEX ON t(get_json_object(col, '$.path'))
        #   CREATE TEXT INDEX ON t(text_col [, id_col])
        #   DROP INDEX col ON t
        m = _re.match(
            r"^\s*CREATE\s+INDEX\s+ON\s+(\w+)\s*\(\s*"
            r"(?:GET_JSON_OBJECT\s*\(\s*(\w+)\s*,\s*'(\$[^']*)'\s*\)|(\w+))"
            r"\s*\)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            name = m.group(1)
            base = f"{self.sf_dir}/{name}.parquet"
            if m.group(2):
                from columnar_spark.stats import write_json_field_index

                col = write_json_field_index(self.spark, base, m.group(2), m.group(3))
            else:
                from columnar_spark.stats import write_value_index

                col = m.group(4)
                write_value_index(self.spark, base, col)
            self._value_indexes.pop((name, col), None)  # re-adopt lazily
            return self.spark.createDataFrame(
                [("value_index", col, f"{base}.vidx/{col}")],
                "kind: string, column: string, path: string",
            )
        m = _re.match(
            r"^\s*CREATE\s+TEXT\s+INDEX\s+ON\s+(\w+)\s*\(\s*(\w+)\s*(?:,\s*(\w+)\s*)?\)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.operators.fulltext import write_text_index

            base = f"{self.sf_dir}/{m.group(1)}.parquet"
            write_text_index(
                self.spark, base, text_col=m.group(2), id_col=m.group(3) or "doc_id"
            )
            return self.spark.createDataFrame(
                [("text_index", m.group(2), f"{base}.ftidx")],
                "kind: string, column: string, path: string",
            )
        # CREATE PROJECTION p ON fact JOIN dim ON fk = dk
        #   CARRY (dim_col, ...) [CLUSTER BY (col, ...)]
        # — the join-MV DDL twin of CREATE INDEX: materializes the
        # pre-joined sidecar (projections.py), served by name as a view
        # with live-join fallback when stale.
        m = _re.match(
            r"^\s*CREATE\s+PROJECTION\s+(\w+)\s+ON\s+(\w+)\s+JOIN\s+(\w+)\s+"
            r"ON\s+(\w+)\s*=\s*(\w+)\s+CARRY\s*\(([^)]*)\)"
            r"(?:\s+CLUSTER\s+BY\s*\(([^)]*)\))?\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.projections import write_join_projection

            pname, fact, dim, fk, dk = m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)
            carry = tuple(c.strip() for c in m.group(6).split(",") if c.strip())
            cluster = tuple(
                c.strip() for c in (m.group(7) or "").split(",") if c.strip()
            )
            fact_base = f"{self.sf_dir}/{fact}.parquet"
            write_join_projection(
                self.spark,
                fact_base,
                f"{self.sf_dir}/{dim}.parquet",
                name=pname,
                fact_key=fk,
                dim_key=dk,
                dim_cols=carry,
                cluster_by=cluster,
            )
            return self.spark.createDataFrame(
                [("join_projection", pname, f"{fact_base}.proj/{pname}")],
                "kind: string, column: string, path: string",
            )
        m = _re.match(
            r"^\s*DROP\s+PROJECTION\s+(\w+)\s+ON\s+(\w+)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            import os
            import shutil

            pname, fact = m.group(1), m.group(2)
            p = f"{self.sf_dir}/{fact}.parquet.proj/{pname}"
            existed = os.path.isdir(p)
            if existed:
                shutil.rmtree(p)
            self.spark.catalog.dropTempView(pname)
            return self.spark.createDataFrame(
                [("join_projection", pname, p if existed else "absent")],
                "kind: string, column: string, path: string",
            )
        # CREATE AGGREGATE PROJECTION p ON fact
        #   [JOIN dim ON lkey = rkey CARRY (col [AS alias], ...)]...
        #   KEYS (expr [AS name], ...)
        #   MEASURES (COUNT(*) AS n | SUM(expr) AS s | MIN(expr) AS m |
        #             MAX(expr) AS m | PAIRS(kexpr, vexpr) AS p, ...)
        #   [CLUSTER BY (col, ...)]
        # — the GROUP-BY-MV DDL twin of CREATE PROJECTION: materializes
        # the declared aggregate partials (aggprojections.py) with the
        # enrichment dims baked in; queries read O(groups) rows.
        m = _re.match(
            r"^\s*CREATE\s+AGGREGATE\s+PROJECTION\s+(\w+)\s+ON\s+(\w+)\s+(.*?)\s*;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            pname, fact, rest = m.group(1), m.group(2), m.group(3)
            spec = self._parse_agg_projection_clauses(rest)
            from columnar_spark.aggprojections import write_agg_projection

            fact_base = f"{self.sf_dir}/{fact}.parquet"
            write_agg_projection(self.spark, fact_base, name=pname, **spec)
            return self.spark.createDataFrame(
                [("aggregate_projection", pname, f"{fact_base}.aggproj/{pname}")],
                "kind: string, column: string, path: string",
            )
        m = _re.match(
            r"^\s*DROP\s+AGGREGATE\s+PROJECTION\s+(\w+)\s+ON\s+(\w+)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            import os
            import shutil

            pname, fact = m.group(1), m.group(2)
            p = f"{self.sf_dir}/{fact}.parquet.aggproj/{pname}"
            existed = os.path.isdir(p)
            if existed:
                shutil.rmtree(p)
            return self.spark.createDataFrame(
                [("aggregate_projection", pname, p if existed else "absent")],
                "kind: string, column: string, path: string",
            )
        m = _re.match(
            r"^\s*DROP\s+INDEX\s+(\w+)\s+ON\s+(\w+)\s*;?\s*$", query, _re.IGNORECASE
        )
        if m:
            import shutil

            col, name = m.group(1), m.group(2)
            base = f"{self.sf_dir}/{name}.parquet"
            p = f"{base}.vidx/{col}"
            import os

            existed = os.path.isdir(p)
            if existed:
                shutil.rmtree(p)
            self._value_indexes.pop((name, col), None)
            return self.spark.createDataFrame(
                [("value_index", col, p if existed else "absent")],
                "kind: string, column: string, path: string",
            )

        # CREATE TABLE t (col type, ..., [INDEX (col)], [TEXT INDEX
        # (text_col, id_col)]) — an empty table with pre-registered
        # sidecars; accepts exactly what SHOW CREATE TABLE emits
        # (round-trip pinned by test). Vector indexes need training data
        # and are deliberately NOT creatable empty.
        m = _re.match(
            r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(\w+)\s*\((.+)\)\s*;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            import os

            name, body = m.group(2), m.group(3)
            base = f"{self.sf_dir}/{name}.parquet"
            if os.path.isdir(base):
                if m.group("ine"):
                    return self.spark.createDataFrame(
                        [("create_table", name, 0, 0)],
                        "op: string, table: string, n_affected: bigint, n_rows: bigint",
                    )
                raise ValueError(f"CREATE TABLE: {name!r} already exists")
            # split on top-level commas (types like decimal(10,2) nest)
            depth, start, items = 0, 0, []
            for i, ch in enumerate(body):
                if ch in "(<":
                    depth += 1
                elif ch in ")>":
                    depth -= 1
                elif ch == "," and depth == 0:
                    items.append(body[start:i])
                    start = i + 1
            items.append(body[start:])
            cols, vidx_cols, jidx, tidx = [], [], [], None
            for item in (s.strip() for s in items):
                if not item:
                    continue
                im = _re.fullmatch(
                    r"INDEX\s*\(\s*GET_JSON_OBJECT\s*\(\s*(\w+)\s*,\s*'(\$[^']*)'\s*\)\s*\)",
                    item,
                    _re.IGNORECASE,
                )
                if im:
                    jidx.append((im.group(1), im.group(2)))
                    continue
                im = _re.fullmatch(r"INDEX\s*\(\s*(\w+)\s*\)", item, _re.IGNORECASE)
                if im:
                    vidx_cols.append(im.group(1))
                    continue
                im = _re.fullmatch(
                    r"TEXT\s+INDEX\s*\(\s*(\w+)\s*(?:,\s*(\w+)\s*)?\)",
                    item,
                    _re.IGNORECASE,
                )
                if im:
                    tidx = (im.group(1), im.group(2) or "doc_id")
                    continue
                im = _re.fullmatch(r"VECTOR\s+INDEX\s*\(.*", item, _re.IGNORECASE | _re.DOTALL)
                if im:
                    continue  # needs training data; register at first build
                cm = _re.fullmatch(r"(\w+)\s+(.+)", item, _re.DOTALL)
                if not cm:
                    raise ValueError(f"CREATE TABLE: cannot parse {item!r}")
                cols.append(f"{cm.group(1)} {cm.group(2).strip()}")
            if not cols:
                raise ValueError("CREATE TABLE needs at least one column")
            empty = self.spark.createDataFrame([], ", ".join(cols))
            empty.write.parquet(base)
            from columnar_spark.stats import (
                build_stats_manifest,
                write_stats_sidecar,
            )

            write_stats_sidecar(
                self.spark, build_stats_manifest(self.spark.read.parquet(base)), base
            )
            from columnar_spark.stats import (
                write_json_field_index,
                write_value_index,
            )

            for c in vidx_cols:
                write_value_index(self.spark, base, c)
            for parent, jpath in jidx:
                write_json_field_index(self.spark, base, parent, jpath)
            if tidx is not None:
                from columnar_spark.operators.fulltext import write_text_index

                write_text_index(self.spark, base, text_col=tidx[0], id_col=tidx[1])
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("create_table", name, 1, 0)],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )

        # SHOW VERSIONS FROM t — the CoW time-travel log as a result set.
        m = _re.match(
            r"^\s*SHOW\s+VERSIONS\s+FROM\s+(\w+)\s*;?\s*$", query, _re.IGNORECASE
        )
        if m:
            import os

            from columnar_spark.snapshots import _versions_root, history

            base = f"{self.sf_dir}/{m.group(1)}.parquet"
            rows = [
                (
                    e.version,
                    e.op,
                    -1 if e.n_rows is None else int(e.n_rows),
                    e.ts_unix,
                    # vacuum reclaims data dirs but keeps the log as an
                    # audit trail: only `retained` versions are readable
                    os.path.isdir(
                        os.path.join(
                            _versions_root(base), f"v{e.version:06d}", "data"
                        )
                    ),
                )
                for e in history(base)
            ]
            return self.spark.createDataFrame(
                rows or [(-1, "(none)", -1, 0.0, False)],
                "version: long, op: string, n_rows_retired: long, "
                "ts: double, retained: boolean",
            )

        # SHOW CHANGES FROM t BETWEEN <v1> AND <v2|LIVE> KEY (k[, k])
        # — the Delta-CDF-style change feed between two retained table
        # states (snapshots.table_changes): inserts/deletes/update
        # pre+post rows per key.
        m = _re.match(
            r"^\s*SHOW\s+CHANGES\s+FROM\s+(\w+)\s+BETWEEN\s+(\d+)\s+AND\s+"
            r"(\d+|LIVE)\s+KEY\s*\(\s*([\w,\s]+)\)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.snapshots import table_changes

            v_to = None if m.group(3).upper() == "LIVE" else int(m.group(3))
            keys = [k.strip() for k in m.group(4).split(",") if k.strip()]
            return table_changes(
                self.spark,
                f"{self.sf_dir}/{m.group(1)}.parquet",
                int(m.group(2)),
                v_to,
                keys,
            )

        # VACUUM t [RETAIN n] — drop all but the newest n retained
        # snapshots (default 1); returns the removed version numbers.
        m = _re.match(
            r"^\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+))?\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.snapshots import vacuum

            removed = vacuum(
                f"{self.sf_dir}/{m.group(1)}.parquet",
                retain_last=int(m.group(2) or 1),
            )
            return self.spark.createDataFrame(
                [(m.group(1), len(removed), ",".join(map(str, removed)))],
                "table: string, n_removed: bigint, removed_versions: string",
            )

        # RESTORE TABLE t VERSION AS OF n — roll back to a retained
        # snapshot (the displaced table retires as a new version), then
        # reindex: every sidecar rebuilds against the restored contents
        # (a restore is an arbitrary rewrite — serving the pre-restore
        # sidecars would be exactly the staleness the freshness gates
        # exist to catch).
        m = _re.match(
            r"^\s*RESTORE\s+TABLE\s+(\w+)\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.operators.upsert import reindex_table
            from columnar_spark.snapshots import restore

            name, version = m.group(1), int(m.group(2))
            base = f"{self.sf_dir}/{name}.parquet"
            retired_as = restore(base, version)
            reindex_table(self.spark, base)
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("restore", name, version, retired_as)],
                "op: string, table: string, restored_version: bigint, retired_as: bigint",
            )

        # CALL SNIPPETS('text', 'table', 'query terms') — highlight the
        # GIVEN text (the daemon's CALL SNIPPETS over explicit data).
        # The table argument is validated and supplies the analyzer when
        # its text index has one: analyzed term forms (stems) join the
        # raw terms in the wrap set, so queries that MATCH through the
        # analyzer also mark up their literal occurrences here. One row
        # per input; matching is raw-substring over the given text.
        m = _re.match(
            r"^\s*CALL\s+SNIPPETS\s*\(\s*'(?P<data>[^']*)'\s*,\s*'(?P<table>\w+)'\s*,"
            r"\s*'(?P<q>[^']*)'\s*\)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from pyspark.sql import functions as _F

            from columnar_spark.operators.fulltext import (
                analyze_query_terms,
                text_index_meta,
            )

            self.table(m.group("table"))  # validate the table exists
            terms = [t.lower() for t in m.group("q").split() if t]
            if not terms:
                raise ValueError("CALL SNIPPETS needs at least one query term")
            meta = text_index_meta(f"{self.sf_dir}/{m.group('table')}.parquet")
            if meta is not None and meta.get("analyzer"):
                analyzed = analyze_query_terms(terms, meta["analyzer"])
                terms = sorted({*terms, *[t for t in analyzed if t]})
            pat = "(?i)(" + "|".join(_re.escape(t) for t in terms) + ")"
            one = self.spark.createDataFrame(
                [(m.group("data"),)], "data: string"
            )
            text_lc = _F.lower(_F.col("data"))
            locs = _F.array(*[_F.locate(t, text_lc) for t in terms])
            off = _F.array_min(_F.filter(locs, lambda x: x > 0))
            start = _F.greatest(off - _F.lit(20), _F.lit(1))
            raw = _F.when(
                off.isNotNull(), _F.substring(_F.col("data"), start.cast("int"), 96)
            ).otherwise(_F.substring(_F.col("data"), 1, 96))
            return one.select(
                _F.regexp_replace(raw, pat, "<b>$1</b>").alias("snippet")
            )

        # Table-level DDL/maintenance — the daemon's TRUNCATE / DROP
        # TABLE / ALTER TABLE / OPTIMIZE verbs over the CoW machinery
        # (operators/upsert.py) and the compaction pass (writer.py).
        m = _re.match(
            r"^\s*TRUNCATE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", query, _re.IGNORECASE
        )
        if m:
            from columnar_spark.operators.upsert import truncate_table

            name = m.group(1)
            n = truncate_table(self.spark, f"{self.sf_dir}/{name}.parquet")
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("truncate", name, n, 0)],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )
        m = _re.match(
            r"^\s*DROP\s+TABLE\s+(?P<ie>IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            import os
            import shutil

            from columnar_spark.writer import drop_stale_sidecars

            name = m.group(2)
            base = f"{self.sf_dir}/{name}.parquet"
            existed = os.path.isdir(base)
            if not existed and not m.group("ie"):
                raise ValueError(f"DROP TABLE: no table {name!r}")
            dropped = drop_stale_sidecars(base)
            for extra in (".versions", ".compact.tmp"):
                shutil.rmtree(base + extra, ignore_errors=True)
            if existed:
                shutil.rmtree(base)
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("drop_table", name, int(existed), len(dropped))],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )
        m = _re.match(
            r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+([\w()<>,\s]+?)"
            r"(?:\s+DEFAULT\s+(.+?))?\s*;?\s*$",
            query,
            _re.IGNORECASE | _re.DOTALL,
        )
        if m:
            from columnar_spark.operators.upsert import alter_add_column

            name = m.group(1)
            n = alter_add_column(
                self.spark,
                f"{self.sf_dir}/{name}.parquet",
                m.group(2),
                m.group(3).strip(),
                m.group(4),
            )
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("alter_add", name, n, n)],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )
        m = _re.match(
            r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            from columnar_spark.operators.upsert import alter_drop_column

            name = m.group(1)
            n = alter_drop_column(
                self.spark, f"{self.sf_dir}/{name}.parquet", m.group(2)
            )
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("alter_drop", name, n, n)],
                "op: string, table: string, n_affected: bigint, n_rows: bigint",
            )
        m = _re.match(
            r"^\s*OPTIMIZE\s+(?:TABLE\s+|INDEX\s+)?(\w+)\s*;?\s*$",
            query,
            _re.IGNORECASE,
        )
        if m:
            import os

            from columnar_spark.writer import compact_table

            name = m.group(1)
            base = f"{self.sf_dir}/{name}.parquet"
            before, after = compact_table(self.spark, base)
            if os.path.isdir(base + ".ftidx"):
                from columnar_spark.operators.fulltext import compact_text_index

                compact_text_index(self.spark, base)
            # Row-local companions fragment one file per append batch:
            # coalesce-rewrite them in place (content identical, sig
            # files carried over — the base table did not change here).
            for suffix in (".textstats", ".dedupsig"):
                self._compact_companion(base, suffix)
            # A fragmented projection gets the full clustered rewrite
            # (rebuild IS its compaction — re-clusters by the declared
            # key and re-records both constituent signatures).
            from columnar_spark.projections import (
                projection_path as _ppath,
                projections_on,
                rebuild_projection,
            )

            for pname in projections_on(base):
                pdir = _ppath(base, pname)
                pfiles = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
                if len(pfiles) > max(4, after):
                    rebuild_projection(self.spark, base, pname)
            # Aggregate projections: the compaction rewrote the base
            # table, so their source/enrich signatures are stale by
            # construction — rebuild (cheap: O(groups) writes) so they
            # keep serving instead of falling back forever.
            from columnar_spark.aggprojections import (
                agg_projections_on,
                agg_projections_referencing,
                rebuild_agg_projection,
            )

            for pname in agg_projections_on(base):
                rebuild_agg_projection(self.spark, base, pname)
            for fpath, pname in agg_projections_referencing(base):
                rebuild_agg_projection(self.spark, fpath, pname)
            self._invalidate_table_caches(name)
            return self.spark.createDataFrame(
                [("optimize", name, before, after)],
                "op: string, table: string, files_before: bigint, files_after: bigint",
            )
        m = _re.match(
            r"^\s*SHOW\s+CREATE\s+TABLE\s+(\w+)\s*;?\s*$", query, _re.IGNORECASE
        )
        if m:
            import os

            name = m.group(1)
            df = self.table(name)
            base = f"{self.sf_dir}/{name}.parquet"
            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
            )
            from columnar_spark.stats import (
                composite_index_cols,
                json_index_meta,
                persisted_value_index_cols,
            )

            clauses = []
            for c in persisted_value_index_cols(base):
                jm = json_index_meta(base, c)
                cm = composite_index_cols(base, c)
                if jm:
                    clauses.append(
                        f"INDEX (get_json_object({jm['parent']}, '{jm['json_path']}'))"
                    )
                elif cm:
                    clauses.append(f"INDEX ({', '.join(cm)})")
                else:
                    clauses.append(f"INDEX ({c})")
            if os.path.isdir(base + ".ftidx"):
                from columnar_spark.operators.fulltext import load_text_index

                lt = load_text_index(self.spark, base)
                if lt is not None:
                    clauses.append(
                        f"TEXT INDEX ({lt[2]['text_col']}, "
                        f"{lt[2].get('id_col', 'doc_id')})"
                    )
            from columnar_spark.operators.knn_index import (
                _load_vector_index_dir,
                vector_index_dirs,
            )

            for vdir in vector_index_dirs(base):
                vi = _load_vector_index_dir(base, vdir, check_fresh=False)
                if vi is not None:
                    clauses.append(
                        f"VECTOR INDEX ({vi.vec_col}) "
                        f"WITH (metric='{vi.metric}', nlist={vi.nlist}, m={vi.m})"
                    )
            tail = ("\n  , " + "\n  , ".join(clauses)) if clauses else ""
            ddl = f"CREATE TABLE {name} (\n  {cols}{tail}\n)"
            return self.spark.createDataFrame(
                [(name, ddl)], "table: string, create_table: string"
            )

        # SHOW TABLES: the sf_dir's table inventory with row counts from
        # the stats manifests (metadata-only — no scan).
        if _re.match(r"^\s*SHOW\s+TABLES\s*;?\s*$", query, _re.IGNORECASE):
            import glob as _glob
            import os

            rows = []
            for p in sorted(_glob.glob(f"{self.sf_dir}/*.parquet")):
                name = os.path.basename(p)[: -len(".parquet")]
                try:
                    from columnar_spark.stats import row_count_from_sidecar

                    n = row_count_from_sidecar(p)
                except Exception:  # noqa: BLE001 — stats sidecar optional
                    n = None
                rows.append((name, -1 if n is None else int(n)))
            return self.spark.createDataFrame(
                rows or [("(empty)", -1)], "table: string, row_count: long"
            )

        # SHOW INDEXES FROM <table>: every sidecar artifact beside the
        # table (value indexes, posting lists, text index, vector index,
        # rollup, stats, retained versions) — the indextool-style
        # inventory as a result set. Metadata-only.
        m = _re.match(
            r"^\s*SHOW\s+INDEXES\s+FROM\s+(\w+)\s*;?\s*$", query, _re.IGNORECASE
        )
        if m:
            import os

            name = m.group(1)
            base = f"{self.sf_dir}/{name}.parquet"
            rows: list[tuple[str, str, str]] = []
            from columnar_spark.stats import (
                persisted_posting_index_cols,
                persisted_value_index_cols,
            )

            from columnar_spark.stats import json_index_meta

            for c in persisted_value_index_cols(base):
                jm = json_index_meta(base, c)
                kind = "json_field_index" if jm else "value_index"
                col = f"{jm['parent']}:{jm['json_path']}" if jm else c
                rows.append((kind, col, f"{base}.vidx/{c}"))
            for c in persisted_posting_index_cols(base):
                rows.append(("posting_index", c, f"{base}.pidx/{c}"))
            if os.path.isdir(f"{base}.ftidx"):
                rows.append(("text_index", "—", f"{base}.ftidx"))
            from columnar_spark.operators.hnsw_index import (
                graph_index_dirs,
                load_graph_index_meta,
            )
            from columnar_spark.operators.knn_index import (
                _load_vector_index_dir,
                vector_index_dirs,
            )

            for vdir in vector_index_dirs(base):
                vi = _load_vector_index_dir(base, vdir, check_fresh=False)
                rows.append(
                    ("vector_index", vi.vec_col if vi else "—", vdir)
                )
            for gdir in graph_index_dirs(base):
                gm = load_graph_index_meta(
                    base, check_fresh=False, index_path=gdir
                )
                rows.append(
                    ("vector_graph_index", gm["vec_col"] if gm else "—", gdir)
                )
            if os.path.isdir(f"{base}.rollup"):
                rows.append(("rollup", "—", f"{base}.rollup"))
            if os.path.isdir(f"{base}.vocab"):
                rows.append(("vocab_monitor", "—", f"{base}.vocab"))
            if os.path.isdir(f"{base}.textstats"):
                rows.append(("textstats_companion", "—", f"{base}.textstats"))
            if os.path.isdir(f"{base}.dedupsig"):
                rows.append(("dedupsig_companion", "—", f"{base}.dedupsig"))
            from columnar_spark.projections import projections_on

            for pn in projections_on(base):
                rows.append(("join_projection", pn, f"{base}.proj/{pn}"))
            from columnar_spark.aggprojections import agg_projections_on

            for pn in agg_projections_on(base):
                rows.append(("aggregate_projection", pn, f"{base}.aggproj/{pn}"))
            if os.path.isdir(f"{base}.cohort"):
                rows.append(("cohort_matrix", "—", f"{base}.cohort"))
            if os.path.isdir(f"{base}.stats"):
                rows.append(("stats_manifest", "—", f"{base}.stats"))
            vdir = f"{base}.versions"
            if os.path.isdir(vdir):
                n_v = len([d for d in os.listdir(vdir) if d.startswith("v")])
                rows.append(("versions", str(n_v), vdir))
            return self.spark.createDataFrame(
                rows or [("none", "—", "—")],
                "kind: string, column: string, path: string",
            )

        # DESCRIBE <table>: the stats manifest as a result set (column,
        # min, max, ndv, null_count, row_count) — metadata-only, no scan
        # beyond the manifest's own (cached) aggregate.
        m = _re.match(r"^\s*DESCRIBE\s+(\w+)\s*;?\s*$", query, _re.IGNORECASE)
        if m:
            name = m.group(1)
            rows = [
                (c, d["min"], d["max"], d["ndv"], d["null_count"], d["row_count"])
                for c, d in sorted(self.stats(name).items())
            ]
            return self.spark.createDataFrame(
                rows, "column: string, min: string, max: string, ndv: long, null_count: long, row_count: long"
            )

        # Honor the engine-wide rewrite kill-switch for the PYTHON
        # rewrite chain too (stats.rewrites_disabled documents that a
        # sidecar rebuild / audit must never be answered from the very
        # sidecar under maintenance — previously only the JVM Catalyst
        # rule obeyed it).
        from columnar_spark.stats import REWRITE_ENABLED_KEY

        try:
            _rw_on = self.spark.conf.get(REWRITE_ENABLED_KEY) != "false"
        except Exception:
            _rw_on = True
        if not _rw_on:
            try:
                return self.spark.sql(query)
            except Exception as e:
                if "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                    self.register_views()
                    return self.spark.sql(query)
                raise

        # JSON per-field predicates (`get_json_object(col, '$.path')`)
        # normalize into the virtual-column convention the per-field
        # .vidx sidecars are keyed by — every rewrite below then covers
        # JSON fields for free (reference secondary.cpp:426-433 flattens
        # JSON attributes into per-field SIs the same way). The ORIGINAL
        # query is what falls through to spark.sql.
        from columnar_spark.plans.count_rewrite import normalize_json_exprs

        jquery = normalize_json_exprs(query)

        rw = parse_covered_count(jquery)
        if rw is not None:
            idx = self._get_value_index(rw.table, rw.column)
            if idx is not None:
                try:
                    return covered_count_df(idx, rw.filters, rw.alias)
                except Exception:
                    pass  # conservative: any doubt -> run the plain plan

        # COUNT/SUM/NDV mixes over one indexed key: served from a
        # measure-bearing value index (value, cnt, m_*) — the E6 surface
        # extended to exact fixed-point SUMs (the reference's SI
        # bitmap-union regime answers filtered aggregates from index
        # blocks, blockreader.cpp:556-585).
        from columnar_spark.plans.count_rewrite import parse_sum_agg, sum_agg_df

        srw = parse_sum_agg(jquery)
        if srw is not None:
            idx = self._get_value_index(srw.table, srw.column)
            if idx is not None:
                from columnar_spark.stats import value_index_measures

                ms = value_index_measures(
                    f"{self.sf_dir}/{srw.table}.parquet", srw.column
                )
                if ms:
                    try:
                        out = sum_agg_df(
                            idx, srw, {c: int(dp) for c, dp in ms}
                        )
                        if out is not None:
                            return out
                    except Exception:
                        pass  # conservative: any doubt -> the plain plan

        # GROUP BY col + COUNT(*) / COUNT(DISTINCT col): the value index
        # IS the result relation (E6/E7) — serve it directly.
        from columnar_spark.plans.count_rewrite import (
            distinct_count_df,
            group_count_df,
            parse_distinct_count,
            parse_group_count,
        )

        grw = parse_group_count(jquery)
        if grw is not None:
            idx = self._get_value_index(grw.table, grw.column)
            if idx is not None:
                try:
                    return group_count_df(
                        idx, grw.column, grw.filters, grw.alias, grw.out_name
                    )
                except Exception:
                    pass
        # Two-key GROUP BY (+ optional SUM) off a composite index: the
        # struct-keyed sidecar is the exact grouped relation.
        from columnar_spark.plans.count_rewrite import (
            group2_count_df,
            parse_group2_count,
        )

        g2 = parse_group2_count(jquery)
        if g2 is not None:
            from columnar_spark.stats import (
                composite_virtual_name,
                value_index_measures,
            )

            for key in (g2.cols, tuple(reversed(g2.cols))):
                name = composite_virtual_name(key)
                idx = self._get_value_index(g2.table, name)
                if idx is not None:
                    ms = value_index_measures(
                        f"{self.sf_dir}/{g2.table}.parquet", name
                    )
                    try:
                        out = group2_count_df(
                            idx, g2, {c: int(dp) for c, dp in ms or []}
                        )
                        if out is not None:
                            return out
                    except Exception:
                        pass  # conservative: any doubt -> the plain plan
                    break
        drw = parse_distinct_count(jquery)
        if drw is not None:
            idx = self._get_value_index(drw[0], drw[1])
            if idx is not None:
                return distinct_count_df(idx, drw[1], drw[2])

        # Materialized-view routing: a time-bucketed GROUP BY served from
        # the continuous-rollup sidecar (merge-on-read over partials) —
        # O(buckets x keys) instead of a table scan. Freshness-gated: the
        # rollup's recorded table signature must match the table (the
        # index_is_fresh gate every sidecar shares — it catches
        # count-preserving out-of-band rewrites), and its total row
        # count must equal the table's manifest row_count (rows with
        # NULL ts are absent from both the rollup and the bucketed
        # GROUP BY result, but a NULL-ts table would fail this equality
        # and conservatively fall back).
        from columnar_spark.plans.count_rewrite import (
            parse_time_rollup,
            rollup_route_df,
        )

        rrw = parse_time_rollup(query)
        if rrw is not None:
            from columnar_spark.stats import index_is_fresh
            from columnar_spark.streaming.rollup import (
                load_rollup_sidecar,
                rollup_sidecar_path,
            )

            rtable = f"{self.sf_dir}/{rrw.table}.parquet"
            loaded = load_rollup_sidecar(self.spark, rtable)
            if loaded is not None and index_is_fresh(
                rtable, rollup_sidecar_path(rtable)
            ):
                partials, meta = loaded
                try:
                    out = rollup_route_df(partials, meta, rrw)
                    if out is not None:
                        from pyspark.sql import functions as _F

                        total = partials.agg(_F.sum("cnt")).first()[0] or 0
                        row_count = next(
                            iter(self.stats(rrw.table).values())
                        )["row_count"]
                        if total == row_count:
                            return out
                except Exception:
                    pass  # stale/incompatible sidecar -> plain plan

        # Aggregate-projection routing: a filter + GROUP BY +
        # associative-measure query (optionally with the projection's
        # exact inner-join chain spelled out) whose keys, predicate
        # columns, and measure expressions are all covered by a declared
        # .aggproj sidecar reads the O(groups) artifact instead of the
        # fact — the reference's answer-from-the-index regime
        # (secondary/secondary.cpp:531-551) for the user's OWN SQL, no
        # opt-in. Freshness-gated; a stale artifact serves the live
        # defining aggregation (same fixed-point algebra — bit-identical
        # to the route), and anything not provably covered falls
        # through untouched.
        try:
            out = self._try_agg_projection_route(query)
            if out is not None:
                return out
        except Exception:
            pass  # conservative: any doubt -> the plain plan

        # Whole-table MIN/MAX/COUNT(*) from the stats manifest (D1: the
        # min/max tree root IS the answer) — a LocalTableScan plan, zero
        # table reads at execution.
        from columnar_spark.plans.count_rewrite import parse_stats_aggs, stats_agg_df

        srw = parse_stats_aggs(query)
        if srw is not None:
            try:
                tbl = self.table(srw.table)
                out = stats_agg_df(self.spark, tbl, self.stats(srw.table), srw)
                if out is not None:
                    return out
            except Exception:
                pass  # unknown table/column or stats gap -> plain plan

        # Join-MV routing: a two-table inner equi-join whose (tables,
        # keys) match a declared join projection rewrites its FROM
        # clause onto the pre-joined sidecar — the per-query fact
        # shuffle disappears, like the rollup routing above. Safe by
        # construction: the rewritten query must ANALYZE (any reference
        # to a column the projection does not carry raises, and the
        # original plan runs); the projection view itself is re-resolved
        # at use (fresh sidecar or live defining join).
        out = self._try_join_mv_route(query)
        if out is not None:
            return out
        self._refresh_projection_views(query)
        try:
            return self.spark.sql(query)
        except Exception as e:
            # UX: auto-register this engine's tables as views on the
            # first unresolved-relation miss, then retry once.
            if "TABLE_OR_VIEW_NOT_FOUND" in str(e):
                self.register_views()
                return self.spark.sql(query)
            raise

    # -------------------------------------------------------------- stats

    def stats(self, name: str) -> dict[str, dict]:
        """Per-column manifest (D1-D5/E7 surface), computed once."""
        if name not in self._manifests:
            self._manifests[name] = {
                r["column"]: r.asDict()
                for r in build_stats_manifest(self.table(name)).collect()
            }
        return self._manifests[name]

    def estimate(self, name: str, f: Filter) -> float:
        """Selectivity estimate from the manifest (EstimateMinMax parity)."""
        return estimate_selectivity(self.stats(name), f)

    def early_reject(self, name: str, filters: Sequence[Filter]) -> bool:
        """True when table-level stats PROVE zero rows can match — the
        whole-segment reject (reference EarlyReject, columnar.cpp:695-704).
        Uses a conservative interval-overlap test (stats_can_match), not the
        measure-based selectivity estimate: a point range [v, v] inside
        [min, max] estimates ~0.0 measure but can obviously still match."""
        return any(not stats_can_match(self.stats(name), f) for f in filters)

    def access_plan(self, name: str, filters: Sequence[Filter]) -> list[dict]:
        """Scan-vs-index decision per conjunct — the reference host's
        access-path choice (SURVEY §3.2 step 3: EstimateMinMax +
        GetNumIterators + complexity). Returns one dict per filter:
        {column, selectivity, path} where path is 'index-count' (a value
        index covers it), 'pruned-scan' (selective -> rely on zone-map/
        row-group pruning) or 'full-scan'."""
        out = []
        for f in filters:
            sel = self.estimate(name, f)
            if (name, f.name) in self._value_indexes and f.mva.value == "none":
                path = "index-count"
            elif sel < 0.3:
                path = "pruned-scan"
            else:
                path = "full-scan"
            out.append({"column": f.name, "selectivity": round(sel, 4), "path": path})
        return out

    # ---------------------------------------------------------------- knn

    def train_knn_index(
        self, name: str, vec_col: str, n_clusters: int = 16, max_iter: int = 10
    ) -> None:
        """Build the IVF centroid index for (table, vec_col) — the A12
        index-build step. Centroids are a few KB: kept driver-side and
        broadcast into probe plans."""
        self._knn_indexes[(name, vec_col)] = train_centroids(
            self.table(name), vec_col, n_clusters=n_clusters, max_iter=max_iter
        )

    def knn_access_path(
        self,
        name: str,
        vec_col: str,
        filters: Sequence[Filter] = (),
        k: int = 10,
        ef: int = 64,
    ) -> str:
        """'fullscan' (exact filter-then-rank) vs 'graph' (persisted HNSW
        sidecar, filter-during-walk) vs 'ivf' (approximate probe) —
        ShouldUseFullscan parity (knn/knn.cpp:216-217, which defers to
        the graph's bypass-for-filtered-search heuristic).

        Cost model: an approximate search inspects ~max(ef, k)·log2(N)
        candidates; an exact scan inspects the filter's expected survivors
        (selectivity × N, from the stats manifest). When the filter is so
        selective that brute-forcing its survivors is cheaper, use the
        exact path — it is also better-quality (no recall loss). When the
        filter is broad, the walk keeps graph speed by threading the
        allow-set INTO the search (KNNFilter_i::IsAllowed, knn/knn.h:87-94)
        — up to the allow-set transport cap, past which the IVF
        pre-filtered probe (or fullscan) takes over."""
        import math

        from columnar_spark.operators.hnsw_index import (
            KNN_ALLOW_SET_CAP as _KNN_ALLOW_SET_CAP,
            load_graph_index_meta,
        )

        has_graph = (
            load_graph_index_meta(
                f"{self.sf_dir}/{name}.parquet", vec_col=vec_col
            ) is not None
        )
        has_ivf = (name, vec_col) in self._knn_indexes
        if not has_graph and not has_ivf:
            return "fullscan"
        if not filters:
            return "graph" if has_graph else "ivf"
        stats = self.stats(name)
        n = max(int(next(iter(stats.values()))["row_count"]), 1)
        sel = 1.0
        for f in filters:
            sel *= self.estimate(name, f)
        survivors = sel * n
        graph_cost = max(ef, k) * max(1.0, math.log2(max(n, 2)))
        if survivors <= graph_cost:
            return "fullscan"
        if has_graph and survivors <= _KNN_ALLOW_SET_CAP:
            return "graph"
        return "ivf" if has_ivf else "fullscan"

    def knn(
        self,
        name: str,
        vec_col: str,
        query_vec: Sequence[float],
        k: int = 10,
        metric: str = "cosine",
        id_col: str = "vec_id",
        filters: Sequence[Filter] = (),
        mode: str = "auto",
        nprobe: int = 8,
    ) -> DataFrame:
        """KNN with automatic access-path choice: mode='auto' consults
        knn_access_path; 'exact'/'ivf'/'graph' force a path. The graph
        path serves the persisted HNSW sidecar; with filters it threads
        the surviving ids into the walk as an in-walk allow-set
        (filter-during-search — KNNFilter_i::IsAllowed parity) instead
        of post-filtering."""
        df = self.table(name)
        pre: Column | None = None
        if filters:
            pre = compile_filters(filters, df.schema)
        forced = mode != "auto"
        if mode == "auto":
            path = self.knn_access_path(name, vec_col, filters, k)
            mode = {"fullscan": "exact"}.get(path, path)
        if mode == "graph":
            from columnar_spark.operators.hnsw_index import (
                load_graph_index_meta,
            )

            # the artifact serves ITS OWN metric — a caller asking for a
            # different one must not be silently answered in the wrong
            # space; auto falls back to exact, an explicit force refuses
            gm = load_graph_index_meta(
                f"{self.sf_dir}/{name}.parquet", vec_col=vec_col
            )
            if gm is not None and gm["metric"] != metric:
                if forced:
                    raise ValueError(
                        f"graph index on {name}.{vec_col} serves metric "
                        f"{gm['metric']!r}, not {metric!r} — use the exact "
                        "path or rebuild the index with the wanted metric"
                    )
                mode = "exact"
        if mode == "graph":
            from columnar_spark.operators.hnsw_index import knn_query_graph

            allowed = None
            if pre is not None:
                from columnar_spark.operators.hnsw_index import (
                    KNN_ALLOW_SET_CAP,
                )

                # limit bounds driver memory; one row past the cap is
                # enough for knn_query_graph's loud refusal to fire
                allowed = [
                    r[0]
                    for r in df.filter(pre)
                    .select(id_col)
                    .limit(KNN_ALLOW_SET_CAP + 1)
                    .collect()
                ]
            out = knn_query_graph(
                self.spark,
                f"{self.sf_dir}/{name}.parquet",
                query_vec,
                k,
                allowed=allowed,
                vec_col=vec_col,
            )
            if out.columns[0] != id_col:
                out = out.withColumnRenamed(out.columns[0], id_col)
            from pyspark.sql import functions as _F

            # re-attach the payload columns by id (k-row left side):
            # same result shape as the exact/ivf paths
            return out.join(df, id_col, "left").orderBy(
                _F.col("dist").asc(), _F.col(id_col).asc()
            )
        if mode == "ivf":
            centroids = self._knn_indexes.get((name, vec_col))
            if centroids is None:
                raise ValueError(
                    f"no IVF index for ({name}, {vec_col}); call train_knn_index first"
                )
            probe_df = df.filter(pre) if pre is not None else df
            return knn_topk_ivf(
                probe_df, vec_col, query_vec, k, centroids, nprobe, metric, id_col
            )
        return knn_topk(df, vec_col, query_vec, k, metric, id_col, pre)

    def search(
        self,
        name: str,
        query: str,
        k: int = 10,
        mode: str = "bm25",
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Full-text entry point, sidecar-aware: BM25 / boolean / phrase
        over `name`, served from a persisted `.ftidx` when the table
        carries one (identical results either way — parity pinned)."""
        from columnar_spark.operators import fulltext as FT

        path = f"{self.sf_dir}/{name}.parquet"
        df = self.table(name)
        loaded = FT.load_text_index(self.spark, path)
        postings = loaded[0] if loaded else None
        # the sidecar's analyzer maps query terms into the index's term
        # space (a stemmed index would otherwise silently return empty)
        analyzer = loaded[2].get("analyzer") if loaded else None
        if mode == "bm25":
            if loaded:
                return FT.bm25_search_indexed(self.spark, path, query, k=k)
            return FT.bm25_search(df, query, k=k, id_col=id_col, text_col=text_col)
        # deterministic cutoff: boolean/phrase matches carry no score, so
        # order by doc_id before limiting (an unordered .limit(k) is
        # partition-dependent and can change run to run)
        if mode == "boolean":
            return (
                FT.match_boolean(
                    df, query, id_col=id_col, text_col=text_col,
                    postings=postings, analyzer=analyzer,
                )
                .orderBy("doc_id")
                .limit(k)
            )
        if mode == "phrase":
            pos = (
                postings
                if postings is not None and "positions" in postings.columns
                else None
            )
            return (
                FT.phrase_match(
                    df, query, id_col=id_col, text_col=text_col,
                    postings=pos, analyzer=analyzer if pos is not None else None,
                )
                .orderBy("doc_id")
                .limit(k)
            )
        raise ValueError(f"unknown search mode {mode!r}")

    # ------------------------------------------------------------ explain

    def explain(self, df: DataFrame, execute: bool = False) -> AccessPathReport:
        return access_path_report(df, execute=execute)
