"""Index-covered COUNT rewrite — SURVEY §4 custom-rule shortlist #1.

Reference behavior: a COUNT(*) whose predicate is covered by a secondary
index is answered from the index alone (CalcCount,
secondary/secondary.cpp:531-551) — no base-table scan.

Spark-first placement: a true Catalyst rule needs a JVM extension jar
(`spark.sql.extensions` + an injected `Rule[LogicalPlan]` — the public
production route, not expressible from Python). The engine therefore
applies the rewrite at its SQL entry point: `Engine.sql(q)` parses the
COUNT pattern, and when every WHERE conjunct targets ONE column with a
built value index, returns a plan over the few-KB index table — the base
scan disappears (assertable via explain). Anything it cannot prove
eligible falls through to `spark.sql(q)` untouched, so the rewrite is
strictly an optimization, never a semantics change.

Covered grammar (single table, conjuncts on one column):

    SELECT COUNT(*) [AS alias] FROM t
    WHERE col (= | <> | != | < | <= | > | >=) lit
        | col IN (lit, ...)
        | col BETWEEN lit AND lit
        | col IS NOT NULL
        [AND ...same column...]

Null semantics match the engine's filter model (filters.py): the value
index materializes every (value, count) pair including NULL, inclusive
predicates never match NULL, excludes do.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from columnar_spark.filters import Filter, FilterType, compile_filter

_COUNT_RE = re.compile(
    r"^\s*SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_LIT = r"(?:'(?:[^']*)'|-?\d+(?:\.\d+)?)"

# JSON per-field predicates: `get_json_object(col, '$.path')` wherever a
# column name is accepted. Normalized textually into the virtual-column
# naming convention (stats.json_virtual_name) BEFORE the grammar runs, so
# every parse path below covers JSON fields for free — the per-field
# value-index sidecar is keyed by the same virtual name.
_JSON_EXPR_RE = re.compile(
    r"GET_JSON_OBJECT\s*\(\s*(\w+)\s*,\s*'(\$[^']*)'\s*\)", re.IGNORECASE
)


def normalize_json_exprs(sql: str) -> str:
    from columnar_spark.stats import json_virtual_name

    def sub(m):
        try:
            return json_virtual_name(m.group(1), m.group(2))
        except ValueError:
            return m.group(0)  # unparseable path: leave for Spark

    return _JSON_EXPR_RE.sub(sub, sql)
_TERM_RES = {
    "cmp": re.compile(
        rf"^(?P<col>\w+)\s*(?P<op><=|>=|<>|!=|=|<|>)\s*(?P<lit>{_LIT})$", re.IGNORECASE
    ),
    "in": re.compile(
        rf"^(?P<col>\w+)\s+IN\s*\(\s*(?P<items>{_LIT}(?:\s*,\s*{_LIT})*)\s*\)$",
        re.IGNORECASE,
    ),
    "between": re.compile(
        rf"^(?P<col>\w+)\s+BETWEEN\s+(?P<lo>{_LIT})\s+AND\s+(?P<hi>{_LIT})$",
        re.IGNORECASE,
    ),
    "notnull": re.compile(r"^(?P<col>\w+)\s+IS\s+NOT\s+NULL$", re.IGNORECASE),
}


@dataclass
class CountRewrite:
    table: str
    column: str
    filters: list[Filter]
    alias: str


def _parse_lit(s: str):
    if s.startswith("'"):
        return s[1:-1]
    return float(s) if "." in s else int(s)


def _split_conjuncts(pred: str) -> list[str] | None:
    """Split on top-level AND (outside parens). BETWEEN's inner AND is
    protected by consuming BETWEEN terms before splitting."""
    # Mask BETWEEN ... AND ... spans so the split doesn't break them.
    masked = re.sub(
        rf"BETWEEN\s+({_LIT})\s+AND\s+({_LIT})",
        lambda m: f"BETWEEN {m.group(1)} \x00 {m.group(2)}",
        pred,
        flags=re.IGNORECASE,
    )
    if "(" in masked and " IN" not in masked.upper():
        return None
    parts = re.split(r"\s+AND\s+", masked, flags=re.IGNORECASE)
    return [p.replace("\x00", "AND").strip() for p in parts]


def _term_to_filter(term: str) -> "list[Filter] | None":
    """One SQL conjunct -> engine filters, or None to fall through to
    Spark. Usually a single filter; `<>`/`!=` compose the exclude with a
    NOTNULL conjunct because the engine's exclude semantics MATCH NULL
    rows (filters.py coalesces the predicate to false, then negates)
    while ANSI `col <> lit` is NULL for NULL keys — without the
    conjunct an index-served COUNT/SUM/NDV would include NULL-key rows
    the spark.sql fallback excludes."""
    m = _TERM_RES["notnull"].match(term)
    if m:
        return [Filter(m.group("col"), FilterType.NOTNULL)]
    m = _TERM_RES["between"].match(term)
    if m:
        lo, hi = _parse_lit(m.group("lo")), _parse_lit(m.group("hi"))
        if isinstance(lo, str) or isinstance(hi, str):
            return None  # string ranges: fall through to Spark
        return [Filter(m.group("col"), FilterType.RANGE, min_value=lo, max_value=hi)]
    m = _TERM_RES["in"].match(term)
    if m:
        items = [_parse_lit(x.strip()) for x in m.group("items").split(",")]
        if all(isinstance(v, str) for v in items):
            return [Filter(m.group("col"), FilterType.STRINGS, strings=items)]
        if any(isinstance(v, str) for v in items):
            return None
        return [Filter(m.group("col"), FilterType.VALUES, values=items)]
    m = _TERM_RES["cmp"].match(term)
    if m:
        col, op, lit = m.group("col"), m.group("op"), _parse_lit(m.group("lit"))
        if op == "=":
            if isinstance(lit, str):
                return [Filter(col, FilterType.STRINGS, strings=[lit])]
            return [Filter(col, FilterType.VALUES, values=[lit])]
        if op in ("<>", "!="):
            excl = (
                Filter(col, FilterType.STRINGS, strings=[lit], exclude=True)
                if isinstance(lit, str)
                else Filter(col, FilterType.VALUES, values=[lit], exclude=True)
            )
            return [excl, Filter(col, FilterType.NOTNULL)]
        if isinstance(lit, str):
            return None
        if op == "<":
            return [Filter(col, FilterType.RANGE, max_value=lit, right_closed=False)]
        if op == "<=":
            return [Filter(col, FilterType.RANGE, max_value=lit)]
        if op == ">":
            return [Filter(col, FilterType.RANGE, min_value=lit, left_closed=False)]
        if op == ">=":
            return [Filter(col, FilterType.RANGE, min_value=lit)]
    return None


def parse_covered_count(sql: str) -> CountRewrite | None:
    """Return the rewrite description when `sql` matches the covered
    grammar with all conjuncts on one column; else None."""
    m = _COUNT_RE.match(sql)
    if not m:
        return None
    terms = _split_conjuncts(m.group("pred"))
    if not terms:
        return None
    filters = []
    for t in terms:
        fs = _term_to_filter(t)
        if fs is None:
            return None
        filters.extend(fs)
    cols = {f.name for f in filters}
    if len(cols) != 1:
        return None
    return CountRewrite(
        table=m.group("table"),
        column=cols.pop(),
        filters=filters,
        alias=m.group("alias") or "count(1)",
    )


def covered_count_df(index_df: DataFrame, filters: list[Filter], alias: str) -> DataFrame:
    """COUNT(*) answered from the value->count index: filter the index
    rows by every conjunct, sum the counts. The plan touches ONLY the
    index relation."""
    col_name = filters[0].name
    renamed = index_df.withColumnRenamed("value", col_name)
    pred = None
    for f in filters:
        if f.mva.value != "none":
            raise ValueError("MVA filters are not index-covered")
        c = compile_filter(f, renamed.select(col_name).schema)
        pred = c if pred is None else (pred & c)
    return renamed.filter(pred).agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias(alias)
    )


# -------------------------------------- measure-covered SUM aggregates

_SUM_ITEMS = (
    r"(?:COUNT\s*\(\s*\*\s*\)|SUM\s*\(\s*\w+\s*\)|COUNT\s*\(\s*DISTINCT\s+\w+\s*\))"
    r"(?:\s+AS\s+\w+)?"
)
_SUM_RE = re.compile(
    rf"^\s*SELECT\s+(?P<items>{_SUM_ITEMS}(?:\s*,\s*{_SUM_ITEMS})*)\s+"
    r"FROM\s+(?P<table>\w+)\s+WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SUM_ITEM_RE = re.compile(
    r"^(?:(?P<cnt>COUNT)\s*\(\s*\*\s*\)"
    r"|SUM\s*\(\s*(?P<sumcol>\w+)\s*\)"
    r"|COUNT\s*\(\s*DISTINCT\s+(?P<dcol>\w+)\s*\))"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)


@dataclass
class SumAggRewrite:
    table: str
    column: str  # the indexed key every WHERE conjunct targets
    filters: list[Filter]
    # ("count", alias) | ("sum", measure_col, alias) | ("ndv", col, alias)
    items: list[tuple]


def parse_sum_agg(sql: str) -> SumAggRewrite | None:
    """COUNT(*)/SUM(m)/COUNT(DISTINCT key) mixes over one indexed key —
    the E6 surface extended to measure-bearing value indexes: the whole
    aggregate is servable from the (value, cnt, m_*) sidecar when every
    SUM column is a recorded measure. At least one SUM must be present
    (pure counts take the existing rewrites)."""
    m = _SUM_RE.match(sql)
    if not m:
        return None
    items: list[tuple] = []
    has_sum = False
    for raw in re.split(r"\s*,\s*", m.group("items").strip()):
        im = _SUM_ITEM_RE.match(raw.strip())
        if not im:
            return None
        if im.group("cnt"):
            items.append(("count", im.group("alias") or "count(1)"))
        elif im.group("sumcol"):
            has_sum = True
            col = im.group("sumcol")
            items.append(("sum", col, im.group("alias") or f"sum({col})"))
        else:
            col = im.group("dcol")
            items.append(("ndv", col, im.group("alias") or f"count(DISTINCT {col})"))
    if not has_sum:
        return None
    terms = _split_conjuncts(m.group("pred"))
    if not terms:
        return None
    filters = []
    for t in terms:
        fs = _term_to_filter(t)
        if fs is None:
            return None
        filters.extend(fs)
    cols = {f.name for f in filters}
    if len(cols) != 1:
        return None
    key = cols.pop()
    # COUNT(DISTINCT x) is index-servable only for the key itself
    if any(it[0] == "ndv" and it[1] != key for it in items):
        return None
    return SumAggRewrite(m.group("table"), key, filters, items)


def sum_agg_df(
    index_df: DataFrame,
    rw: SumAggRewrite,
    measures: dict[str, int],
) -> DataFrame | None:
    """The aggregate served from the sidecar alone: counts sum `cnt`,
    SUMs unscale the exact int64 fixed-point m_<col> columns (so the
    result is the EXACT decimal sum — the int64 form is associative, no
    float accumulation order to disagree about), NDV counts surviving
    index rows. None when a SUM column has no recorded measure."""
    from columnar_spark.functions.money import unscale
    from columnar_spark.stats import measure_col_name

    key = rw.column
    renamed = index_df.withColumnRenamed("value", key)
    pred = None
    for f in rw.filters:
        if f.mva.value != "none":
            return None
        c = compile_filter(f, renamed.select(key).schema)
        pred = c if pred is None else (pred & c)
    probe = renamed.filter(pred)
    aggs = []
    for it in rw.items:
        if it[0] == "count":
            aggs.append(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias(it[1]))
        elif it[0] == "ndv":
            aggs.append(F.count(F.lit(1)).cast("long").alias(it[2]))
        else:
            _kind, col, alias = it
            if col not in measures:
                return None
            mc = measure_col_name(col)
            if mc not in index_df.columns:
                return None
            aggs.append(unscale(F.sum(mc), measures[col]).alias(alias))
    return probe.agg(*aggs)


# ------------------------------------------------ stats-covered MIN/MAX

_STATS_AGG_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ITEM_RE = re.compile(
    r"^(?:(?P<fn>MIN|MAX)\s*\(\s*(?P<col>\w+)\s*\)|(?P<cnt>COUNT)\s*\(\s*\*\s*\))"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)


@dataclass
class StatsAggRewrite:
    table: str
    # (fn, col, alias); fn in {"min","max","count"}; col None for count
    items: list[tuple[str, str | None, str]]


def parse_stats_aggs(sql: str) -> StatsAggRewrite | None:
    """Match `SELECT MIN(c)/MAX(c)/COUNT(*) [, ...] FROM t` with NO
    WHERE/GROUP BY — the whole-table aggregates a stats manifest answers
    without touching the table (reference D1: the min/max tree root IS
    this answer; Delta/Iceberg serve the same from table metadata)."""
    m = _STATS_AGG_RE.match(sql)
    if not m or re.search(r"\b(WHERE|GROUP|HAVING|JOIN|LIMIT|ORDER)\b", sql, re.IGNORECASE):
        return None
    items = []
    for raw in m.group("items").split(","):
        im = _ITEM_RE.match(raw.strip())
        if not im:
            return None
        if im.group("cnt"):
            items.append(("count", None, im.group("alias") or "count(1)"))
        else:
            fn = im.group("fn").lower()
            col = im.group("col")
            items.append((fn, col, im.group("alias") or f"{fn}({col})"))
    return StatsAggRewrite(table=m.group("table"), items=items)


def stats_agg_df(
    spark, table_df: DataFrame, manifest: dict[str, dict], rw: StatsAggRewrite
) -> DataFrame | None:
    """One-row answer from the manifest (LocalTableScan — zero table
    reads at execution). Manifest min/max are stored as strings; they
    cast back through the column's own type (Spark's numeric/timestamp
    string round-trip is exact). Returns None when any referenced column
    is absent or stats-less (complex types) — caller falls through."""
    types = dict(table_df.dtypes)
    cols = []
    for fn, col, alias in rw.items:
        if fn == "count":
            any_col = next(iter(manifest))
            cols.append(F.lit(manifest[any_col]["row_count"]).cast("long").alias(alias))
            continue
        ent = manifest.get(col)
        if ent is None or col not in types or ent["ndv"] is None:
            return None
        raw = ent["min" if fn == "min" else "max"]
        cols.append(F.lit(raw).cast("string").cast(types[col]).alias(alias))
    return spark.range(1).select(*cols)


# ------------------------------------ index-covered GROUP BY / DISTINCT

_GROUP_COUNT_RE = re.compile(
    r"^\s*SELECT\s+(?P<col>\w+)(?:\s+AS\s+(?P<calias>\w+))?\s*,\s*"
    r"COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+(?:WHERE\s+(?P<pred>.+?)\s+)?GROUP\s+BY\s+(?P<gcol>\w+|1)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DISTINCT_COUNT_RE = re.compile(
    r"^\s*SELECT\s+COUNT\s*\(\s*DISTINCT\s+(?P<col>\w+)\s*\)(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE,
)


@dataclass
class GroupCountRewrite:
    table: str
    column: str
    filters: list[Filter]
    alias: str
    out_name: str  # SELECT-list alias for the group column


def parse_group_count(sql: str) -> GroupCountRewrite | None:
    """`SELECT col [AS name], COUNT(*) FROM t [WHERE <conjuncts on col>]
    GROUP BY col|1` — the value index IS this result (reference E6: the
    index stores (value, count) pairs; the whole aggregation is a
    lookup). `col` may be a JSON virtual name after
    normalize_json_exprs."""
    m = _GROUP_COUNT_RE.match(sql)
    if not m:
        return None
    gcol = m.group("gcol").lower()
    aliases = {m.group("col").lower(), "1"}
    if m.group("calias"):
        aliases.add(m.group("calias").lower())
    if gcol not in aliases:
        return None
    filters: list[Filter] = []
    if m.group("pred"):
        terms = _split_conjuncts(m.group("pred"))
        if not terms:
            return None
        for t in terms:
            fs = _term_to_filter(t)
            if fs is None or any(
                f.name.lower() != m.group("col").lower() for f in fs
            ):
                return None
            filters.extend(fs)
    return GroupCountRewrite(
        table=m.group("table"),
        column=m.group("col"),
        filters=filters,
        alias=m.group("alias") or "count(1)",
        out_name=m.group("calias") or m.group("col"),
    )


_GROUP2_RE = re.compile(
    r"^\s*SELECT\s+(?P<c1>\w+)(?:\s+AS\s+(?P<a1>\w+))?\s*,\s*"
    r"(?P<c2>\w+)(?:\s+AS\s+(?P<a2>\w+))?\s*,\s*"
    r"COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<calias>\w+))?\s*"
    r"(?:,\s*SUM\s*\(\s*(?P<mcol>\w+)\s*\)(?:\s+AS\s+(?P<malias>\w+))?\s*)?"
    r"FROM\s+(?P<table>\w+)\s+GROUP\s+BY\s+(?P<g1>\w+|1)\s*,\s*(?P<g2>\w+|2)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass
class Group2CountRewrite:
    table: str
    cols: tuple  # (col1, col2) in SELECT order
    out_names: tuple
    count_alias: str
    measure_col: "str | None"
    measure_alias: "str | None"


def parse_group2_count(sql: str) -> "Group2CountRewrite | None":
    """`SELECT a, b, COUNT(*) [, SUM(m)] FROM t GROUP BY a, b` — when a
    composite value index over (a, b) exists, the sidecar IS this
    result: the struct key unpacks to the two group columns, cnt is the
    count, and the recorded fixed-point measure unscales to the exact
    SUM (grouped-aggregate generalization of reference E6)."""
    m = _GROUP2_RE.match(sql)
    if not m:
        return None
    c1, c2 = m.group("c1").lower(), m.group("c2").lower()
    g1, g2 = m.group("g1").lower(), m.group("g2").lower()
    if {g1, g2} not in ({c1, c2}, {"1", "2"}):
        return None
    return Group2CountRewrite(
        table=m.group("table"),
        cols=(m.group("c1"), m.group("c2")),
        out_names=(m.group("a1") or m.group("c1"), m.group("a2") or m.group("c2")),
        count_alias=m.group("calias") or "count(1)",
        measure_col=m.group("mcol"),
        measure_alias=m.group("malias") or (
            f"sum({m.group('mcol')})" if m.group("mcol") else None
        ),
    )


def group2_count_df(
    index_df: DataFrame, rw: Group2CountRewrite, measures: "dict | None"
) -> "DataFrame | None":
    """Serve the two-key grouped aggregate off the composite (value,
    cnt[, m_*]) index; None when the asked measure isn't recorded."""
    out = [
        F.col(f"value.{rw.cols[0]}").alias(rw.out_names[0]),
        F.col(f"value.{rw.cols[1]}").alias(rw.out_names[1]),
        F.col("cnt").cast("long").alias(rw.count_alias),
    ]
    if rw.measure_col is not None:
        dp = (measures or {}).get(rw.measure_col)
        if dp is None:
            return None
        from columnar_spark.functions.money import unscale
        from columnar_spark.stats import measure_col_name

        out.append(
            unscale(F.col(measure_col_name(rw.measure_col)), int(dp)).alias(
                rw.measure_alias
            )
        )
    return index_df.select(*out)


def group_count_df(
    index_df: DataFrame,
    column: str,
    filters: list[Filter],
    alias: str,
    out_name: str | None = None,
) -> DataFrame:
    """GROUP BY col + COUNT(*) straight off the (value, cnt) index.
    SQL GROUP BY keeps the NULL group only if NULL rows exist; the index
    materializes a NULL row with its count, matching exactly. Inclusive
    WHERE conjuncts never match NULL (filter model), same as SQL."""
    renamed = index_df.withColumnRenamed("value", column)
    pred = None
    for f in filters:
        c = compile_filter(f, renamed.select(column).schema)
        pred = c if pred is None else (pred & c)
    out = renamed if pred is None else renamed.filter(pred)
    return out.select(
        F.col(column).alias(out_name or column),
        F.col("cnt").cast("long").alias(alias),
    )


def parse_distinct_count(sql: str):
    m = _DISTINCT_COUNT_RE.match(sql)
    if not m:
        return None
    return (
        m.group("table"),
        m.group("col"),
        m.group("alias") or f"count(DISTINCT {m.group('col')})",
    )


def distinct_count_df(index_df: DataFrame, column: str, alias: str) -> DataFrame:
    """Exact COUNT(DISTINCT col) = number of non-NULL index rows
    (reference E7 CalcCountDistinct, secondary.cpp:380-388)."""
    renamed = index_df.withColumnRenamed("value", column)
    return renamed.filter(F.col(column).isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias(alias)
    )


# ----------------------------------- aggregate-projection GROUP BYs
# Plain-SQL routing onto the .aggproj sidecars (aggprojections.py): a
# filter + GROUP BY + associative-measure query whose keys, predicate
# columns, and measure expressions are all covered by a DECLARED
# aggregate projection is served from the O(groups) artifact — the
# user's own `Engine.sql("SELECT ... GROUP BY ...")` stops paying the
# fact scan, exactly as the reference answers covered aggregates from
# the index host-side with no opt-in (secondary/secondary.cpp:531-551).
# Matching is declaration-driven: each projection measure may carry a
# `user` annotation (the USER-LEVEL SQL text of the expression whose
# fixed-point partial it stores, plus `dp` unscale digits), and keys
# match by output name or declared expr. Anything not provably covered
# falls through untouched.

_AGGP_FORBID_RE = re.compile(
    r"\b(HAVING|UNION|EXCEPT|INTERSECT|DISTINCT|OVER|WITH|"
    r"LEFT|RIGHT|FULL|OUTER|CROSS|SEMI|ANTI)\b|\(\s*SELECT",
    re.IGNORECASE,
)

_AGGQ_RE = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+"
    r"FROM\s+(?P<table>\w+)"
    r"(?P<joins>(?:\s+(?:INNER\s+)?JOIN\s+\w+\s+ON\s+\w+\s*=\s*\w+)*)"
    r"(?:\s+WHERE\s+(?P<pred>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<grp>.+?)"
    r"(?:\s+ORDER\s+BY\s+(?P<ord>.+?))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_JOIN_RE = re.compile(
    r"\s+(?:INNER\s+)?JOIN\s+(?P<t>\w+)\s+ON\s+(?P<a>\w+)\s*=\s*(?P<b>\w+)",
    re.IGNORECASE,
)
_AGG_ITEM_RE = re.compile(
    r"^(?P<fn>COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(?P<arg>.+?)\s*\)"
    r"\s*(?:AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE | re.DOTALL,
)
_KEY_ITEM_RE = re.compile(
    r"^(?P<expr>.+?)(?:\s+AS\s+(?P<alias>\w+))?$", re.IGNORECASE | re.DOTALL
)
_ORD_ITEM_RE = re.compile(
    r"^(?P<tok>\w+)(?:\s+(?P<dir>ASC|DESC))?$", re.IGNORECASE
)

# identifiers a key-only predicate may use besides the key columns
# themselves: boolean/predicate syntax, literal syntax, casts, and the
# deterministic date/extract helpers — anything else (unknown function,
# non-key column, aggregate) refuses the route
_PRED_ALLOWED = {
    "and", "or", "not", "in", "between", "like", "rlike", "ilike", "is",
    "null", "true", "false", "date", "timestamp", "interval", "cast", "as",
    "int", "integer", "bigint", "smallint", "double", "float", "string",
    "decimal", "boolean", "year", "years", "month", "months", "day", "days",
    "week", "weeks", "hour", "hours", "quarter", "date_trunc", "date_add",
    "date_sub", "add_months", "last_day", "dayofweek", "dayofmonth", "trim",
    "upper", "lower", "substr", "substring", "abs", "coalesce", "case",
    "when", "then", "else", "end",
}


def _norm_expr(s: str) -> str:
    return re.sub(r"\s+", "", s).lower()


def _split_top_commas(s: str) -> "list[str]":
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return [p for p in parts if p]


@dataclass
class AggProjQuery:
    table: str
    joins: "list[tuple[str, str, str]]"  # (table, on_a, on_b)
    keys: "list[tuple[str, str]]"        # (expr text, output name)
    aggs: "list[tuple]"                  # ("count", alias) | (fn, expr, alias)
    select_names: "list[str]"            # output columns in SELECT order
    pred: "str | None"
    order: "list[tuple[str, bool]] | None"
    limit: "int | None"


def parse_agg_proj_query(sql: str) -> "AggProjQuery | None":
    """Parse the routable grammar: single table (optionally an inner
    equi-join chain, one table per join), select list of bare/aliased
    key expressions plus COUNT(*)/SUM/MIN/MAX/AVG aggregates, optional
    WHERE, GROUP BY exactly the selected keys, optional ORDER BY over
    output columns, optional LIMIT. Returns None (-> fall through to
    spark.sql) on anything outside the grammar."""
    if _AGGP_FORBID_RE.search(sql):
        return None
    m = _AGGQ_RE.match(sql)
    if not m:
        return None
    joins = [
        (j.group("t"), j.group("a"), j.group("b"))
        for j in _JOIN_RE.finditer(m.group("joins") or "")
    ]
    keys: "list[tuple[str, str]]" = []
    aggs: "list[tuple]" = []
    select_names: "list[str]" = []
    for raw in _split_top_commas(m.group("items")):
        am = _AGG_ITEM_RE.match(raw)
        if am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            alias = am.group("alias")
            if fn == "count":
                if arg not in ("*", "1"):
                    return None
                name = alias or "count(1)"
                aggs.append(("count", name))
            else:
                name = alias or f"{fn}({arg})"
                aggs.append((fn, arg, name))
            select_names.append(name)
            continue
        km = _KEY_ITEM_RE.match(raw)
        if not km:
            return None
        expr = km.group("expr").strip()
        alias = km.group("alias")
        if alias is None:
            if not re.fullmatch(r"\w+", expr):
                return None  # computed key needs an explicit alias
            alias = expr
        keys.append((expr, alias))
        select_names.append(alias)
    if not keys or not aggs or len(set(select_names)) != len(select_names):
        return None
    # GROUP BY must be a permutation of the selected keys (by position,
    # output name, or expression text)
    grp = _split_top_commas(m.group("grp"))
    if len(grp) != len(keys):
        return None
    seen = set()
    for g in grp:
        gn = _norm_expr(g)
        hit = None
        for i, (expr, alias) in enumerate(keys):
            if gn in (str(i + 1), _norm_expr(expr), _norm_expr(alias)):
                hit = i
                break
        if hit is None or hit in seen:
            return None
        seen.add(hit)
    order = None
    if m.group("ord"):
        order = []
        for raw in _split_top_commas(m.group("ord")):
            om = _ORD_ITEM_RE.match(raw.strip())
            if not om:
                return None
            tok = om.group("tok")
            if tok.isdigit():
                i = int(tok)
                if not 1 <= i <= len(select_names):
                    return None
                tok = select_names[i - 1]
            elif tok not in select_names:
                return None
            order.append((tok, (om.group("dir") or "ASC").upper() == "ASC"))
    return AggProjQuery(
        table=m.group("table"),
        joins=joins,
        keys=keys,
        aggs=aggs,
        select_names=select_names,
        pred=m.group("pred"),
        order=order,
        limit=int(m.group("limit")) if m.group("limit") else None,
    )


def _pred_identifiers(pred: str) -> "set[str]":
    stripped = re.sub(r"'[^']*'", "''", pred)
    return {t.lower() for t in re.findall(r"[A-Za-z_]\w*", stripped)}


def _rename_outside_literals(pred: str, renames: "dict[str, str]") -> str:
    """Apply identifier renames to the predicate text, never touching
    string literals."""
    if not renames:
        return pred
    pat = re.compile(r"\b(" + "|".join(map(re.escape, renames)) + r")\b")
    out = []
    for i, seg in enumerate(re.split(r"('[^']*')", pred)):
        out.append(seg if i % 2 else pat.sub(lambda m: renames[m.group(1)], seg))
    return "".join(out)


def match_agg_projection(q: AggProjQuery, meta: dict) -> "dict | None":
    """Coverage proof of `q` against one projection's meta, or None.
    Returns {keys: [(artifact_col, out_name)], aggs: [...], pred: str}
    ready for agg_proj_route_df. The query's join chain must equal the
    projection's enrich set EXACTLY (same tables, same on-keys — baked
    inner joins drop the same rows) and is refused when the projection
    enriches the same table twice (SQL would need table aliases to
    disambiguate). `where`-bearing (filtered/partial) projections are
    refused outright: serving them needs an implication proof between
    the query predicate and the baked filter this router does not
    attempt."""
    if meta.get("where"):
        return None
    enrich = list(meta.get("enrich", ()))
    etables = [en["table"].removesuffix(".parquet") for en in enrich]
    if len(set(etables)) != len(etables):
        return None
    if len(q.joins) != len(enrich):
        return None
    renames: "dict[str, str]" = {}  # dim src col -> artifact alias
    unmatched = dict(zip(etables, enrich))
    for t, a, b in q.joins:
        en = unmatched.pop(t, None)
        if en is None or {a, b} != {en["left_on"], en["right_on"]}:
            return None
        for src, alias in en["cols"].items():
            if src != alias:
                renames[src] = alias
    key_by_name = {k.lower(): k for k in meta["keys"]}
    key_by_expr = {_norm_expr(e): k for k, e in meta["keys"].items()}
    out_keys = []
    for expr, out_name in q.keys:
        n = _norm_expr(renames.get(expr, expr))
        k = key_by_name.get(n) or key_by_expr.get(n)
        if k is None:
            return None
        out_keys.append((k, out_name))
    count_measure = None
    by_user: "dict[tuple[str, str], dict]" = {}
    for mm in meta["measures"]:
        if mm["agg"] == "count" and count_measure is None:
            count_measure = mm["name"]
        u = mm.get("user")
        if u is not None:
            by_user.setdefault((mm["agg"], _norm_expr(u)), mm)
    out_aggs: "list[tuple]" = []
    for item in q.aggs:
        if item[0] == "count":
            if count_measure is None:
                return None
            out_aggs.append(("count", count_measure, item[1]))
            continue
        fn, expr, alias = item
        if fn == "avg":
            mm = by_user.get(("sum", _norm_expr(expr)))
            # AVG divides by COUNT(expr): servable only when the
            # declaration asserts the measure expression is non-null
            # over the source (then COUNT(expr) == cnt)
            if mm is None or count_measure is None or not mm.get("nonnull"):
                return None
            out_aggs.append(("avg", mm, count_measure, alias))
        else:
            mm = by_user.get((fn, _norm_expr(expr)))
            if mm is None:
                return None
            out_aggs.append((fn, mm, alias))
    pred = q.pred
    if pred is not None:
        ids = _pred_identifiers(pred)
        key_cols = {k.lower() for k in meta["keys"]}
        ok = key_cols | _PRED_ALLOWED | {
            s.lower() for s, a in renames.items() if a.lower() in key_cols
        }
        if not ids <= ok:
            return None
        pred = _rename_outside_literals(pred, renames)
    return {"keys": out_keys, "aggs": out_aggs, "pred": pred}


def agg_proj_route_df(partials: DataFrame, plan: dict, q: AggProjQuery) -> DataFrame:
    """Serve the query from projection partial rows (the fresh artifact
    OR the live defining aggregation — same schema, so route and
    fallback are bit-identical by construction). Key-only predicates
    filter partial rows exactly (the predicate depends only on group
    keys, so filter-then-merge == the original filter-then-group);
    measures combine with their associative merge and unscale from the
    exact fixed-point partials."""
    from columnar_spark.functions.money import unscale

    df = partials
    if plan["pred"]:
        df = df.filter(F.expr(plan["pred"]))
    gb = [F.col(k).alias(out) for k, out in plan["keys"]]
    aggs = []
    for it in plan["aggs"]:
        if it[0] == "count":
            aggs.append(F.sum(it[1]).cast("long").alias(it[2]))
        elif it[0] == "avg":
            _, mm, cnt_name, alias = it
            s = F.sum(mm["name"])
            dp = mm.get("dp")
            num = unscale(s, dp) if dp is not None else s.cast("double")
            aggs.append((num / F.sum(cnt_name)).alias(alias))
        elif it[0] == "sum":
            _, mm, alias = it
            s = F.sum(mm["name"])
            dp = mm.get("dp")
            aggs.append(
                (unscale(s, dp) if dp is not None else s.cast("long")).alias(alias)
            )
        else:
            fn, mm, alias = it
            agg = F.min(mm["name"]) if fn == "min" else F.max(mm["name"])
            dp = mm.get("dp")
            aggs.append((unscale(agg, dp) if dp is not None else agg).alias(alias))
    out = df.groupBy(*gb).agg(*aggs).select(*q.select_names)
    if q.order:
        out = out.orderBy(
            *[F.col(c).asc() if asc else F.col(c).desc() for c, asc in q.order]
        )
    if q.limit is not None:
        out = out.limit(q.limit)
    return out
