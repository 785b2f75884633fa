import java.io.File;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.catalyst.expressions.Alias;
import org.apache.spark.sql.catalyst.expressions.Attribute;
import org.apache.spark.sql.catalyst.expressions.AttributeReference;
import org.apache.spark.sql.catalyst.expressions.AttributeSet;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.NamedExpression;
import org.apache.spark.sql.catalyst.expressions.TruncTimestamp;
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression;
import org.apache.spark.sql.catalyst.expressions.aggregate.Average;
import org.apache.spark.sql.catalyst.expressions.aggregate.Count;
import org.apache.spark.sql.catalyst.expressions.aggregate.Max;
import org.apache.spark.sql.catalyst.expressions.aggregate.Min;
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum;
import org.apache.spark.sql.catalyst.plans.logical.Aggregate;
import org.apache.spark.sql.catalyst.plans.logical.Filter;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.catalyst.plans.logical.Project;
import org.apache.spark.sql.catalyst.rules.Rule;
import org.apache.spark.sql.execution.datasources.HadoopFsRelation;
import org.apache.spark.sql.execution.datasources.LogicalRelation;
import org.apache.spark.sql.functions;

/**
 * Index-covered COUNT(*) rewrite as a real Catalyst optimizer rule.
 *
 * Matches the root plan shape
 *     Aggregate[count(1) AS name](
 *         [Project]* Filter(cond) [Project]* LogicalRelation(parquet))
 * where cond is deterministic and references exactly ONE column that has
 * a persisted value->count sidecar at `<table>.parquet.vidx/<col>`
 * (stats.write_value_index's artifact, maintained on append / rebuilt on
 * MERGE), and replaces it with
 *     Aggregate[coalesce(sum(cnt),0) cast bigint AS name](
 *         Filter(cond') Scan(<vidx dir>))
 * — the few-KB index relation; the base-table scan disappears from the
 * plan. Exactness: the sidecar materializes every (value, count) pair
 * including NULL; an inclusive predicate over NULL evaluates to null and
 * filters out, identical to WHERE semantics on the base table.
 *
 * Deliberately conservative: any shape it cannot PROVE eligible is left
 * untouched (the rewrite is an optimization, never a semantics change),
 * and any internal error falls through to the original plan. JSON
 * virtual-field sidecars (which have a _meta.json parent linkage but no
 * physical column) are covered through the same naming convention when
 * the query filters on the materialized virtual column.
 */
public class CountRewriteRule extends Rule<LogicalPlan> {
    private final SparkSession session;

    public CountRewriteRule(SparkSession session) {
        this.session = session;
    }

    /** Session-conf kill switch. Index MAINTENANCE queries (sidecar
     * build/merge/audit) must see the BASE table — answering a rebuild
     * or an audit from the very sidecar being rewritten would
     * self-overwrite (FAILED_READ_FILE) or silently serve stale counts
     * — so stats.py disables rewrites around those plans; it doubles as
     * a production off switch. */
    public static final String ENABLED_KEY = "spark.columnar_spark.rewrite.enabled";

    @Override
    public LogicalPlan apply(LogicalPlan plan) {
        try {
            if ("false".equalsIgnoreCase(session.conf().get(ENABLED_KEY, "true"))) {
                return plan;
            }
            // Whole-tree transform, not root-only: the aggregate usually
            // sits under a write command, LIMIT, or join input. Each
            // eligible Aggregate(Filter(Relation)) subtree is replaced
            // in place; pinOutput keeps the parents' references valid.
            return (LogicalPlan) plan.transformUp(new RewriteAggSubtree(this));
        } catch (Throwable t) {
            return plan; // conservative: never fail a query over a rewrite
        }
    }

    /** The sidecar-served replacement for one Aggregate node, or null
     * when not provably eligible. Package-visible for RewriteAggSubtree. */
    LogicalPlan rewriteAggregate(Aggregate agg) {
        if (agg.groupingExpressions().isEmpty()) return rewriteGlobalAggs(agg);
        LogicalPlan rollup = rewriteRollup(agg);
        if (rollup != null) return rollup;
        return rewriteGroupCount(agg);
    }

    /** Re-alias `rewritten`'s output onto `orig`'s attribute names and
     * exprIds (position-wise) so any parent operator keeps resolving.
     * Null when arity or a data type differs — caller must keep the
     * original subtree. */
    LogicalPlan pinOutput(Aggregate orig, LogicalPlan rewritten) {
        scala.collection.immutable.Seq<Attribute> oldOut = orig.output();
        scala.collection.immutable.Seq<Attribute> newOut = rewritten.output();
        if (oldOut.size() != newOut.size()) return null;
        java.util.List<NamedExpression> proj = new java.util.ArrayList<>();
        for (int i = 0; i < oldOut.size(); i++) {
            Attribute o = oldOut.apply(i);
            Attribute nw = newOut.apply(i);
            if (!o.dataType().equals(nw.dataType())) return null;
            proj.add(
                    new Alias(
                            nw,
                            o.name(),
                            o.exprId(),
                            scala.collection.immutable.Seq$.MODULE$.<String>empty(),
                            scala.Option.<org.apache.spark.sql.types.Metadata>empty(),
                            scala.collection.immutable.Seq$.MODULE$.<String>empty()));
        }
        return new Project(
                scala.jdk.javaapi.CollectionConverters.asScala(proj).toSeq(), rewritten);
    }

    // ------------------------------------------------- global aggregates

    private static final int K_COUNT_STAR = 0;     // COUNT(*) / COUNT(1)
    private static final int K_COUNT_COL = 1;      // COUNT(col), non-null
    private static final int K_COUNT_DISTINCT = 2; // COUNT(DISTINCT col)
    private static final int K_MIN = 3;
    private static final int K_MAX = 4;

    private static final class AggSpec {
        final String name;
        final int kind;
        final Attribute attr; // null for COUNT_STAR

        AggSpec(String name, int kind, Attribute attr) {
            this.name = name;
            this.kind = kind;
            this.attr = attr;
        }
    }

    /** An Alias over COUNT(*) / COUNT(col) / COUNT(DISTINCT col) /
     * MIN(col) / MAX(col), else null. Every form is exactly derivable
     * from the (value, cnt) sidecar: the index materializes one row per
     * distinct value INCLUDING the NULL group, so sum(cnt) is the row
     * count, the non-null rows are the distinct values, and min/max
     * ignore NULL on both representations. */
    private AggSpec parseGlobalAgg(NamedExpression ne) {
        if (!(ne instanceof Alias)) return null;
        Alias alias = (Alias) ne;
        if (!(alias.child() instanceof AggregateExpression)) return null;
        AggregateExpression ae = (AggregateExpression) alias.child();
        if (ae.filter().isDefined()) return null;
        Object fn = ae.aggregateFunction();
        if (fn instanceof Count) {
            Count cnt = (Count) fn;
            if (cnt.children().size() != 1) return null;
            Expression ch = cnt.children().head();
            if (ch instanceof Literal) {
                if (ae.isDistinct()) return null;
                return new AggSpec(alias.name(), K_COUNT_STAR, null);
            }
            if (ch instanceof AttributeReference) {
                int kind = ae.isDistinct() ? K_COUNT_DISTINCT : K_COUNT_COL;
                return new AggSpec(alias.name(), kind, (Attribute) ch);
            }
            return null;
        }
        if (fn instanceof Min && ((Min) fn).child() instanceof AttributeReference) {
            return new AggSpec(alias.name(), K_MIN, (Attribute) ((Min) fn).child());
        }
        if (fn instanceof Max && ((Max) fn).child() instanceof AttributeReference) {
            return new AggSpec(alias.name(), K_MAX, (Attribute) ((Max) fn).child());
        }
        return null;
    }

    /** The sidecar-frame aggregate expression for one spec, under a
     * temporary alias (final names are re-applied in output order at the
     * end — SQL permits duplicate output names). */
    private org.apache.spark.sql.Column specColumn(AggSpec s, String colName, String tmpName) {
        org.apache.spark.sql.Column c;
        switch (s.kind) {
            case K_COUNT_STAR:
                c = functions.coalesce(functions.sum("cnt"), functions.lit(0L)).cast("long");
                break;
            case K_COUNT_COL:
                c = functions.coalesce(
                                functions.sum(
                                        functions.when(
                                                functions.col(colName).isNotNull(),
                                                functions.col("cnt"))),
                                functions.lit(0L))
                        .cast("long");
                break;
            case K_COUNT_DISTINCT:
                c = functions.count(functions.col(colName)); // non-null index rows
                break;
            case K_MIN:
                c = functions.min(functions.col(colName));
                break;
            default:
                c = functions.max(functions.col(colName));
        }
        return c.alias(tmpName);
    }

    /** SELECT COUNT(*)/COUNT(col)/COUNT(DISTINCT col)/MIN(col)/MAX(col)...
     * FROM t [WHERE <single-col pred>] -> served off the .vidx sidecars.
     * With a filter, every referenced column must BE the filter column
     * (one filtered index frame). Without one, each referenced column
     * needs its own sidecar; the one-row per-column frames cross-join —
     * the whole-table stats shape (reference CalcCount + minmax eval,
     * secondary.cpp:531-551). */
    private LogicalPlan rewriteGlobalAggs(Aggregate agg) {
        int n = agg.aggregateExpressions().size();
        if (n == 0) return null;
        AggSpec[] specs = new AggSpec[n];
        for (int i = 0; i < n; i++) {
            specs[i] = parseGlobalAgg(agg.aggregateExpressions().apply(i));
            if (specs[i] == null) return null;
        }

        LogicalPlan child = skipAttributeOnlyProjects(agg.child());
        Expression cond = null;
        if (child instanceof Filter) {
            cond = ((Filter) child).condition();
            child = skipAttributeOnlyProjects(((Filter) child).child());
        }
        String tablePath = relationPath(child);
        if (tablePath == null) return null;

        Dataset<Row> result;
        if (cond != null) {
            CondIndex ci = resolveCondIndex(tablePath, cond);
            if (ci == null) return null;
            // every column the aggregates touch must be the filter column
            // (the JSON-rebound case serves COUNT(*) forms only: the agg
            // list cannot reference the index's virtual attribute)
            for (AggSpec s : specs) {
                if (s.attr != null && !s.attr.exprId().equals(ci.attr.exprId())) return null;
            }
            String idxCol = ci.attr.name();
            Dataset<Row> filtered = ci.idx.filter(renderUnqualified(ci.cond, ci.attr));
            org.apache.spark.sql.Column[] rest =
                    new org.apache.spark.sql.Column[n - 1];
            for (int i = 1; i < n; i++) rest[i - 1] = specColumn(specs[i], idxCol, "__a" + i);
            result = filtered.agg(specColumn(specs[0], idxCol, "__a0"), rest);
        } else {
            // group specs by referenced column, preserving first-seen order
            java.util.LinkedHashMap<String, java.util.List<Integer>> byCol =
                    new java.util.LinkedHashMap<>();
            for (int i = 0; i < n; i++) {
                String key = specs[i].attr == null ? null : specs[i].attr.name();
                if (key != null) {
                    byCol.computeIfAbsent(key, k -> new java.util.ArrayList<>()).add(i);
                }
            }
            java.util.List<Integer> starIdx = new java.util.ArrayList<>();
            for (int i = 0; i < n; i++) if (specs[i].attr == null) starIdx.add(i);
            String starCol;
            if (!byCol.isEmpty()) {
                starCol = byCol.keySet().iterator().next();
            } else {
                starCol = anyIndexedColumn(tablePath); // pure COUNT(*) query
                if (starCol == null) return null;
            }
            byCol.computeIfAbsent(starCol, k -> new java.util.ArrayList<>())
                    .addAll(starIdx);
            result = null;
            for (java.util.Map.Entry<String, java.util.List<Integer>> e : byCol.entrySet()) {
                Dataset<Row> idx = loadIndexByName(tablePath, e.getKey());
                if (idx == null) return null;
                java.util.List<Integer> is = e.getValue();
                org.apache.spark.sql.Column[] rest =
                        new org.apache.spark.sql.Column[is.size() - 1];
                for (int j = 1; j < is.size(); j++) {
                    rest[j - 1] = specColumn(specs[is.get(j)], e.getKey(), "__a" + is.get(j));
                }
                Dataset<Row> frame =
                        idx.agg(specColumn(specs[is.get(0)], e.getKey(), "__a" + is.get(0)), rest);
                result = result == null ? frame : result.crossJoin(frame);
            }
        }
        org.apache.spark.sql.Column[] out = new org.apache.spark.sql.Column[n];
        for (int i = 0; i < n; i++) out[i] = functions.col("__a" + i).alias(specs[i].name);
        return result.select(out).queryExecution().analyzed();
    }

    /** Any column with a persisted .vidx sidecar (for filterless pure
     * COUNT(*): every sidecar's cnt column sums to the row count). */
    private String anyIndexedColumn(String tablePath) {
        File dir = new File(tablePath + ".vidx");
        File[] subs = dir.listFiles();
        if (subs == null) return null;
        java.util.Arrays.sort(subs); // deterministic pick
        for (File f : subs) {
            if (f.isDirectory() && !f.getName().startsWith("_")) return f.getName();
        }
        return null;
    }

    /** SELECT col, COUNT(*) FROM t [WHERE <pred on col>] GROUP BY col
     * -> the (value, cnt) sidecar IS the result relation. The index
     * materializes every group including NULL, and an inclusive WHERE
     * never matches NULL — identical to base-table GROUP BY. */
    private LogicalPlan rewriteGroupCount(Aggregate agg) {
        if (agg.groupingExpressions().size() != 1) return null;
        Expression g = agg.groupingExpressions().head();
        AttributeReference gcol = null;  // plain-column grouping
        JsonFieldRef jref = null;        // get_json_object grouping
        String idxName;
        if (g instanceof AttributeReference) {
            gcol = (AttributeReference) g;
            idxName = gcol.name();
        } else {
            jref = JsonFieldRef.of(g);
            if (jref == null) return null;
            idxName = jref.virtualName();
            if (idxName == null) return null;
        }
        if (agg.aggregateExpressions().size() != 2) return null;
        NamedExpression first = agg.aggregateExpressions().head();
        // first output: the grouping expression itself (possibly aliased)
        String outName;
        if (gcol != null
                && first instanceof AttributeReference
                && ((AttributeReference) first).exprId().equals(gcol.exprId())) {
            outName = first.name();
        } else if (first instanceof Alias
                && ((Alias) first).child().semanticEquals(g)) {
            outName = ((Alias) first).name();
        } else {
            return null;
        }
        Alias cntAlias = countStarAlias(agg.aggregateExpressions().apply(1));
        if (cntAlias == null) return null;

        LogicalPlan child = skipAttributeOnlyProjects(agg.child());
        // PullOutGroupingExpressions moves a complex grouping expression
        // into a child Project as `expr AS _groupingexpression#N`; when
        // the pulled-out expr is a get_json_object field reference,
        // resolve the grouping through it.
        if (gcol != null && child instanceof Project) {
            Project proj = (Project) child;
            JsonFieldRef found = null;
            boolean clean = true;
            scala.collection.Iterator<NamedExpression> it =
                    proj.projectList().iterator();
            while (it.hasNext()) {
                NamedExpression item = it.next();
                if (item instanceof Attribute) continue;
                if (item instanceof Alias
                        && ((Alias) item).exprId().equals(gcol.exprId())) {
                    found = JsonFieldRef.of(((Alias) item).child());
                    if (found == null) clean = false;
                } else {
                    clean = false;
                }
            }
            if (found != null && clean) {
                jref = found;
                gcol = null;
                idxName = jref.virtualName();
                if (idxName == null) return null;
                child = skipAttributeOnlyProjects(proj.child());
            }
        }
        Expression cond = null;
        if (child instanceof Filter) {
            cond = ((Filter) child).condition();
            child = skipAttributeOnlyProjects(((Filter) child).child());
        }
        String tablePath = relationPath(child);
        if (tablePath == null) return null;
        Dataset<Row> idx = loadIndexByName(tablePath, idxName);
        if (idx == null) return null;

        if (cond != null) {
            if (gcol != null) {
                Attribute ref = singleColumnRef(cond);
                if (ref == null || !ref.exprId().equals(gcol.exprId())) return null;
                idx = idx.filter(renderUnqualified(cond, gcol));
            } else {
                // JSON grouping: the filter may reference the parent only
                // through the SAME path; rebind those occurrences to the
                // index attribute and require nothing else leaks through.
                Attribute ref = singleColumnRef(cond);
                if (ref == null || !ref.exprId().equals(jref.parent.exprId())) {
                    return null;
                }
                AttributeReference rep = outputAttr(idx, idxName);
                if (rep == null) return null;
                Expression rebound =
                        (Expression) cond.transformUp(new ReplaceJsonField(jref, rep));
                AttributeSet refs = rebound.references();
                if (refs.size() != 1) return null;
                Attribute only = (Attribute) refs.iterator().next();
                if (!only.exprId().equals(rep.exprId())) return null;
                idx = idx.filter(renderUnqualified(rebound, rep));
            }
        }
        Dataset<Row> result =
                idx.select(
                        functions.col(idxName).alias(outName),
                        functions.coalesce(functions.col("cnt"), functions.lit(0L))
                                .cast("long")
                                .alias(cntAlias.name()));
        return result.queryExecution().analyzed();
    }

    // -------------------------------------------- materialized rollup

    /** SELECT date_trunc('day'|'hour', ts) [, key], COUNT(*)/SUM/MIN/
     * MAX/AVG(value)... FROM t GROUP BY ... served from the
     * continuous-aggregate `.rollup` sidecar (merge-on-read over
     * O(buckets x keys) partials) — the MV routing the Engine.sql
     * facade does, as a Catalyst rule for plain spark.sql. Guards:
     * session timezone must be UTC (the sidecar buckets with a 1-day/
     * 1-hour epoch-aligned window, equal to date_trunc only in a fixed
     * UTC zone); units beyond day/hour are refused (week/month window
     * alignment differs from trunc); freshness gate — the partials'
     * total row count must equal the table's stats-manifest row_count,
     * else the sidecar is stale and the base plan stands. SUM serves
     * the rollup's decimal-exact partial cast to the query's own
     * result type (the base plan's double sum is itself
     * partition-order-dependent). */
    private LogicalPlan rewriteRollup(Aggregate agg) {
        String tz = session.sessionState().conf().sessionLocalTimeZone();
        if (!"UTC".equals(tz) && !"Etc/UTC".equals(tz)) return null;
        int ng = agg.groupingExpressions().size();
        if (ng < 1 || ng > 2) return null;
        int n = agg.aggregateExpressions().size();
        if (n <= ng) return null;

        LogicalPlan child = skipAttributeOnlyProjects(agg.child());
        // PullOutGroupingExpressions: the trunc expression lives in a
        // child Project as `expr AS _groupingexpression#N`
        java.util.Map<Object, Expression> pulled = new java.util.HashMap<>();
        if (child instanceof Project) {
            Project proj = (Project) child;
            scala.collection.Iterator<NamedExpression> it = proj.projectList().iterator();
            while (it.hasNext()) {
                NamedExpression item = it.next();
                if (item instanceof Attribute) continue;
                if (item instanceof Alias) {
                    pulled.put(((Alias) item).exprId(), ((Alias) item).child());
                } else {
                    return null;
                }
            }
            child = skipAttributeOnlyProjects(proj.child());
        }
        if (child instanceof Filter) return null; // rollup has no residual filter
        String tablePath = relationPath(child);
        if (tablePath == null) return null;

        File root = new File(tablePath + ".rollup");
        File metaF = new File(root, "meta.json");
        File parts = new File(root, "partials");
        if (!metaF.isFile() || !parts.isDirectory()) return null;
        String meta;
        try {
            meta = new String(
                    java.nio.file.Files.readAllBytes(metaF.toPath()),
                    java.nio.charset.StandardCharsets.UTF_8);
        } catch (java.io.IOException e) {
            return null;
        }
        String tsCol = jsonStr(meta, "ts_col");
        String bucket = jsonStr(meta, "bucket");
        String valueCol = jsonStr(meta, "value_col");
        java.util.List<String> keys = jsonStrList(meta, "keys");
        if (tsCol == null || bucket == null || valueCol == null) return null;

        // resolve groupings: exactly one date_trunc over the meta ts
        // column with the matching unit, plus at most one key attribute
        Expression bucketGroup = null;
        org.apache.spark.sql.types.DataType bucketType = null;
        AttributeReference keyAttr = null;
        scala.collection.Iterator<Expression> git = agg.groupingExpressions().iterator();
        while (git.hasNext()) {
            Expression g = git.next();
            Expression resolved = g;
            if (g instanceof AttributeReference
                    && pulled.containsKey(((AttributeReference) g).exprId())) {
                resolved = pulled.get(((AttributeReference) g).exprId());
            }
            if (resolved instanceof TruncTimestamp) {
                TruncTimestamp tt = (TruncTimestamp) resolved;
                if (bucketGroup != null) return null;
                if (!(tt.format() instanceof Literal)) return null;
                String unit = String.valueOf(((Literal) tt.format()).value())
                        .toLowerCase();
                String want = unit.equals("day") ? "1 day"
                        : unit.equals("hour") ? "1 hour" : null;
                if (want == null || !want.equals(bucket)) return null;
                // the analyzer wraps a TIMESTAMP_NTZ column in a cast to
                // TIMESTAMP for date_trunc; unwrap it (both engines label
                // identically under the UTC guard above)
                Expression tsExpr = tt.timestamp();
                if (tsExpr instanceof org.apache.spark.sql.catalyst.expressions.Cast) {
                    Expression inner =
                            ((org.apache.spark.sql.catalyst.expressions.Cast) tsExpr).child();
                    if (inner.dataType()
                                    instanceof org.apache.spark.sql.types.TimestampNTZType
                            || inner.dataType()
                                    instanceof org.apache.spark.sql.types.TimestampType) {
                        tsExpr = inner;
                    }
                }
                if (!(tsExpr instanceof AttributeReference)) return null;
                if (!((AttributeReference) tsExpr).name()
                        .equalsIgnoreCase(tsCol)) return null;
                bucketGroup = g;
                bucketType = g.dataType();
            } else if (g instanceof AttributeReference) {
                if (keyAttr != null) return null;
                keyAttr = (AttributeReference) g;
            } else {
                return null;
            }
        }
        if (bucketGroup == null) return null;
        if (keyAttr != null
                && !(keys.size() == 1
                        && keys.get(0).equalsIgnoreCase(keyAttr.name()))) {
            return null; // a key the sidecar does not group by
        }

        // outputs: the ng grouping outputs first (same order), then
        // only COUNT(*)/SUM/MIN/MAX/AVG over the sidecar's value column
        String[] outKind = new String[n]; // "bucket"|"key"|fn
        org.apache.spark.sql.types.DataType[] outType =
                new org.apache.spark.sql.types.DataType[n];
        for (int i = 0; i < n; i++) {
            NamedExpression ne = agg.aggregateExpressions().apply(i);
            Expression target =
                    ne instanceof Alias ? ((Alias) ne).child() : (Expression) ne;
            if (i < ng) {
                Expression g = agg.groupingExpressions().apply(i);
                boolean same =
                        (target instanceof AttributeReference
                                        && g instanceof AttributeReference
                                        && ((AttributeReference) target).exprId()
                                                .equals(((AttributeReference) g).exprId()))
                                || target.semanticEquals(g);
                if (!same) return null;
                outKind[i] = g == bucketGroup ? "bucket" : "key";
                continue;
            }
            if (!(ne instanceof Alias)
                    || !(((Alias) ne).child() instanceof AggregateExpression)) {
                return null;
            }
            AggregateExpression ae = (AggregateExpression) ((Alias) ne).child();
            if (ae.isDistinct() || ae.filter().isDefined()) return null;
            Object fn = ae.aggregateFunction();
            if (fn instanceof Count) {
                Count cnt = (Count) fn;
                if (cnt.children().size() != 1
                        || !(cnt.children().head() instanceof Literal)) return null;
                outKind[i] = "count";
            } else if (fn instanceof Sum && valueAttr(((Sum) fn).child(), valueCol)) {
                outKind[i] = "sum";
            } else if (fn instanceof Min && valueAttr(((Min) fn).child(), valueCol)) {
                outKind[i] = "min";
            } else if (fn instanceof Max && valueAttr(((Max) fn).child(), valueCol)) {
                outKind[i] = "max";
            } else if (fn instanceof Average
                    && valueAttr(((Average) fn).child(), valueCol)) {
                outKind[i] = "avg";
            } else {
                return null;
            }
            outType[i] = ae.dataType();
        }

        Dataset<Row> partials = session.read().parquet(parts.getPath());
        // freshness gate vs the stats manifest — the two driver-side
        // checks cost real jobs, so the verdict is cached per artifact
        // mtimes (a rebuilt manifest or rollup bumps its directory's
        // newest-file mtime and forces a recheck)
        File statsDir = new File(tablePath + ".stats");
        if (!statsDir.isDirectory()) return null;
        // the recorded table signature catches COUNT-PRESERVING
        // rewrites the sum(cnt) == row_count check cannot see
        if (!indexFresh(tablePath, root)) return null;
        if (!rollupFresh(tablePath, statsDir, parts)) return null;

        // merge-on-read, then project the requested outputs in order
        Dataset<Row> merged;
        org.apache.spark.sql.Column[] maggs = new org.apache.spark.sql.Column[] {
            functions.sum("cnt").cast("long").alias("cnt"),
            functions.sum("sum_v").alias("sum_v"),
            functions.min("min_v").alias("min_v"),
            functions.max("max_v").alias("max_v"),
        };
        if (keyAttr != null) {
            merged = partials.groupBy(
                            functions.col("bucket_start"),
                            functions.col(keyAttr.name()))
                    .agg(maggs[0], maggs[1], maggs[2], maggs[3]);
        } else {
            merged = partials.groupBy(functions.col("bucket_start"))
                    .agg(maggs[0], maggs[1], maggs[2], maggs[3]);
        }
        // sum_v encoding dispatch: current sidecars store the exact
        // fixed-point int64 sum (SUM(FLOOR(value*100+0.5)),
        // functions/money.py); legacy sidecars stored a decimal sum.
        // The scaled form unscales through DECIMAL(38,2) so decimal-
        // typed query outputs stay exact.
        boolean scaledSum = false;
        for (org.apache.spark.sql.types.StructField f : merged.schema().fields()) {
            if (f.name().equals("sum_v")) {
                scaledSum = f.dataType() instanceof org.apache.spark.sql.types.LongType
                        || f.dataType() instanceof org.apache.spark.sql.types.IntegerType;
            }
        }
        org.apache.spark.sql.Column sumV = scaledSum
                ? functions.col("sum_v").cast("decimal(38,2)")
                        .divide(functions.lit(100))
                : functions.col("sum_v");
        org.apache.spark.sql.Column[] out = new org.apache.spark.sql.Column[n];
        for (int i = 0; i < n; i++) {
            String name = agg.aggregateExpressions().apply(i).name();
            org.apache.spark.sql.Column c;
            switch (outKind[i]) {
                case "bucket":
                    c = functions.col("bucket_start").cast(bucketType);
                    break;
                case "key": c = functions.col(keyAttr.name()); break;
                case "count": c = functions.col("cnt"); break;
                case "sum": c = sumV.cast(outType[i]); break;
                case "min": c = functions.col("min_v"); break;
                case "max": c = functions.col("max_v"); break;
                default:
                    c = sumV.cast("double")
                            .divide(functions.col("cnt")).cast(outType[i]);
            }
            out[i] = c.alias(name);
        }
        return merged.select(out).queryExecution().analyzed();
    }

    /** Cached freshness verdict per table, keyed on a RECURSIVE content
     * signature (file count + total bytes + newest mtime ms) of both the
     * stats and partials dirs — shallow mtimes alone miss nested-subdir
     * updates and same-second rewrites (fs mtime granularity can be 1s;
     * a rewrite rarely also preserves file count AND total bytes). */
    private static final java.util.concurrent.ConcurrentHashMap<String, long[]>
            FRESHNESS = new java.util.concurrent.ConcurrentHashMap<>();

    private boolean rollupFresh(String tablePath, File statsDir, File parts) {
        long[] ss = dirSignature(statsDir);
        long[] ps = dirSignature(parts);
        long[] cached = FRESHNESS.get(tablePath);
        if (cached != null
                && cached[0] == ss[0] && cached[1] == ss[1] && cached[2] == ss[2]
                && cached[3] == ps[0] && cached[4] == ps[1] && cached[5] == ps[2]) {
            return cached[6] == 1L;
        }
        Object rc = session.read().parquet(statsDir.getPath())
                .select("row_count").first().get(0);
        long rowCount = ((Number) rc).longValue();
        Object total = session.read().parquet(parts.getPath())
                .agg(functions.coalesce(functions.sum("cnt"), functions.lit(0L))
                        .cast("long"))
                .first()
                .get(0);
        boolean fresh = total != null && ((Number) total).longValue() == rowCount;
        FRESHNESS.put(tablePath, new long[] {
            ss[0], ss[1], ss[2], ps[0], ps[1], ps[2], fresh ? 1L : 0L
        });
        return fresh;
    }

    private boolean valueAttr(Expression e, String valueCol) {
        return e instanceof AttributeReference
                && ((AttributeReference) e).name().equalsIgnoreCase(valueCol);
    }

    /** Minimal field extraction from the sidecar's own flat meta.json
     * (writer-controlled format; no JSON library in the extension). */
    private String jsonStr(String json, String field) {
        java.util.regex.Matcher m = java.util.regex.Pattern
                .compile("\"" + field + "\"\\s*:\\s*\"([^\"]*)\"")
                .matcher(json);
        return m.find() ? m.group(1) : null;
    }

    private java.util.List<String> jsonStrList(String json, String field) {
        java.util.List<String> out = new java.util.ArrayList<>();
        java.util.regex.Matcher m = java.util.regex.Pattern
                .compile("\"" + field + "\"\\s*:\\s*\\[([^\\]]*)\\]")
                .matcher(json);
        if (m.find()) {
            java.util.regex.Matcher v = java.util.regex.Pattern
                    .compile("\"([^\"]*)\"").matcher(m.group(1));
            while (v.find()) out.add(v.group(1));
        }
        return out;
    }


    static void dbg(String msg) {
        if (System.getenv("CSE_DEBUG") != null) System.err.println("[cse] " + msg);
    }

    // ------------------------------------------------------------ helpers

    /** Alias over a plain COUNT(1)/COUNT(*) aggregate, else null. */
    private Alias countStarAlias(NamedExpression ne) {
        if (!(ne instanceof Alias)) return null;
        Alias alias = (Alias) ne;
        if (!(alias.child() instanceof AggregateExpression)) return null;
        AggregateExpression ae = (AggregateExpression) alias.child();
        if (ae.isDistinct() || ae.filter().isDefined()) return null;
        if (!(ae.aggregateFunction() instanceof Count)) return null;
        Count cnt = (Count) ae.aggregateFunction();
        if (cnt.children().size() != 1) return null;
        if (!(cnt.children().head() instanceof Literal)) return null;
        return alias;
    }

    /** The single attribute a deterministic, subquery-free condition
     * references, else null. */
    private Attribute singleColumnRef(Expression cond) {
        if (!cond.deterministic() || hasSubquery(cond)) return null;
        AttributeSet refs = cond.references();
        if (refs.size() != 1) return null;
        return (Attribute) refs.iterator().next();
    }

    /** Single local root path of a parquet LogicalRelation, else null. */
    private String relationPath(LogicalPlan rel) {
        if (!(rel instanceof LogicalRelation)) return null;
        LogicalRelation lr = (LogicalRelation) rel;
        if (!(lr.relation() instanceof HadoopFsRelation)) return null;
        HadoopFsRelation fs = (HadoopFsRelation) lr.relation();
        if (fs.location().rootPaths().size() != 1) return null;
        String tablePath = fs.location().rootPaths().head().toUri().getPath();
        // never fire on a sidecar artifact's own scan
        if (tablePath.contains(".vidx")
                || tablePath.contains(".rollup")
                || tablePath.contains(".stats")) return null;
        return tablePath;
    }

    /** The .vidx sidecar for (table, column) with `value` renamed to the
     * column name, or null when none exists. */
    private Dataset<Row> loadIndex(String tablePath, Attribute attr) {
        return loadIndexByName(tablePath, attr.name());
    }

    private Dataset<Row> loadIndexByName(String tablePath, String name) {
        File idxDir = new File(tablePath + ".vidx/" + name);
        if (!idxDir.isDirectory()) return null;
        if (!indexFresh(tablePath, idxDir)) return null;
        return session.read().parquet(idxDir.getPath())
                .withColumnRenamed("value", name);
    }

    /** Freshness gate for a value-index sidecar: the `_table_sig.json`
     * the index writer recorded (stats.table_signature — regular-file
     * count, total bytes, newest mtime in ms of the table data dir) must
     * match the table's CURRENT signature, else the table was rewritten
     * outside the framework's append/DML paths and the sidecar counts
     * describe dead data — refuse to serve (the base plan stands, which
     * is always correct). A sidecar without a recorded signature
     * (pre-signature layout) is served as before; every current writer
     * records one. Pure filesystem metadata — no Spark jobs. */
    private boolean indexFresh(String tablePath, File idxDir) {
        File sigFile = new File(idxDir, "_table_sig.json");
        if (!sigFile.isFile()) return true; // legacy index: no signal
        String sig;
        try {
            sig = new String(
                    java.nio.file.Files.readAllBytes(sigFile.toPath()),
                    java.nio.charset.StandardCharsets.UTF_8);
        } catch (java.io.IOException e) {
            return false;
        }
        Long files = jsonLong(sig, "files");
        Long bytes = jsonLong(sig, "bytes");
        Long mtime = jsonLong(sig, "max_mtime_ms");
        if (files == null || bytes == null || mtime == null) return false;
        long[] live = dirSignature(new File(tablePath));
        return live[0] == files && live[1] == bytes && live[2] == mtime;
    }

    /** {regular-file count, total bytes, newest mtime ms} of a directory
     * tree — the Java twin of stats.table_signature. */
    private static long[] dirSignature(File dir) {
        long[] acc = new long[] {0L, 0L, 0L};
        walkSignature(dir, acc);
        return acc;
    }

    private static void walkSignature(File dir, long[] acc) {
        File[] fs = dir.listFiles();
        if (fs == null) return;
        for (File f : fs) {
            if (f.isDirectory()) {
                walkSignature(f, acc);
            } else {
                acc[0] += 1;
                acc[1] += f.length();
                acc[2] = Math.max(acc[2], f.lastModified());
            }
        }
    }

    private Long jsonLong(String json, String field) {
        java.util.regex.Matcher m = java.util.regex.Pattern
                .compile("\"" + field + "\"\\s*:\\s*(-?\\d+)")
                .matcher(json);
        return m.find() ? Long.valueOf(m.group(1)) : null;
    }

    /** The index frame's output attribute with the given name. */
    private AttributeReference outputAttr(Dataset<Row> idx, String name) {
        scala.collection.Iterator<Attribute> it =
                idx.queryExecution().analyzed().output().iterator();
        while (it.hasNext()) {
            Attribute a = it.next();
            if (a.name().equals(name) && a instanceof AttributeReference) {
                return (AttributeReference) a;
            }
        }
        return null;
    }

    /** First get_json_object(parent, '$...') occurrence over `parent`
     * inside `e`, else null. */
    private JsonFieldRef findJsonRef(Expression e, Attribute parent) {
        JsonFieldRef r = JsonFieldRef.of(e);
        if (r != null && r.parent.exprId().equals(parent.exprId())) return r;
        scala.collection.Iterator<Expression> it = e.children().iterator();
        while (it.hasNext()) {
            JsonFieldRef k = findJsonRef(it.next(), parent);
            if (k != null) return k;
        }
        return null;
    }

    /** Resolved index + rebound condition for a single-column filter:
     * a direct `.vidx/<col>` sidecar, or — when the column only appears
     * inside get_json_object(col, path) — the per-field JSON sidecar
     * `.vidx/<virtualName>` (the same convention Engine.sql and
     * stats.write_json_field_index share), with every such occurrence
     * replaced by the index's attribute. Null when neither covers. */
    private static final class CondIndex {
        final Dataset<Row> idx;
        final Expression cond;
        final Attribute attr;

        CondIndex(Dataset<Row> idx, Expression cond, Attribute attr) {
            this.idx = idx;
            this.cond = cond;
            this.attr = attr;
        }
    }

    private CondIndex resolveCondIndex(String tablePath, Expression cond) {
        Attribute attr = singleColumnRef(cond);
        if (attr == null) return null;
        Dataset<Row> idx = loadIndex(tablePath, attr);
        if (idx != null) return new CondIndex(idx, cond, attr);
        JsonFieldRef jr = findJsonRef(cond, attr);
        if (jr == null) return null;
        String vname = jr.virtualName();
        if (vname == null) return null;
        idx = loadIndexByName(tablePath, vname);
        if (idx == null) return null;
        AttributeReference rep = outputAttr(idx, vname);
        if (rep == null) return null;
        Expression rebound =
                (Expression) cond.transformUp(new ReplaceJsonField(jr, rep));
        AttributeSet refs = rebound.references();
        // any leftover reference means the parent column was used some
        // other way (bare, or a different path) — not covered
        if (refs.size() != 1) return null;
        Attribute only = (Attribute) refs.iterator().next();
        if (!only.exprId().equals(rep.exprId())) return null;
        return new CondIndex(idx, rebound, rep);
    }

    /** Render the condition with the attribute's qualifier stripped (a
     * view alias like `li`.`col` would not resolve against the index
     * frame). Rendering — not string surgery — keeps literals intact. */
    private String renderUnqualified(Expression cond, Attribute attr) {
        Expression unqualified =
                (Expression) cond.transformUp(new StripQualifier(attr));
        return unqualified.sql();
    }

    /** Skip Project nodes that only pass attributes through (column
     * pruning); bail (return the node itself) on computing projects. */
    private LogicalPlan skipAttributeOnlyProjects(LogicalPlan p) {
        while (p instanceof Project) {
            Project proj = (Project) p;
            boolean attrsOnly = true;
            scala.collection.Iterator<NamedExpression> it = proj.projectList().iterator();
            while (it.hasNext()) {
                if (!(it.next() instanceof Attribute)) {
                    attrsOnly = false;
                    break;
                }
            }
            if (!attrsOnly) return p;
            p = proj.child();
        }
        return p;
    }

    private boolean hasSubquery(Expression e) {
        if (e instanceof org.apache.spark.sql.catalyst.expressions.SubqueryExpression) {
            return true;
        }
        scala.collection.Iterator<Expression> it = e.children().iterator();
        while (it.hasNext()) {
            if (hasSubquery(it.next())) return true;
        }
        return false;
    }
}
