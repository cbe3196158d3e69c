package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** Materialized-rollup rewrite — the optimizer half of incremental
  * aggregation (q94 maintains the rollup; THIS serves it): an
  * `Aggregate` over a registered base table is rewritten to a
  * RE-AGGREGATION over its much smaller pre-computed rollup whenever
  * the query's shape is provably answerable from it —
  *
  *  - grouping columns ⊆ the rollup's keys (a rollup at (lang,
  *    source) granularity answers GROUP BY lang, GROUP BY source,
  *    and GROUP BY both);
  *  - filters reference only key columns (they survive verbatim on
  *    the rollup, where they additionally partition-prune);
  *  - aggregates decompose over the rollup's partials:
  *    `count(*)` → `sum(__cnt)` (coalesced to 0 for the global-agg
  *    empty case), `sum(m)` → `sum(__sum_m)`, `min(m)` →
  *    `min(__min_m)`, `max(m)` → `max(__max_m)` — the classic
  *    self-decomposing aggregates. Anything else (avg over doubles,
  *    count-distinct, expressions over non-key columns) leaves the
  *    plan untouched: the rule rewrites only what it can prove.
  *
  * Output attributes keep their original `ExprId`s (each rewritten
  * aggregate re-aliases under the original id), so operators above
  * the Aggregate — sorts, joins, projections — never notice the swap.
  *
  * At 100 TB this is the difference between a full-corpus scan and a
  * keys-cardinality-sized one on every dashboard query: the rollup is
  * maintained incrementally (q94's merge discipline) and EVERY
  * matching aggregate gets the small scan for free, with no query
  * rewrite in user code — the summary-table pattern of Goldstein &
  * Larson's view-matching work, scoped to the rollups this library
  * itself maintains.
  *
  * Freshness: rollup maintenance THROUGH THIS API keeps registrations
  * fresh automatically — [[SummaryRewrite.appendRollupSlice]]
  * re-resolves every registration serving its summary root after the
  * batch commits, so the next rewritten query sees the new partial
  * (oracle-gated, q208). Only a rollup mutated BEHIND the API (a
  * foreign writer appending files to the summary path) needs the
  * manual contract: re-[[SummaryRewrite.register]] after the foreign
  * commit, [[SummaryRewrite.deregister]] before dropping the rollup.
  * Disable per-session with `spark.graft.summaryRewrite=false`.
  */
object SummaryRewrite {

  /** A registered rollup: its resolved parquet relation (cached at
    * registration — file listing happens once, not per query, and is
    * refreshed by [[appendRollupSlice]]; fresh attribute ids are
    * minted per rewrite via `newInstance`), the normalized summary
    * location it was resolved from (the refresh key), the grouping
    * keys it was built at, and the measures it carries. */
  final case class SummaryDef(relation: LogicalRelation, summaryPath: String,
      keys: Seq[String], measures: Seq[String])

  // several rollups may serve one base (e.g. daily fine + monthly
  // coarse); the rule picks the smallest CAPABLE one per query.
  // SCOPE: the registry is JVM-GLOBAL, like [[graft.operators
  // .ModelStore]]'s session cache — two SparkSessions in one JVM see
  // each other's registrations (the kill-switch conf is per-session,
  // the registry is not). Multi-tenant JVMs sharing a base path but
  // not its rollups must key tenants by distinct (fully-qualified)
  // base locations or disable the rule per session.
  private val registry = new ConcurrentHashMap[String, List[SummaryDef]]()

  private[plans] def cntCol: String = "__cnt"
  private[plans] def sumCol(m: String): String = s"__sum_$m"
  private[plans] def minCol(m: String): String = s"__min_$m"
  private[plans] def maxCol(m: String): String = s"__max_$m"

  /** Normalized registry key: local-default schemes collapse
    * (`file:/x/y/`, `/x/y` register and look up identically), but a
    * REMOTE scheme+authority is KEPT — `s3a://bucketA/data` and
    * `s3a://bucketB/data` (or a local `/data`) must not collide on
    * one key, or a rollup registered for one base could silently
    * serve aggregates for a different table at the same path on
    * another filesystem. */
  private def normalize(p: String): String = {
    val uri = new org.apache.hadoop.fs.Path(p).toUri
    val raw = uri.getPath
    val path = if (raw.length > 1 && raw.endsWith("/")) raw.dropRight(1) else raw
    val scheme = uri.getScheme
    if (scheme == null || scheme == "file") path
    else s"$scheme://${Option(uri.getAuthority).getOrElse("")}$path"
  }

  private def rollupAggs(measures: Seq[String]) =
    count(lit(1)).as(cntCol) +: measures.flatMap(m => Seq(
      sum(col(m)).as(sumCol(m)), min(col(m)).as(minCol(m)),
      max(col(m)).as(maxCol(m))))

  /** Build the rollup of `basePath` at `keys` granularity, write it to
    * `summaryPath`, and register it. One base scan, one keys-sized
    * shuffle — the cost is paid once and amortized over every
    * rewritten query. */
  def buildAndRegister(spark: SparkSession, basePath: String,
      keys: Seq[String], measures: Seq[String], summaryPath: String): Unit = {
    require(keys.nonEmpty, "need at least one rollup key")
    val aggs = rollupAggs(measures)
    spark.read.parquet(basePath)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(summaryPath)
    register(spark, basePath, summaryPath, keys, measures)
  }

  /** Append one slice's rollup PARTIALS to an INCREMENTALLY-maintained
    * rollup at `summaryRoot` ([[graft.operators.BatchStore]] layout) —
    * one partial row per (slice, keys). Re-aggregation composes: sum
    * of sums, min of mins, max of maxes, sum of counts is EXACTLY
    * what the rewritten Aggregate already computes over multiple
    * summary rows per group, so a multi-batch rollup serves queries
    * directly — the rollup is never rebuilt and never compacted on
    * the query path (q94's maintenance discipline meeting the q196
    * serving rule, gated end-to-end by q203). APPEND-ONLY facts only:
    * a negated-delta erasure would break min/max (they don't
    * un-aggregate), unlike the pure count stores. */
  def appendRollupSlice(slice: DataFrame, keys: Seq[String],
      measures: Seq[String], summaryRoot: String, batchId: Long): Unit = {
    require(keys.nonEmpty, "need at least one rollup key")
    val aggs = rollupAggs(measures)
    graft.operators.BatchStore.append(
      slice.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*),
      summaryRoot, batchId)
    // freshness: a registration caches its resolved file listing, so
    // an append AFTER registration would be silently invisible to
    // every rewritten query (a stale WRONG ANSWER with no red signal)
    // — re-resolve every registration serving this root now that the
    // batch is committed (q208 gates it; SummaryRewriteSpec pins it)
    refreshRegistrations(slice.sparkSession, summaryRoot)
  }

  /** Maintain the rollup FROM A STREAM — [[appendRollupSlice]] as an
    * exactly-once `foreachBatch` sink (the count-store epoch
    * discipline, [[graft.operators.BatchStore.epochSink]]), INCLUDING the freshness refresh: every epoch's
    * commit re-resolves the registrations serving `summaryRoot`, so a
    * dashboard query rewritten onto the rollup sees each micro-batch
    * as it lands (oracle-gated, q217). */
  def rollupSink(keys: Seq[String], measures: Seq[String],
      summaryRoot: String): (DataFrame, Long) => Unit =
    graft.operators.BatchStore.epochSink(summaryRoot)(
      appendRollupSlice(_, keys, measures, summaryRoot, _))

  /** Re-resolve (fresh file listing) every registered rollup whose
    * summary location is `summaryPath` — the maintenance half of the
    * freshness story. Idempotent; a no-op when nothing is registered
    * for the location. */
  def refreshRegistrations(spark: SparkSession, summaryPath: String): Unit = {
    val np = normalize(summaryPath)
    registry.replaceAll((_, defs) => defs.map { d =>
      if (d.summaryPath == np)
        d.copy(relation = resolveRelation(spark, summaryPath))
      else d
    })
  }

  private def resolveRelation(spark: SparkSession,
      summaryPath: String): LogicalRelation =
    spark.read.parquet(summaryPath).queryExecution.analyzed match {
      case l: LogicalRelation => l
      case other => throw new IllegalStateException(
        s"summary read did not resolve to a relation: ${other.getClass}")
    }

  /** Register an existing rollup (built by [[buildAndRegister]] or
    * maintained incrementally) for `basePath` — ADDITIVE: a base may
    * carry several rollups at different granularities, and the rule
    * serves each query from the smallest one that can answer it. */
  def register(spark: SparkSession, basePath: String, summaryPath: String,
      keys: Seq[String], measures: Seq[String]): Unit = {
    val rel = resolveRelation(spark, summaryPath)
    val names = rel.output.map(_.name).toSet
    val needed = keys ++ (cntCol +: measures.flatMap(m =>
      Seq(sumCol(m), minCol(m), maxCol(m))))
    val missing = needed.filterNot(names)
    require(missing.isEmpty,
      s"summary at $summaryPath lacks columns: ${missing.mkString(", ")}")
    registry.merge(normalize(basePath),
      List(SummaryDef(rel, normalize(summaryPath), keys, measures)),
      (old, add) => add ::: old)
  }

  /** Drop every rollup registered for `basePath`. */
  def deregister(basePath: String): Unit = registry.remove(normalize(basePath))

  /** Candidate rollups for a scan, FEWEST KEYS FIRST — fewer keys =
    * coarser granularity = fewer rows, so the first candidate the
    * rule can fully rewrite onto is also the cheapest capable one. */
  private[plans] def lookup(rootPaths: Seq[String]): Seq[SummaryDef] =
    // single-root scans only: a multi-root relation's union semantics
    // are not what any single registration described
    rootPaths match {
      case Seq(p) =>
        Option(registry.get(normalize(p))).getOrElse(Nil).sortBy(_.keys.size)
      case _ => Nil
    }
}

/** The injected rule ([[GraftExtensions]]). Operates post-analysis, so
  * it sees resolved attributes; runs in the operator-optimization
  * batch, so it tolerates the pushed-down `Project`/`Filter` shapes
  * between the `Aggregate` and the scan. */
case class SummaryRewriteRule() extends Rule[LogicalPlan] {
  import SummaryRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString("spark.graft.summaryRewrite", "true").toBoolean) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Peel attribute-only Projects and collect Filter predicates down
    * to a single-file-source relation. Any other operator in between
    * (a join, a generator, a renaming projection) disqualifies — as
    * does a NON-DETERMINISTIC filter (e.g. `rand() < 0.1` over key
    * columns): moved verbatim onto the rollup it would sample
    * pre-aggregated GROUP rows instead of base rows — silently
    * different results. */
  private def strip(p: LogicalPlan): Option[(Seq[Expression], LogicalRelation)] =
    p match {
      case rel: LogicalRelation if rel.relation.isInstanceOf[HadoopFsRelation] =>
        Some((Nil, rel))
      case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        strip(ch)
      case Filter(cond, ch) if cond.deterministic =>
        strip(ch).map { case (cs, l) => (cond +: cs, l) }
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] =
    strip(agg.child).flatMap { case (conds, rel) =>
      val candidates = lookup(rel.relation.asInstanceOf[HadoopFsRelation]
        .location.rootPaths.map(_.toString))
      // fewest-keys-first: the first rollup that can fully answer the
      // query is also the smallest capable one
      candidates.view.flatMap(sd => tryRewriteWith(agg, conds, sd)).headOption
    }

  private def tryRewriteWith(agg: Aggregate, conds: Seq[Expression],
      sd: SummaryDef): Option[LogicalPlan] = {
    // fresh attribute ids per rewrite — the same rollup may serve
    // several aggregates in one plan (each gets its own instance)
    val sumRel = sd.relation.newInstance()
    val byName = sumRel.output.map(a => a.name -> a).toMap
    for {
      grouping <- traverse(agg.groupingExpressions)(rewriteScalar(_, sd, byName))
      filters <- traverse(conds)(rewriteScalar(_, sd, byName))
      aggExprs <- traverse(agg.aggregateExpressions)(rewriteNamed(_, sd, byName))
    } yield Aggregate(grouping, aggExprs,
      filters.foldRight(sumRel: LogicalPlan)(Filter(_, _)))
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.map(f)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** Rewrite a non-aggregate expression: key attributes re-bind to the
    * summary's; any other column reference disqualifies the plan. */
  private def rewriteScalar(e: Expression, sd: SummaryDef,
      byName: Map[String, AttributeReference]): Option[Expression] = e match {
    case a: AttributeReference =>
      if (sd.keys.contains(a.name)) byName.get(a.name) else None
    case other =>
      traverse(other.children)(rewriteScalar(_, sd, byName))
        .map(other.withNewChildren)
  }

  /** Rewrite a result expression, preserving its output `ExprId` so
    * downstream operators keep resolving. */
  private def rewriteNamed(ne: NamedExpression, sd: SummaryDef,
      byName: Map[String, AttributeReference]): Option[NamedExpression] =
    ne match {
      case a: AttributeReference if sd.keys.contains(a.name) =>
        byName.get(a.name).map(n => Alias(n, a.name)(exprId = a.exprId))
      case al: Alias =>
        rewriteExpr(al.child, sd, byName)
          .map(e => Alias(e, al.name)(exprId = al.exprId))
      case _ => None
    }

  /** Rewrite an expression tree that may contain aggregate calls:
    * decomposable aggregates re-target the rollup's partial columns,
    * key attributes re-bind, anything else disqualifies. */
  private def rewriteExpr(e: Expression, sd: SummaryDef,
      byName: Map[String, AttributeReference]): Option[Expression] = e match {
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      // type preservation: re-aggregation can WIDEN the result type —
      // sum(decimal(p,s)) is decimal(p+10,s), so Sum over the
      // rollup's __sum_m partial yields decimal(p+20,s) while the
      // preserved ExprId makes parents keep resolving at the old
      // type (schema/codegen mismatch). Cast back when the types
      // differ: the VALUE is the same mathematical sum, and an
      // overflow of the original type nulls/errors identically on
      // both paths (Sum's own overflow handling vs the Cast's).
      def typed(e: Expression): Expression =
        if (e.dataType == ae.dataType) e else Cast(e, ae.dataType)
      ae.aggregateFunction match {
        // count(*) / count(1): sum of per-group counts; coalesce keeps
        // the global-aggregate-over-empty-input case at 0, and keeps
        // the output non-nullable like Count itself
        case c: Count if c.children.forall(_.foldable) =>
          byName.get(cntCol).map(cnt => Coalesce(Seq(
            Sum(cnt).toAggregateExpression(), Literal(0L))))
        case s: Sum => s.child match {
          case a: AttributeReference if sd.measures.contains(a.name) =>
            byName.get(sumCol(a.name))
              .map(p => typed(Sum(p).toAggregateExpression()))
          case _ => None
        }
        case m: Min => m.child match {
          case a: AttributeReference if sd.measures.contains(a.name) =>
            byName.get(minCol(a.name))
              .map(p => typed(Min(p).toAggregateExpression()))
          case _ => None
        }
        case m: Max => m.child match {
          case a: AttributeReference if sd.measures.contains(a.name) =>
            byName.get(maxCol(a.name))
              .map(p => typed(Max(p).toAggregateExpression()))
          case _ => None
        }
        case _ => None
      }
    case a: AttributeReference =>
      if (sd.keys.contains(a.name)) byName.get(a.name) else None
    case other =>
      traverse(other.children)(rewriteExpr(_, sd, byName))
        .map(other.withNewChildren)
  }
}
