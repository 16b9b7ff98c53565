package graft.plans

import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.sources.ParquetSchema

/** Materialized-summary rewrite — the optimizer half of an OLAP
  * engine's aggregate-navigator: a registered summary table (the q94
  * cube's persisted form) answers matching aggregates over its base
  * table, so a GROUP BY over a 100 TB fact scan becomes a GROUP BY
  * over a GB-sized pre-aggregate. The caller keeps writing the
  * declarative query against the BASE table; the rule swaps the scan —
  * exactly Catalyst's WHAT/HOW split, same tier as [[BpeCountRewrite]]
  * (`injectOptimizerRule`).
  *
  * A rewrite fires only when it is provably exact:
  *  - the aggregate's child is the registered base relation under any
  *    chain of attribute-only Projects and Filters whose predicates
  *    reference DIMENSION columns only (the filter then applies to the
  *    summary, which carries every dim value combination);
  *  - every grouping expression is a bare dimension column;
  *  - every aggregate is `sum(<registered measure expression>)` (keyed
  *    by the resolved expression's canonical SQL text, so casts/rounds
  *    must match the registration exactly — SUM reassociates, which is
  *    only sound for the exact-arithmetic integer/decimal measures
  *    this engine aggregates with anyway) or `count(<literal>)`
  *    (rewritten to `sum(cnt)`), undistincted and unfiltered, or a
  *    constant (kept as it is);
  *  - the aggregate is GROUPED: a global `count(*)` over an empty base
  *    returns 0 while `sum(cnt)` over an empty summary returns NULL,
  *    so global aggregates are left alone.
  * Anything else leaves the plan untouched. The summary relation is
  * re-instantiated with fresh attribute ids per rewrite site
  * (`newInstance`), so two rewritten aggregates in one query never
  * alias each other's attributes.
  *
  * Registration is per-JVM ([[register]]/[[materialize]]/[[clear]]);
  * re-registering a base path replaces its spec, so iterative callers
  * (bench passes) never accumulate stale summaries.
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  final case class Spec(baseRoots: Set[String], summary: LogicalRelation,
                        dims: Set[String], sums: Map[String, String],
                        cnt: String, baseFiles: Set[String])

  private val specs = new CopyOnWriteArrayList[Spec]()

  def clear(): Unit = specs.clear()

  private def rootsOf(plan: LogicalPlan): Set[String] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet

  /** The base relation's data-file fingerprint. Registration into
    * JVM-global state would otherwise outlive the data it summarizes: an
    * append or overwrite of the base after register()/materialize()
    * would silently answer matching queries from the STALE summary —
    * exactly the silent-wrong-results failure an optimizer rule must
    * never produce. The file list is a sound fingerprint because Spark
    * writers always create fresh UUID-named part files (no in-place
    * rewrite), so any data change changes the set; at rewrite time the
    * query's own FileIndex already holds its listing, making the check
    * a set compare, not a filesystem call. A mismatch means the rewrite
    * declines and the query answers from the base — fail-safe to
    * correctness, never to staleness. */
  private def filesOf(plan: LogicalPlan): Set[String] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.toSet
        case _ => Set.empty[String]
      }
    }.flatten.toSet

  /** Strip the registration Column's implicit top-level alias so the
    * key is the measure expression itself. The key comes from the
    * OPTIMIZED projection, not the analyzed one: the rule matches
    * mid-optimization, after constant folding has already normalized
    * the query's expressions (e.g. `x * 100` → `x * 100.0` through the
    * implicit-cast literal), so the registration must canonicalize the
    * same way or the keys never meet. */
  private def measureKey(spark: SparkSession, basePath: String,
                         c: Column): String = {
    val optimized = ParquetSchema.read(spark, basePath).select(c)
      .queryExecution.optimizedPlan
    val e = optimized.collectFirst { case p: Project =>
      p.projectList.head match {
        case a: Alias => a.child
        case other => other
      }
    }.getOrElse(throw new IllegalArgumentException(
      s"measure $c did not optimize to a projection over $basePath"))
    e.sql
  }

  /** Register an EXISTING summary at `summaryPath` for `basePath`:
    * `dims` are the summary's grouping columns (same names as the
    * base), `sums` maps each base measure expression to its summary
    * sum column, `cnt` names the summary's `count(*)` column. */
  def register(spark: SparkSession, basePath: String, summaryPath: String,
               dims: Seq[String], sums: Seq[(Column, String)],
               cnt: String): Unit = {
    val baseAnalyzed = ParquetSchema.read(spark, basePath).queryExecution.analyzed
    val roots = rootsOf(baseAnalyzed)
    val sumRel = ParquetSchema.read(spark, summaryPath).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
      .getOrElse(throw new IllegalArgumentException(
        s"summary at $summaryPath did not produce a file relation"))
    val keys = sums.map { case (c, n) => measureKey(spark, basePath, c) -> n }
    val spec = Spec(roots, sumRel, dims.toSet, keys.toMap, cnt,
      filesOf(baseAnalyzed))
    specs.removeIf(_.baseRoots == roots)
    specs.add(spec)
  }

  /** Build the summary (one aggregate pass over the base), write it to
    * `summaryPath`, and register it. */
  def materialize(spark: SparkSession, basePath: String, summaryPath: String,
                  dims: Seq[String], sums: Seq[(Column, String)]): Unit = {
    val aggs = sums.map { case (c, n) => sum(c).as(n) } :+
      count(lit(1)).as("cnt")
    ParquetSchema.read(spark, basePath)
      .groupBy(dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(summaryPath)
    register(spark, basePath, summaryPath, dims, sums, "cnt")
  }

  /** True iff every file scan in the OPTIMIZED plan reads from one of
    * the registered summary relations' roots — the caller-side proof
    * that the rewrite fired (q177's gate, SummaryRewriteSpec). */
  def readsOnlySummaries(df: org.apache.spark.sql.DataFrame): Boolean = {
    val summaryRoots = specs.asScala.flatMap(s =>
      rootsOf(s.summary)).toSet
    val scanned = rootsOf(df.queryExecution.optimizedPlan)
    scanned.nonEmpty && scanned.subsetOf(summaryRoots)
  }

  /** Unwrap attribute-only Projects and Filters above a file relation,
    * collecting the filter predicates. */
  private def unwrap(p: LogicalPlan): Option[(LogicalRelation, Seq[Expression])] =
    p match {
      case lr: LogicalRelation => Some((lr, Nil))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case Filter(cond, child) =>
        unwrap(child).map { case (r, fs) => (r, cond +: fs) }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (specs.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(groupings, aggExprs, child, _) if groupings.nonEmpty =>
        rewrite(agg, groupings, aggExprs, child).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, groupings: Seq[Expression],
                      aggExprs: Seq[NamedExpression],
                      child: LogicalPlan): Option[LogicalPlan] = {
    val (rel, filters) = unwrap(child) match {
      case Some(x) => x
      case None => return None
    }
    val roots = rel.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
      case _ => return None
    }
    val spec = specs.asScala.find(_.baseRoots == roots) match {
      case Some(s) => s
      case None => return None
    }
    // staleness gate (see filesOf): the query's relation lists the base
    // as it is NOW; if that differs from the registration-time snapshot,
    // the summary no longer describes the base — decline the rewrite.
    if (filesOf(rel) != spec.baseFiles) return None
    // groupings: bare dim columns only
    val groupNames = groupings.map {
      case a: AttributeReference if spec.dims(a.name) => a.name
      case _ => return None
    }
    // filters: dim-only predicates
    if (filters.exists(_.references.exists(a => !spec.dims(a.name))))
      return None
    val fresh = spec.summary.newInstance()
    val byName = fresh.output.map(a => a.name -> a).toMap
    // lambda, not a def: `return` must escape REWRITE (nonlocal), not this helper
    val dimAttr: String => Attribute = n => byName.getOrElse[Attribute](n, return None)
    val cntAttr = byName.getOrElse[Attribute](spec.cnt, return None)
    val newAggExprs: Seq[NamedExpression] = aggExprs.map {
      case a: AttributeReference if spec.dims(a.name) =>
        Alias(dimAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val merged: Expression = ae.aggregateFunction match {
          case Sum(e, mode) =>
            val sumCol = spec.sums.getOrElse(e.sql, return None)
            Sum(byName.getOrElse[Attribute](sumCol, return None), mode)
              .toAggregateExpression()
          case Count(Seq(l: Literal)) if l.value != null =>
            Sum(cntAttr).toAggregateExpression()
          case _ => return None
        }
        Alias(merged, name)(exprId = al.exprId)
      // a constant (folded into the output list, e.g. q177's gate
      // column) reads no row: it rides along unchanged
      case al: Alias if al.child.foldable => al
      case _ => return None
    }
    val newGroupings = groupNames.map(dimAttr)
    val mappedFilters = filters.map(_.transform {
      case a: AttributeReference => dimAttr(a.name)
    })
    val source = mappedFilters.foldRight(fresh: LogicalPlan)(Filter(_, _))
    Some(Aggregate(newGroupings, newAggExprs, source))
  }
}
