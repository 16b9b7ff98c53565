package graft.plans

import java.util.concurrent.CopyOnWriteArrayList

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count}

import graft.sources.ParquetSchema

/** FK join elimination — the classic optimizer rewrite every warehouse
  * engine carries: an INNER equi-join from a fact table to a dimension
  * over a DECLARED foreign key is row-preserving (each fact row
  * matches exactly one dim row), so when the query consumes no
  * dimension column beyond the key itself, the join — and the whole
  * dimension scan — can be dropped. At 100 TB the win is not the probe
  * cost but the SHUFFLE/BROADCAST that never happens: generated
  * queries (BI tools, semantic layers) routinely join every declared
  * dimension and then select from one.
  *
  * Soundness rests on the registered constraint, checked at
  * registration unless the caller opts out: `fk` is non-null, `pk` is
  * unique in the dimension, and every fk value has a matching pk
  * (referential integrity). Under those three facts an inner join on
  * `fk = pk` neither drops nor duplicates fact rows, and any
  * fact-side Filter preserves all three, so filtered facts still
  * eliminate.
  *
  * The rewrite fires only when it is provably exact:
  *  - `Project(_, Join(l, r, Inner, fk = pk))` with both join keys
  *    bare attributes (no casts — a cast means the types disagree with
  *    the declared constraint);
  *  - the fact side unwraps to the registered fact relation through
  *    attribute-only Projects and ANY Filters; the dim side unwraps
  *    through attribute-only Projects with NO filters (a dim filter
  *    can drop fact rows — that join does real work);
  *  - the projection references no dim attribute except `pk`, which
  *    rewrites to the fact's `fk` (aliased back to the pk name and
  *    exprId where it appears top-level, so parent operators resolve
  *    unchanged).
  * Anything else leaves the plan alone. Same extension tier as
  * [[SummaryRewrite]] (`injectOptimizerRule`, fixed-point safe: once
  * the join is gone the pattern can't re-match).
  */
object JoinElimination extends Rule[LogicalPlan] {

  final case class Spec(factRoots: Set[String], fk: String,
                        dimRoots: Set[String], pk: String,
                        factFiles: Set[String], dimFiles: Set[String])

  private val specs = new CopyOnWriteArrayList[Spec]()

  def clear(): Unit = specs.clear()

  private def rootsOf(rel: LogicalRelation): Set[String] = rel.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
    case _ => Set.empty
  }

  /** Data-file fingerprint (the [[SummaryRewrite]] staleness discipline):
    * the constraint was VALIDATED against the registration-time files;
    * appending to the fact can introduce orphan fks, appending to the
    * dim can duplicate pks — either silently breaks the row-preservation
    * proof. Spark writers always create fresh UUID-named part files, so
    * any data change changes the set; a mismatch at rewrite time
    * declines the elimination and the join runs for real — fail-safe to
    * correctness. */
  private def filesOf(rel: LogicalRelation): Set[String] = rel.relation match {
    case fs: HadoopFsRelation => fs.location.inputFiles.toSet
    case _ => Set.empty
  }

  /** Declare `factPath.fk → dimPath.pk`. With `validate = true` (the
    * default) the three constraint facts are CHECKED in one pass each
    * and a violation fails loudly — a wrongly-declared constraint
    * would silently change query results, the one thing an optimizer
    * rule must never do. Re-registering the same (fact, dim) pair
    * replaces the spec. */
  def register(spark: SparkSession, factPath: String, fk: String,
               dimPath: String, pk: String, validate: Boolean = true): Unit = {
    val fact = ParquetSchema.read(spark, factPath)
    val dim = ParquetSchema.read(spark, dimPath)
    if (validate) {
      val nullFk = fact.filter(col(fk).isNull).limit(1).count()
      require(nullFk == 0, s"join-elimination: $factPath.$fk has NULLs")
      val dupPk = dim.groupBy(col(pk)).agg(count(col(pk)).as("c"))
        .filter(col("c") > 1).limit(1).count()
      require(dupPk == 0, s"join-elimination: $dimPath.$pk is not unique")
      val orphan = fact.select(col(fk))
        .join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
        .limit(1).count()
      require(orphan == 0,
        s"join-elimination: $factPath.$fk has values absent from $dimPath.$pk")
    }
    val factRels = fact.queryExecution.analyzed
      .collect { case lr: LogicalRelation => lr }
    val dimRels = dim.queryExecution.analyzed
      .collect { case lr: LogicalRelation => lr }
    val factRoots = factRels.flatMap(rootsOf).toSet
    val dimRoots = dimRels.flatMap(rootsOf).toSet
    require(factRoots.nonEmpty && dimRoots.nonEmpty,
      "join-elimination: both sides must be file relations")
    val spec = Spec(factRoots, fk, dimRoots, pk,
      factRels.flatMap(filesOf).toSet, dimRels.flatMap(filesOf).toSet)
    specs.removeIf(s => s.factRoots == factRoots && s.dimRoots == dimRoots)
    specs.add(spec)
  }

  /** Caller-side proof that elimination fired: the optimized plan has
    * no Join at all (the q177 `readsOnlySummaries` gate pattern). */
  def joinFree(df: DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join])

  /** Unwrap attribute-only Projects and Filters, counting filters. */
  private def unwrap(p: LogicalPlan): Option[(LogicalRelation, Int)] =
    p match {
      case lr: LogicalRelation => Some((lr, 0))
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child)
      case Filter(_, child) => unwrap(child).map { case (r, n) => (r, n + 1) }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (specs.isEmpty) return plan
    plan.transform {
      case p @ Project(projList, j: Join) =>
        eliminate(projList, j).getOrElse(p)
    }
  }

  private def eliminate(projList: Seq[NamedExpression],
                        j: Join): Option[LogicalPlan] = {
    val (l, r, cond) = j match {
      case Join(l, r, Inner, Some(c: EqualTo), _) => (l, r, c)
      case _ => return None
    }
    val (ka, kb) = (cond.left, cond.right) match {
      case (a: AttributeReference, b: AttributeReference) => (a, b)
      case _ => return None
    }
    // orient the key pair to the sides
    val oriented = // (leftKey, rightKey)
      if (l.outputSet.contains(ka) && r.outputSet.contains(kb)) Some((ka, kb))
      else if (l.outputSet.contains(kb) && r.outputSet.contains(ka)) Some((kb, ka))
      else None
    val (lk, rk) = oriented.getOrElse(return None)
    // try each spec in both fact/dim orientations
    specs.asScala.view.flatMap { spec =>
      tryOne(projList, spec, factSide = l, fkAttr = lk, dimSide = r,
        pkAttr = rk).orElse(
        tryOne(projList, spec, factSide = r, fkAttr = rk, dimSide = l,
          pkAttr = lk))
    }.headOption
  }

  private def tryOne(projList: Seq[NamedExpression], spec: Spec,
                     factSide: LogicalPlan, fkAttr: AttributeReference,
                     dimSide: LogicalPlan,
                     pkAttr: AttributeReference): Option[LogicalPlan] = {
    if (fkAttr.name != spec.fk || pkAttr.name != spec.pk) return None
    val factRel = unwrap(factSide) match {
      case Some((rel, _)) => rel // fact-side filters keep the constraint
      case None => return None
    }
    val dimRel = unwrap(dimSide) match {
      case Some((rel, 0)) => rel // any dim filter does real work — bail
      case _ => return None
    }
    if (rootsOf(factRel) != spec.factRoots ||
        rootsOf(dimRel) != spec.dimRoots) return None
    // staleness gate (see filesOf): either side's data changed since the
    // constraint was validated → the join must run for real.
    if (filesOf(factRel) != spec.factFiles ||
        filesOf(dimRel) != spec.dimFiles) return None
    // the projection may touch the dim side only through pk
    val dimRefs = projList.flatMap(_.references).filter(dimSide.outputSet.contains)
    if (!dimRefs.forall(_.semanticEquals(pkAttr))) return None
    val newProjList = projList.map {
      case a: AttributeReference if a.semanticEquals(pkAttr) =>
        Alias(fkAttr, a.name)(exprId = a.exprId)
      case other => other.transform {
        case a: AttributeReference if a.semanticEquals(pkAttr) => fkAttr
      }.asInstanceOf[NamedExpression]
    }
    Some(Project(newProjList, factSide))
  }
}
