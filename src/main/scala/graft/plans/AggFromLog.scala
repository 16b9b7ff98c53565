package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, PlanExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.sources.{Manifest, ManifestFileIndex}

/** Metadata-only aggregates FROM THE COMMIT LOG through plain
  * `spark.sql` / `Dataset.count()` — the optimizer face of the
  * manifest's stats sidecars: a GLOBAL aggregate (optionally under
  * partition-column filters) over a manifest-backed table collapses to
  * a [[LocalRelation]] folded from per-file statistics, zero data IO
  * and zero tasks. The same trick every table format's metadata
  * queries play (Delta's metadata-only count, Iceberg answering
  * min/max from manifest files), expressed as a Catalyst rule so the
  * caller never learns a library call. What folds from which sidecar:
  *
  *  - `count(<non-null literal>)` — the `stats-<v>` row counts
  *    ([[Manifest.writeStats]]); falls back to any colstats column's
  *    carried n_rows when only `colstats-<v>` exists.
  *  - `count(col)` — colstats `n_rows − nnull` (null-sensitive, and
  *    the sidecar tracks nulls per file exactly).
  *  - `min(col)` / `max(col)` — colstats per-file extrema folded with
  *    Spark's own interpreted ordering over internal values; all-null
  *    files are skipped exactly as the scan would. Supported for the
  *    types the sidecar round-trips losslessly (integral, double,
  *    float, string, timestamp, timestamp_ntz, date), and only when
  *    the sidecar's recorded dtype still equals the column's current
  *    type (schema evolution declines).
  *  - `sum(col)` for INTEGRAL columns — colstats per-file exact sums
  *    (recorded DECIMAL(38,0)-exact) folded as BigInt, guarded by an
  *    OVERFLOW-IMPOSSIBILITY bound (Σ n_nonnull × max(|min|, |max|) ≤
  *    Long.MAX ⇒ no accumulation order can overflow ⇒ the fold equals
  *    the scan under LEGACY, ANSI and TRY alike); a possible overflow
  *    declines to the scan so the session mode keeps its own
  *    throw/wrap/null behavior. Doubles decline (per-file-then-fold
  *    reassociates; floats aren't associative). Legacy sidecars
  *    without the sum field decline.
  *
  * A rewrite fires only when it is provably exact:
  *  - the aggregate is GLOBAL (no grouping) and EVERY output is one of
  *    the forms above — undistincted, unfiltered (distinct counts need
  *    values; min/max-distinct is normalized away before this batch);
  *  - the child is the manifest relation under any chain of
  *    deterministic Projects whose outputs are bare column aliases
  *    (1:1, cannot change cardinality or reshape the aggregated
  *    column) and Filters whose conjuncts are deterministic,
  *    subquery-free, and reference PARTITION columns only — those
  *    prune exactly through the file index's own partition evaluation,
  *    so surviving-file stats ARE the filtered truth. A predicate on
  *    any data column disables the rewrite;
  *  - the needed sidecar exists for the PINNED snapshot version and
  *    covers every surviving file (for min/max/count(col): covers the
  *    exact column). Absent or partial stats decline the rewrite —
  *    fail-safe to a normal scan, never to a wrong answer (the
  *    [[graft.sources.GraftTable]] fail-open discipline).
  *
  * Scale shape: the decision reads O(files) (× referenced cols)
  * sidecar lines at plan time; at 100 TB a freshness probe like
  * `SELECT count(*), max(event_ts) FROM t WHERE day = X` costs one
  * text read instead of a full-partition scan. Reference analog: the
  * Glue catalog statistics Athena consults before scanning
  * (`cloudformation/collector-ga.yaml:605-635`).
  */
case class AggFromLog(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(Nil, aggExprs, child, _) if shapeOk(aggExprs) =>
      answerFromLog(agg, child) match {
        case Some(row) => LocalRelation(agg.output, Seq(row))
        case None => agg
      }
  }

  /** Cheap pre-filter before any IO: every output is an alias of one
    * undistincted, unfiltered count/min/max in a foldable form. */
  private def shapeOk(aggExprs: Seq[Expression]): Boolean =
    aggExprs.nonEmpty && aggExprs.forall {
      case Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(Seq(l: Literal)) => l.value != null
          case Count(Seq(_: AttributeReference)) => true
          case Min(_: AttributeReference) => true
          case Max(_: AttributeReference) => true
          case Sum(a: AttributeReference, _) => a.dataType match {
            case LongType | IntegerType | ShortType | ByteType => true
            case _ => false
          }
          case _ => false
        }
      case _ => false
    }

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[PlanExpression[_]])

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Types the colstats sidecar round-trips losslessly. */
  private def foldable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | StringType | TimestampType | TimestampNTZType |
         DateType => true
    case _ => false
  }

  /** Sidecar external value → the column's external JVM type (the
    * sidecar deserializes integrals as Long and float as Double). */
  private def narrow(dt: DataType, v: Any): Any = (dt, v) match {
    case (_, null) => null
    case (IntegerType, x: Long) => x.toInt
    case (ShortType, x: Long) => x.toShort
    case (ByteType, x: Long) => x.toByte
    case (FloatType, x: Double) => x.toFloat
    case _ => v
  }

  /** Descend Project/Filter chains to the manifest relation. Projects
    * must be bare column passthroughs (an expression like
    * `substr(col)` under min() would change the folded truth). */
  private def descend(p: LogicalPlan, conds: Seq[Expression])
      : Option[(HadoopFsRelation, ManifestFileIndex, Seq[Expression])] =
    p match {
      case Project(projList, c) if projList.forall {
          // bare references only: an Alias could rebind a sidecar
          // column NAME to different data and fold the wrong stats
          case _: AttributeReference => true
          case _ => false
        } => descend(c, conds)
      case Filter(cond, c) if cond.deterministic && !hasSubquery(cond) =>
        descend(c, conds ++ splitConjuncts(cond))
      case LogicalRelation(fsRel: HadoopFsRelation, _, _, _, _) =>
        fsRel.location match {
          case m: ManifestFileIndex => Some((fsRel, m, conds))
          case _ => None
        }
      case _ => None
    }

  private def answerFromLog(agg: Aggregate, child: LogicalPlan)
      : Option[InternalRow] = {
    val (fsRel, m, conds) = descend(child, Nil) match {
      case Some(t) => t
      case None => return None
    }
    // merge-on-read guard: a version carrying deletion vectors cannot
    // fold from PHYSICAL per-file stats (deleted rows would count).
    // The resolution rule's DV filter is a plain Filter descend()
    // walks through (its `_metadata` references then fail the
    // partition-column gate below), and a directly-constructed pinned
    // index carries no filter at all — so this check is the decline
    // that never folds a stale truth. One O(files) manifest text
    // read, only on plans that already matched every other gate.
    if (Manifest.dvsAt(spark, m.root.toString, m.version).nonEmpty)
      return None
    val resolver = spark.sessionState.analyzer.resolver
    val partCols = fsRel.partitionSchema.fieldNames
    if (!conds.forall(c =>
        c.references.forall(a => partCols.exists(resolver(a.name, _)))))
      return None
    // any min/max/count(col) references must be foldable DATA columns
    // (partition values don't carry sidecar stats)
    val neededCols: Seq[AttributeReference] =
      agg.aggregateExpressions.flatMap {
        case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
          case Count(Seq(a: AttributeReference)) => Some(a)
          case Min(a: AttributeReference) => Some(a)
          case Max(a: AttributeReference) => Some(a)
          case Sum(a: AttributeReference, _) => Some(a)
          case _ => None
        }
        case _ => None
      }
    if (neededCols.exists(a => partCols.exists(resolver(a.name, _)) ||
        !foldable(a.dataType)))
      return None

    val root = m.root.toString
    val rootUri = m.root.toUri.getPath
    val survivors = m.listFiles(conds, Nil).flatMap(_.files).map { f =>
      f.getPath.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
    }
    lazy val colStats: Map[(String, String),
                           (String, Any, Any, Long, Long, Option[Option[BigInt]])] =
      try Manifest.readColStats(spark, root, m.version)
      catch { case _: Exception => Map.empty }
    // resolve an aggregated attribute to the sidecar's column name
    def sidecarCol(a: AttributeReference): Option[String] = {
      val names = colStats.keys.map(_._2).toSet
      names.find(resolver(a.name, _))
    }
    def colCovered(a: AttributeReference): Option[String] =
      sidecarCol(a).filter { c =>
        survivors.forall { f =>
          colStats.get((f, c)).exists { case (dt, _, _, _, _, _) =>
            dt == a.dataType.catalogString
          }
        }
      }
    lazy val rowCountStar: Option[Long] =
      Manifest.readStatsMap(spark, root, m.version) match {
        case Some(stats) if survivors.forall(stats.contains) =>
          Some(survivors.map(stats).sum)
        case _ => // fall back to any fully-covering colstats column
          colStats.keys.map(_._2).toSeq.distinct.sorted.collectFirst {
            case c if survivors.forall(f => colStats.contains((f, c))) =>
              survivors.map(f => colStats((f, c))._5).sum
          }
      }

    def foldExtreme(a: AttributeReference, isMin: Boolean): Option[Any] =
      colCovered(a).map { c =>
        val toInternal =
          CatalystTypeConverters.createToCatalystConverter(a.dataType)
        val ord = TypeUtils.getInterpretedOrdering(a.dataType)
        val vals = survivors.flatMap { f =>
          val (_, mn, mx, _, _, _) = colStats((f, c))
          Option(if (isMin) mn else mx) // all-null file: no candidate
        }.map(v => toInternal(narrow(a.dataType, v)))
        if (vals.isEmpty) null
        else if (isMin) vals.min(ord) else vals.max(ord)
      }

    val values: Seq[Option[Any]] = agg.aggregateExpressions.map {
      case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
        case Count(Seq(_: Literal)) => rowCountStar
        case Count(Seq(a: AttributeReference)) =>
          colCovered(a).map { c =>
            survivors.map { f =>
              val (_, _, _, nnull, n, _) = colStats((f, c)); n - nnull
            }.sum
          }
        case Min(a: AttributeReference) => foldExtreme(a, isMin = true)
        case Max(a: AttributeReference) => foldExtreme(a, isMin = false)
        case Sum(a: AttributeReference, _) =>
          colCovered(a).flatMap { c =>
            val st = survivors.map(f => colStats((f, c)))
            if (st.exists(_._6.isEmpty)) None // legacy sidecar: no sum field
            else {
              // OVERFLOW-IMPOSSIBILITY guard, mode-independent: every
              // partial sum in ANY accumulation order is bounded by
              // Σ n_nonnull × max(|min|, |max|); when that fits in a
              // Long, no order can overflow, so LEGACY (wrap), ANSI
              // (throw) and TRY (null) all equal the exact fold. A
              // possible overflow declines to the scan, preserving the
              // session mode's own semantics.
              val bounds = st.map { case (_, mn, mx, nnull, n, _) =>
                val nnz = n - nnull
                if (nnz == 0L) Some(BigInt(0))
                else (mn, mx) match {
                  case (lo: Long, hi: Long) =>
                    Some(BigInt(nnz) * BigInt(lo).abs.max(BigInt(hi).abs))
                  case _ => None // stats inconsistent: decline
                }
              }
              if (bounds.exists(_.isEmpty) ||
                  bounds.flatten.sum > BigInt(Long.MaxValue)) None
              else {
                val known = st.flatMap(_._6).flatten // known-null files drop
                // sum over zero non-null values is NULL, like the scan's
                Some(if (known.isEmpty) null else known.sum.longValue)
              }
            }
          }
        case _ => None
      }
      case _ => None
    }
    if (values.forall(_.isDefined))
      Some(InternalRow.fromSeq(values.map(_.get)))
    else None
  }
}
