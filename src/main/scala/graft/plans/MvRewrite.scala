package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, EqualTo, Expression, IsNotNull, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-view query rewriting — the OTHER half of incremental view
  * maintenance (mv_join_maintain keeps the state fresh; this rule makes
  * queries USE it): a user writes the naive join-aggregate over the base
  * fact tables and the optimizer substitutes the config-sized MV partials,
  * turning a two-fact-table shuffle join into a tiny state scan. At 100 TB
  * this is the difference between answering a rollup from the facts and
  * answering it from kilobytes of maintained state — the classic
  * "transparent MV routing" every warehouse engine ships.
  *
  * The matcher is deliberately CONSERVATIVE (a wrong rewrite is a wrong
  * answer): it requires an inner equi-join of exactly the registered base
  * scans (allowing only the optimizer's own benign wrappers — column-prune
  * Projects and IsNotNull key filters), grouping on exactly the registered
  * dimension, and aggregate functions the registered measure map
  * recognizes (count(*) / sum of the registered column). Anything else is
  * left untouched. Rewritten outputs keep the original exprIds, names and
  * types, so parents (Sort, Project) re-resolve against the new subtree
  * unchanged; count(*) re-aggregates as coalesce(sum(n), 0) to preserve
  * its non-null contract.
  *
  * Registered per-session via `experimental.extraOptimizations` (the
  * AsOfJoinRules precedent): the rule runs in the final "User Provided
  * Optimizers" batch — after column pruning has shaped the join sides into
  * the benign wrappers the matcher strips, and idempotent because the
  * rewritten Aggregate's child is no longer a Join.
  */
case class MvDef(
    stateScan: LogicalPlan,
    basePaths: Set[String],
    groupCol: String,
    leftKey: String,
    rightKey: String,
    measure: AggregateFunction => Option[String])

/** The registered MVs, one per identity (name, base paths). The state path
  * is not part of the identity: it moves with the cache root, and a def
  * left behind by an old root would point at files that may be gone. */
object MvCatalog {
  private val defs =
    new java.util.concurrent.ConcurrentHashMap[(String, Set[String]), MvDef]()
  /** Register `d` as MV `name`, replacing any earlier def of the same MV. */
  def register(name: String, d: MvDef): Unit = { defs.put((name, d.basePaths), d); () }
  /** Forget MV `name` over `basePaths`: call before (re)building its state,
    * so the build's own join-aggregate is not routed to an older state. */
  def drop(name: String, basePaths: Set[String]): Unit = { defs.remove((name, basePaths)); () }
  def all: Seq[MvDef] = {
    import scala.jdk.CollectionConverters._
    defs.values().asScala.toSeq
  }
  def isEmpty: Boolean = defs.isEmpty
}

object MvRewriteRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        MvCatalog.all.iterator.map(d => rewrite(agg, d))
          .collectFirst { case Some(r) => r }.getOrElse(agg)
    }

  /** Strip the wrappers the optimizer itself puts between an aggregate and
    * its scans: attribute-only Projects (column pruning) and Filters whose
    * every conjunct is IsNotNull over an attribute (inner-join null
    * elimination). Both are no-ops for an UNFILTERED rollup over an inner
    * equi-join on those same attributes. */
  private def stripBenign(p: LogicalPlan): LogicalPlan = p match {
    case Project(list, child)
        if list.forall(_.isInstanceOf[AttributeReference]) =>
      stripBenign(child)
    case Filter(cond, child)
        if splitConjunctivePredicates(cond).forall {
          case IsNotNull(_: AttributeReference) => true
          case _ => false
        } =>
      stripBenign(child)
    case other => other
  }

  private def scanPaths(p: LogicalPlan): Set[String] = stripBenign(p) match {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
        case _ => Set.empty
      }
    case _ => Set.empty
  }

  private def rewrite(agg: Aggregate, d: MvDef): Option[Aggregate] = {
    val join = stripBenign(agg.child) match {
      case j: Join if j.joinType == Inner => j
      case _ => return None
    }
    val lp = scanPaths(join.left)
    val rp = scanPaths(join.right)
    if (lp.isEmpty || rp.isEmpty || (lp ++ rp) != d.basePaths) return None
    val keyOk = join.condition match {
      case Some(EqualTo(a: AttributeReference, b: AttributeReference)) =>
        Set(a.name, b.name) == Set(d.leftKey, d.rightKey)
      case _ => false
    }
    if (!keyOk) return None
    val groupOk = agg.groupingExpressions match {
      case Seq(g: AttributeReference) => g.name == d.groupCol
      case _ => false
    }
    if (!groupOk) return None
    val stateOut = d.stateScan.output.map(a => a.name -> a).toMap
    if (!stateOut.contains(d.groupCol)) return None
    val gState = stateOut(d.groupCol)
    val rewritten: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference if a.name == d.groupCol =>
        Some(Alias(gState, a.name)(exprId = a.exprId))
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        d.measure(ae.aggregateFunction).flatMap(stateOut.get).map { sc =>
          val merged = Sum(sc).toAggregateExpression()
          // count(*) is non-nullable; its merged form must stay so
          val body: Expression = ae.aggregateFunction match {
            case c if c.prettyName == "count" =>
              Coalesce(Seq(merged, Literal(0L)))
            case _ => merged
          }
          Alias(body, name)(exprId = al.exprId)
        }
      case _ => None
    }
    if (rewritten.exists(_.isEmpty)) None
    else Some(agg.copy(groupingExpressions = Seq(gState),
      aggregateExpressions = rewritten.map(_.get), child = d.stateScan))
  }
}

/** Measure matchers for the common MV shapes (used at registration). */
object MvMeasures {
  /** count(*) / count(1). */
  def countStar(stateCol: String): AggregateFunction => Option[String] = {
    case c if c.prettyName == "count" && (c.children.isEmpty ||
        c.children.forall(_.isInstanceOf[Literal])) => Some(stateCol)
    case _ => None
  }

  /** Combine several matchers; first hit wins. */
  def oneOf(ms: (AggregateFunction => Option[String])*)
      : AggregateFunction => Option[String] =
    af => ms.iterator.map(_(af)).collectFirst { case Some(s) => s }

  /** sum(col) or sum(cast(col as <type>)). */
  def sumOf(colName: String, stateCol: String)
      : AggregateFunction => Option[String] = {
    case s: Sum =>
      s.child match {
        case a: AttributeReference if a.name == colName => Some(stateCol)
        case c: Cast =>
          c.child match {
            case a: AttributeReference if a.name == colName => Some(stateCol)
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }
}
