package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.Tables

/** Optimizer extension bringing the rescue-rule family
  * ([[CosineLshRewrite]], [[JaccardLshRewrite]], [[RangeBucketRewrite]],
  * [[SpatialGridRewrite]] — all JOIN rescues) to the AGGREGATE side:
  * materialized-view ROLLUP rewrite. A user who writes
  *
  *   SELECT k1, k2, sum(x), count(*) FROM base GROUP BY k1, k2
  *
  * against a 100 TB base table re-scans the corpus for an answer a
  * few-hundred-row pre-aggregate already holds. When a registered MV
  * groups the SAME base by a SUPERSET of the query's keys and carries
  * the query's measures as partials, the classic roll-up identity makes
  * the rewrite exact:
  *
  *   sum(x)   = sum(mv_sum_x)     over the residual keys
  *   count(*) = sum(mv_cnt)
  *   min(x)   = min(mv_min_x),  max(x) = max(mv_max_x)
  *
  * (sum/count/min/max are the self-decomposable aggregates; avg and
  * distinct counts are NOT re-aggregable from these partials and make
  * the rule bail — the whole query reverts to the base scan rather
  * than ever answering approximately.) The rewrite replans the
  * Aggregate onto the MV relation: scan cost drops from |base| to
  * |MV|, the group-by shuffle carries MV rows, and every downstream
  * operator keeps its attributes because the new output aliases
  * preserve the original expression ids.
  *
  * Registration is conf-carried like the sibling rescues — one MV per
  * session, which is the demonstrator shape (production would hold a
  * catalog of these and match against each):
  *
  *  - `spark.graft.mv.rewrite.enabled` — opt-in flag (inert otherwise);
  *  - `spark.graft.mv.path`    — the MV parquet directory;
  *  - `spark.graft.mv.base`    — a path marker identifying the base
  *    relation (the rewrite fires only on scans whose file-source root
  *    contains it, and the MV's own path must not — which also makes
  *    the rule idempotent: the rewritten plan scans the MV);
  *  - `spark.graft.mv.keys`    — the MV's grouping columns (query keys
  *    must be a subset);
  *  - `spark.graft.mv.measures` — partial map, e.g.
  *    `sum:l_quantity=mv_sum_qty,min:l_quantity=mv_min_qty,count=mv_cnt`.
  *
  * Safety gates (each bails to the original plan): any Filter between
  * the Aggregate and the scan (a residual predicate is not answerable
  * from key-grouped partials unless it is key-only — kept strict); any
  * grouping expression that is not a plain column; any DISTINCT or
  * FILTER-clause aggregate; any aggregate function outside the
  * decomposable four; any measure or key column missing from the MV
  * schema. count(*) nullability is preserved by wrapping the rolled-up
  * sum in coalesce(., 0) — count is non-nullable, sum is not.
  */
object MvRollupRewrite extends Rule[LogicalPlan] {

  val Flag = "spark.graft.mv.rewrite.enabled"
  val PathConf = "spark.graft.mv.path"
  val BaseConf = "spark.graft.mv.base"
  val KeysConf = "spark.graft.mv.keys"
  val MeasuresConf = "spark.graft.mv.measures"

  private case class Measures(sums: Map[String, String],
                              mins: Map[String, String],
                              maxs: Map[String, String],
                              cnt: Option[String])

  /** `sum:col=mv_col,min:col=mv_col,max:col=mv_col,count=mv_cnt` */
  private def parseMeasures(sp: String): Measures = {
    var sums = Map.empty[String, String]
    var mins = Map.empty[String, String]
    var maxs = Map.empty[String, String]
    var cnt: Option[String] = None
    sp.split(",").map(_.trim).filter(_.nonEmpty).foreach { ent =>
      ent.split("=") match {
        case Array(lhs, mv) => lhs.split(":") match {
          case Array("sum", c)   => sums += c -> mv
          case Array("min", c)   => mins += c -> mv
          case Array("max", c)   => maxs += c -> mv
          case Array("count")    => cnt = Some(mv)
          case _ => throw new IllegalArgumentException(
            s"$MeasuresConf: bad entry '$ent'")
        }
        case _ => throw new IllegalArgumentException(
          s"$MeasuresConf: bad entry '$ent'")
      }
    }
    Measures(sums, mins, maxs, cnt)
  }

  /** The aggregate's child must be a pure column-pruning path down to a
    * file-source scan of the registered base — attribute-only Projects
    * (what ColumnPruning leaves) are transparent, anything else
    * (Filter, computed Project, join, …) disqualifies. */
  private def baseScan(p: LogicalPlan, mark: String): Boolean = p match {
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      baseScan(c, mark)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        fs.location.rootPaths.exists(_.toString.contains(mark))
      case _ => false
    }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(Flag, "false") != "true") return plan
    val mvPath = conf.getConfString(PathConf, "")
    val baseMark = conf.getConfString(BaseConf, "")
    if (mvPath.isEmpty || baseMark.isEmpty) return plan
    val keys = conf.getConfString(KeysConf, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val ms = parseMeasures(conf.getConfString(MeasuresConf, ""))
    plan.transform {
      case agg @ Aggregate(gs, _, child, _)
          if baseScan(child, baseMark) && gs.nonEmpty && gs.forall {
            case a: AttributeReference => keys.contains(a.name)
            case _ => false
          } =>
        rewrite(agg, mvPath, ms).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, mvPath: String,
                      ms: Measures): Option[LogicalPlan] = {
    // the MV relation, analyzed once per rewrite — a fresh QueryExecution,
    // never re-entering THIS optimization (analysis does not optimize)
    val mvPlan = Tables.read(SparkSession.active, mvPath)
      .queryExecution.analyzed
    val mvAttr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
    val groupAttrs = agg.groupingExpressions
      .map(_.asInstanceOf[AttributeReference])
    if (!groupAttrs.forall(a => mvAttr.contains(a.name))) return None
    val groupMap: Map[ExprId, Attribute] =
      groupAttrs.map(a => a.exprId -> mvAttr(a.name)).toMap

    var ok = true
    def fail[T](v: T): T = { ok = false; v }
    // manual recursion (not transform): a rewritten node's children are
    // MV attributes that must not be re-inspected as base columns
    def rw(e: Expression): Expression = e match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case s @ Sum(a: AttributeReference, _)
              if ms.sums.get(a.name).exists(mvAttr.contains) =>
            ae.copy(aggregateFunction = s.copy(child = mvAttr(ms.sums(a.name))))
          case Min(a: AttributeReference)
              if ms.mins.get(a.name).exists(mvAttr.contains) =>
            ae.copy(aggregateFunction = Min(mvAttr(ms.mins(a.name))))
          case Max(a: AttributeReference)
              if ms.maxs.get(a.name).exists(mvAttr.contains) =>
            ae.copy(aggregateFunction = Max(mvAttr(ms.maxs(a.name))))
          case c: Count if c.children.forall(_.foldable) &&
              ms.cnt.exists(mvAttr.contains) =>
            // count is non-nullable, sum is not; groups exist only where
            // MV rows exist, but the attribute contract must match
            Coalesce(Seq(
              ae.copy(aggregateFunction = Sum(mvAttr(ms.cnt.get))),
              Literal(0L)))
          case _ => fail(ae)
        }
      case a: AttributeReference => groupMap.getOrElse(a.exprId, fail(a))
      case other => other.mapChildren(rw)
    }

    val newAggExprs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case a: AttributeReference if groupMap.contains(a.exprId) =>
        Alias(groupMap(a.exprId), a.name)(exprId = a.exprId)
      case al @ Alias(c, n) => Alias(rw(c), n)(exprId = al.exprId)
      case other => fail(other)
    }
    if (!ok) return None

    val used = {
      val refs = AttributeSet(newAggExprs.flatMap(_.references) ++
        groupAttrs.map(a => groupMap(a.exprId)))
      mvPlan.output.filter(refs.contains)
    }
    Some(Aggregate(
      groupAttrs.map(a => groupMap(a.exprId)),
      newAggExprs,
      Project(used, mvPlan)))
  }
}
