package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Multi-table materialized-view selection — the JOIN half of Doris 2.1's
  * async MTMV (`CREATE MATERIALIZED VIEW … AS SELECT … FROM a JOIN b …`,
  * [doris: fe/.../mtmv/ + nereids MaterializedViewUtils — SPJG rewrite]),
  * complementing [[RollupRewrite]] which serves single-table aggregates.
  *
  * The rule transparently retargets
  *
  *   Aggregate(G, aggs, Join(scan(a), scan(b), Inner, a.k = b.k))
  *
  * onto `Aggregate(G, merged-aggs, scan(mv))` when a registered MV was
  * DEFINED as that very join pre-aggregated by a superset of G: same two
  * base scans (matched by path), same inner equi-join key set (either
  * orientation), G ⊆ the MV's group keys, and every output aggregate
  * mergeable under the shared [[MergeAgg]] mapping (sum→sum(sum_c),
  * count→sum(cnt), avg→sum/sum, key-only min/max/DISTINCT). Everything
  * else — extra predicates beyond the join's own inferred IsNotNull
  * constraints, outer joins, unmapped aggregates, non-key grouping —
  * bails to the base plan (conservative containment, not general SPJG
  * subsumption).
  *
  * Scale rationale: a fact⋈dim pre-join aggregate at 100 TB replaces the
  * fact scan AND the join shuffle with a scan of |group| rows — the MV is
  * the only plan where the serving query's cost is independent of fact
  * cardinality. Freshness is the shared mtime guard (graft.Freshness): any
  * base-table change after registration disables serving until the MV is
  * re-registered (Doris refreshes MTMVs transactionally by partition
  * version instead — see MaterializedViews for that mechanism).
  */
object JoinMvRewrite {

  /** One registered join MV. `joinKeys` are (leftCol, rightCol) pairs of
    * the DEFINING join; `keys` its grouping columns (must be unambiguous
    * names across both bases); `columns` the same (agg, baseCol) → mvCol
    * mapping as [[RollupRewrite.RollupDef]]. */
  case class JoinMvDef(
      leftPath: String,
      rightPath: String,
      joinKeys: Seq[(String, String)],
      mvPath: String,
      keys: Seq[String],
      columns: Map[(String, String), String],
      registeredAt: Long = System.currentTimeMillis())

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[JoinMvDef]()

  /** Register `d`, replacing the def of the same MV — same base pair and
    * group keys — so a rebuilt MV supersedes its old version instead of
    * serving beside it. */
  def register(d: JoinMvDef): Unit = registry.synchronized {
    registry.removeIf(o => o.leftPath == d.leftPath &&
      o.rightPath == d.rightPath && o.keys == d.keys)
    registry.add(d)
  }
  def clear(): Unit = registry.clear()

  /** Install the rule once per session (extraOptimizations route; the
    * GraftExtensions config route injects it too). */
  def install(spark: SparkSession): Unit = {
    val present = spark.experimental.extraOptimizations.exists(_.isInstanceOf[JoinMvRewriteRule])
    if (!present)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new JoinMvRewriteRule(spark)
  }

  class JoinMvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

    private def norm(p: String): String = "file:" + p.stripPrefix("file:")

    private def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }

    @annotation.tailrec
    private def stripToJoin(p: LogicalPlan): Option[Join] = p match {
      case j: Join => Some(j)
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        stripToJoin(c)
      case _ => None
    }

    /** A join side matches a base table when, after peeling attr-only
      * Projects and Filters that are pure conjunctions of IsNotNull over
      * that side's JOIN KEYS (the inner join's own inferred constraints —
      * InferFiltersFromConstraints adds them below us, and the MV's
      * defining inner join discards those null keys identically), we reach
      * a LogicalRelation rooted at the base path. Any other residual
      * predicate means the query is more selective than the MV: no match. */
    @annotation.tailrec
    private def sideMatches(
        p: LogicalPlan, path: String, sideKeys: Set[String]): Boolean = p match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.headOption.map(_.toString).contains(norm(path))
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        sideMatches(c, path, sideKeys)
      case Filter(cond, c) if conjuncts(cond).forall {
            case IsNotNull(a: AttributeReference) => sideKeys.contains(a.name)
            case _ => false
          } =>
        sideMatches(c, path, sideKeys)
      case _ => false
    }

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case agg @ Aggregate(_, _, child, _) => tryServe(agg, child).getOrElse(agg)
    }

    private def tryServe(agg: Aggregate, child: LogicalPlan): Option[LogicalPlan] = {
      if (registry.isEmpty) return None
      // global aggregates bail for the RollupRewrite reason: sum(cnt) over
      // an empty MV is NULL where count(*) over an empty join is 0
      if (agg.groupingExpressions.isEmpty) return None
      val j = stripToJoin(child).getOrElse(return None)
      if (j.joinType != Inner) return None
      val cond = j.condition.getOrElse(return None)
      val lOut = j.left.outputSet
      val rOut = j.right.outputSet
      // the whole join condition must be plain column equi-pairs, oriented
      // to the plan's own sides
      val pairOpts = conjuncts(cond).map {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          if (lOut.contains(a) && rOut.contains(b)) Some((a.name, b.name))
          else if (lOut.contains(b) && rOut.contains(a)) Some((b.name, a.name))
          else None
        case _ => None
      }
      if (pairOpts.exists(_.isEmpty)) return None
      val pairs = pairOpts.flatten.toSet
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
      if (groupNames.exists(_.isEmpty)) return None
      val groups = groupNames.flatten
      // deterministic candidate order; first servable wins (single-MV
      // registry in practice — cost-based choice lives in RollupRewrite)
      registry.toArray(Array.empty[JoinMvDef]).sortBy(_.mvPath)
        .iterator.flatMap(d => serveWith(agg, d, j, pairs, groups))
        .nextOption()
    }

    private def serveWith(
        agg: Aggregate, d: JoinMvDef, j: Join,
        pairs: Set[(String, String)], groups: Seq[String]): Option[LogicalPlan] = {
      val lKeys = d.joinKeys.map(_._1).toSet
      val rKeys = d.joinKeys.map(_._2).toSet
      // the defining join in either orientation, sides matched by path
      val declared = pairs == d.joinKeys.toSet &&
        sideMatches(j.left, d.leftPath, lKeys) &&
        sideMatches(j.right, d.rightPath, rKeys)
      val swapped = pairs == d.joinKeys.map(_.swap).toSet &&
        sideMatches(j.left, d.rightPath, rKeys) &&
        sideMatches(j.right, d.leftPath, lKeys)
      if (!declared && !swapped) return None
      if (!groups.forall(d.keys.contains)) return None
      // freshness: either base changing after registration disables serving
      if (graft.Freshness.mtime(d.leftPath) > d.registeredAt ||
          graft.Freshness.mtime(d.rightPath) > d.registeredAt) return None

      val mvPlan = RollupRewrite.servedScan(spark, d.mvPath).getOrElse(return None)
      val attr: Map[String, Attribute] = mvPlan.output.map(a => a.name -> a).toMap
      if (!d.keys.forall(attr.contains) ||
          !d.columns.values.forall(attr.contains)) return None
      def keyOnlyPred(c: Expression): Boolean = c.deterministic &&
        c.references.forall(a => d.keys.contains(a.name)) &&
        c.find(_.isInstanceOf[PlanExpression[_]]).isEmpty

      val newAggExprs = agg.aggregateExpressions.map { ne =>
        MergeAgg.rewriteExpr(d.keys, d.columns, attr, keyOnlyPred)(ne).map {
          case a: Attribute => Alias(a, ne.name)(exprId = ne.exprId)
          case al: Alias => al
          case other => Alias(other, ne.name)(exprId = ne.exprId)
        }
      }
      if (newAggExprs.exists(_.isEmpty)) return None
      val newGrouping = agg.groupingExpressions.map {
        case a: AttributeReference => attr(a.name)
      }
      Some(Aggregate(newGrouping, newAggExprs.flatten, mvPlan))
    }
  }
}
