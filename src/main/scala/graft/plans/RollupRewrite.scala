package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Freshness.Version

/** Rollup / materialized-view selection (SURVEY.md §4, M4 stretch): one
  * registry and one optimizer rule serve every precomputed aggregate —
  * standing rollups, DDL sync MVs, the streamed rollup, and two-table join
  * MVs (Doris 2.1 async MTMV, [doris: fe/.../mtmv/ + nereids
  * MaterializedViewUtils — SPJG rewrite]).
  *
  * Doris keeps physically pre-aggregated rollups of a base table and its
  * planner transparently retargets matching aggregates onto the smallest one
  * ([doris: fe/.../planner/MaterializedViewSelector.java],
  * [doris: fe/.../alter/MaterializedViewHandler.java]). Spark equivalent: a
  * user-provided optimizer rule (spark.experimental.extraOptimizations — no
  * fork of the session builder needed) that rewrites
  *
  *   Aggregate(G, aggs, scan(base))   where G ⊆ rollup keys and every agg is
  *                                    a re-aggregable sum/min/max/count(*)
  *   Aggregate(G, aggs, Join(scan(a), scan(b), Inner, a.k = b.k))
  *                                    where a join MV was DEFINED as that
  *                                    join pre-aggregated by a superset of G
  * into
  *   Aggregate(G, merged-aggs, scan(rollup or MV))
  *
  * with the standard merge mapping sum→sum(sum_c), min→min(min_c),
  * max→max(max_c), count(*)→sum(cnt), count(c)→sum(cnt_c), and
  * avg(c)→sum(sum_c)/sum(cnt_c) ([[MergeAgg]]). Output exprIds are
  * preserved so parent operators resolve unchanged.
  *
  * Scale rationale: at 100 TB the rollup is orders of magnitude smaller than
  * the fact table (|groups| vs |rows|); retargeting turns a full fact scan +
  * shuffle into a scan of an already-collapsed table — the same reason Doris
  * AGGREGATE-key tables exist — and a fact⋈dim join MV also removes the join
  * shuffle. A filter over rollup KEY columns is served
  * (pushed onto the rollup scan — it selects whole groups, so it commutes
  * with the merge), as are DISTINCT aggregates and min/max whose arguments
  * are all key columns (duplicate-insensitive over the preserved distinct
  * key-tuple set) and aggregate FILTER clauses over key columns (the
  * predicate transplants onto the merged aggregate). Decimal avg is served
  * by reproducing Average's own decimal lowering over the merged sums (see
  * [[MergeAgg]]). Filters or FILTER clauses touching non-key columns
  * and non-key DISTINCT aggregates make the rewrite bail (conservative by
  * design); a join MV additionally bails on any predicate beyond the join's
  * own inferred IsNotNull constraints and on outer joins (conservative
  * containment, not general SPJG subsumption).
  */
object RollupRewrite {

  /** One precomputed aggregate the rule can serve. Its identity is
    * (`bases`, `name`): registering a def replaces the def with the same
    * identity, so a rebuild supersedes its old version while two distinct
    * MVs over one base (even sharing group keys) coexist. It is served only
    * while [[graft.Freshness.version]] of its bases equals `version`, the
    * version its build read — taken BEFORE the build reads them. `columns`
    * maps a base aggregate to its precomputed column: ("sum", "l_quantity")
    * -> "sum_qty", count(*) -> ("count", "*") -> "cnt". */
  sealed trait ServedDef {
    def bases: Seq[String]
    def name: String
    def path: String
    def keys: Seq[String]
    def columns: Map[(String, String), String]
    def version: Version
  }

  /** A single-table rollup or sync MV: `basePath` -> pre-aggregated
    * `rollupPath`. */
  case class RollupDef(
      basePath: String,
      rollupPath: String,
      name: String,
      keys: Seq[String],
      columns: Map[(String, String), String],
      version: Version,
      // Canonical SQL of filter conjuncts this rollup's data has ALREADY
      // had applied (the DDL layer's versioned-delete read filters: the MV
      // is rebuilt post-delete, so the same conjunct arriving in a query
      // plan is implied, not an obstacle). Doris analogue: delete
      // predicates apply to rollup rowsets by version — here the rollup is
      // a post-delete snapshot and the conjunct is recognized instead.
      absorbed: Set[String] = Set.empty,
      // For rollups materialized OVER a base table's own merge aggregate
      // (AGGREGATE-key table views): the canonical (grouping, aggExprs)
      // SQL of that merge. A query plan whose scan-side child is an
      // Aggregate matching this shape (column pruning may drop agg
      // columns — subset match) is served THROUGH it: the rollup data was
      // computed over exactly this aggregate, so the outer re-aggregation
      // maps unchanged. Doris analogue: "pre-aggregation: ON" — rollup
      // rowsets of an AGGREGATE table are already merge-compacted.
      innerAgg: Option[(Seq[String], Seq[String])] = None)
      extends ServedDef {
    def bases: Seq[String] = Seq(basePath)
    def path: String = rollupPath
  }

  /** A two-table join MV. `joinKeys` are (leftCol, rightCol) pairs of the
    * DEFINING inner join; `keys` its grouping columns (must be unambiguous
    * names across both bases). */
  case class JoinMvDef(
      leftPath: String,
      rightPath: String,
      joinKeys: Seq[(String, String)],
      mvPath: String,
      name: String,
      keys: Seq[String],
      columns: Map[(String, String), String],
      version: Version) extends ServedDef {
    def bases: Seq[String] = Seq(leftPath, rightPath)
    def path: String = mvPath
  }

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[ServedDef]()

  /** Register `d`, replacing the registered def with its identity. A
    * superseded version must leave the registry even when the version
    * guard would also retire it: a versioned DELETE changes visible data
    * WITHOUT touching the base dir. */
  def register(d: ServedDef): Unit = registry.synchronized {
    registry.removeIf(o => o.bases == d.bases && o.name == d.name)
    registry.add(d)
  }

  /** Remove the def named `name` over `base` (ALTER TABLE ... DROP ROLLUP /
    * DROP MATERIALIZED VIEW), or every def over `base` (DROP TABLE — a
    * dropped base must stop serving immediately). */
  def deregister(base: String, name: Option[String] = None): Unit =
    registry.removeIf(d => d.bases.contains(base) && name.forall(_ == d.name))

  private[graft] def registered: Seq[ServedDef] =
    registry.toArray(Array.empty[ServedDef]).toSeq

  /** Install the rule once per session. */
  def install(spark: SparkSession): Unit = {
    val present = spark.experimental.extraOptimizations.exists(_.isInstanceOf[RollupRewriteRule])
    if (!present)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new RollupRewriteRule(spark)
  }

  /** The analyzed scan of a rollup or MV parquet path. Resolved once per
    * path, version and session through [[graft.Artifacts.memo]]: apply()
    * must not do IO/analysis on every rule application (round-1 finding).
    * Per use only the exprIds are re-instanced, so two rewrites in one
    * query can't collide. A path that is missing or unreadable serves None
    * until its version moves. */
  private[plans] def servedScan(
      spark: SparkSession, path: String): Option[LogicalPlan] =
    Option(graft.Artifacts.memo("servedScan", path, spark, path) {
      try spark.read.parquet(path).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) => null }
    }).map {
      case lr: LogicalRelation => lr.newInstance()
      case other => other
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A scan of the base at `path` (file:// prefix tolerance). */
  private def isScanOf(p: LogicalPlan, path: String): Boolean = p match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption
        .exists(_.toString.stripPrefix("file:") == path.stripPrefix("file:"))
    case _ => false
  }

  @annotation.tailrec
  private def peelFiltersAndProjects(
      p: LogicalPlan, acc: Seq[Expression]): (Seq[Expression], LogicalPlan) =
    p match {
      case Filter(c, child) => peelFiltersAndProjects(child, acc :+ c)
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        peelFiltersAndProjects(child, acc)
      case other => (acc, other)
    }

  class RollupRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = {
      val defs = registry.toArray(Array.empty[ServedDef])
      if (defs.isEmpty) plan else plan.transformUp {
        case agg @ Aggregate(_, _, child, _) =>
          // a filter the user wrote above the aggregate arrives here pushed
          // BELOW it by PushDownPredicate (extraOptimizations run after the
          // main batches), possibly interleaved with column-pruning
          // Projects; peel those layers and let each def decide whether it
          // can serve the collected predicate
          val (conds, input) = peelFiltersAndProjects(child, Nil)
          // MULTI-CANDIDATE selection (Doris MaterializedViewSelector:
          // among all candidates that can serve the aggregate, take the
          // cheapest): keep the one whose scan is smallest by file-size
          // stats — at 100 TB a coarse 6-row rollup vs a fine million-row
          // one is the difference between a metadata read and a real scan.
          // Tiebreak on path for determinism.
          val served = defs.flatMap { d =>
            val residual = d match {
              case r: RollupDef => rollupResidual(r, conds, input)
              // a join MV pre-applied no predicate but the join's own
              case j: JoinMvDef if conds.isEmpty && joinMatches(j, input) =>
                Some(Nil)
              case _ => None
            }
            residual.flatMap(tryRewrite(agg, d, _)).map(out => (d, out))
          }
          served.sortBy { case (d, _) =>
            (servedScan(spark, d.path).map(_.stats.sizeInBytes)
              .getOrElse(BigInt(Long.MaxValue)), d.path)
          }.headOption.map(_._2).getOrElse(agg)
      }
    }

    /** The conjuncts `d` must still apply over its scan to stand in for
      * `input` under the peeled `conds`, or None when `input` is not `d`'s
      * base. Conjuncts the rollup's data has already absorbed (the DDL
      * layer's versioned-delete filters, matched on canonical SQL, which
      * both sides derive from the same optimizer pipeline) are dropped. */
    private def rollupResidual(d: RollupDef, conds: Seq[Expression],
        input: LogicalPlan): Option[Seq[Expression]] = {
      val all = input match {
        // direct base scan (plain tables, DUPLICATE-table views)
        case _ if d.innerAgg.isEmpty && isScanOf(input, d.basePath) =>
          Some(conds)
        // the base's own MERGE aggregate (AGGREGATE-key table view): serve
        // THROUGH it when it matches the recorded merge shape — the rollup
        // was materialized over this very aggregate, so the outer
        // re-aggregation maps unchanged ("pre-aggregation: ON"). Column
        // pruning may have dropped unused agg columns from the inner node,
        // hence the subset match; filters pushed below the inner aggregate
        // join the servability check (they are either absorbed delete
        // filters or key predicates, which commute with both aggregations).
        case Aggregate(g1, ae1, c1, _) if d.innerAgg.isDefined =>
          val (conds1, s1) = peelFiltersAndProjects(c1, Nil)
          val (recG, recA) = d.innerAgg.get
          if (isScanOf(s1, d.basePath) &&
              g1.map(_.sql).toSet == recG.toSet &&
              ae1.forall(e => recA.contains(e.sql)))
            Some(conds ++ conds1)
          else None
        case _ => None
      }
      all.map(_.flatMap(conjuncts).filterNot(c => d.absorbed.contains(c.sql)))
    }

    /** `input` is `d`'s defining inner equi-join in either orientation,
      * sides matched by path: the whole join condition is plain column
      * equi-pairs equal to `d.joinKeys`. */
    private def joinMatches(d: JoinMvDef, input: LogicalPlan): Boolean =
      input match {
        case j: Join if j.joinType == Inner && j.condition.isDefined =>
          val (lOut, rOut) = (j.left.outputSet, j.right.outputSet)
          val pairs = conjuncts(j.condition.get).map {
            case EqualTo(a: AttributeReference, b: AttributeReference) =>
              if (lOut.contains(a) && rOut.contains(b)) Some((a.name, b.name))
              else if (lOut.contains(b) && rOut.contains(a)) Some((b.name, a.name))
              else None
            case _ => None
          }
          val lKeys = d.joinKeys.map(_._1).toSet
          val rKeys = d.joinKeys.map(_._2).toSet
          !pairs.contains(None) && {
            val ps = pairs.flatten.toSet
            (ps == d.joinKeys.toSet &&
              sideMatches(j.left, d.leftPath, lKeys) &&
              sideMatches(j.right, d.rightPath, rKeys)) ||
            (ps == d.joinKeys.map(_.swap).toSet &&
              sideMatches(j.left, d.rightPath, rKeys) &&
              sideMatches(j.right, d.leftPath, lKeys))
          }
        case _ => false
      }

    /** A join side matches a base table when, after peeling attr-only
      * Projects and Filters that are pure conjunctions of IsNotNull over
      * that side's JOIN KEYS (the inner join's own inferred constraints —
      * InferFiltersFromConstraints adds them below us, and the MV's
      * defining inner join discards those null keys identically), we reach
      * a scan of the base. Any other residual predicate means the query is
      * more selective than the MV: no match. */
    @annotation.tailrec
    private def sideMatches(
        p: LogicalPlan, path: String, sideKeys: Set[String]): Boolean = p match {
      case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        sideMatches(c, path, sideKeys)
      case Filter(cond, c) if conjuncts(cond).forall {
            case IsNotNull(a: AttributeReference) => sideKeys.contains(a.name)
            case _ => false
          } =>
        sideMatches(c, path, sideKeys)
      case _ => isScanOf(p, path)
    }

    private def tryRewrite(agg: Aggregate, d: ServedDef,
        residual: Seq[Expression]): Option[LogicalPlan] = {
      // global (ungrouped) aggregates bail: count(*)→sum(cnt) over an empty
      // rollup would yield NULL where Count yields 0, and nullability of the
      // preserved exprIds would change (ADVICE round 1)
      if (agg.groupingExpressions.isEmpty) return None
      // grouping must be plain columns within the rollup keys
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
      if (groupNames.exists(_.isEmpty)) return None
      if (!groupNames.flatten.forall(d.keys.contains)) return None
      // freshness: serve only the version of the bases the build read
      if (graft.Freshness.version(d.bases: _*) != d.version) return None

      val rollupPlan = servedScan(spark, d.path).getOrElse(return None)
      val rollupAttr: Map[String, Attribute] = rollupPlan.output.map(a => a.name -> a).toMap
      // every column the def maps to must exist in the rollup schema —
      // otherwise rollupAttr(c) would throw inside the optimizer and fail
      // the whole query instead of bailing (ADVICE round 1)
      val mappedOk = d.keys.forall(rollupAttr.contains) &&
        d.columns.values.forall(rollupAttr.contains)
      if (!mappedOk) return None

      // "references only rollup KEY columns, deterministically, with no
      // subquery": the servability test shared by the pushed-down filter,
      // aggregate FILTER clauses, and the DISTINCT case. A key predicate is
      // constant across all base rows of one rollup group, so it keeps or
      // drops whole groups and commutes with the merge-aggregation.
      def keyOnlyPred(c: Expression): Boolean = c.deterministic &&
        c.references.forall(a => d.keys.contains(a.name)) &&
        c.find(_.isInstanceOf[PlanExpression[_]]).isEmpty
      val condOpt: Option[Expression] = residual.reduceOption(And) match {
        case None => None
        case Some(c) =>
          if (!keyOnlyPred(c)) return None
          Some(c.transform { case a: AttributeReference => rollupAttr(a.name) })
      }

      def rewriteExpr(e: Expression): Option[Expression] =
        MergeAgg.rewriteExpr(d.keys, d.columns, rollupAttr, keyOnlyPred)(e)

      val newAggExprs = agg.aggregateExpressions.map { ne =>
        rewriteExpr(ne).map {
          case a: Attribute => Alias(a, ne.name)(exprId = ne.exprId)
          case al: Alias => al
          case other => Alias(other, ne.name)(exprId = ne.exprId)
        }
      }
      if (newAggExprs.exists(_.isEmpty)) return None
      val newGrouping = agg.groupingExpressions.map {
        case a: AttributeReference => rollupAttr(a.name)
      }
      val newChild = condOpt.map(Filter(_, rollupPlan)).getOrElse(rollupPlan)
      Some(Aggregate(newGrouping, newAggExprs.flatten, newChild))
    }
  }
}

/** The merge-form rewrite [[RollupRewrite]] applies for single-table
  * rollups and multi-table join MVs alike: given a pre-aggregated
  * table whose schema is `attr`, swap every AggregateExpression for its
  * re-aggregation over the collapsed rows and every key attribute for the
  * table's own; any unmappable node bails the whole rewrite (conservative).
  * The mapping and its correctness arguments are documented case-by-case
  * below (moved verbatim from RollupRewrite round 9/10). */
private[plans] object MergeAgg {

  def rewriteExpr(
      keys: Seq[String],
      columns: Map[(String, String), String],
      attr: Map[String, Attribute],
      keyOnlyPred: Expression => Boolean)(expr0: Expression): Option[Expression] = {

    // generic rewrite: swap AggregateExpressions for their merge form and
    // key attributes for rollup attributes; any unmappable node -> bail
    def rewriteExpr(e: Expression): Option[Expression] = e match {
        // non-distinct mergeable aggregates, with or without an aggregate
        // FILTER clause. A key-only FILTER commutes with the merge for the
        // same reason the pushed-down filter does (it keeps/drops whole
        // rollup groups), so it transplants onto the merged aggregate:
        // count(*) FILTER (p) -> sum(cnt) FILTER (p'), etc.
        case ae @ AggregateExpression(fn, _, false, filt, _)
            if filt.forall(keyOnlyPred) =>
          val newFilt = filt.map(_.transform {
            case a: AttributeReference => attr(a.name) })
          def merged(f: AggregateFunction): Option[Expression] =
            Some(ae.copy(aggregateFunction = f, filter = newFilt))
          // merged aggregate as a fresh Complete-mode expression — the
          // Average lowering needs TWO of them under one Divide
          def mergedExpr(f: AggregateFunction): AggregateExpression =
            AggregateExpression(f, Complete, isDistinct = false, newFilt,
              NamedExpression.newExprId)
          fn match {
            case Sum(a: AttributeReference, _) =>
              columns.get(("sum", a.name)).flatMap(c => merged(Sum(attr(c))))
            // min/max over a KEY column need no mapped value column: they
            // are duplicate-insensitive, and the rollup preserves the exact
            // distinct key-tuple set, so min/max over rollup keys == base
            case Min(a: AttributeReference) if keys.contains(a.name) =>
              merged(Min(attr(a.name)))
            case Max(a: AttributeReference) if keys.contains(a.name) =>
              merged(Max(attr(a.name)))
            case Min(a: AttributeReference) =>
              columns.get(("min", a.name)).flatMap(c => merged(Min(attr(c))))
            case Max(a: AttributeReference) =>
              columns.get(("max", a.name)).flatMap(c => merged(Max(attr(c))))
            case Count(Seq(Literal(1, _))) =>
              columns.get(("count", "*")).flatMap(c => merged(Sum(attr(c))))
            case Count(Seq(a: AttributeReference)) =>
              columns.get(("count", a.name)).flatMap(c => merged(Sum(attr(c))))
            // avg merges as sum(sum_c) / sum(cnt_c), both cast to double —
            // the same evaluate shape Average itself lowers to for
            // non-decimal inputs. Requires the rollup to carry the COLUMN'S
            // OWN non-null count (("count", col) mapping): count(*) is only
            // equal when the column has no nulls, which parquet schemas
            // can't promise, so no count(*) fallback.
            case Average(a: AttributeReference, _)
                if !a.dataType.isInstanceOf[DecimalType] =>
              for {
                sc <- columns.get(("sum", a.name))
                cc <- columns.get(("count", a.name))
              } yield Divide(
                Cast(mergedExpr(Sum(attr(sc))), DoubleType),
                Cast(mergedExpr(Sum(attr(cc))), DoubleType))
            // decimal avg reproduces Average's OWN decimal lowering over the
            // merged sums — divide at sumDataType decimal(p+10, s) by the
            // count at decimal(20,0), then cast to decimal(p+4, s+4) — so
            // every intermediate precision/scale (and hence rounding) is
            // identical to the base-table Average. Re-casting sum(sum_c)
            // down to decimal(p+10, s) is what pins the divide's input type:
            // sum-over-rollup widens to (p+20, s), and dividing at that
            // precision would round differently once the 38-digit cap
            // adjusts the result scale. Pinned by RollupSpec's decimal fuzz.
            case Average(a: AttributeReference, _) =>
              val dt = a.dataType.asInstanceOf[DecimalType]
              // DecimalType.bounded is private[sql]; same cap-at-38 rule
              def bounded(p: Int, s: Int) =
                DecimalType(math.min(p, 38), math.min(s, 38))
              for {
                sc <- columns.get(("sum", a.name))
                cc <- columns.get(("count", a.name))
              } yield Cast(
                Divide(
                  Cast(mergedExpr(Sum(attr(sc))),
                    bounded(dt.precision + 10, dt.scale)),
                  Cast(mergedExpr(Sum(attr(cc))), DecimalType(20, 0)),
                  EvalMode.LEGACY),
                bounded(dt.precision + 4, dt.scale + 4))
            case _ => None
          }
        // DISTINCT aggregates whose arguments are all plain KEY columns are
        // served EXACTLY: DISTINCT erases row multiplicity, and the rollup
        // preserves the exact set of distinct full-key tuples, so the
        // distinct argument set within any served group is unchanged by the
        // collapse (count/sum/avg DISTINCT over keys — the shapes Doris's
        // MaterializedViewSelector serves from an AGGREGATE-key index). An
        // aggregate FILTER clause, if present, must also reference only key
        // columns (it then keeps/drops whole rollup groups).
        case ae @ AggregateExpression(fn, _, true, filt, _)
            if fn.children.forall {
                 case a: AttributeReference => keys.contains(a.name)
                 case _ => false
               } &&
               filt.forall(keyOnlyPred) =>
          val newFn = fn.withNewChildren(fn.children.map {
            case a: AttributeReference => attr(a.name)
          }).asInstanceOf[AggregateFunction]
          val newFilt = filt.map(_.transform {
            case a: AttributeReference => attr(a.name) })
          Some(ae.copy(aggregateFunction = newFn, filter = newFilt))
        // COUNT(DISTINCT value-col) served EXACTLY from a BITMAP_UNION
        // rollup column — Doris MaterializedViewSelector's signature
        // count-distinct → bitmap_union_count rewrite: the rollup stores
        // each group's distinct-id SET as a roaring bitmap, so the merged
        // union's cardinality IS the base count distinct (set union is
        // multiplicity- and grouping-insensitive). A key-only FILTER
        // transplants onto the merged union as usual. At 100 TB this turns
        // a full-fact count-distinct shuffle into a scan of pre-collapsed
        // bitmap state — the reason Doris users declare these MVs.
        case AggregateExpression(Count(Seq(a: AttributeReference)), _, true, filt, _)
            if columns.contains(("bitmap_union", a.name)) &&
              filt.forall(keyOnlyPred) =>
          val newFilt = filt.map(_.transform {
            case x: AttributeReference => attr(x.name) })
          val c = columns(("bitmap_union", a.name))
          Some(graft.functions.BitmapFunctions.BitmapCardinality(
            AggregateExpression(
              graft.functions.NativeAggregates.BitmapUnionBinary(attr(c)),
              Complete, isDistinct = false, newFilt,
              NamedExpression.newExprId)))
        // every OTHER aggregate shape must bail EXPLICITLY rather than fall
        // through to the generic child rewrite below: rebuilding a
        // non-distinct aggregate verbatim over the rollup scan treats
        // collapsed rows as base rows (wrong multiplicity). Before this
        // guard, an unmergeable aggregate carrying a FILTER clause —
        // outside the merge case's pattern — reached the fallthrough and
        // was silently served a 6-row answer.
        case _: AggregateExpression => None
        case a: AttributeReference =>
          if (keys.contains(a.name)) Some(attr(a.name)) else None
        case other =>
          val newChildren = other.children.map(rewriteExpr)
          if (newChildren.exists(_.isEmpty)) None
          else if (other.children.isEmpty) Some(other)
          else Some(other.withNewChildren(newChildren.flatten))
      }

    rewriteExpr(expr0)
  }
}
