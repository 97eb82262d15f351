package graft

import graft.plans.RollupRewrite
import org.apache.spark.sql.functions._

/** Rollup-selection rule (SURVEY.md §4): the plan must actually retarget the
  * base-table aggregate onto the rollup parquet, and the answer must equal
  * the base aggregation.
  */
class RollupSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("aggregate on base table is rewritten to scan the rollup") {
    val rollupPath = operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val df = run("rollup_rewrite")
    val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(leafCols.contains("sum_qty") && leafCols.contains("cnt"),
      s"plan does not scan rollup (leaf cols: $leafCols; rollup at $rollupPath)")
    assert(!leafCols.contains("l_orderkey"), "plan still scans base table")
  }

  test("rollup answer equals base-table aggregation") {
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val viaRollup = run("rollup_rewrite").collect().toSeq
    // same aggregate with a (vacuous) filter: the rule bails on filters, so
    // this is a genuine base-table scan, not a second rollup read
    val base = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0)
      .groupBy($"l_returnflag")
      .agg(
        sum($"l_quantity").cast("long").as("sum_qty"),
        round(min($"l_quantity"), 2).as("min_qty"),
        round(max($"l_quantity"), 2).as("max_qty"),
        count(lit(1)).as("n"),
        round(avg($"l_quantity"), 4).as("avg_qty"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(viaRollup == base)
    // the PRICE-sum merge (sf10-fragile cross-engine, so kept out of the
    // oracle hash) is asserted ENGINE-side: rollup-served == base recompute
    val priceServed = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"l_returnflag").collect().toSeq
    val priceBase = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"l_returnflag").collect().toSeq
    assert(priceServed == priceBase,
      "rollup-served sum_price must equal the base recompute")
  }

  test("avg on the base table rewrites to the sum/count merge over the rollup") {
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val df = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(avg($"l_quantity").as("avg_qty"))
      .orderBy($"l_returnflag", $"l_linestatus")
    val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(leafCols.contains("sum_qty") && leafCols.contains("cnt_qty")
      && !leafCols.contains("l_orderkey"),
      s"avg not retargeted onto rollup (leaf cols: $leafCols)")
    val base = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0) // bail shape -> true base scan
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(avg($"l_quantity").as("avg_qty"))
      .orderBy($"l_returnflag", $"l_linestatus")
    val got = df.as[(String, String, Double)].collect()
    val want = base.as[(String, String, Double)].collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case ((rf, ls, a), (brf, bls, b)) =>
      assert(rf == brf && ls == bls && math.abs(a - b) < 1e-9,
        s"($rf,$ls): $a vs $b")
    }
  }

  test("filter on rollup key columns rewrites to a filtered rollup scan") {
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    // user writes the filter above the aggregate; Catalyst pushes it below,
    // and the rule must serve it from the rollup (predicate references only
    // key columns — selects whole groups, commutes with the merge). The
    // predicate spans BOTH a grouped key and a non-grouped key.
    val df = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .filter($"l_returnflag" =!= "N")
      .orderBy($"l_returnflag")
    val filtered2 = Tables.lineitem(spark, sf)
      .filter($"l_linestatus" === "F")
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_returnflag")
    Seq(df, filtered2).foreach { q =>
      val leafCols = q.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(_.output.map(_.name)).toSet
      assert(leafCols.contains("sum_qty") && !leafCols.contains("l_orderkey"),
        s"filtered agg not retargeted onto rollup (leaf cols: $leafCols)")
    }
    // answers equal the true base-table computation (bail shape: the
    // l_orderkey >= 0 conjunct references a non-key column -> base scan)
    val baseA = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0 && $"l_returnflag" =!= "N")
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == baseA.collect().toSeq)
    val baseB = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0 && $"l_linestatus" === "F")
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_returnflag")
    assert(filtered2.collect().toSeq == baseB.collect().toSeq)
  }

  test("rule bails on shapes the rollup cannot serve (filter, unmapped avg, other keys)") {
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val filtered = Tables.lineitem(spark, sf)
      .filter($"l_quantity" > 10).groupBy($"l_returnflag")
      .agg(sum($"l_quantity"))
    // avg over a column whose non-null count is NOT in the rollup must bail
    // (count(*) is no substitute: parquet can't promise no nulls)
    val avgUnmapped = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(avg($"l_extendedprice"))
    val otherKey = Tables.lineitem(spark, sf)
      .groupBy($"l_suppkey").agg(sum($"l_quantity"))
    Seq(filtered, avgUnmapped, otherKey).foreach { df =>
      val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(_.output.map(_.name)).toSet
      assert(leafCols.contains("l_orderkey"), s"should scan base: $leafCols")
    }
  }

  test("distinct/min/max over key columns rewrite to the rollup scan") {
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val df = run("rollup_rewrite_distinct")
    val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(leafCols.contains("sum_qty") && !leafCols.contains("l_orderkey"),
      s"distinct-over-keys not retargeted onto rollup (leaf cols: $leafCols)")
    // answers equal the true base-table computation (bail shape: the
    // l_orderkey >= 0 conjunct references a non-key column -> base scan)
    val base = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0 && $"l_linestatus" =!= "X")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_linestatus").as("nd_status"),
        min($"l_linestatus").as("min_status"),
        max($"l_linestatus").as("max_status"),
        count(lit(1)).as("n"),
        expr("count(*) FILTER (WHERE l_linestatus = 'F')").as("n_f"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("overlapping candidates: the cheapest covering rollup is chosen, with fallback") {
    // Doris MaterializedViewSelector behavior: among all candidates that
    // COVER the aggregate, serve the smallest by scan-size stats; a shape
    // only the finer one covers lands there; a shape neither covers falls
    // back to the base. The same contract the rollup_rewrite_choice key
    // pins in its result — asserted here directly on the plan leaves.
    val fine = operators.Rollups.ensureRollup(spark, sf)
    val coarse = operators.Rollups.ensureCoarseRollup(spark, sf)
    RollupRewrite.install(spark)
    def leafPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collectLeaves().flatMap {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) => fs.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    val bothCover = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(sum($"l_quantity"), count(lit(1)))
    assert(leafPaths(bothCover).exists(_.contains(coarse)),
      s"expected the coarse rollup: ${leafPaths(bothCover)}")
    val onlyFine = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(sum($"l_extendedprice"))
    assert(leafPaths(onlyFine).exists(_.contains(fine)),
      s"expected the fine rollup: ${leafPaths(onlyFine)}")
    val neither = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(sum($"l_discount"))
    assert(leafPaths(neither).exists(_.contains(s"$sf/lineitem.parquet")),
      s"expected base fallback: ${leafPaths(neither)}")
    // and the coarse-served answer equals the forced base computation
    val base = Tables.lineitem(spark, sf).filter($"l_orderkey" >= 0)
      .groupBy($"l_returnflag").agg(sum($"l_quantity"), count(lit(1)))
    assert(bothCover.orderBy($"l_returnflag").collect().toSeq ==
      base.orderBy($"l_returnflag").collect().toSeq)
  }

  test("randomized shapes: rule-visible answers always equal the base-table answers") {
    // Property harness for the widened rule: random grouping sets,
    // aggregate mixes (merge-mapped, key-distinct, FILTER clauses, avg),
    // and filters (key-only, non-key, none). For every shape, the answer
    // with the rule available must equal the same aggregate forced to the
    // base table (vacuous non-key conjunct -> guaranteed bail). Covers
    // both outcomes: shapes the rule serves must merge correctly; shapes
    // it cannot serve must bail rather than mis-aggregate.
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val rnd = new scala.util.Random(8)
    val groupings = Seq(
      Seq("l_returnflag"), Seq("l_linestatus"),
      Seq("l_returnflag", "l_linestatus"), Seq("l_suppkey"))
    val aggs = Seq(
      () => round(sum($"l_quantity"), 2).as("a1"),
      () => count(lit(1)).as("a2"),
      () => round(avg($"l_quantity"), 4).as("a3"),
      () => countDistinct($"l_linestatus").as("a4"),
      () => max($"l_returnflag").as("a5"),
      () => expr("count(*) FILTER (WHERE l_linestatus = 'F')").as("a6"),
      () => round(expr("sum(l_quantity) FILTER (WHERE l_returnflag <> 'N')"), 2).as("a7"),
      () => round(sum($"l_extendedprice"), 2).as("a8"))
    val filters: Seq[org.apache.spark.sql.Column] = Seq(
      lit(true), $"l_returnflag" =!= "A", $"l_linestatus" === "F",
      $"l_quantity" > 10, $"l_partkey" % 2 === 0)
    (0 until 20).foreach { i =>
      val g = groupings(rnd.nextInt(groupings.length))
      val picked = rnd.shuffle(aggs).take(1 + rnd.nextInt(3)).map(_.apply())
      val f = filters(rnd.nextInt(filters.length))
      def q(extra: org.apache.spark.sql.Column) = Tables.lineitem(spark, sf)
        .filter(f && extra)
        .groupBy(g.map(col): _*)
        .agg(picked.head, picked.tail: _*)
        .orderBy(g.map(col): _*)
      val withRule = q(lit(true)).collect().toSeq
      val baseOnly = q($"l_orderkey" >= 0).collect().toSeq // forced bail
      assert(withRule == baseOnly,
        s"shape $i: g=$g f=$f got=${withRule.take(2)} want=${baseOnly.take(2)}")
    }
  }

  test("GraftExtensions injection serves rollups with no install call") {
    // The config-time wiring a production cluster uses:
    // spark.sql.extensions=graft.GraftExtensions on the submit conf (a
    // STATIC conf, read when the SparkContext is created — verified
    // standalone). On the test suite's pre-existing context we attach the
    // same injection object through builder.withExtensions, the public
    // API for exactly this case; either route exercises
    // GraftExtensions.apply end-to-end. No Graft.install /
    // RollupRewrite.install call anywhere on this session.
    import org.apache.spark.sql.SparkSession
    operators.Rollups.ensureRollup(spark, sf) // publishes the RollupDef
    operators.MaterializedViews.ensureJoinMv(spark, sf) // ... and the JoinMvDef
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // fresh session on the shared context with the extensions attached
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne spark, "test needs a fresh session to prove injection")
      // (query, a column only the served table has, a base-only column)
      Seq(
        (Tables.lineitem(s2, sf)
          .groupBy(col("l_returnflag"))
          .agg(sum(col("l_quantity")).as("sq")), "sum_qty", "l_orderkey"),
        (Tables.orders(s2, sf)
          .join(Tables.customer(s2, sf), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n")), "cnt_price", "o_custkey")
      ).foreach { case (df, served, base) =>
        val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
          .flatMap(_.output.map(_.name)).toSet
        assert(leafCols.contains(served) && !leafCols.contains(base),
          s"extensions-injected rule did not retarget (leaf cols: $leafCols)")
      }
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("decimal avg merges with Average's exact decimal typing (fuzz)") {
    // The fixture lineitem is double-typed, so decimal avg gets its own
    // base + rollup: quantity re-typed decimal(12,3) gives avg type
    // decimal(16,7). The merged plan must match the base-table Average
    // EXACTLY (java.math.BigDecimal equality is scale-sensitive, so this
    // pins Spark's decimal-division typing through the merge, not just the
    // approximate value).
    import RollupRewrite.RollupDef
    val base = graft.TempDirs.create("graft_decbase")
    Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_linestatus", $"l_orderkey",
        $"l_quantity".cast("decimal(12,3)").as("d_qty"))
      .write.mode("overwrite").parquet(base)
    val roll = graft.TempDirs.create("graft_decroll")
    spark.read.parquet(base)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum($"d_qty").as("sum_dqty"),
        count($"d_qty").as("cnt_dqty"),
        count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(roll)
    RollupRewrite.register(RollupDef(
      basePath = base,
      rollupPath = roll,
      name = "dec_roll",
      keys = Seq("l_returnflag", "l_linestatus"),
      columns = Map(
        ("sum", "d_qty") -> "sum_dqty",
        ("count", "d_qty") -> "cnt_dqty",
        ("count", "*") -> "cnt"),
      version = Freshness.version(base)))
    RollupRewrite.install(spark)
    val planCheck = spark.read.parquet(base)
      .groupBy($"l_returnflag").agg(avg($"d_qty").as("avg_d"))
    val leafCols = planCheck.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(leafCols.contains("sum_dqty") && !leafCols.contains("d_qty"),
      s"decimal avg not retargeted onto rollup (leaf cols: $leafCols)")
    assert(planCheck.schema("avg_d").dataType.simpleString == "decimal(16,7)",
      "merged avg must keep Average's decimal(p+4,s+4) result type")
    val rnd = new scala.util.Random(9)
    val groupings = Seq(Seq("l_returnflag"), Seq("l_linestatus"),
      Seq("l_returnflag", "l_linestatus"))
    val keyFilters: Seq[org.apache.spark.sql.Column] = Seq(
      lit(true), $"l_returnflag" =!= "A", $"l_linestatus" === "F")
    (0 until 10).foreach { i =>
      val g = groupings(rnd.nextInt(groupings.length))
      val f = keyFilters(rnd.nextInt(keyFilters.length))
      def q(extra: org.apache.spark.sql.Column) = spark.read.parquet(base)
        .filter(f && extra)
        .groupBy(g.map(col): _*)
        .agg(avg($"d_qty").as("avg_d"), sum($"d_qty").as("sum_d"))
        .orderBy(g.map(col): _*)
      val withRule = q(lit(true)).collect().toSeq
      val baseOnly = q($"l_orderkey" >= 0).collect().toSeq // forced bail
      assert(withRule == baseOnly,
        s"shape $i: g=$g f=$f got=${withRule.take(2)} want=${baseOnly.take(2)}")
    }
  }

  test("among multiple serving rollups the smallest is chosen") {
    // Two rollups of one base both serve groupBy(l_returnflag): a FINE one
    // keyed (returnflag, linestatus, suppkey) — hundreds of groups — and a
    // COARSE 6-row one keyed (returnflag, linestatus). Registration order
    // is fine-first, so only size-based selection (not first-match) can
    // pick the coarse one. Doris MaterializedViewSelector behavior.
    import RollupRewrite.RollupDef
    val base = graft.TempDirs.create("graft_mcbase")
    Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_linestatus", $"l_suppkey",
        $"l_orderkey", $"l_quantity")
      .write.mode("overwrite").parquet(base)
    def buildRollup(keys: Seq[String], sumName: String, cntName: String) = {
      val out = graft.TempDirs.create("graft_mcroll")
      spark.read.parquet(base)
        .groupBy(keys.map(col): _*)
        .agg(sum($"l_quantity").as(sumName), count(lit(1)).as(cntName))
        .coalesce(1).write.mode("overwrite").parquet(out)
      out
    }
    val fine = buildRollup(
      Seq("l_returnflag", "l_linestatus", "l_suppkey"), "sum_qty_f", "cnt_f")
    val coarse = buildRollup(
      Seq("l_returnflag", "l_linestatus"), "sum_qty_c", "cnt_c")
    RollupRewrite.register(RollupDef(base, fine, name = "mc_fine",
      keys = Seq("l_returnflag", "l_linestatus", "l_suppkey"),
      columns = Map(("sum", "l_quantity") -> "sum_qty_f", ("count", "*") -> "cnt_f"),
      version = Freshness.version(base)))
    RollupRewrite.register(RollupDef(base, coarse, name = "mc_coarse",
      keys = Seq("l_returnflag", "l_linestatus"),
      columns = Map(("sum", "l_quantity") -> "sum_qty_c", ("count", "*") -> "cnt_c"),
      version = Freshness.version(base)))
    RollupRewrite.install(spark)
    val df = spark.read.parquet(base)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
    val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(leafCols.contains("sum_qty_c"),
      s"smallest rollup not chosen (leaf cols: $leafCols)")
    assert(!leafCols.contains("sum_qty_f") && !leafCols.contains("l_orderkey"),
      s"should scan ONLY the coarse rollup (leaf cols: $leafCols)")
    // a grouping only the fine rollup can serve still gets served — by it
    val bySupp = spark.read.parquet(base)
      .groupBy($"l_suppkey")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"l_suppkey")
    val suppLeaf = bySupp.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(suppLeaf.contains("sum_qty_f") && !suppLeaf.contains("l_orderkey"),
      s"fine-only grouping not served by the fine rollup (leaf cols: $suppLeaf)")
    // answers equal the true base computation (forced-bail shape)
    val bail = spark.read.parquet(base)
      .filter($"l_orderkey" >= 0)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == bail.collect().toSeq)
  }

  test("Graft.install registers the full SQL-name surface in one call") {
    Graft.install(spark)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    Seq("to_quantile_state", "quantile_union", "quantile_percent", "bitmap_union",
      "cosine_sim", "token_count")
      .foreach { fn =>
        assert(spark.sessionState.functionRegistry
          .functionExists(FunctionIdentifier(fn)), s"missing: $fn")
      }
  }

  test("HAVING over the aggregate output is served (filter sits above the rewrite)") {
    // HAVING references the AGGREGATE'S OUTPUT, not base columns; the
    // rewrite preserves output exprIds, so the parent Filter resolves
    // against the retargeted Aggregate unchanged.
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    val df = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
      .filter($"sum_qty" > 0)
      .orderBy($"l_returnflag")
    val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(leafCols.contains("sum_qty") && !leafCols.contains("l_orderkey"),
      s"HAVING shape not retargeted onto rollup (leaf cols: $leafCols)")
    val base = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0)
      .groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
      .filter($"sum_qty" > 0)
      .orderBy($"l_returnflag")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("key-only aggregate FILTER clauses are served; non-key ones bail (multiplicity guard)") {
    operators.Rollups.ensureRollup(spark, sf)
    RollupRewrite.install(spark)
    // served: mergeable aggregates whose FILTER predicates reference only
    // key columns — the predicate transplants onto the merged aggregate
    val served = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(
        expr("count(*) FILTER (WHERE l_linestatus = 'F')").as("n_f"),
        expr("sum(l_quantity) FILTER (WHERE l_linestatus = 'O')").as("qty_o"),
        expr("avg(l_quantity) FILTER (WHERE l_linestatus = 'F')").as("avg_f"))
      .orderBy($"l_returnflag")
    val servedLeaf = served.queryExecution.optimizedPlan.collectLeaves()
      .flatMap(_.output.map(_.name)).toSet
    assert(servedLeaf.contains("sum_qty") && !servedLeaf.contains("l_orderkey"),
      s"key-only FILTER clause not retargeted onto rollup (leaf cols: $servedLeaf)")
    val base = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" >= 0) // bail shape -> true base scan
      .groupBy($"l_returnflag")
      .agg(
        expr("count(*) FILTER (WHERE l_linestatus = 'F')").as("n_f"),
        expr("sum(l_quantity) FILTER (WHERE l_linestatus = 'O')").as("qty_o"),
        expr("avg(l_quantity) FILTER (WHERE l_linestatus = 'F')").as("avg_f"))
      .orderBy($"l_returnflag")
    val got = served.as[(String, Long, Double, Double)].collect()
    val want = base.as[(String, Long, Double, Double)].collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case ((rf, n, q, a), (brf, bn, bq, ba)) =>
      assert(rf == brf && n == bn && math.abs(q - bq) < 1e-6 &&
        math.abs(a - ba) < 1e-9, s"$rf: ($n,$q,$a) vs ($bn,$bq,$ba)")
    }
    // Regression (multiplicity guard): an aggregate carrying a FILTER
    // clause that the merge case cannot serve must bail to the base scan —
    // before the explicit AggregateExpression bail it reached the generic
    // child rewrite and was silently answered from 6 collapsed rollup rows.
    val bails = Seq(
      // non-key FILTER predicate
      Tables.lineitem(spark, sf).groupBy($"l_returnflag")
        .agg(expr("count(*) FILTER (WHERE l_quantity > 10)").as("n")),
      // unmapped count column under a key-only FILTER
      Tables.lineitem(spark, sf).groupBy($"l_returnflag")
        .agg(expr("count(l_linestatus) FILTER (WHERE l_returnflag = 'A')").as("n")))
    bails.foreach { df =>
      val leafCols = df.queryExecution.optimizedPlan.collectLeaves()
        .flatMap(_.output.map(_.name)).toSet
      assert(leafCols.contains("l_orderkey"),
        s"unservable FILTER clause must scan base (leaf cols: $leafCols)")
    }
    val want2 = Tables.lineitem(spark, sf)
      .filter($"l_returnflag" === "A" && $"l_linestatus".isNotNull).count()
    val got2 = bails(1).filter($"l_returnflag" === "A").select($"n")
      .as[Long].head()
    assert(got2 == want2, s"FILTER-clause count: $got2 vs base $want2")
  }

  // ---- async MTMV: partition-incremental refresh ----

  test("mtmv: second refresh recomputes exactly the one stale partition") {
    val st = operators.MaterializedViews.ensure(spark, sf)
    val nParts = operators.MaterializedViews.readVersions(st.basePath).size
    assert(nParts > 1, s"demo needs multiple partitions, got $nParts")
    assert(st.refreshHistory == List(nParts, 1),
      s"refresh history ${st.refreshHistory}: cold refresh must touch all " +
        s"$nParts partitions, the incremental one exactly the stale one")
  }

  test("mtmv: refresh recompute scan is partition-pruned to the stale year") {
    val st = operators.MaterializedViews.ensure(spark, sf)
    val years = operators.MaterializedViews.readVersions(st.basePath)
      .keys.map(_.toInt)
    val stale = Seq(years.max)
    val plan = operators.MaterializedViews
      .sliceOf(spark, st.basePath, stale)
      .queryExecution.executedPlan.toString
    // the partition filter must reach the scan: refresh IO is the stale
    // slice, not the table
    assert(plan.contains(s"o_year#") && plan.contains("PartitionFilters"),
      s"no partition filters in refresh scan:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"refresh scan reads every partition:\n$plan")
  }

  test("mtmv: refreshed MV equals a full recompute; a no-op refresh is free") {
    val st = operators.MaterializedViews.ensure(spark, sf)
    val viaMv = run("mv_partition_refresh").collect().toSeq
    val full = Tables.orders(spark, sf)
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round($"o_totalprice" * 80).cast("long")).as("cents80"))
      .orderBy($"o_orderpriority").collect().toSeq
    assert(viaMv == full, s"MV serve drifted from base:\n$viaMv\nvs\n$full")
    // versions all caught up → refresh is a metadata no-op
    val again = operators.MaterializedViews
      .refresh(spark, st.basePath, st.mvPath)
    assert(again == 0, s"no-op refresh recomputed $again partitions")
  }

  // ---- multi-table (join) MV: transparent SPJG-subset rewrite ----

  test("join MV: the serving plan scans the MV and neither base table") {
    val st = operators.MaterializedViews.ensureJoinMv(spark, sf)
    val plan = run("mv_join_rewrite").queryExecution.executedPlan.toString
    assert(plan.contains(st.mvPath.stripPrefix("file:")),
      s"plan does not scan the MV:\n$plan")
    assert(!plan.contains("orders.parquet") && !plan.contains("customer.parquet"),
      s"plan still scans a base table:\n$plan")
    // and the join itself is gone: serving cost is |MV|, not fact ⋈ dim
    assert(!plan.contains("Join"), s"join survived the rewrite:\n$plan")
  }

  test("join MV: served answer equals the rule-off base join") {
    val d = operators.MaterializedViews.ensureJoinMv(spark, sf).def_
    val served = run("mv_join_rewrite").collect().toSeq
    RollupRewrite.deregister(d.leftPath, Some(d.name))
    try {
      val base = run("mv_join_rewrite").collect().toSeq
      assert(served == base, s"MV serve drifted from base:\n$served\nvs\n$base")
    } finally RollupRewrite.register(d)
  }

  test("join MV: swapped orientation serves; extra filters and outer joins bail") {
    val st = operators.MaterializedViews.ensureJoinMv(spark, sf)
    // customer ⋈ orders (the defining join mirrored) must still serve
    val swapped = Tables.customer(spark, sf)
      .join(Tables.orders(spark, sf), $"c_custkey" === $"o_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val sp = swapped.queryExecution.executedPlan.toString
    assert(sp.contains(st.mvPath.stripPrefix("file:")) && !sp.contains("Join"),
      s"swapped orientation not served:\n$sp")
    // a predicate the MV did not pre-apply must bail to the base plan
    val filtered = Tables.orders(spark, sf)
      .filter($"o_totalprice" > 1000)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    val fp = filtered.queryExecution.executedPlan.toString
    assert(fp.contains("orders.parquet"), s"selective query wrongly served:\n$fp")
    // an outer join has different null semantics than the defining inner
    val outer = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), $"o_custkey" === $"c_custkey", "left")
      .groupBy($"c_mktsegment").agg(count(lit(1)).as("n"))
    val op = outer.queryExecution.executedPlan.toString
    assert(op.contains("orders.parquet"), s"outer join wrongly served:\n$op")
    // and the bailing shapes still answer correctly (fell back, not broke)
    val nBase = Tables.orders(spark, sf).filter($"o_totalprice" > 1000).count()
    assert(filtered.agg(org.apache.spark.sql.functions.sum($"n")).as[Long].head() == nBase)
  }
}
