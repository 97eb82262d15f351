package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape contracts for the join tier (SURVEY.md §2.3) — the flagship
  * TPC-H shapes are asserted structurally, not eyeballed: each must plan as
  * a broadcast dim chain with the fact⋈fact shuffle as the ONLY hash
  * exchange ahead of aggregation. At the test SF the default 10 MB
  * broadcast threshold would broadcast the facts too (orders at sf0.001 is
  * 35 KB), so these tests pin the threshold between the COLUMN-PRUNED dim
  * and fact size estimates (Spark scales the file size by the projected
  * width ratio: pruned dims land at ~0.4–1.7 KB, pruned facts at ≥4.8 KB,
  * so 3 KB splits them with ~2× margin each way) — the same relative
  * geometry a 100 TB cluster sees with the default threshold.
  */
class JoinsSpec extends SparkSpec {

  /** Run `body` with the broadcast threshold pinned so dims broadcast and
    * facts don't, mirroring cluster-scale size geometry at test SF. */
  private def withDimOnlyBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "3000")
    try body finally spark.conf.set(key, prev)
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** ALL hash-exchange key column names in the plan — every column of every
    * `Exchange hashpartitioning(k1#1, k2#2, …, N)`, not just the first, so a
    * multi-key exchange smuggling in an unexpected secondary shuffle key
    * fails the allowed-set checks (the trailing N is the partition count). */
  private def hashExchangeKeys(plan: String): Seq[String] =
    "Exchange hashpartitioning\\((.*?), \\d+\\)".r
      .findAllMatchIn(plan)
      .flatMap(_.group(1).split(",\\s*"))
      .map(_.trim.takeWhile(_ != '#'))
      .toSeq

  private def countBhj(plan: String): Int =
    "BroadcastHashJoin".r.findAllIn(plan).size

  test("q5: broadcast dim chain, the orderkey fact shuffle is the only pre-agg exchange") {
    withDimOnlyBroadcast {
      val plan = planOf(run("join_flagship_q5"))
      // 4 broadcast dims: customer, supplier, nation, region
      assert(countBhj(plan) == 4, s"expected 4 broadcast dim joins:\n$plan")
      // the only hash exchanges are the fact⋈fact shuffle on orderkey
      // (one per side) and the final groupBy(n_name)
      val keys = hashExchangeKeys(plan)
      val allowed = Set("l_orderkey", "o_orderkey", "n_name")
      assert(keys.nonEmpty && keys.forall(allowed),
        s"unexpected exchange keys ${keys.filterNot(allowed)}:\n$plan")
      assert(keys.count(Set("l_orderkey", "o_orderkey")) == 2,
        s"fact join should shuffle each side exactly once: $keys")
    }
  }

  test("q9: broadcast dims (part/supplier/nation), single fact shuffle on orderkey") {
    withDimOnlyBroadcast {
      val plan = planOf(run("join_flagship_q9"))
      assert(countBhj(plan) == 3, s"expected 3 broadcast dim joins:\n$plan")
      val keys = hashExchangeKeys(plan)
      // the computed year(o_orderdate) group key surfaces as Spark's
      // internal _groupingexpression attribute (o_year if the alias
      // survives) — visible at all only since hashExchangeKeys captures
      // every column of the multi-key groupBy exchange, not just n_name
      val allowed = Set("l_orderkey", "o_orderkey", "n_name", "o_year",
        "_groupingexpression")
      assert(keys.nonEmpty && keys.forall(allowed),
        s"unexpected exchange keys ${keys.filterNot(allowed)}:\n$plan")
      assert(keys.count(Set("l_orderkey", "o_orderkey")) == 2,
        s"fact join should shuffle each side exactly once: $keys")
    }
  }

  test("q18: HAVING aggregate broadcasts back; lineitem aggregates exactly once") {
    withDimOnlyBroadcast {
      val plan = planOf(run("join_flagship_q18"))
      // the hinted broadcast of the aggregated HAVING side — the shape that
      // prevents a correlated per-order re-scan of lineitem
      assert(countBhj(plan) >= 1, s"HAVING side not broadcast:\n$plan")
      val keys = hashExchangeKeys(plan)
      // lineitem shuffles once for its groupBy; orders⋈customer may shuffle
      // on custkey (at 100 TB customer is fact-sized and never broadcasts —
      // that exchange is part of the honest at-scale plan)
      val allowed = Set("l_orderkey", "o_custkey", "c_custkey")
      assert(keys.forall(allowed),
        s"unexpected exchange keys ${keys.filterNot(allowed)}:\n$plan")
      assert(keys.count(_ == "l_orderkey") == 1,
        s"lineitem should aggregate exactly once: $keys")
    }
  }

  test("q21: semi+anti self-joins ride the orderkey partitioning; dims broadcast") {
    withDimOnlyBroadcast {
      val plan = planOf(run("join_flagship_q21"))
      // one semi probe (another supplier exists) + one anti probe (no other
      // supplier's line was returned) — the NOT-EXISTS planner shape
      assert(plan.contains("LeftSemi"), s"missing semi join:\n$plan")
      assert(plan.contains("LeftAnti"), s"missing anti join:\n$plan")
      // supplier and nation broadcast; no fact side does
      assert(countBhj(plan) >= 2, s"dims not broadcast:\n$plan")
      // every hash exchange is on the orderkey (l1/orders/semi/anti probes —
      // k2/k3 are the probe-side aliases of l_orderkey) or the final tiny
      // groupBy(s_name); any other key would mean a fact re-shuffle the
      // 100 TB plan can't afford
      val keys = hashExchangeKeys(plan)
      val allowed = Set("l_orderkey", "o_orderkey", "k2", "k3", "s_name")
      assert(keys.nonEmpty && keys.forall(allowed),
        s"unexpected exchange keys ${keys.filterNot(allowed)}:\n$plan")
    }
  }

  test("q17: per-part average computed once as a window; single fact shuffle on partkey") {
    withDimOnlyBroadcast {
      val plan = planOf(run("join_flagship_q17"))
      // the brand-filtered part dim broadcasts (narrows lineitem map-side);
      // a second join would mean the aggregate-then-rejoin spelling that
      // re-reads the narrowed fact
      assert(countBhj(plan) == 1, s"expected exactly 1 broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"lineitem must not self-join:\n$plan")
      // the per-part average is a Window riding the ONE l_partkey exchange —
      // computed once per part, flowing to every row of its partition
      assert(plan.contains("Window"), s"missing window:\n$plan")
      val keys = hashExchangeKeys(plan)
      val allowed = Set("l_partkey", "p_brand")
      assert(keys.nonEmpty && keys.forall(allowed),
        s"unexpected exchange keys ${keys.filterNot(allowed)}:\n$plan")
      assert(keys.count(_ == "l_partkey") == 1,
        s"fact should shuffle on partkey exactly once: $keys")
    }
  }

  test("q20: nested double-aggregate rides one fact shuffle; semi probe broadcasts") {
    withDimOnlyBroadcast {
      val plan = planOf(run("join_flagship_q20"))
      // the per-part total must be a window over the per-(part,supp)
      // aggregate — never a second lineitem scan or a fact self-join
      assert("lineitem".r.findAllIn(
        "Scan parquet.*".r.findAllIn(plan).mkString("\n")).size <= 1,
        s"lineitem scanned more than once:\n$plan")
      assert(plan.contains("Window"), s"missing window re-aggregate:\n$plan")
      assert(plan.contains("LeftSemi"), s"missing semi probe:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"no fact self-join allowed:\n$plan")
      // exchanges confined to the aggregate/window keys (the fact shuffles
      // once on (l_partkey, l_suppkey); the window re-shuffle and DISTINCT
      // move only aggregated rows)
      val keys = hashExchangeKeys(plan)
      val allowed = Set("l_partkey", "l_suppkey")
      assert(keys.nonEmpty && keys.forall(allowed),
        s"unexpected exchange keys ${keys.filterNot(allowed)}:\n$plan")
    }
  }

  test("join_inner uses broadcast joins for dimension sides") {
    val plan = planOf(run("join_inner"))
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("join_bucketed joins shuffle-free off bucketed storage") {
    val plan = planOf(run("join_bucketed"))
    assert(plan.contains("SortMergeJoin"), plan)
    // the colocate contract: no exchange on either join key — the only
    // shuffles allowed are the post-join groupBy/orderBy
    assert(!plan.contains("hashpartitioning(o_custkey"), "orders side shuffled")
    assert(!plan.contains("hashpartitioning(c_custkey"), "customer side shuffled")
  }

  test("join_bucketed re-stages its bucketed copies when orders is rewritten") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = copyOfSf("graft_bucket_src")
    run("join_bucketed", dir).collect()
    // rewrite orders in place to a subset; bump the mtime explicitly so the
    // test is deterministic on coarse-mtime filesystems
    val ord = Paths.get(dir, "orders.parquet")
    val subset = TempDirs.create("graft_bucket_ord")
    spark.read.parquet(ord.toString).filter($"o_orderkey" % 3 =!= 0)
      .write.mode("overwrite").parquet(subset)
    Files.delete(ord)
    Files.move(Paths.get(subset), ord)
    ord.toFile.setLastModified(System.currentTimeMillis() + 5000)
    def rows(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = rows(run("join_bucketed", dir))
    val want = rows(spark.read.parquet(ord.toString)
      .join(spark.read.parquet(s"$dir/customer.parquet"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
      .orderBy($"c_mktsegment"))
    // revenue sums in a different order than the bucketed plan: a cent
    assert(got.map(r => (r._1, r._2)) == want.map(r => (r._1, r._2)) &&
      got.zip(want).forall { case (g, w) => math.abs(g._3 - w._3) <= 0.011 },
      s"join_bucketed read stale bucketed copies:\n$got\nvs\n$want")
  }

  test("join_bucket_shuffle exchanges ONLY the non-bucketed probe side") {
    val plan = planOf(run("join_bucket_shuffle"))
    assert(plan.contains("SortMergeJoin"), plan)
    // the bucket-shuffle contract: orders reads its bucket layout in place,
    // customer re-hashes INTO that layout (8 buckets) — one pre-join
    // exchange total, on the probe side's key, at the bucket count
    assert(!plan.contains("hashpartitioning(o_custkey"), "bucketed side shuffled")
    assert("hashpartitioning\\(c_custkey#\\d+L?, 8\\)".r.findFirstIn(plan).isDefined,
      s"probe side must re-hash to the 8-bucket layout:\n$plan")
  }

  test("join_dpp plants a dynamic partition pruning filter on the fact scan") {
    val plan = planOf(run("join_dpp"))
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(1500))
  }
}
