package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join matrix (SURVEY.md §2.3).
  *
  * Doris separates join algorithm (hash [doris: be/src/vec/exec/join/
  * vhash_join_node.cpp] / nested-loop [doris: .../vnested_loop_join_node.cpp])
  * from distribution (broadcast / shuffle / bucket-shuffle / colocate, chosen
  * in [doris: fe/.../planner/DistributedPlanner.java]). Spark mirrors this:
  * BHJ/SHJ/SMJ/BNLJ × broadcast/shuffle exchanges, chosen by Catalyst + AQE.
  *
  * Scale notes (100 TB):
  *  - fact⋈dim joins broadcast the dim side explicitly (`broadcast(dim)`) —
  *    dimension tables stay KB–MB at any SF, so no shuffle of the fact side;
  *  - fact⋈fact joins (lineitem⋈orders) shuffle both sides on the join key
  *    once; AQE handles skew splitting;
  *  - colocate join is modeled by pre-partitioning both sides on the key
  *    (cluster equivalent: bucketed tables), so the join itself is
  *    shuffle-free on repeated use;
  *  - nested-loop joins are confined to broadcast-sized inputs (nation,
  *    region) exactly as Doris confines NLJ to small right sides.
  */
object Joins {

  /** join_dpp's `stage`: pre-stage the DPP layout so `join_dpp` times the
    * partition-pruned join itself, not the ~600k-row layout write (round
    * 6: 4.4 s of the key's 4.4 s was this write). */
  def stageDpp(s: SparkSession, dir: String): Unit = ensureDppStaged(s, dir)

  /** The DPP layout (fact re-written partitioned on the join column + tiny
    * dim parquet): the layout is the *precondition* the key demonstrates,
    * not the operation under test, so repeated bench/verify runs reuse it
    * instead of re-writing ~600k rows each call. Built once per lineitem
    * version and session ([[graft.Artifacts.memo]]), so a rewritten lineitem
    * is re-staged rather than joined from its old copy. */
  private def ensureDppStaged(s: SparkSession, dir: String): (String, String) =
    graft.Artifacts.memo("dppStaged", dir, s, s"$dir/lineitem.parquet") {
      import s.implicits._
      val out = graft.TempDirs.create("graft_dpp")
      // repartition on the partition column: 1 file per partition value
      // instead of (input splits x 3) tiny files
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity", $"l_returnflag")
        .repartition($"l_returnflag")
        .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      val dimDir = graft.TempDirs.create("graft_dpp_dim")
      Seq(("A", "accepted"), ("N", "neutral"), ("R", "returned"))
        .toDF("rf", "tag").write.mode("overwrite").parquet(dimDir)
      (out, dimDir)
    }

  private val bucketVersions = new java.util.concurrent.atomic.AtomicLong

  /** Bucketed-table layout (the colocate-group storage contract
    * join_bucketed demonstrates), staged once per (orders, customer)
    * version and session ([[graft.Artifacts.memo]]), so the keys' `stage`
    * and the keys themselves can both call it — whichever runs first pays
    * the write; at 100 TB this is the standing layout cost the cluster
    * pays once to make every later join on the key local. Each staging
    * writes new versioned table names (`orders_b_<tag>_v<n>`): a rebuild
    * never overwrites a table another session is still reading. Returns
    * the (orders, customer) table names. */
  def stageBuckets(s: SparkSession, dir: String): (String, String) =
    graft.Artifacts.memo("buckets", dir, s,
        s"$dir/orders.parquet", s"$dir/customer.parquet") {
      import s.implicits._
      val db = "graft_buckets"
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_") +
        s"_v${bucketVersions.incrementAndGet()}"
      val (ordT, custT) = (s"$db.orders_b_$tag", s"$db.cust_b_$tag")
      val loc = graft.TempDirs.createPath("graft_bucketdb")
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$loc'")
      // repartition on the bucket key BEFORE bucketBy: otherwise every
      // input split writes up to 8 bucket files (32 splits x 8 = 256
      // tiny files); pre-partitioned, the layout is exactly 1 file per
      // bucket — the write is faster and every later bucketed read
      // opens 8 files instead of 256
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .repartition(8, $"o_custkey")
        .write.mode("overwrite").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable(ordT)
      Tables.customer(s, dir)
        .select($"c_custkey", $"c_mktsegment")
        .repartition(8, $"c_custkey")
        .write.mode("overwrite").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable(custT)
      (ordT, custT)
    }

  def queries: Map[String, QueryDef] = Map(
    // INNER hash join, broadcast distribution: TPC-H Q3-shaped 3-way join.
    "join_inner" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
        val ord = Tables.orders(s, dir)
        val li = Tables.lineitem(s, dir)
        li.join(broadcast(ord.join(broadcast(cust), $"o_custkey" === $"c_custkey")),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_orderkey", $"o_orderdate")
          .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
          .select($"l_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("orderdate"), $"revenue")
          .orderBy($"revenue".desc, $"l_orderkey")
          .limit(50)
      },
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 50""".stripMargin),

    // LEFT OUTER join: customers keep rows with no matching big order.
    "join_left" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cust = Tables.customer(s, dir)
        val big = Tables.orders(s, dir).filter($"o_totalprice" > 150000.0)
        cust.join(big, $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey")
          .agg(count($"o_orderkey").as("n_big_orders"),
            round(coalesce(sum($"o_totalprice"), lit(0.0)), 2).as("big_total"))
          .orderBy($"c_custkey")
      },
      """SELECT c_custkey, count(o_orderkey) AS n_big_orders,
        |  round(coalesce(sum(o_totalprice), 0.0), 2) AS big_total
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000.0) o
        |  ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other instead of dropping — the semantics Doris/MySQL's
    // `<=>` gives and ordinary equi-joins silently don't. Spark hashes
    // EqualNullSafe keys like any equi-key (NULL gets a partition), so the
    // plan stays a hash join, not a nested loop. nullif plants the NULL
    // keys deterministically; the NULLKEY output row existing at all is
    // what the oracle verifies (a plain join would lose those rows).
    "join_null_safe" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val l = Tables.orders(s, dir)
          .select(expr("nullif(o_orderstatus, 'P')").as("st"), $"o_totalprice")
        val r = Tables.orders(s, dir)
          .select(expr("nullif(o_orderstatus, 'P')").as("st2"))
          .distinct()
          .withColumn("label", coalesce($"st2", lit("NULLKEY")))
        // checked sum in integer 1/80-dollar units: a rounded DOUBLE sum
        // reaches ~1.2e12 at sf10, where Spark-vs-DuckDB summation-order
        // drift exceeds the 12-sig-digit compare (the documented ≥1e11
        // float-sum fragility class) — ×80 maps exact cent amounts to
        // integers with no halfway rounding
        l.join(broadcast(r), $"st" <=> $"st2")
          .groupBy($"label")
          .agg(count(lit(1)).as("n"),
            sum(round($"o_totalprice" * 80).cast("long")).as("cents80"))
          .orderBy($"label")
      },
      """WITH l AS (SELECT nullif(o_orderstatus, 'P') AS st, o_totalprice
        |           FROM orders),
        |r AS (SELECT DISTINCT nullif(o_orderstatus, 'P') AS st2,
        |        coalesce(nullif(o_orderstatus, 'P'), 'NULLKEY') AS label
        |      FROM orders)
        |SELECT label, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents80
        |FROM l JOIN r ON l.st IS NOT DISTINCT FROM r.st2
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // RIGHT OUTER join — the matrix's mirror entry. Doris's planner
    // normalizes RIGHT to LEFT by swapping inputs
    // ([doris: fe/.../planner/DistributedPlanner.java]); Spark keeps the
    // type and picks the build side independently, so the preserved
    // (customer) side streams and the filtered orders side builds.
    // count(*) vs count(o_orderkey) separates matched rows from the
    // null-extended customers the RIGHT join must keep.
    "join_right" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val jumbo = Tables.orders(s, dir).filter($"o_totalprice" > 400000.0)
          .select($"o_custkey", $"o_orderkey")
        val cust = Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
        jumbo.join(cust, $"o_custkey" === $"c_custkey", "right_outer")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_rows"), count($"o_orderkey").as("n_orders"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n_rows, count(o_orderkey) AS n_orders
        |FROM (SELECT o_custkey, o_orderkey FROM orders
        |      WHERE o_totalprice > 400000.0) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // FULL OUTER join of two aggregates (nations with suppliers vs customers).
    "join_full" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val sup = Tables.supplier(s, dir).groupBy($"s_nationkey".as("nk"))
          .agg(count(lit(1)).as("n_suppliers"))
        val cus = Tables.customer(s, dir).groupBy($"c_nationkey".as("nk2"))
          .agg(count(lit(1)).as("n_customers"))
        sup.join(cus, $"nk" === $"nk2", "full")
          .select(coalesce($"nk", $"nk2").as("nationkey"),
            coalesce($"n_suppliers", lit(0L)).as("n_suppliers"),
            coalesce($"n_customers", lit(0L)).as("n_customers"))
          .orderBy($"nationkey")
      },
      """SELECT coalesce(s.nk, c.nk2) AS nationkey,
        |  coalesce(n_suppliers, 0) AS n_suppliers,
        |  coalesce(n_customers, 0) AS n_customers
        |FROM (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1) s
        |FULL JOIN (SELECT c_nationkey AS nk2, count(*) AS n_customers FROM customer GROUP BY 1) c
        |  ON s.nk = c.nk2
        |ORDER BY nationkey""".stripMargin),

    // LEFT SEMI join (EXISTS): customers with >=1 urgent order.
    "join_semi" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cust = Tables.customer(s, dir)
        val urgent = Tables.orders(s, dir).filter($"o_orderpriority".like("1-%"))
        cust.join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_mktsegment")
          .orderBy($"c_custkey")
      },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority LIKE '1-%')
        |ORDER BY c_custkey""".stripMargin),

    // LEFT ANTI join (NOT EXISTS): customers with no finished order.
    "join_anti" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cust = Tables.customer(s, dir)
        val fin = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
        cust.join(fin, $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_acctbal")
          .orderBy($"c_custkey")
      },
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin),

    // NOT IN — null-aware anti join (Catalyst NAAJ, Doris null-aware flag).
    "join_not_in" -> QueryDef(
      (s, dir) => {
        s.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("v_orders")
        s.read.parquet(s"$dir/customer.parquet").createOrReplaceTempView("v_customer")
        s.sql(
          """SELECT o_orderkey, o_custkey FROM v_orders
            |WHERE o_custkey NOT IN
            |  (SELECT c_custkey FROM v_customer WHERE c_acctbal < 0.0)
            |ORDER BY o_orderkey""".stripMargin)
      },
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0.0)
        |ORDER BY o_orderkey""".stripMargin),

    // Theta (non-equi) join -> broadcast nested loop; confined to dims.
    "join_theta" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val n1 = Tables.nation(s, dir).select($"n_nationkey".as("k1"), $"n_regionkey".as("r1"))
        val n2 = Tables.nation(s, dir).select($"n_nationkey".as("k2"), $"n_regionkey".as("r2"))
        n1.join(n2, $"k1" < $"k2" && $"r1" === $"r2")
          .groupBy($"r1".as("regionkey"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy($"regionkey")
      },
      """SELECT n1.n_regionkey AS regionkey, count(*) AS n_pairs
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_nationkey < n2.n_nationkey AND n1.n_regionkey = n2.n_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // CROSS join (small dims only).
    "join_cross" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.region(s, dir).crossJoin(Tables.nation(s, dir))
          .select($"r_regionkey", $"n_nationkey")
          .orderBy($"r_regionkey", $"n_nationkey")
      },
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin),

    // Forced shuffle (sort-merge) join: the fact⋈fact path at 100 TB where
    // neither side broadcasts; both sides hash-partition on the key once.
    "join_shuffle" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir).hint("merge")
        val ord = Tables.orders(s, dir).hint("merge")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum($"l_extendedprice"), 2).as("total_price"))
          .orderBy($"o_orderpriority")
      },
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS total_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Colocate join: both sides pre-partitioned on the join key (cluster
    // equivalent: bucketBy tables → zero-shuffle repeated joins).
    "join_colocate" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val n = s.conf.get("spark.sql.shuffle.partitions").toInt
        val li = Tables.lineitem(s, dir)
          .select($"l_orderkey", $"l_quantity").repartition(n, $"l_orderkey")
        val ord = Tables.orders(s, dir)
          .select($"o_orderkey", $"o_orderstatus").repartition(n, $"o_orderkey")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderstatus")
          .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
          .orderBy($"o_orderstatus")
      },
      """SELECT o_orderstatus, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // True bucketed colocate join (the Doris colocate-group storage
    // contract): both sides written ONCE as bucketBy(8, key) saved tables,
    // then joined shuffle-free — Spark's bucketed SMJ reads matching buckets
    // pairwise, so REPEATED joins on the key never exchange either side
    // (join_colocate above shows the per-query repartition emulation; this is
    // the storage-level version). Zero-Exchange-before-join is asserted in
    // JoinsSpec. At 100 TB the bucketed write is the one-time layout cost the
    // cluster pays to make every later fact⋈fact join on that key local —
    // which is why Bench stages it in warm-up (same accounting rule as
    // stageDpp/ensureRollup/ensureJdbc): the timed key demonstrates the
    // steady-state zero-exchange join, not the layout build.
    "join_bucketed" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (ordT, custT) = stageBuckets(s, dir)
        s.table(ordT).hint("merge")
          .join(s.table(custT).hint("merge"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            round(sum($"o_totalprice"), 2).as("revenue"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      // the bucketed layout is a one-time storage cost (r8: ~1 s of
      // join_bucketed's 2.2 s): the timed key is the zero-exchange SMJ
      .staged(stageBuckets),

    // BUCKET SHUFFLE JOIN (Doris's third distribution between broadcast and
    // full shuffle, [doris: fe/.../planner/DistributedPlanner.java]): when
    // ONE side already lives in a bucketed layout, only the other side moves
    // — re-hashed into the existing bucket distribution — so the join pays
    // half of join_shuffle's exchange cost. Spark spelling: join the
    // bucketBy-saved orders table with the raw parquet customer under a
    // merge hint; the bucketed scan satisfies the SMJ distribution
    // requirement, so EnsureRequirements plans exactly ONE pre-join Exchange
    // (customer, re-partitioned to the 8-bucket layout) and reads orders in
    // place. JoinsSpec asserts the single-exchange contract. At 100 TB every
    // ad-hoc probe against a bucket-resident fact gets this plan for free.
    "join_bucket_shuffle" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (ordT, _) = stageBuckets(s, dir)
        val cust = Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
        s.table(ordT).hint("merge")
          .join(cust.hint("merge"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(round(avg($"o_totalprice"), 2).as("avg_price"),
            count(lit(1)).as("n_orders"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment, round(avg(o_totalprice), 2) AS avg_price,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .staged(stageBuckets),

    // Deep multi-join flagship (TPC-H Q5 shape, 6 tables): local-supplier
    // revenue by nation within a region/year. This is the query shape that
    // actually exercises Catalyst's join planning at scale: the dim chain
    // (region→nation→customer / supplier) broadcasts, the fact⋈fact
    // (orders⋈lineitem) shuffles once on orderkey, and the o_orderdate /
    // r_name filters push into the scans + seed bloom runtime filters on the
    // fact side (spark.sql.optimizer.runtime.bloomFilter.enabled is on in
    // Verify/Bench). Plan shape — 4 broadcast dim joins, the orderkey
    // shuffle as the only pre-agg exchange — is asserted in JoinsSpec.
    "join_flagship_q5" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val asia = Tables.region(s, dir).filter($"r_name" === "ASIA")
        val nat = Tables.nation(s, dir)
        val cust = Tables.customer(s, dir)
        val supp = Tables.supplier(s, dir)
        val ord = Tables.orders(s, dir)
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        val li = Tables.lineitem(s, dir)
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .join(supp, $"l_suppkey" === $"s_suppkey" &&
            $"c_nationkey" === $"s_nationkey")
          .join(nat, $"s_nationkey" === $"n_nationkey")
          .join(asia, $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy($"revenue".desc, $"n_name")
      },
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // TPC-H Q9 shape (profit by nation/year): part⋈lineitem⋈supplier⋈orders
    // ⋈nation with a selective LIKE on part — the classic join-reorder
    // stressor (the p_name filter makes part the most selective side; a bad
    // order scans lineitem twice as hard). 5 tables, two fact-sized inputs.
    "join_flagship_q9" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // '%red%' matches ~13% of the synthetic vocabulary ("red bolt",
        // "red rod", …) — Q9's ~1/17 '%green%' selectivity class. The
        // previous '%0%' matched NOTHING (p_names carry no digits), so the
        // key was vacuously green on an empty result since it landed.
        val part = Tables.part(s, dir).filter($"p_name".like("%red%"))
        val li = Tables.lineitem(s, dir)
        val supp = Tables.supplier(s, dir)
        val ord = Tables.orders(s, dir)
        val nat = Tables.nation(s, dir)
        li.join(part, $"l_partkey" === $"p_partkey")
          .join(supp, $"l_suppkey" === $"s_suppkey")
          .join(ord, $"l_orderkey" === $"o_orderkey")
          .join(nat, $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name", year($"o_orderdate").as("o_year"))
          // checked in integer 1/80000-dollar units: the profit amount is
          // an exact 4-dp rational, and ×80000 maps 4-dp values to
          // integer×8 (never a true halfway), so each engine rounds the
          // same per-row double to the same integer and the BIGINT sum is
          // exact — at sf1 the rounded double sum straddled a cent
          // boundary (…272.975) and the engines disagreed
          .agg(sum(expr("CAST(round(l_extendedprice * (1.0 - l_discount)" +
            " * 80000 - l_quantity * 800000) AS BIGINT)")).as("profit_i"))
          .orderBy($"n_name", $"o_year".desc)
      },
      """SELECT n_name, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 80000 - l_quantity * 800000) AS BIGINT)) AS BIGINT) AS profit_i
        |FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY n_name, o_year DESC""".stripMargin),

    // TPC-H Q18 shape (large-volume customers): aggregate-then-semi-join —
    // the HAVING subquery becomes a self-contained aggregate whose SMALL
    // result (orders over the quantity threshold) broadcasts back against
    // the two fact tables. The aggregation runs ONCE on lineitem's natural
    // key, so the plan is one fact shuffle + broadcasts, not a correlated
    // re-scan per order.
    "join_flagship_q18" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val big = Tables.lineitem(s, dir)
          .groupBy($"l_orderkey")
          .agg(round(sum($"l_quantity"), 2).as("sum_qty"))
          .filter($"sum_qty" > 300.0)
        val ord = Tables.orders(s, dir)
        val cust = Tables.customer(s, dir)
        ord.join(broadcast(big), $"o_orderkey" === $"l_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .select($"c_name", $"c_custkey", $"o_orderkey",
            to_date($"o_orderdate").cast("string").as("o_day"),
            $"o_totalprice", $"sum_qty")
          .orderBy($"sum_qty".desc, $"o_orderkey")
      },
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_day,
        |  o_totalprice, sum_qty
        |FROM (SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
        |      FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 300.0) b
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated SCALAR
    // aggregate over the SAME fact — `l_quantity < 0.2 * avg(l_quantity)
    // per part` — the one classic planner topology Q18 doesn't cover (Q18's
    // subquery aggregates the fact on its own natural key; Q17's is
    // correlated per-part and compares row-vs-group). The 100 TB plan:
    // the brand-filtered part dim BROADCASTS to narrow the fact map-side
    // first (only ~1/25 of lineitem survives), then ONE shuffle on
    // l_partkey computes the per-part average as a WINDOW over the narrowed
    // fact — the average is computed once per part and flows to every row
    // of its partition with no join-back and no second fact scan (the
    // aggregate-then-rejoin spelling reads the narrowed fact twice or needs
    // a checkpoint). JoinsSpec pins it: one broadcast join, exactly one
    // hash exchange (on l_partkey), one Window, no self-join of lineitem.
    "join_flagship_q17" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val brands = Seq("Brand#1", "Brand#2")
        val part = Tables.part(s, dir)
          .filter($"p_brand".isin(brands: _*))
          .select($"p_partkey", $"p_brand")
        val li = Tables.lineitem(s, dir)
          .select($"l_partkey", $"l_quantity", $"l_extendedprice")
        val w = Window.partitionBy($"l_partkey")
        li.join(broadcast(part), $"l_partkey" === $"p_partkey")
          .withColumn("avg_qty", avg($"l_quantity").over(w))
          .filter($"l_quantity" < lit(0.2) * $"avg_qty")
          .groupBy($"p_brand")
          .agg(
            round(sum($"l_extendedprice") / 7.0, 2).as("avg_yearly"),
            count(lit(1)).as("n_small"))
          .orderBy($"p_brand")
      },
      """WITH n AS (
        |  SELECT p_brand, l_quantity, l_extendedprice,
        |    avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand IN ('Brand#1', 'Brand#2'))
        |SELECT p_brand,
        |  round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n_small
        |FROM n WHERE l_quantity < 0.2 * avg_qty
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q20 shape (significant shippers of red parts): the NESTED
    // double-aggregate semi-join topology — the last classic planner shape
    // in the kit (Q18 = aggregate-then-semi, Q17 = correlated scalar agg,
    // Q21 = self-semi+anti, Q20 = aggregate COMPARED AGAINST a coarser
    // aggregate of the same fact, feeding a semi-join). This testdata has
    // no partsupp/ps_availqty, so the availability predicate is recast on
    // lineitem alone with identical topology: a supplier "significantly
    // ships" a red part if its 1996 shipped quantity of that part exceeds
    // 30% of ALL suppliers' 1996 quantity of that part.
    //
    // The 100 TB plan: the red-part dim broadcasts (narrows the fact
    // map-side); the fact shuffles ONCE on (l_partkey, l_suppkey) with
    // map-side partial aggregation — the per-part total is then a window
    // re-aggregation over the ALREADY-AGGREGATED per-(part,supp) rows
    // (orders of magnitude smaller than the fact), never a second fact
    // scan or self-join. The qualified-supplier set is tiny and broadcasts
    // back as a semi probe. JoinsSpec pins: one lineitem scan, exchanges
    // only on l_partkey/l_suppkey, a Window, and a semi join.
    "join_flagship_q20" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val red = Tables.part(s, dir)
          .filter($"p_name".like("red%")).select($"p_partkey")
        val li = Tables.lineitem(s, dir)
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
          .select($"l_partkey", $"l_suppkey", $"l_quantity")
        val perSupp = li.join(broadcast(red), $"l_partkey" === $"p_partkey")
          .groupBy($"l_partkey", $"l_suppkey")
          .agg(sum($"l_quantity").as("supp_qty"))
        val qualified = perSupp
          .withColumn("part_qty",
            sum($"supp_qty").over(Window.partitionBy($"l_partkey")))
          .filter($"supp_qty" > lit(0.3) * $"part_qty")
          .select($"l_suppkey").distinct()
        // the qualified set is bounded by |supplier| — broadcast it
        // explicitly (static stats derive its size from lineitem and
        // would shuffle supplier instead)
        Tables.supplier(s, dir)
          .join(broadcast(qualified), $"s_suppkey" === $"l_suppkey", "left_semi")
          .join(Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
          .select($"s_name", $"n_name", round($"s_acctbal", 2).as("acctbal"))
          .orderBy($"s_name")
      },
      """WITH per_supp AS (
        |  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1, 2),
        |qualified AS (
        |  SELECT DISTINCT l_suppkey FROM (
        |    SELECT l_suppkey, supp_qty,
        |      sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
        |    FROM per_supp)
        |  WHERE supp_qty > 0.3 * part_qty)
        |SELECT s_name, n_name, round(s_acctbal, 2) AS acctbal
        |FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM qualified)
        |ORDER BY s_name""".stripMargin),

    // SALT-AND-REPLICATE skew join — the manual fallback when one join key
    // is so hot a single reducer can't hold it and AQE's OptimizeSkewedJoin
    // isn't available/sufficient (agg_salted_skew is the groupBy flavor of
    // the same pattern; Doris: bucket-shuffle join sizing in
    // [doris: fe/.../planner/DistributedPlanner.java]). The skewed side
    // salts its key into 8 sub-keys; the other side replicates each row
    // once per salt (a Generate, not a join); joining on (key, salt)
    // spreads the hot key's rows over 8 reducers. Provably equal to the
    // plain join — the oracle IS the unsalted SQL. This key salts EVERY
    // key (deterministic, self-contained); at 100 TB you'd split the fact
    // into hot/cold by key-frequency stats, salt only the hot slice, and
    // union — paying the ×8 replication only for the few keys that need it.
    "join_salted_skew" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val salted = Tables.lineitem(s, dir)
          .withColumn("salt",
            pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(8)).cast("int"))
          .hint("merge")
        val replicated = Tables.orders(s, dir)
          .select($"o_orderkey", $"o_orderpriority")
          .withColumn("salt", explode(sequence(lit(0), lit(7))))
          .hint("merge")
        salted.join(replicated,
            $"l_orderkey" === $"o_orderkey" && salted("salt") === replicated("salt"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            round(sum($"l_quantity"), 2).as("sum_qty"))
          .orderBy($"o_orderpriority")
      },
      """SELECT o_orderpriority, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // TPC-H Q21 shape (suppliers who kept orders waiting): the hardest
    // planner topology in the kit — a fact SELF-semi-join plus a fact
    // self-ANTI-join, both correlated on l_orderkey, under a dim filter.
    // This testdata carries no receipt/commit dates, so the "late line"
    // predicate is l_returnflag = 'R' (same selectivity role, same shape):
    // find suppliers (in 4 nations) whose 'F' orders have a returned line
    // from THIS supplier, where the order involves ANOTHER supplier
    // (EXISTS), and no other supplier's line was returned (NOT EXISTS) —
    // i.e. the supplier is solely at fault. At 100 TB the plan that
    // survives is: supplier/nation broadcast; lineitem shuffles on
    // l_orderkey and that SAME partitioning serves the orders join, the
    // semi probe, and the anti probe (no per-order re-scan, no extra
    // shuffle key). JoinsSpec pins exactly that: every hash exchange is on
    // the orderkey (modulo the final tiny groupBy), one LeftSemi, one
    // LeftAnti, suppkey-inequality as join residuals.
    "join_flagship_q21" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val nations = Seq("NATION_3", "NATION_7", "NATION_11", "NATION_19")
        val li = Tables.lineitem(s, dir)
        val l1 = li.filter($"l_returnflag" === "R")
          .select($"l_orderkey", $"l_suppkey")
        val l2 = li.select($"l_orderkey".as("k2"), $"l_suppkey".as("s2"))
        val l3 = li.filter($"l_returnflag" === "R")
          .select($"l_orderkey".as("k3"), $"l_suppkey".as("s3"))
        val ord = Tables.orders(s, dir).filter($"o_orderstatus" === "F")
          .select($"o_orderkey")
        val supp = Tables.supplier(s, dir)
        val nat = Tables.nation(s, dir).filter($"n_name".isin(nations: _*))
        l1.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(l2, $"l_orderkey" === $"k2" && $"l_suppkey" =!= $"s2", "left_semi")
          .join(l3, $"l_orderkey" === $"k3" && $"l_suppkey" =!= $"s3", "left_anti")
          .join(supp, $"l_suppkey" === $"s_suppkey")
          .join(nat, $"s_nationkey" === $"n_nationkey")
          .groupBy($"s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy($"numwait".desc, $"s_name")
          .limit(100)
      },
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  JOIN supplier ON s_suppkey = l1.l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11', 'NATION_19')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),

    // Dynamic partition pruning: fact written partitioned on the join key's
    // column; the dim-side filter turns into a runtime partition filter on
    // the fact scan (Spark plants a DPP subquery in PartitionFilters), so at
    // 100 TB only the surviving partitions are read at all. Plan-asserted in
    // JoinsSpec ("dynamicpruning" under the fact scan).
    "join_dpp" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (out, dimDir) = ensureDppStaged(s, dir)
        val fact = Tables.parquet(s, out)
        // the dim must be a real scan with a residual filter (a local
        // relation constant-folds the filter away and the pruning rule sees
        // no selective predicate to subscribe to)
        val dim = Tables.parquet(s, dimDir).filter($"tag" === "returned")
        fact.join(broadcast(dim), $"l_returnflag" === $"rf")
          .groupBy($"rf")
          .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
          .orderBy($"rf")
      },
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_returnflag = 'R'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      // the partitioned fact layout is staged: the timed key is the pruned join
      .staged(stageDpp)
  )
}
