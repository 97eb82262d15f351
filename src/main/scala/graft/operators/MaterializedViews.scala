package graft.operators

import graft.{QueryDef, Tables, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Async materialized view with PARTITION-INCREMENTAL refresh — Doris's MTMV
  * (`CREATE MATERIALIZED VIEW … REFRESH ON SCHEDULE … PARTITION BY`), the
  * async sibling of the sync rollup in [[Rollups]]/[[graft.plans.RollupRewrite]]
  * [doris: fe/.../mtmv/MTMVPartitionUtil.java — partition-version diffing].
  *
  * Mechanism (all metadata-driven, no base rescan to detect staleness):
  *  - the base table is partitioned (here: orders by `o_year`) and every
  *    load bumps a per-partition VERSION in a sidecar
  *    (`_graft_versions.tsv` — underscore-prefixed so scans ignore it);
  *    Doris's BE does the same with tablet visible versions;
  *  - the MV stores its aggregate partitioned THE SAME WAY, plus the base
  *    version each MV partition was built from;
  *  - `refresh()` diffs the two version maps — O(#partitions) metadata,
  *    zero data IO — recomputes ONLY stale partitions (the recompute scan
  *    is partition-pruned, asserted in MvSpec), and lands them with
  *    dynamic partition overwrite so fresh partitions are untouched.
  *
  * At 100 TB this is the only refresh that works: cost scales with the
  * changed partitions (typically "today"), never the table. The serving
  * query reads the tiny MV and re-aggregates across partitions — valid
  * because the MV stores re-aggregable state (sum/count), the same
  * contract as [[Rollups]] incremental maintenance.
  */
object MaterializedViews {

  final case class MvState(basePath: String, mvPath: String,
      refreshHistory: List[Int])

  private def versionsFile(tablePath: String) =
    Paths.get(tablePath, "_graft_versions.tsv")

  private[graft] def readVersions(tablePath: String): Map[String, Long] = {
    val f = versionsFile(tablePath)
    if (!Files.exists(f)) Map.empty
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty)
      .map { l => val Array(p, v) = l.split("\t"); p -> v.toLong }
      .toMap
  }

  private[graft] def writeVersions(
      tablePath: String, vs: Map[String, Long]): Unit = {
    val body = vs.toSeq.sorted.map { case (p, v) => s"$p\t$v" }
      .mkString("", "\n", "\n")
    Files.write(versionsFile(tablePath), body.getBytes(StandardCharsets.UTF_8))
  }

  /** The MV maintenance aggregate for the given base partitions ONLY —
    * the scan is partition-pruned on `o_year` (MvSpec asserts the
    * PartitionFilters), so refresh IO is proportional to the stale slice. */
  private[graft] def sliceOf(
      s: SparkSession, basePath: String, years: Seq[Int]): DataFrame = {
    import s.implicits._
    Tables.parquetOnce(s, basePath)
      .filter($"o_year".isin(years: _*))
      .groupBy($"o_year", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("sum_price"),
        // integer-cents partial (×80 — halfway-free on exact cent
        // amounts): double partials re-aggregated across partitions hit
        // the >=1e11 summation-order drift at sf10; the BIGINT partial
        // re-aggregates exactly at any scale
        sum(round($"o_totalprice" * 80).cast("long")).as("cents80"))
  }

  /** Version-diff refresh: recompute exactly the stale partitions.
    * Returns how many partitions were recomputed. */
  def refresh(s: SparkSession, basePath: String, mvPath: String): Int = {
    val baseV = readVersions(basePath)
    val mvV = readVersions(mvPath)
    val stale = baseV.collect {
      case (p, v) if mvV.getOrElse(p, -1L) < v => p
    }.toSeq.sorted
    if (stale.nonEmpty) {
      val conf = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(conf)
      s.conf.set(conf, "dynamic")
      try sliceOf(s, basePath, stale.map(_.toInt))
        .write.mode("overwrite").partitionBy("o_year").parquet(mvPath)
      finally prev.fold(s.conf.unset(conf))(s.conf.set(conf, _))
      writeVersions(mvPath, mvV ++ stale.map(p => p -> baseV(p)))
    }
    stale.size
  }

  /** Build the demo lifecycle once per orders version and session
    * ([[graft.Artifacts.memo]]): v1 base with the newest year's load
    * incomplete → full refresh; the late slice lands (bumping ONE
    * partition's version) → incremental refresh touches only it. */
  def ensure(s: SparkSession, dir: String): MvState =
    graft.Artifacts.memo("mtmvLifecycle", dir, s, s"$dir/orders.parquet") {
      import s.implicits._
      val base = TempDirs.create("graft_mtmv_base")
      val mv = TempDirs.create("graft_mtmv_mv")
      val orders = Tables.orders(s, dir)
        .withColumn("o_year", year($"o_orderdate"))
      val maxYear = orders.agg(max($"o_year")).head.getInt(0)
      val late = $"o_year" === maxYear && $"o_orderkey" % 3 === 0
      // v1 load: every partition at version 1, newest year incomplete
      orders.filter(!late)
        .write.mode("overwrite").partitionBy("o_year").parquet(base)
      val years = Tables.parquetOnce(s, base).select($"o_year").distinct()
        .as[Int].collect().sorted
      writeVersions(base, years.map(y => y.toString -> 1L).toMap)
      val r1 = refresh(s, base, mv) // cold MV: every partition stale
      // v2 load: the late rows land in maxYear, bumping only its version
      orders.filter(late)
        .write.mode("append").partitionBy("o_year").parquet(base)
      writeVersions(base,
        years.map(y => y.toString -> (if (y == maxYear) 2L else 1L)).toMap)
      val r2 = refresh(s, base, mv) // must touch exactly 1 partition
      MvState(base, mv, List(r1, r2))
    }

  final case class JoinMvState(
      mvPath: String, def_ : graft.plans.RollupRewrite.JoinMvDef)

  /** Build + register the demo JOIN MV once per (orders, customer)
    * version and session ([[graft.Artifacts.memo]]): orders ⋈ customer
    * pre-aggregated by (c_mktsegment, o_orderpriority) with re-aggregable
    * state (cnt, sum, per-column cnt), then install the rewrite rule in the
    * building session. The def is served at the base versions taken before
    * the build reads them, and a rebuild's def replaces the old one in the
    * registry. The serving query groups by a SUBSET of the MV keys, so the
    * rule must both retarget the join and merge across the collapsed
    * dimension. */
  def ensureJoinMv(s: SparkSession, dir: String): JoinMvState = {
    val ordersSrc = s"$dir/orders.parquet"
    val customerSrc = s"$dir/customer.parquet"
    graft.Artifacts.memo("joinMv", dir, s, ordersSrc, customerSrc) {
      import s.implicits._
      val seen = graft.Freshness.version(ordersSrc, customerSrc)
      val mvPath = TempDirs.create("graft_joinmv")
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment", $"o_orderpriority")
        .agg(count(lit(1)).as("cnt"),
          sum($"o_totalprice").as("sum_price"),
          count($"o_totalprice").as("cnt_price"))
        .write.mode("overwrite").parquet(mvPath)
      val d = graft.plans.RollupRewrite.JoinMvDef(
        leftPath = ordersSrc,
        rightPath = customerSrc,
        joinKeys = Seq(("o_custkey", "c_custkey")),
        mvPath = mvPath,
        name = "mv_join",
        keys = Seq("c_mktsegment", "o_orderpriority"),
        columns = Map(
          ("count", "*") -> "cnt",
          ("sum", "o_totalprice") -> "sum_price",
          ("count", "o_totalprice") -> "cnt_price"),
        version = seen)
      graft.plans.RollupRewrite.register(d)
      graft.plans.RollupRewrite.install(s)
      JoinMvState(mvPath, d)
    }
  }

  def queries: Map[String, QueryDef] = Map(
    // Transparent JOIN-MV serving (Doris 2.1 MTMV): the USER QUERY below is
    // a plain join+aggregate over the BASE tables — no MV reference — and
    // the optimizer rule retargets it onto the pre-joined aggregate,
    // merging sum/count/avg across the collapsed o_orderpriority dimension
    // (plan-asserted in RollupSpec: the served plan scans the MV and
    // NEITHER base table). The oracle recomputes from raw base tables, so
    // the hash compare proves the MV answer IS the base answer.
    "mv_join_rewrite" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        ensureJoinMv(s, dir)
        Tables.orders(s, dir)
          .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            round(sum($"o_totalprice"), 2).as("sum_price"),
            round(avg($"o_totalprice"), 2).as("avg_price"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  round(avg(o_totalprice), 2) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Serve from the refreshed MV: re-aggregate the per-(year, priority)
    // state across partitions. After the incremental refresh the MV must
    // equal the full base — the oracle recomputes from raw orders.
    "mv_partition_refresh" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val st = ensure(s, dir)
        Tables.parquet(s, st.mvPath)
          .groupBy($"o_orderpriority")
          .agg(sum($"n").as("n_orders"),
            sum($"cents80").as("cents80"))
          .orderBy($"o_orderpriority")
      },
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents80
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
      // base build + two refresh cycles are standing infrastructure (the
      // scheduler owns them in production): the timed key shows MV serving
      .staged(ensure)
  )
}
