package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GenScale, SparkEntry, Tables}
import graft.sql.{DorisDdl, DorisSqlDialect}

/** One op as the client saw it: wall-clock epoch milliseconds, with the
  * build (front end) and exec (full materialization) split at `buildEnd`. */
final case class OpRec(id: String, name: String, kind: String, client: String,
    pass: Int, start: Double, buildEnd: Double, end: Double,
    error: Option[String], extra: Map[String, Any] = Map.empty) {
  def toMap(counters: Map[String, Any]): Map[String, Any] = Map(
    "id" -> id, "name" -> name, "kind" -> kind, "client" -> client,
    "pass" -> pass, "start" -> start, "build_end" -> buildEnd, "end" -> end,
    "error" -> error, "counters" -> counters) ++ extra
}

/** JVM side of the benchmark: runs one workload from a plan file written by
  * `run.py` and writes the raw observations (op timings, correctness dumps,
  * and with tracing on the per-layer events) to a JSON file.
  *
  * Usage: Main <plan.json> <out.json>
  */
object Main {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now: Double = wall0 + (System.nanoTime() - nano0) / 1e6
  val start: Double = now

  def main(args: Array[String]): Unit = {
    val plan = Json.read(Paths.get(args(0)))
    val cpus = plan.get("cpus").asInt
    val work = plan.get("work_dir").asText
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, plan).apply(Paths.get(args(1)))
    finally spark.stop()
  }
}

object Run {
  /** Live heap: the least used heap over a few full collections, so a
    * collection racing a background allocation does not inflate it. */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

final class Run(spark: SparkSession, plan: JsonNode) {
  import Main.now

  private val workload = plan.get("workload").asText
  private val checkDir = plan.get("work_dir").asText + "/check"
  private val tracer = new Tracer(spark, plan.get("trace").asBoolean)
  private val seq = new AtomicLong
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()

  /** Run `build` as one op: its DataFrame, if any, is materialized in full
    * into the `noop` sink, never counted, so every output column and the
    * final sort are computed. */
  def op(name: String, kind: String, client: String, pass: Int,
      extra: Map[String, Any] = Map.empty)(build: => Option[DataFrame]): OpRec = {
    val sc = spark.sparkContext
    val id = s"$client-${seq.incrementAndGet()}"
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val start = now
    var buildEnd = Double.NaN
    val err =
      try {
        val df = build
        buildEnd = now
        df.foreach(tracer.recordAnalysis)
        df.foreach(_.write.format("noop").mode("overwrite").save())
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally sc.clearJobGroup()
    val end = now
    OpRec(id, name, kind, client, pass, start,
      if (buildEnd.isNaN) end else buildEnd, end, err, extra)
  }

  /** Untimed correctness dump of one distinct op, for the oracle compare. */
  def check(name: String, dataDir: String, oracle: Option[String], ref: String = "")(
      build: => DataFrame): Unit = {
    val path = s"$checkDir/$name"
    val err =
      try { build.coalesce(1).write.mode("overwrite").parquet(path); None }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    checks += Map("name" -> name, "path" -> path, "error" -> err,
      "oracle" -> oracle, "data_dir" -> dataDir, "ref" -> ref)
  }

  private val dataDirs = Json.strings(plan.get("data_dirs"))
  private def keys: Seq[String] = Json.strings(plan.get("keys"))
  private def passes: Seq[Seq[String]] =
    plan.get("passes").elements().asScala.map(Json.strings).toSeq

  // the engine assembles these maps on every call; take them once
  private lazy val queries = SparkEntry.queries
  private lazy val oracles = SparkEntry.oracleSql

  private def queryOp(key: String, dir: String, pass: Int, client: String = "main"): OpRec =
    op(key, key.takeWhile(_ != '_'), client, pass, Map("check" -> key))(
      Some(queries(key)(spark, dir)))

  private def checkKeys(dir: String): Unit =
    keys.foreach(k => check(k, dir, oracles.get(k))(queries(k)(spark, dir)))

  /** A fresh copy of the input tables at a new path, stamped as current
    * generator output, so per-directory ingest and artifact caches start
    * cold as they would for new data. */
  private def freshCopy(src: String, tag: String): String = {
    val dst = Paths.get(plan.get("work_dir").asText, s"input_$tag")
    Files.createDirectories(dst)
    val ls = Files.list(Paths.get(src))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, dst.resolve(p.getFileName)))
    finally ls.close()
    GenScale.stamp(dst.toString)
    dst.toString
  }

  // ------------------------------------------------------------ workloads

  /** Read-only analyst mix: every key once per pass, in the plan's seeded
    * order, with the standing artifacts (the lineitem rollup, the bucketed
    * and DPP layouts) built in set-up. */
  private def olapSetup(dir: String): Unit = {
    graft.operators.Joins.stageDpp(spark, dir)
    graft.operators.Joins.stageBuckets(spark, dir)
    graft.operators.Rollups.ensureRollup(spark, dir)
  }

  private def olapTimed(dir: String): Seq[OpRec] =
    passes.zipWithIndex.flatMap { case (order, p) => order.map(k => queryOp(k, dir, p)) }

  /** Ingest beside reads. One writer thread runs the plan's rounds; a round is a
    * Doris-SQL script through one DorisDdl (create, load, delete, update,
    * final selects) followed by the stream and LLM pipeline keys over a
    * fresh copy of the input, so streams ingest from scratch and every
    * corpus artifact is built inside the round. A reader thread runs
    * SELECTs on the tables the writer is loading. Both are closed loops.
    * Round `r` names its tables with the suffix `_r`; round 0 runs before
    * the window as the warm-up and the first correctness check. Set-up
    * creates and first loads the standing table the reader joins with. */
  private lazy val ddl = new DorisDdl(spark)
  private def ddlPlan = plan.get("ddl")
  private def statements(field: String, r: Int): Seq[String] =
    Json.strings(ddlPlan.get(field)).map(_.replace("{r}", r.toString))
  private def finals: Seq[(String, String)] =
    ddlPlan.get("final").elements().asScala
      .map(n => n.get("name").asText -> n.get("sql").asText).toSeq

  private def ingestSetup(dir: String, i: Int): Unit = {
    Tables.registerAll(spark, dir)
    Json.strings(ddlPlan.get("standing")).foreach(st => ddl.execute(st.replace("{i}", i.toString)))
  }

  private def stmtKind(s: String): String =
    s.trim.takeWhile(!_.isWhitespace).toLowerCase

  private def ddlOp(stmt: String, client: String, round: Int,
      check: Option[String] = None): OpRec = {
    val rewrite =
      if (!tracer.enabled) Map.empty[String, Any]
      else {
        val t0 = System.nanoTime()
        DorisSqlDialect.rewrite(stmt)
        Map[String, Any]("rewrite_ms" -> (System.nanoTime() - t0) / 1e6)
      }
    op(check.getOrElse(stmt.trim.take(60)), stmtKind(stmt), client, round,
      rewrite ++ check.map("check" -> _))(ddl.execute(stmt))
  }

  private def sqlRound(r: Int, client: String, onCreated: () => Unit): Seq[OpRec] = {
    val created = statements("create", r).map(ddlOp(_, client, r))
    onCreated()
    created ++ statements("load", r).map(ddlOp(_, client, r)) ++
      finals.map { case (name, sql) =>
        ddlOp(sql.replace("{r}", r.toString), client, r, Some(s"r${r}_$name"))
      }
  }

  private def checkRound(r: Int, dir: String): Unit =
    finals.foreach { case (name, sql) =>
      check(s"r${r}_$name", dir, None, ref = name)(ddl.sql(sql.replace("{r}", r.toString)))
    }

  private def ingestTimed(dir: String): (Seq[OpRec], Int) = {
    @volatile var current = 0
    @volatile var writing = true
    val writerOps = mutable.ArrayBuffer[OpRec]()
    val readerOps = mutable.ArrayBuffer[OpRec]()
    val writer = new Thread(() => {
      try passes.zip(LazyList.from(1)).foreach { case (order, r) =>
        writerOps ++= sqlRound(r, "writer", () => current = r)
        val d = freshCopy(dir, s"round$r")
        writerOps ++= order.map(k => queryOp(k, d, r, "writer"))
      } finally writing = false
    })
    val reader = new Thread(() => {
      val reads = Json.strings(ddlPlan.get("reader"))
        .map(_.replace("{dim}", s"cust_dim_${dataDirs.size - 1}"))
      var i = 0
      while (writing) {
        val r = current
        readerOps += ddlOp(reads(i % reads.size).replace("{r}", r.toString), "reader", r)
        i += 1
      }
    })
    writer.start(); reader.start()
    writer.join(); reader.join()
    ((writerOps ++ readerOps).toSeq, passes.size)
  }

  /** Per key: warm median of `count()` (the old bench action, which lets
    * Catalyst prune output columns and the final sort) against the full
    * result into the `noop` sink, three runs each after one warm-up. */
  private def countVsFull(dir: String): Seq[Map[String, Any]] = keys.map { k =>
    val build = () => queries(k)(spark, dir)
    def med(f: => Any): Double = {
      val ts = (1 to 3).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
      ts.sorted.apply(1)
    }
    val rows = build().count()
    build().write.format("noop").mode("overwrite").save()
    Map("key" -> k, "rows" -> rows, "count_ms" -> med(build().count()),
      "full_ms" -> med(build().write.format("noop").mode("overwrite").save()))
  }

  // ------------------------------------------------------------------ run

  def apply(out: Path): Unit = {
    val setupMs = dataDirs.zipWithIndex.map { case (d, i) =>
      val t0 = System.nanoTime()
      GenScale.stamp(d)
      workload match {
        case "olap_mix" => olapSetup(d)
        case _ => ingestSetup(d, i)
      }
      (System.nanoTime() - t0) / 1e6
    }
    val dir = dataDirs.last
    if (plan.has("count_vs_full")) return Json.write(out, Map("count_vs_full" -> countVsFull(dir)))
    def log(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(now - Main.start) / 1000}%.1f s")
    log("setup done")

    // untimed correctness pass; it is also every op's warm-up
    workload match {
      case "olap_mix" => checkKeys(dir)
      case _ =>
        sqlRound(0, "check", () => ())
          .flatMap(_.error).headOption.foreach(e => System.err.println(s"round 0: $e"))
        checkRound(0, dir)
        checkKeys(freshCopy(dir, "check"))
    }
    log("check pass done")
    tracer.start()
    tracer.ruleTimes()
    val g0 = tracer.globals()
    val t0 = now
    val (ops, rounds) =
      if (workload == "olap_mix") (olapTimed(dir), 0) else ingestTimed(dir)
    val t1 = now
    log("window done")
    tracer.stop()
    val rules = tracer.ruleTimes()
    val g1 = tracer.globals()
    val heapMb = Run.heapAfterGcMb()
    val (rdds, blockMb) = tracer.storage()

    // the final state of every round the writer completed in the window,
    // loaded beside the concurrent reader (round 0 was checked alone)
    (1 to rounds).foreach(checkRound(_, dir))

    val record = Map(
      "workload" -> workload,
      "setup_ms" -> setupMs,
      "window" -> Map("start" -> t0, "end" -> t1),
      "ops" -> ops.map(o => o.toMap(if (tracer.enabled) tracer.countersOf(o.id) else Map.empty)),
      "rounds" -> rounds,
      "checks" -> checks.toSeq,
      "heap_mb" -> heapMb,
      "block_mem_mb" -> blockMb,
      "resident_rdds" -> rdds,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "master" -> spark.sparkContext.master,
      "globals" -> Map("before" -> g0, "after" -> g1),
      "rules" -> rules,
      "trace" -> (if (!tracer.enabled) Map.empty else Map(
        "jobs" -> tracer.jobs.asScala.toSeq,
        "stages" -> tracer.stages.asScala.toSeq,
        "phases" -> tracer.phases.asScala.toSeq,
        "triggers" -> tracer.triggers.asScala.toSeq)))
    Json.write(out, record)
    log("record written")
  }
}
