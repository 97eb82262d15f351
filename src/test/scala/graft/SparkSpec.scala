package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSpark {
  // "4" explicitly: the suite must not follow SPARK_GRAFT_CPUS
  lazy val spark: SparkSession = {
    val s = Graft.session("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
  def run(key: String, dir: String = sf) =
    SparkEntry.defs(key).build(spark, dir)

  /** A private, stamped copy of the fixture's parquet files, for tests
    * that rewrite a source. */
  def copyOfSf(prefix: String): String = {
    import java.nio.file.{Files, Paths}
    val dir = TempDirs.create(prefix)
    val ls = Files.list(Paths.get(sf))
    try ls.filter(_.toString.endsWith(".parquet"))
      .forEach(p => Files.copy(p, Paths.get(dir).resolve(p.getFileName)))
    finally ls.close()
    GenScale.stamp(dir)
    dir
  }

  /** `body`'s result and the Spark jobs it ran on this thread, counted by
    * a listener on a job group of its own. Listener events arrive in
    * order, so once a marker job's start is seen every job `body` ran has
    * been counted. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs_of_${java.util.UUID.randomUUID()}"
    val marker = s"$group.marker"
    val counts = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => counts.computeIfAbsent(g,
            _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet())
    }
    sc.addSparkListener(listener)
    try {
      def inGroup[R](g: String)(f: => R): R = {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        try f finally sc.clearJobGroup()
      }
      val out = inGroup(group)(body)
      inGroup(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 10000000000L
      while (!counts.containsKey(marker) && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(counts.containsKey(marker), "the listener never saw the marker job")
      (out, Option(counts.get(group)).fold(0)(_.get))
    } finally sc.removeSparkListener(listener)
  }

  /** DorisDdl instances a suite wants namespace-audited: every engine-
    * registered temp view still live at suite end must map to a grant
    * scope (the generalized r17 privilege-bypass tripwire). Suites opt in
    * by building instances through a fresh() that calls [[track]]. */
  private val tracked =
    scala.collection.mutable.ArrayBuffer[graft.sql.DorisDdl]()
  protected def track(d: graft.sql.DorisDdl): graft.sql.DorisDdl = {
    tracked.synchronized { tracked += d }
    d
  }
  override def afterAll(): Unit = {
    val ds = tracked.synchronized(tracked.toSeq)
    if (ds.nonEmpty) {
      // the session catalog is shared across instances, and suites reuse
      // table names: a live view counts as accounted when ANY owning
      // instance maps it to a grant scope (the instance currently serving
      // it); a view NO instance can bill to a scope is the bypass class
      val live = spark.catalog.listTables().collect().map(_.name).toSeq
      val bad = live.filter(v => ds.exists(_.ownsEngineView(v)))
        .filterNot(v => ds.exists(_.mapsToScope(v))).sorted
      assert(bad.isEmpty,
        s"engine-registered temp views with no grant scope: $bad")
    }
    super.afterAll()
  }
}
