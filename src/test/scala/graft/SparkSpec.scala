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
