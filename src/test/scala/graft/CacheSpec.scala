package graft

import graft.plans.ResultCache
import org.apache.spark.sql.functions._

/** SQL result cache semantics (SURVEY.md §2 result-cache row): a semantic
  * repeat is a hit even through fresh exprIds, and any source mutation
  * invalidates via the version guard ([[Freshness.version]]).
  */
class CacheSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("result cache: semantic repeat hits, source mutation invalidates") {
    // private copy of a dim table so mutating the source is allowed
    val dir = TempDirs.create("graft_cache_src")
    Tables.nation(spark, sf).write.mode("overwrite").parquet(dir)
    def q() = spark.read.parquet(dir)
      .groupBy($"n_regionkey").agg(count(lit(1)).as("n"))
    val (h0, m0) = ResultCache.stats
    val a = ResultCache.cached(q()).orderBy($"n_regionkey").collect().toSeq
    val (h1, m1) = ResultCache.stats
    assert(h1 == h0 && m1 == m0 + 1, "first run must miss")
    // a fresh DataFrame has different exprIds; the canonicalized plan is
    // identical, so this must be served from the snapshot
    val hit = ResultCache.cached(q())
    // the hit must be served by scanning the snapshot, not the source
    val leaves = hit.queryExecution.optimizedPlan.collectLeaves()
      .collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
    assert(leaves.exists(_.contains("graft_rescache")) &&
      !leaves.exists(_.contains("graft_cache_src")),
      s"hit did not scan the snapshot: $leaves")
    val b = hit.orderBy($"n_regionkey").collect().toSeq
    val (h2, m2) = ResultCache.stats
    assert(h2 == h1 + 1 && m2 == m1, "semantic repeat must hit")
    assert(a == b)
    // rewrite the source dir -> the entry must invalidate; bump the mtime
    // explicitly so the test is deterministic on coarse-mtime filesystems
    Tables.nation(spark, sf).write.mode("overwrite").parquet(dir)
    new java.io.File(dir).setLastModified(System.currentTimeMillis() + 5000)
    val c = ResultCache.cached(q()).orderBy($"n_regionkey").collect().toSeq
    val (h3, m3) = ResultCache.stats
    assert(h3 == h2 && m3 == m2 + 1, "source mutation must invalidate")
    assert(a == c)
  }

  test("artifact memo: repeat serves, source bump and new session rebuild, " +
    "racing first callers build once, a build may call memo") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val dir = TempDirs.create("graft_memo_src")
    val builds = new AtomicInteger
    def get(s: org.apache.spark.sql.SparkSession) =
      Artifacts.memo("memoSpec", dir, s, dir) {
        builds.incrementAndGet(); new Object }
    val a = get(spark)
    assert(get(spark) eq a, "repeat must serve the same object")
    assert(builds.get == 1)
    new java.io.File(dir).setLastModified(System.currentTimeMillis() + 5000)
    val b = get(spark)
    assert(!(b eq a) && builds.get == 2, "source mtime bump must rebuild")
    val c = get(spark.newSession())
    assert(!(c eq b) && builds.get == 3, "a new session must rebuild")
    // two sources: rewriting the OLDER one while its mtime stays below the
    // newer one's, then rewriting it again at the same mtime with a new
    // length — neither moves the newest mtime, and both must rebuild
    val older = java.nio.file.Paths.get(dir, "older.bin")
    val newer = java.nio.file.Paths.get(dir, "newer.bin")
    val t0 = System.currentTimeMillis() - 60000
    def put(f: java.nio.file.Path, body: String, mtime: Long): Unit = {
      java.nio.file.Files.write(f, body.getBytes("UTF-8"))
      assert(f.toFile.setLastModified(mtime))
    }
    put(older, "a", t0)
    put(newer, "b", t0 + 30000)
    def two() = Artifacts.memo("memoSpecTwo", dir, spark,
        older.toString, newer.toString) {
      builds.incrementAndGet(); new Object }
    val d = two()
    assert(two() eq d)
    val n0 = builds.get
    put(older, "a2", t0 + 10000)
    val e = two()
    assert(!(e eq d) && builds.get == n0 + 1,
      "rewriting the older of two sources must rebuild")
    put(older, "a22", t0 + 10000)
    val f = two()
    assert(!(f eq e) && builds.get == n0 + 2,
      "a same-mtime rewrite that changes the length must rebuild")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val raced = new AtomicInteger
      val go = new CountDownLatch(1)
      val calls = (1 to 4).map(_ => pool.submit(() => {
        go.await()
        Artifacts.memo("memoSpecRace", dir, spark, dir) {
          raced.incrementAndGet(); Thread.sleep(200); new Object }
      }))
      go.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(raced.get == 1, s"cold key built ${raced.get} times")
      assert(got.forall(_ eq got.head))
      // on a pool thread so a lock-order bug fails by timeout, not a hang
      val nested = pool.submit(() =>
        Artifacts.memo("memoSpecOuter", dir, spark, dir) {
          Artifacts.memo("memoSpecInner", dir, spark, dir)("inner") + "+outer"
        })
      assert(nested.get(60, TimeUnit.SECONDS) == "inner+outer")
    } finally pool.shutdownNow()
  }
}
