package graft.plans

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** SQL result cache (SURVEY.md §2 "partition/result cache" row; Doris SQL
  * cache, [doris: fe/.../qe/cache/CacheAnalyzer.java] — the FE snapshots a
  * query's result set and serves repeats while the partitions' versions are
  * unchanged).
  *
  * Spark-native translation: key = the CANONICALIZED analyzed plan (alias-
  * and exprId-insensitive, like Doris' SQL fingerprint), value = a parquet
  * snapshot of the result plus the source dirs' mtimes at snapshot time.
  * A repeat of a semantically-identical query whose sources are untouched is
  * served by scanning the (tiny) snapshot instead of re-running the plan;
  * any source mtime change invalidates — the same freshness contract
  * RollupRewrite uses (in Doris both are transactional versions; here, dir
  * mtimes).
  *
  * Scale notes: the snapshot is the RESULT set (group count), orders of
  * magnitude smaller than the input, and it lives in executor-writable
  * storage (parquet), not driver memory — serving a hit is a scan of a few
  * KB. Hash collisions cannot produce wrong answers: the canonical plan
  * string is compared on every hit.
  */
object ResultCache {

  private case class Entry(
      canonical: String, path: String, mtimes: Seq[(String, Long)])

  private val entries = new ConcurrentHashMap[Int, Entry]()
  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong

  /** (hits, misses) since JVM start — asserted in CacheSpec. */
  def stats: (Long, Long) = (hitCount.get(), missCount.get())
  def clear(): Unit = entries.clear()

  private def sourceMtimes(df: DataFrame): Seq[(String, Long)] =
    df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.sorted.map(p => p -> graft.Freshness.mtime(p))

  /** Serve `df`'s result from the cache if a semantically-identical query
    * was snapshotted and every source is unchanged; otherwise compute,
    * snapshot, and register. Row order is NOT part of the contract (the
    * snapshot is parquet) — callers order after retrieval, exactly like any
    * other scan. */
  def cached(df: DataFrame): DataFrame = {
    val canonical = df.queryExecution.analyzed.canonicalized.toString
    val key = canonical.hashCode
    val mtimes = sourceMtimes(df)
    val s = df.sparkSession
    val e = entries.get(key)
    if (e != null && e.canonical == canonical && e.mtimes == mtimes) {
      hitCount.incrementAndGet()
      graft.Tables.parquet(s, e.path)
    } else {
      missCount.incrementAndGet()
      val out = graft.TempDirs.create("graft_rescache")
      df.write.mode("overwrite").parquet(out)
      entries.put(key, Entry(canonical, out, mtimes))
      graft.Tables.parquet(s, out)
    }
  }
}
