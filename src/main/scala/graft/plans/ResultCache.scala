package graft.plans

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** SQL result cache (SURVEY.md §2 "partition/result cache" row; Doris SQL
  * cache, [doris: fe/.../qe/cache/CacheAnalyzer.java] — the FE snapshots a
  * query's result set and serves repeats while the partitions' versions are
  * unchanged).
  *
  * Spark-native translation: one [[graft.Artifacts.memo]] slot per
  * CANONICALIZED analyzed plan (alias- and exprId-insensitive, like Doris'
  * SQL fingerprint) whose sources are the plan's relation roots; its value
  * is a parquet snapshot of the result. A repeat of a semantically-
  * identical query in the same session whose sources are at the version
  * the snapshot read is served by scanning the (tiny) snapshot instead of
  * re-running the plan — the one freshness rule of [[graft.Freshness]].
  *
  * Scale notes: the snapshot is the RESULT set (group count), orders of
  * magnitude smaller than the input, and it lives in executor-writable
  * storage (parquet), not driver memory — serving a hit is a scan of a few
  * KB. The slot key is the full canonical plan string, so two different
  * plans never share a snapshot.
  */
object ResultCache {

  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong

  /** (hits, misses) since JVM start — asserted in CacheSpec. */
  def stats: (Long, Long) = (hitCount.get(), missCount.get())

  /** Serve `df`'s result from the cache if a semantically-identical query
    * was snapshotted and every source is unchanged; otherwise compute,
    * snapshot, and register. Row order is NOT part of the contract (the
    * snapshot is parquet) — callers order after retrieval, exactly like any
    * other scan. */
  def cached(df: DataFrame): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val roots = analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten
    val s = df.sparkSession
    var missed = false
    val path = graft.Artifacts.memo("resultCache",
        analyzed.canonicalized.toString, s, roots: _*) {
      missed = true
      val out = graft.TempDirs.create("graft_rescache")
      df.write.mode("overwrite").parquet(out)
      out
    }
    (if (missed) missCount else hitCount).incrementAndGet()
    graft.Tables.parquet(s, path)
  }
}
