package graft

import org.apache.spark.sql.SparkSession

/** Standing artifacts: one memo for every value an operator derives from
  * its inputs once and serves across calls — checkpointed DataFrames
  * (language profiles, term tables, pair tables, ANN cells), staged file
  * layouts (DPP, bucket and format copies, rollups, MVs, stream-ingested
  * tables), staged DDL catalogs, the footer schemas of the parquet paths
  * read again ([[Tables.parquet]]; a path read once leaves no slot),
  * result-cache snapshots and the rewrite rule's scans.
  *
  * One freshness contract for all of them, Doris's "a derived artifact is
  * valid for one version of its base": an entry is served while the
  * [[Freshness.version]] of its `sources` equals the version taken before
  * its build AND it was built by the calling session. `sources` are the
  * input paths the build reads (`s"$dir/lineitem.parquet"`), never the sf
  * dir, whose listing moves when a marker is stamped into it. A rewritten
  * source rebuilds. So does a new session: a checkpointed DataFrame's
  * blocks die with the session that created it, and a staged layout's
  * build is also where the per-session state its key needs is set up (the
  * rewrite rule's install, function registration), so one rule covers
  * both at the cost of one re-stage per session. A build that registers
  * what it staged registers by identity, replacing the version it
  * supersedes.
  *
  * A superseded value is not unpersisted here; its checkpoint blocks go to
  * Spark's ContextCleaner once nothing references them. An eager unpersist
  * would pull blocks from under a thread still running a query over the
  * old value, and checkpoint blocks cannot be recomputed ("Checkpoint block
  * ... not found").
  *
  * Each (name, key) slot is its own build lock: concurrent first callers
  * build once, other keys build in parallel, and a build may itself call
  * `memo` for another slot (no shared-map `compute` is held across it).
  */
object Artifacts {
  private final class Slot {
    var stamp: Freshness.Version = null
    var session: SparkSession = null
    var value: Any = null
  }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, Any), Slot]()

  def memo[A](name: String, key: Any, s: SparkSession, sources: String*)(
      build: => A): A = {
    val stamp = Freshness.version(sources: _*)
    val slot = slots.computeIfAbsent((name, key), _ => new Slot)
    slot.synchronized {
      if (slot.stamp != stamp || !(slot.session eq s)) {
        slot.value = build
        slot.stamp = stamp
        slot.session = s
      }
      slot.value.asInstanceOf[A]
    }
  }
}
