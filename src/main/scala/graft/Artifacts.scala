package graft

import org.apache.spark.sql.SparkSession

/** Standing artifacts: one memo for every precomputed, usually
  * checkpointed value an operator serves across calls (language profiles,
  * term tables, pair tables, ANN cells, staged DDL catalogs). One freshness
  * contract for all of them: an entry is served while the max
  * [[Freshness.mtime]] over its `sources` is unchanged AND it was built by
  * the calling session — a checkpointed DataFrame's blocks die with the
  * session that created it, so a stopped-and-recreated session rebuilds
  * instead of serving a dead plan.
  *
  * Each (name, key) slot is its own build lock: concurrent first callers
  * build once, other keys build in parallel, and a build may itself call
  * `memo` for another slot (no shared-map `compute` is held across it).
  */
object Artifacts {
  private final class Slot {
    var stamp = 0L
    var session: SparkSession = null
    var value: Any = null
  }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, Any), Slot]()

  def memo[A](name: String, key: Any, s: SparkSession, sources: String*)(
      build: => A): A = {
    val stamp = sources.map(Freshness.mtime).maxOption.getOrElse(0L)
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
