package graft

import org.apache.spark.sql.SparkSession

/** Session-conf hygiene utilities.
  *
  * Two distinct conf classes exist and need different treatment:
  *
  *  1. Execution-scoped knobs (shuffle partitions, state-store provider):
  *     consumed eagerly inside the operator body — a stream's state-partition
  *     count and store provider are frozen at `.start()`. These use
  *     [[withConf]]: set, run, restore — no other key ever observes the
  *     mutation, so key order can't change results. The streaming state
  *     cap is scoped to the stream's lifetime by
  *     [[graft.streaming.Streaming.runToCompletion]].
  *
  *  2. Read-schema knobs (`spark.sql.legacy.parquet.nanosAsLong`): consumed
  *     LAZILY — Spark re-reads the session conf at physical-planning time,
  *     which for a returned DataFrame is after the operator body exits
  *     (Verify/Bench call `.count()`/`.write` on the result). Save/restore
  *     around the body would silently break execution of every events-table
  *     query, so this one is an idempotent engine-wide default set through a
  *     single documented entry point ([[ensureNanosAsLong]]) with a single
  *     value — order-independent because every caller sets the same value.
  */
object Confs {

  /** Set `kvs`, run `body`, restore prior values (unset if previously unset). */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    // getAll, not getOption: getOption reports a registered key's default
    // even when unset, and restoring that would pin the default explicitly
    val set = s.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** events.ts is TIMESTAMP(NANOS) parquet; Spark 4 refuses NANOS unless the
    * legacy conf maps it to Long. Idempotent, single-value, engine-wide —
    * see object doc for why this one cannot be save/restored. */
  def ensureNanosAsLong(s: SparkSession): Unit =
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
}
