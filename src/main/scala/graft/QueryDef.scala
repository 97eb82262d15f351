package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator-coverage entry: a Spark-side query builder plus (where
  * SQL-expressible) the equivalent DuckDB oracle SQL the driver replays.
  *
  * Contract notes (SparkEntry.scala / Verify.scala):
  *  - column names must match between the Spark result and the oracle SQL
  *    (the driver sorts columns by name before hashing);
  *  - results must be deterministic: every query ends in a total ORDER BY on
  *    both sides, and floating-point aggregates are rounded identically on
  *    both sides so engine-order summation noise can't flip the hash.
  *
  * `stage`, when set, builds the key's one-time standing artifact (a
  * corpus profile, a partitioned layout, a staged DDL catalog). Bench runs
  * it as untimed warm-up and lists the key in its `staged` record, so the
  * timed run shows serving, not the one-time build.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    stage: Option[(SparkSession, String) => Unit] = None) {
  def staged(f: (SparkSession, String) => Any): QueryDef =
    copy(stage = Some((s, dir) => { f(s, dir); () }))
}

object QueryDef {
  def apply(build: (SparkSession, String) => DataFrame, sql: String): QueryDef =
    QueryDef(build, Some(sql))
}
