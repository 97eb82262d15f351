package graft.functions

import org.apache.datasketches.hll.HllSketch
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions

/** HLL / quantile-state scalar spellings (SURVEY.md §2.8).
  *
  * Doris exposes HLL as a column type with scalar constructors
  * ([doris: be/src/olap/hll.cpp]): `hll_hash(v)` builds a one-element HLL,
  * `hll_empty()` the empty one, `hll_cardinality(h)` estimates; users write
  * `hll_union(hll_hash(col))`. Spark 4 ships the same DataSketches HLL family
  * as aggregates (hll_sketch_agg/hll_union_agg/hll_sketch_estimate); these
  * wrappers add the per-row scalar spellings, emitting sketch images with the
  * SAME lgConfigK (12) as Spark's aggregate default so `hll_union_agg` merges
  * them directly — asserted equal to the one-shot hll_sketch_agg in ScalaTest.
  *
  * quantile_percent(state, p) reads a Greenwald-Khanna summary image produced
  * by [[NativeAggregates.QuantileState]] (Doris QUANTILE_PERCENT over
  * QUANTILE_STATE).
  */
object SketchScalars {

  /** Spark's hll_sketch_agg default lgConfigK — must match for union. */
  private val LgK = 12

  private val hllHashLongUdf = functions.udf((v: java.lang.Long) => {
    val sk = new HllSketch(LgK)
    if (v != null) sk.update(v.longValue())
    sk.toUpdatableByteArray
  })
  /** hll_hash over a BIGINT value. */
  def hll_hash(c: Column): Column = hllHashLongUdf(c)

  private val hllHashStrUdf = functions.udf((v: String) => {
    val sk = new HllSketch(LgK)
    if (v != null) sk.update(v)
    sk.toUpdatableByteArray
  })
  /** hll_hash over a VARCHAR value. */
  def hll_hash_str(c: Column): Column = hllHashStrUdf(c)

  private val hllEmptyUdf = functions.udf(() => new HllSketch(LgK).toUpdatableByteArray)
  def hll_empty(): Column = hllEmptyUdf()

  private val hllCardUdf = functions.udf((b: Array[Byte]) =>
    if (b == null) 0L else Math.round(HllSketch.heapify(b).getEstimate))
  def hll_cardinality(c: Column): Column = hllCardUdf(c)

  private val quantilePercentUdf = functions.udf((b: Array[Byte], p: Double) => {
    if (b == null) null
    else NativeAggregates.queryState(b, p)
      .map(java.lang.Double.valueOf).orNull
  }).withName("quantile_percent")
  /** QUANTILE_PERCENT(state, p): estimate the p-quantile from a sketch. */
  def quantile_percent(state: Column, p: Column): Column =
    quantilePercentUdf(state, p)

  /** Register the Doris SQL spellings on a session (idempotent) — the
    * DDL front-end's `INSERT ... SELECT hll_hash(col)` path and ad-hoc
    * SQL both reach the scalars by name. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.udf.register("hll_hash", (v: java.lang.Long) => {
      val sk = new HllSketch(LgK)
      if (v != null) sk.update(v.longValue())
      sk.toUpdatableByteArray
    })
    spark.udf.register("hll_hash_str", (v: String) => {
      val sk = new HllSketch(LgK)
      if (v != null) sk.update(v)
      sk.toUpdatableByteArray
    })
    spark.udf.register("hll_cardinality", (b: Array[Byte]) =>
      if (b == null) 0L else Math.round(HllSketch.heapify(b).getEstimate))
    spark.udf.register("quantile_percent", quantilePercentUdf)
  }
}
