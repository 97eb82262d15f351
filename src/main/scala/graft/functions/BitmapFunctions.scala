package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** BITMAP type emulation (SURVEY.md §2.4/§2.8).
  *
  * Doris stores exact-distinct sets as RoaringBitmap columns
  * ([doris: be/src/util/bitmap_value.h]) with BITMAP_UNION aggregation and
  * scalar set ops. Here a bitmap is a serialized Roaring64NavigableMap in a
  * BinaryType column (64-bit value domain — keys at 100 TB scale exceed int32).
  * The org.roaringbitmap jar ships with Spark itself (/opt/spark/jars).
  *
  * Scale notes: BitmapUnionAgg is a typed Aggregator, planned as
  * ObjectHashAggregate with partial aggregation — each partition unions its
  * values into one bitmap before the shuffle, so shuffle volume is
  * O(groups × compressed-bitmap), not O(rows). Scalar ops run on the already
  * aggregated (small) side. Serialization cost is paid only at partial/final
  * boundaries, not per row.
  */
object BitmapFunctions {

  def serialize(bm: Roaring64NavigableMap): Array[Byte] = {
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Roaring64NavigableMap = {
    val bm = new Roaring64NavigableMap()
    bm.deserialize(new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  // ---- Column API (Doris names) ------------------------------------------

  /** BITMAP_UNION(expr): long values -> serialized roaring bitmap.
    * Backed by the native [[NativeAggregates.BitmapUnion]]
    * TypedImperativeAggregate (the round-1 javaSerialization buffer encoder
    * is gone — shuffle bytes are the Roaring portable format itself).
    * Callers must [[NativeAggregates.register]] on the session first. */
  def bitmap_union(c: Column): Column = NativeAggregates.bitmap_union_native(c)

  def bitmap_union_count(c: Column): Column =
    bitmap_count(bitmap_union(c))

  private val countUdf = functions.udf((b: Array[Byte]) =>
    if (b == null) 0L else deserialize(b).getLongCardinality)
  def bitmap_count(c: Column): Column = countUdf(c)

  /** Codegen'd cardinality of a serialized bitmap: the expression the
    * count-distinct → bitmap_union rollup rewrite (`plans.RollupRewrite`)
    * puts over the merged union. Not a SQL name; the `bitmap_count` UDF
    * stays the user-facing spelling (measured within 1.7% of this native
    * form, BASELINE.md round 13). */
  case class BitmapCardinality(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "bitmap_cardinality"
    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == BinaryType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bitmap_cardinality needs binary input, got ${child.dataType.simpleString}")
    override def nullSafeEval(b: Any): Any =
      deserialize(b.asInstanceOf[Array[Byte]]).getLongCardinality
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, b =>
        s"graft.functions.BitmapFunctions.deserialize($b).getLongCardinality()")
    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): BitmapCardinality =
      copy(child = newChild)
  }

  private val andUdf = functions.udf((a: Array[Byte], b: Array[Byte]) => {
    val m = deserialize(a); m.and(deserialize(b)); serialize(m)
  })
  def bitmap_and(a: Column, b: Column): Column = andUdf(a, b)

  private val orUdf = functions.udf((a: Array[Byte], b: Array[Byte]) => {
    val m = deserialize(a); m.or(deserialize(b)); serialize(m)
  })
  def bitmap_or(a: Column, b: Column): Column = orUdf(a, b)

  private val xorUdf = functions.udf((a: Array[Byte], b: Array[Byte]) => {
    val m = deserialize(a); m.xor(deserialize(b)); serialize(m)
  })
  def bitmap_xor(a: Column, b: Column): Column = xorUdf(a, b)

  private val containsUdf = functions.udf((b: Array[Byte], v: Long) =>
    deserialize(b).contains(v))
  def bitmap_contains(b: Column, v: Column): Column = containsUdf(b, v)

  private val hasAnyUdf = functions.udf((a: Array[Byte], b: Array[Byte]) => {
    val m = deserialize(a); m.and(deserialize(b)); !m.isEmpty
  })
  def bitmap_has_any(a: Column, b: Column): Column = hasAnyUdf(a, b)

  private val toArrayUdf = functions.udf((b: Array[Byte]) =>
    deserialize(b).toArray)
  def bitmap_to_array(c: Column): Column = toArrayUdf(c)

  private val toBitmapUdf = functions.udf((v: java.lang.Long) => {
    val m = new Roaring64NavigableMap()
    if (v != null) m.addLong(v)
    serialize(m)
  })
  def to_bitmap(c: Column): Column = toBitmapUdf(c)

  private val fromStringUdf = functions.udf((s: String) => {
    val m = new Roaring64NavigableMap()
    if (s != null && s.nonEmpty) s.split(",").foreach(x => m.addLong(x.trim.toLong))
    serialize(m)
  })
  def bitmap_from_string(c: Column): Column = fromStringUdf(c)

  private val toStringUdf = functions.udf((b: Array[Byte]) =>
    deserialize(b).toArray.mkString(","))
  def bitmap_to_string(c: Column): Column = toStringUdf(c)

  // ---- scalar long tail (Doris audience-analytics spellings) -------------

  /** bitmap_has_all(a, b): true iff b ⊆ a. */
  private val hasAllUdf = functions.udf((a: Array[Byte], b: Array[Byte]) => {
    val rhs = deserialize(b)
    val inter = deserialize(b); inter.and(deserialize(a))
    inter.getLongCardinality == rhs.getLongCardinality
  })
  def bitmap_has_all(a: Column, b: Column): Column = hasAllUdf(a, b)

  /** bitmap_andnot / bitmap_not: elements of a not in b. */
  private val andnotUdf = functions.udf((a: Array[Byte], b: Array[Byte]) => {
    val m = deserialize(a); m.andNot(deserialize(b)); serialize(m)
  })
  def bitmap_andnot(a: Column, b: Column): Column = andnotUdf(a, b)
  def bitmap_not(a: Column, b: Column): Column = andnotUdf(a, b)

  /** bitmap_min / bitmap_max: smallest/largest element, NULL when empty. */
  private val minUdf = functions.udf((b: Array[Byte]) => {
    val m = deserialize(b)
    if (m.isEmpty) null else java.lang.Long.valueOf(m.first())
  })
  def bitmap_min(c: Column): Column = minUdf(c)

  private val maxUdf = functions.udf((b: Array[Byte]) => {
    val m = deserialize(b)
    if (m.isEmpty) null else java.lang.Long.valueOf(m.last())
  })
  def bitmap_max(c: Column): Column = maxUdf(c)

  /** bitmap_subset_in_range(bm, lo, hi): elements in [lo, hi). */
  private val subsetRangeUdf = functions.udf((b: Array[Byte], lo: Long, hi: Long) => {
    val m = deserialize(b)
    val out = new Roaring64NavigableMap()
    val it = m.getLongIterator
    while (it.hasNext) { val v = it.next(); if (v >= lo && v < hi) out.addLong(v) }
    serialize(out)
  })
  def bitmap_subset_in_range(b: Column, lo: Column, hi: Column): Column =
    subsetRangeUdf(b, lo, hi)

  /** bitmap_subset_limit(bm, start, limit): first `limit` elements >= start. */
  private val subsetLimitUdf = functions.udf((b: Array[Byte], start: Long, limit: Long) => {
    val m = deserialize(b)
    val out = new Roaring64NavigableMap()
    val it = m.getLongIterator
    var n = 0L
    while (it.hasNext && n < limit) {
      val v = it.next()
      if (v >= start) { out.addLong(v); n += 1 }
    }
    serialize(out)
  })
  def bitmap_subset_limit(b: Column, start: Column, limit: Column): Column =
    subsetLimitUdf(b, start, limit)

  /** Register SQL names (Doris spellings) on a session. */
  def registerAll(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bitmap_union",
      exprs => NativeAggregates.BitmapUnion(exprs.head).toAggregateExpression(),
      "built-in")
    spark.udf.register("bitmap_count", (b: Array[Byte]) =>
      if (b == null) 0L else deserialize(b).getLongCardinality)
    spark.udf.register("to_bitmap", (v: java.lang.Long) => {
      val m = new Roaring64NavigableMap(); if (v != null) m.addLong(v); serialize(m)
    })
    spark.udf.register("bitmap_contains", (b: Array[Byte], v: Long) => deserialize(b).contains(v))
  }
}
