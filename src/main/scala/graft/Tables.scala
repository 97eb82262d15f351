package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md, FIXTURES.md).
  *
  * Tables map to the reference's catalog objects (Palo/Doris Database/Table,
  * reference README_EN.md:6 — a distribution of Apache Doris, an MPP columnar
  * OLAP warehouse). Here every table is columnar Parquet read through Spark's
  * vectorized reader, which plays the role of Doris' segment-v2 columnar scan:
  * min/max stats stand in for zonemaps, dictionary pages for dict encoding, and
  * predicate/column pushdown reaches the scan via Catalyst.
  *
  * Scale note (100 TB design): loaders return the raw scan with no
  * repartition/coalesce so Catalyst controls split planning
  * (spark.sql.files.maxPartitionBytes); callers decide distribution. Dimension
  * tables (region/nation/customer/supplier/part at TPC-H-ish ratios) stay
  * broadcast-sized at any SF, so joins against them must stay broadcast joins.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else raw(spark, dir, name)

  // Generator-version gate: repo-local scale dirs (data/sf1, data/sf10)
  // must carry a current GenScale marker — a pre-fix corpus has different
  // dedup-pair density and would fail only as inscrutable hash mismatches.
  // Checked once per dir (concurrent duplicate checks are harmless).
  private val versionChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Read a parquet dir, inferring its schema only when the dir is new or
    * changed since the last read. For the fixture tables and for parquet
    * the engine wrote itself: result snapshots, staged layouts.
    *
    * spark.read.parquet infers the schema with a footer-read Spark JOB on
    * every call — one ~30-230 ms job per read, paid by nearly every key
    * (`graft.Tool profile`: the inference job shows up inside each warm
    * timed run). The schema of an unchanged parquet dir is immutable, so
    * it is memoized per path version ([[Artifacts.memo]]) and handed to
    * the reader explicitly. Each call still returns a FRESH DataFrame (new
    * exprIds) — the self-join hazard that forbids caching the DataFrame
    * itself does not apply to the schema. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val schema = Artifacts.memo("parquetSchema", path, spark, path) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (versionChecked.add(dir)) GenScale.assertVersion(dir)
    parquet(spark, s"$dir/$name.parquet")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  /** events.ts has shipped in TWO physical layouts across driver testdata
    * generations: ns-precision INT64 (Spark 4 refuses TIMESTAMP(NANOS), so
    * it reads as Long under the nanosAsLong legacy conf and is truncated to
    * µs here) and, since the 2026-08-13 regeneration, plain µs TIMESTAMP_NTZ.
    * Normalize both to session-TZ TimestampType (session is pinned UTC, so
    * the NTZ→LTZ cast preserves the wall-clock instant the DuckDB oracle
    * sees). Detection is per-DataFrame from the read schema — no global
    * state, correct even if two dirs with different layouts are read in one
    * session.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // lazily-consumed read-schema conf: single-value engine default, cannot
    // be save/restored (see Confs object doc)
    Confs.ensureNanosAsLong(spark)
    normalizeEventTs(raw(spark, dir, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType regardless of the
    * on-disk layout (ns-as-long vs µs timestamp[_ntz]). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType.type => df
      case other => throw new IllegalStateException(s"unexpected events.ts type $other")
    }
  }

  /** True when the on-disk events.ts column is the legacy ns-as-INT64
    * layout (footer check; used by streaming readers that must declare an
    * explicit readStream schema matching the files). */
  def eventsTsIsLong(spark: SparkSession, dir: String): Boolean = {
    Confs.ensureNanosAsLong(spark)
    raw(spark, dir, "events").schema("ts").dataType ==
      org.apache.spark.sql.types.LongType
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Register every table as a temp view so spark.sql queries see the same
    * names the DuckDB oracle uses. Idempotent.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
