package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** [[Tables.footerSchema]]: a read under the footer schema returns the
  * schema Spark's inference returns, for the fixture tables and for every
  * layout the engine writes, and a cold read runs no Spark job. */
class TablesSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  /** The footer-schema read agrees with the inferring read, and it took
    * its schema from the footer: no inference job ran. */
  private def assertSameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    val (read, jobs) = jobsOf(Tables.parquetOnce(spark, path))
    assert(read.schema == inferred && jobs == 0, path)
    assert(Tables.parquet(spark, path).schema == inferred, path)
  }

  test("footerSchema reads the schema Spark infers for every fixture table") {
    Confs.ensureNanosAsLong(spark) // events.ts may be ns-as-INT64
    Tables.all.foreach(n => assertSameSchema(s"$sf/$n.parquet"))
  }

  test("footerSchema matches Spark on a multi-file dir with timestamp, " +
    "decimal and nested columns") {
    val dir = TempDirs.create("tables_nested")
    spark.range(0, 300, 1, 3)
      .select($"id",
        timestamp_micros($"id" * 1000000L).as("ts"),
        ($"id" / 7).cast("decimal(18,4)").as("amount"),
        struct($"id".as("a"), $"id".cast("string").as("b")).as("st"),
        array($"id", $"id" + 1).as("arr"),
        map($"id".cast("string"), $"id").as("m"))
      .write.mode("overwrite").parquet(dir)
    val parts = Files.list(Paths.get(dir))
    try assert(parts.filter(_.toString.endsWith(".parquet")).count() == 3)
    finally parts.close()
    assertSameSchema(dir)
  }

  test("the DPP partitionBy layout keeps its partition column") {
    val (fact, dim) = operators.Joins.ensureDppStaged(spark, sf)
    assertSameSchema(fact)
    assertSameSchema(dim)
    assert(Tables.parquetOnce(spark, fact).columns.contains("l_returnflag"))
  }

  test("a stream sink's read-back has the schema Spark infers") {
    val src = TempDirs.create("tables_stream_src")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartition(2).write.mode("overwrite").parquet(src)
    val back = streaming.Streaming.parquetSink(
      spark.readStream.schema("k BIGINT, v STRING")
        .option("maxFilesPerTrigger", 1).parquet(src))
    val out = new Path(back.inputFiles.head).getParent.toUri.getPath
    assert(back.columns.contains("_batch"))
    assert(back.schema == spark.read.parquet(out).schema)
    assertSameSchema(out)
  }

  test("a dir holding only _SUCCESS fails as Spark's inference fails") {
    val dir = TempDirs.create("tables_empty")
    Files.createFile(Paths.get(dir, "_SUCCESS"))
    val spark_ = intercept[AnalysisException](spark.read.parquet(dir))
    val ours = intercept[AnalysisException](Tables.footerSchema(spark, dir))
    assert(ours.getCondition == spark_.getCondition)
  }

  test("a cold Tables.parquet and a cold registerAll run no Spark job") {
    val dir = TempDirs.create("tables_cold")
    spark.range(10).write.mode("overwrite").parquet(dir)
    val (read, readJobs) = jobsOf(Tables.parquet(spark, dir))
    assert(readJobs == 0 && read.columns.toSeq == Seq("id"))
    val sfCopy = copyOfSf("tables_cold_sf")
    try {
      val (_, registerJobs) = jobsOf(Tables.registerAll(spark, sfCopy))
      assert(registerJobs == 0)
      assert(spark.table("nation").count() ==
        spark.read.parquet(s"$sf/nation.parquet").count())
    } finally Tables.registerAll(spark, sf) // the shared views read sf again
  }
}
