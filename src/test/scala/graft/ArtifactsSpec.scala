package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.plans.RollupRewrite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one freshness contract of [[Artifacts.memo]] as the staged layouts
  * see it: a rewritten source re-stages what was derived from it, a new
  * session rebuilds and replaces its registered rollups, and no code in
  * src/main grows its own once-per-JVM cache map back.
  */
class ArtifactsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def servedFrom(choice: DataFrame): Map[String, String] =
    choice.select($"scope", $"served_from").distinct()
      .as[(String, String)].collect().toMap

  private val pinnedChoice =
    Map("a_qty" -> "coarse", "b_minq" -> "fine", "c_linenum" -> "base")

  test("a rewritten lineitem re-stages join_dpp's layout and rebuilds the " +
    "rollups rollup_rewrite_choice serves from") {
    val dir = copyOfSf("graft_stale_src")
    // stage the DPP layout and both rollups from the original lineitem
    run("join_dpp", dir).collect()
    assert(servedFrom(run("rollup_rewrite_choice", dir)) == pinnedChoice)

    // rewrite lineitem in place to a subset; bump the mtime explicitly so
    // the test is deterministic on coarse-mtime filesystems
    val li = Paths.get(dir, "lineitem.parquet")
    val subset = TempDirs.create("graft_stale_li")
    spark.read.parquet(li.toString).filter($"l_orderkey" % 3 =!= 0)
      .write.mode("overwrite").parquet(subset)
    Files.delete(li)
    Files.move(Paths.get(subset), li)
    li.toFile.setLastModified(System.currentTimeMillis() + 5000)

    // a non-key conjunct keeps every rewrite rule off the recompute
    val plain = spark.read.parquet(li.toString).filter($"l_orderkey" >= 0)
    val want = plain.filter($"l_returnflag" === "R")
      .groupBy($"l_returnflag".as("rf"))
      .agg(count(lit(1)).as("n"), round(sum($"l_quantity"), 2).as("sum_qty"))
      .orderBy($"rf")
    assert(rows(run("join_dpp", dir)) == rows(want),
      "join_dpp joined a staged copy of the old lineitem")

    val choice = run("rollup_rewrite_choice", dir)
    assert(servedFrom(choice) == pinnedChoice,
      "rollup_rewrite_choice no longer serves from rebuilt rollups")
    val wantA = plain.groupBy($"l_returnflag")
      .agg(round(sum($"l_quantity"), 2).as("metric"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
    assert(rows(choice.filter($"scope" === "a_qty")
        .select($"l_returnflag", $"metric", $"n")) == rows(wantA),
      "the coarse rollup served the old lineitem's sums")
  }

  test("under a new session rollup_rewrite_choice serves the shared " +
    "session's rows, and the registry holds one def per rollup name") {
    val shared = rows(run("rollup_rewrite_choice"))
    val fresh =
      rows(SparkEntry.defs("rollup_rewrite_choice").build(spark.newSession(), sf))
    assert(fresh == shared)
    val names = RollupRewrite.registered
      .filter(_.bases == Seq(s"$sf/lineitem.parquet")).map(_.name)
    assert(Set("rollup_fine", "rollup_coarse").subsetOf(names.toSet) &&
      names.distinct.size == names.size, s"registered rollup names: $names")
  }

  test("no code in src/main keeps its own computeIfAbsent cache outside " +
    "Artifacts and DorisDdl") {
    val files = {
      val w = Files.walk(Paths.get("src/main/scala"))
      try w.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally w.close()
    }
    assert(files.nonEmpty)
    // comment text is not code: scaladoc lines and trailing // comments
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else line.split("//", 2)(0)
    }
    val offenders = for {
      f <- files
      if !f.endsWith("Artifacts.scala") &&
        !f.endsWith(Paths.get("sql", "DorisDdl.scala"))
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if code(line).contains("computeIfAbsent(")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "memoize through Artifacts.memo:\n" + offenders.mkString("\n"))
  }
}
