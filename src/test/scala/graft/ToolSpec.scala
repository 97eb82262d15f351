package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** `graft.Tool`'s subcommands on the shared session, the session factory's
  * contract, and the scan that keeps session setups and mains from
  * regrowing in src/main. */
class ToolSpec extends SparkSpec {

  private def output(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Tool.run(spark, sf, args))
    buf.toString("UTF-8")
  }

  test("Graft.session builds 4 shuffle partitions, UTC, no UI, and Spark's " +
    "default runtime bloom filter") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // the factory leaves this conf at its default; a Spark upgrade that
    // turns the default off must fail here, not silently change plans
    assert(spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
      == "true")
  }

  test("Tool smoke prints SMOKE_ROWS > 0") {
    val n = """SMOKE_ROWS=(\d+)""".r.findFirstMatchIn(output("smoke"))
      .getOrElse(fail("no SMOKE_ROWS line")).group(1).toLong
    assert(n > 0)
  }

  test("Tool explain prints the key header and its physical plan") {
    val out = output("explain", "q1_agg")
    assert(out.contains("===== q1_agg ====="), out)
    assert(out.contains("== Physical Plan =="), out)
  }

  test("Tool profile prints one line per key with its jobs") {
    val lines = output("profile", "q1_agg").linesIterator
      .filter(_.startsWith("PROFILE ")).toList
    assert(lines.size == 1, lines)
    val jobs = """ jobs=(\d+) """.r.findFirstMatchIn(lines.head)
      .getOrElse(fail(s"no jobs in: ${lines.head}")).group(1).toLong
    assert(lines.head.startsWith("PROFILE q1_agg ") && jobs > 0, lines.head)
  }

  test("Tool rejects a prefix that matches no key, naming it") {
    val e = intercept[IllegalArgumentException](
      output("explain", "q1_agg", "no_such_key"))
    assert(e.getMessage.contains("'no_such_key'"), e.getMessage)
  }

  test("src/main builds a SparkSession only in Graft.session and defines " +
    "main only in Bench, Verify, GenScale and Tool") {
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
    // name of the nearest declaration above line i
    def enclosing(lines: IndexedSeq[String], i: Int,
        decl: scala.util.matching.Regex): String =
      lines.take(i).reverseIterator
        .flatMap(l => decl.findFirstMatchIn(code(l)).map(_.group(1)))
        .nextOption().getOrElse("")
    val Def = """\bdef\s+(\w+)""".r
    val Obj = """\bobject\s+(\w+)""".r
    val mains = Set("Bench", "Verify", "GenScale", "Tool")
    val offenders = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      c = code(line)
      if (c.contains("SparkSession.builder") &&
          !(f.endsWith("Graft.scala") && enclosing(lines, i, Def) == "session")) ||
        (c.contains("def main(") &&
          !mains.contains(enclosing(lines, i, Obj)))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "build sessions with Graft.session and put dev entry points in " +
        "graft.Tool:\n" + offenders.mkString("\n"))
  }
}
