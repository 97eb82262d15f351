package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev-only; the driver always passes exactly two):
    // comma-separated key names — dump only those
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = Graft.session()
    new java.io.File(outDir).mkdirs()
    // Stale-dump trap, mechanical (r19: /tmp/verify_sf10 persisted key
    // dirs from an EARLIER run and a partial check silently compared
    // them): a FULL sweep stamps its start time before the first key;
    // the oracle_check scripts refuse key dirs whose mtime predates the
    // stamp. Partial (filtered, dev-only) runs leave the standing stamp
    // untouched — they add keys to the existing sweep.
    if (only.isEmpty)
      Files.writeString(Paths.get(s"$outDir/_sweep_started"),
        System.currentTimeMillis().toString)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // clear any stale error marker from a previous aborted run
        Files.deleteIfExists(Paths.get(s"$outDir/$name.err"))
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // error marker: an empty result dir + .err file, so a thrown key
        // surfaces as a red `err` row in the driver compare instead of
        // silently vanishing from the correctness report
        val d = Paths.get(s"$outDir/$name")
        if (Files.exists(d))
          Files.walk(d).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        Files.createDirectories(d)
        Files.writeString(Paths.get(s"$outDir/$name.err"),
          s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
