package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The contract of [[Streaming.runToCompletion]], the one start → drain →
  * stop lifecycle behind every stream_* key: which confs the stream sees,
  * that both are restored however it ends, that the state cap covers only
  * the stream's lifetime, and that no other code in src/main grows its own
  * drain loop back. The session runs at 7 shuffle partitions here so the
  * runner's cap of 4 is distinguishable from it.
  */
class StreamRunnerSpec extends SparkSpec with Eventually
    with AdaptiveSparkPlanHelper {
  private val Parts = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def atSeven[T](body: => T): T =
    Confs.withConf(spark, Parts -> "7")(body)

  /** A one-file parquet source: a bounded stream of one micro-batch. */
  private def tinyStream(): DataFrame = {
    val dir = TempDirs.create("graft_runner_spec")
    spark.range(4L).write.mode("overwrite").parquet(s"$dir/in")
    spark.readStream.schema("id BIGINT").parquet(s"$dir/in")
  }

  test("the stream runs under the 4-partition state cap; the session's " +
    "count is back once the runner returns") {
    atSeven {
      var inSink = Seq.empty[String]
      var rows = 0L
      Streaming.runToCompletion(tinyStream()) { (batch, _) =>
        inSink = Seq(spark.conf.get(Parts), batch.sparkSession.conf.get(Parts))
        rows += batch.count()
      }
      assert(rows == 4L)
      assert(inSink == Seq("4", "4"))
      assert(spark.conf.get(Parts) == "7")
    }
  }

  test("flush = false is visible in the sink and restored, whether the " +
    "conf was set before or not") {
    def flushInSink(): String = {
      var seen = ""
      Streaming.runToCompletion(tinyStream(), flush = false) { (_, _) =>
        seen = spark.conf.get(NoData)
      }
      seen
    }
    Confs.withConf(spark, NoData -> "true") {
      assert(flushInSink() == "false")
      assert(spark.conf.get(NoData) == "true")
    }
    spark.conf.unset(NoData)
    assert(flushInSink() == "false")
    assert(!spark.conf.getAll.contains(NoData),
      s"$NoData left set to ${spark.conf.getOption(NoData)}")
    // the default leaves the flush batch on
    var seen = ""
    Streaming.runToCompletion(tinyStream()) { (_, _) =>
      seen = spark.conf.get(NoData)
    }
    assert(seen == "true")
  }

  test("a throwing sink propagates, leaves no active stream and restores " +
    "both confs") {
    atSeven {
      spark.conf.unset(NoData)
      val e = intercept[StreamingQueryException] {
        Streaming.runToCompletion(tinyStream(), flush = false) { (_, _) =>
          throw new IllegalStateException("sink failed on purpose")
        }
      }
      assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains(
          "sink failed on purpose"))), e.toString)
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get(Parts) == "7")
      assert(!spark.conf.getAll.contains(NoData))
    }
  }

  test("a key body's batch jobs after the stream run at the session's " +
    "partition count, not the state cap (stream_dedup_index's equality " +
    "checks)") {
    // shuffle widths of every isEmpty action (multisetEqual's one job)
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "isEmpty") widths.add(collect(qe.executedPlan) {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
            e.outputPartitioning.numPartitions
        })
      override def onFailure(f: String, qe: QueryExecution,
          ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      atSeven(run("stream_dedup_index"))
      eventually(timeout(Span(30, Seconds))) {
        assert(widths.size >= 2)
      }
      val all = widths.asScala.toSeq.flatten
      assert(all.nonEmpty && all.forall(_ == 7), s"shuffle widths: $all")
    } finally spark.listenerManager.unregister(listener)
  }

  test("no code in src/main drains or starts a stream outside " +
    "runToCompletion, except DorisDdl's routine-load jobs") {
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
    // the runner's own body: its def line through its closing brace
    def runnerLines(lines: IndexedSeq[String]): Range = {
      val start = lines.indexWhere(_.contains("def runToCompletion("))
      if (start < 0) 0 until 0
      else start to lines.indexWhere(_ == "  }", start)
    }
    val offenders = for {
      f <- files if !f.endsWith(Paths.get("sql", "DorisDdl.scala"))
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      allowed = runnerLines(lines)
      (line, i) <- lines.zipWithIndex
      c = code(line)
      if (c.contains("processAllAvailable(") || c.contains("writeStream")) &&
        !allowed.contains(i)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "route the stream through Streaming.runToCompletion:\n" +
        offenders.mkString("\n"))
  }
}
