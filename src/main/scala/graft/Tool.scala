package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool over the query keys, on the session, key selection, warm-up and
  * per-key measurement the bench uses.
  *
  * Usage: runMain graft.Tool <subcommand> [prefix...]
  *   - `explain <prefix...>`: each selected key's formatted physical plan;
  *   - `show <prefix...>`: each selected key's first 50 result rows;
  *   - `profile <prefix...>`: Bench's warm-up, one untimed build+count per
  *     key, then 3 timed passes; prints the median pass's seconds, jobs,
  *     CPU seconds, shuffle read/write and spill, and for `stream_*` keys
  *     every trigger's `durationMs` phases;
  *   - `smoke`: `SMOKE_ROWS=<n>` of [[SparkEntry.entry]] (the t1 gate).
  *
  * Keys are chosen by name prefix (none: every key); a prefix that matches
  * no key fails. The sf dir is `SPARK_GRAFT_SF_DIR` and the cpus
  * `SPARK_GRAFT_CPUS`, as for Bench.
  */
object Tool {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    try run(spark, Bench.sfDirFromEnv, args.toSeq)
    finally spark.stop()
  }

  private[graft] def run(s: SparkSession, sfDir: String,
      args: Seq[String]): Unit = args match {
    case Seq("smoke") => println(s"SMOKE_ROWS=${SparkEntry.entry(s).count()}")
    case "explain" +: prefixes => keys(prefixes).foreach { case (k, d) =>
      println(s"\n===== $k =====")
      d.build(s, sfDir).explain("formatted")
    }
    case "show" +: prefixes => keys(prefixes).foreach { case (k, d) =>
      println(s"\n===== $k =====")
      d.build(s, sfDir).show(50, truncate = false)
    }
    case "profile" +: prefixes => profile(s, sfDir, keys(prefixes))
    case _ => throw new IllegalArgumentException(
      s"usage: graft.Tool <explain|show|profile> [prefix...] | smoke; got ${args.mkString(" ")}")
  }

  private def keys(prefixes: Seq[String]): Seq[(String, QueryDef)] = {
    val selected =
      Bench.select(SparkEntry.defs, Option.when(prefixes.nonEmpty)(prefixes))
    val unmatched = prefixes.filterNot(p => selected.keys.exists(_.startsWith(p)))
    require(unmatched.isEmpty,
      s"no query key starts with ${unmatched.mkString("'", "', '", "'")}")
    selected.toSeq.sortBy(_._1)
  }

  private val TriggerPhases =
    Seq("triggerExecution", "addBatch", "latestOffset", "queryPlanning")

  private def profile(s: SparkSession, sfDir: String,
      selected: Seq[(String, QueryDef)]): Unit = {
    Bench.warmUp(s, sfDir, selected.toMap)
    val work = new WorkListener
    val triggers = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val printer = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val phases = TriggerPhases.map(n =>
          s"$n=${Option(p.durationMs.get(n)).fold(-1L)(_.toLong)}")
        triggers.add(s"  TRIGGER ${p.batchId} rows=${p.numInputRows} " +
          phases.mkString(" "))
      }
    }
    s.sparkContext.addSparkListener(work)
    s.streams.addListener(printer)
    try selected.foreach { case (k, d) =>
      work.drain()
      triggers.clear()
      d.build(s, sfDir).count() // untimed: first-run builds land here
      val passes = Seq.fill(3)(work.measure(d.build(s, sfDir).count()))
      val m = passes.sortBy(_.sec).apply(1)
      println(f"PROFILE $k%-32s med=${m.sec}%.3f s jobs=${m.jobs} " +
        f"cpu=${m.cpuSec}%.3f s shuffle_read=${m.shuffleRead} " +
        s"shuffle_write=${m.shuffleWrite} spill=${m.spill} " +
        passes.map(p => f"${p.sec}%.3f").mkString("runs=", ",", ""))
      if (k.startsWith("stream_"))
        while (!triggers.isEmpty) println(triggers.poll())
    } finally {
      s.streams.removeListener(printer)
      s.sparkContext.removeSparkListener(work)
    }
  }
}
