package graft
import org.apache.spark.sql.SparkSession

/** Per-key WORK metrics listener: shuffle bytes read/written and spilled
  * bytes, accumulated across every task that runs while a key executes.
  * Wall-clock seconds vary ±60% with host load (r9/r10 post-mortems); these
  * byte counts are load-INVARIANT — a round-over-round regression in them is
  * a real plan/code regression, full stop, which is exactly the attribution
  * the r10 verdict could not make for the +16% common-key drift. Keys run
  * sequentially, so a snapshot-before/snapshot-after delta attributes work
  * to the key that scheduled it; `drain()` waits for job completion events
  * (listener delivery is async) before the closing snapshot.
  */
private class WorkListener extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  // executor CPU nanoseconds: the contention/regression discriminator. An
  // oversubscribed host inflates WALL (tasks wait for a core) but not the
  // CPU-ns the tasks actually burn; a real uniform regression (codegen
  // fall-off, interpreted path, per-row UDF) inflates both (r15 verdict:
  // the wall-only gate could never admit such a regression to the record).
  val cpu = new AtomicLong
  private val running = new AtomicLong
  override def onJobStart(
      j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    running.incrementAndGet()
  override def onJobEnd(
      j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
    running.decrementAndGet()
  override def onTaskEnd(
      t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      cpu.addAndGet(m.executorCpuTime)
    }
  }
  /** Wait (bounded) until every started job's end event has been delivered.
    * Untimed — called after the key's wall-clock is already recorded. */
  def drain(): Unit = {
    var i = 0
    while (running.get > 0 && i < 500) { Thread.sleep(10); i += 1 }
    Thread.sleep(50) // grace for trailing task-end events behind the job end
  }
  def snapshot(): (Long, Long, Long, Long) =
    (shuffleRead.get, shuffleWrite.get, spill.get, cpu.get)
}

object Bench {
  /** The divert decision, factored pure so BenchGateSpec can pin it
    * without a full bench run: divert on measured start load, or on
    * common-key wall inflation >1.5× UNLESS CPU time inflated >1.25×
    * alongside it (then it is a real regression and the record must be
    * allowed to show it). */
  private[graft] def divert(loadStart: Double, wallInflation: Option[Double],
      cpuInflation: Option[Double]): Boolean =
    loadStart > 1.5 ||
      (wallInflation.exists(_ > 1.5) && !cpuInflation.exists(_ > 1.25))

  /** Keys whose one-time artifact build runs as untimed warm-up: every
    * selected key that declares a `stage`, plus `stream_*` for the
    * engine-wide streaming warm-up. Recorded in the JSON so a cross-round
    * diff can tell an accounting change (key newly staged) from a real
    * speedup; pure so BenchGateSpec can pin the list. */
  private[graft] def stagedKeys(selected: Map[String, QueryDef]): Seq[String] =
    (selected.collect { case (k, d) if d.stage.isDefined => k } ++
      Option.when(selected.keys.exists(_.startsWith("stream_")))("stream_*"))
      .toSeq.sorted

  /** The COMPACT contract line, printed LAST: a stdout reader that keeps a
    * 2,000-char tail cannot parse the full line (~40 KB with work{}) or
    * even its per-key seconds alone (~6.7 KB) — BENCH r17-r21 all read
    * parsed=null. So this line carries only the total, per-family
    * subtotals (family = key prefix before the first `_`), the errored
    * names (at most 20; `n_errors` counts all), the staged count and the
    * run context. Errored keys are out of the total and the subtotals.
    * The full line and the repo files keep every per-key number. */
  private[graft] def compactLine(total: Double, results: Seq[(String, Double)],
      errors: Seq[String], nStaged: Int, loadStart: Double, loadEnd: Double,
      sfDir: String, cpus: String): String = {
    def r3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val families = results.filterNot(r => errors.contains(r._1))
      .groupMapReduce(_._1.takeWhile(_ != '_'))(_._2)(_ + _)
      .toSeq.sorted.map { case (f, v) => s""""$f":${r3(v)}""" }
      .mkString("{", ",", "}")
    val errJson = errors.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","families":$families,"n_keys":${results.size},"n_errors":${errors.size},"errors":$errJson,"n_staged":$nStaged,"load_start":$loadStart,"load_end":$loadEnd,"sf":"$sfDir","cpus":$cpus}"""
  }

  /** 1-minute load average from /proc/loadavg, or -1 when unreadable.
    * Recorded at bench start and end so round-over-round comparisons can
    * cite host contention as a measured fact instead of a narrative
    * (r9: three streaming keys regressed 2-4× with no code change and the
    * record had no way to show the host was loaded).
    */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val loadStart = loadAvg()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // local-iteration filter: comma-separated key prefixes; absent → all keys
    // (the driver never sets it, so the driver contract is unchanged)
    val keyFilter = sys.env.get("SPARK_GRAFT_KEYS").map(_.split(",").toSeq)
    val selected = SparkEntry.defs.filter { case (name, _) =>
      keyFilter.forall(_.exists(name.startsWith)) }
    val staged = stagedKeys(selected)
    // warm-up outside the timed loop: JIT + codegen + parquet footers, so the
    // first timed key doesn't absorb session start (~5s skew otherwise).
    // Also initialize JVM-wide write machinery that otherwise lands on
    // whichever timed key touches it first (driver r4: first parquet write
    // ~12s on cache_result, first metastore op ~6s on join_bucketed): one
    // tiny write per output format plus one catalog round trip. A warm-up
    // failure is non-fatal but must be visible — otherwise its one-time
    // costs silently land on the first timed keys.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, sfDir).count()
      Tables.orders(spark, sfDir).count()
      val warm = TempDirs.create("graft_benchwarm")
      val tiny = spark.range(8L).selectExpr("id", "cast(id as string) s")
      tiny.write.mode("overwrite").parquet(s"$warm/p")
      tiny.write.mode("overwrite").option("header", "true").csv(s"$warm/c")
      tiny.write.mode("overwrite").json(s"$warm/j")
      tiny.write.mode("overwrite").orc(s"$warm/o")
      spark.sql("CREATE DATABASE IF NOT EXISTS graft_warm LOCATION " +
        s"'$warm/db'")
      tiny.write.mode("overwrite").saveAsTable("graft_warm.t")
      spark.sql("DROP TABLE graft_warm.t")
      spark.sql("DROP DATABASE graft_warm CASCADE")
      spark.read.parquet(s"$warm/p").count()
      // each key's one-time artifact build (QueryDef.stage), in key order
      selected.toSeq.sortBy(_._1).foreach { case (_, d) =>
        d.stage.foreach(_(spark, sfDir)) }
      // streaming-engine warm-up: the first streaming query in a JVM pays
      // one-time micro-batch/state-store init (~2.5 s measured at sf0.1 —
      // the r6→r7 stream_session 2.0→5.4 s "regression" was exactly this
      // cost landing on a different key when map order shifted). A tiny
      // stateful stream at the same capped state parallelism the stream_*
      // keys use absorbs it here instead.
      if (selected.keys.exists(_.startsWith("stream_"))) {
        val sdir = TempDirs.create("graft_streamwarm")
        spark.range(4L).selectExpr("id", "timestamp_micros(id * 1000000) ts")
          .write.mode("overwrite").parquet(s"$sdir/in")
        graft.streaming.Streaming.runToCompletion(
            spark.readStream.schema("id BIGINT, ts TIMESTAMP")
              .parquet(s"$sdir/in")
              .withWatermark("ts", "1 second")
              .selectExpr("window(ts, '1 second') w", "id")
              .groupBy("w").count(),
            mode = "update") { (b, _) => b.count() }
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed (timings of early keys " +
        s"may absorb one-time costs): ${e.getMessage}")
    }
    // Time keys in a DETERMINISTIC order: HashMap iteration order is
    // arbitrary, so shared one-time work (the exact-pair table behind
    // jaccardPairsAuto's cache) would land on whichever consumer happened
    // to run first — r7/r8 showed the build cost wandering between
    // llm_dedup_{groups,minhash,simhash} run to run. Sorted order with
    // llm_dedup_jaccard pinned ahead of the other pair-table consumers
    // times the build in the key that names it; everything else gets
    // stable round-over-round comparability.
    val ordered = selected.toSeq.sortBy { case (name, _) =>
      if (name == "llm_dedup_jaccard") "llm_dedup_" else name
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new WorkListener
    spark.sparkContext.addSparkListener(listener)
    // work{} carries the load-invariant per-key metrics (shuffle bytes,
    // spill, result rows) next to the wall-clock seconds in queries{}.
    // queries{} keeps its flat name->sec shape — the driver parses it.
    val work = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val cpuSecs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val results = ordered.map { case (name, d) =>
      listener.drain() // don't let the previous key's stragglers leak in
      val (r0, w0, s0, c0) = listener.snapshot()
      val t0 = System.nanoTime()
      var rows = -1L
      try { rows = d.build(spark, sfDir).count() }
      catch { case e: Throwable =>
        errors += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      listener.drain() // untimed: sec is already recorded
      val (r1, w1, s1, c1) = listener.snapshot()
      val cpuSec = (c1 - c0) / 1e9
      cpuSecs(name) = cpuSec
      work(name) = s"""{"sec":$sec,"rows":$rows,"shuffle_read":${r1 - r0},""" +
        s""""shuffle_write":${w1 - w0},"spill":${s1 - s0},"cpu_sec":$cpuSec}"""
      name -> sec
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val workJson = work.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val stagedJson = staged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // errored keys are listed in errors[] and excluded from the headline
    // total so a key that throws partway through can't distort
    // round-over-round comparisons (their elapsed is still in queries{})
    val total = results.collect {
      case (k, v) if !errors.contains(k) => v }.sum
    val loadEnd = loadAvg()
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"work":$workJson,"errors":$errJson,"staged":$stagedJson,"load_start":$loadStart,"load_end":$loadEnd,"sf":"$sfDir","cpus":$cpus}"""
    // also persist to a repo file: the single-line JSON can exceed the
    // driver's stdout tail window (round-1 BENCH parsed=null), and a file
    // gives round-over-round comparability either way.
    // Guards (r10 verdict #2): SCOPED runs land in bench_scoped.json so
    // local iteration can never shadow the committed full-run record, and a
    // CONTENDED full run (load_start > 1.5 — the quiet band is <= ~1.0 per
    // BASELINE.md) is diverted to bench_result_contended.json: its wall
    // times carry no comparison value, only its work{} bytes do.
    // Contention gate. load_start alone is insufficient: a run that began
    // on a momentarily idle host but was swamped mid-run (load_start 1.17,
    // totals 1.9× the quiet band on byte-identical work) once replaced the
    // quiet record; load_end doesn't discriminate either (the bench's own
    // ~1-2 of loadavg dominates — the committed quiet records end at
    // 1.5-2.4). So the second check is EVIDENCE-based: if the common-key
    // wall sum reads >1.5× the standing quiet record's, the host was
    // loaded mid-run (per the bytes-first rule a real all-key 1.5×
    // slowdown without byte growth does not exist), and the run diverts.
    // Real regressions still surface per-key in work{} bytes and in the
    // write-once round-stamped copies.
    // CPU-time inflation is the wall-inflation discriminator: same keys,
    // byte-identical work, wall >1.5× but CPU flat → the host was loaded
    // (tasks waited for cores); wall AND CPU both inflated → a real
    // uniform regression, which MUST be able to update the record (r15
    // verdict: the wall-only gate would have hidden a codegen fall-off
    // forever). Records written before cpu_sec existed yield None → the
    // wall-only rule applies as before.
    val (recordInflation, cpuInflation): (Option[Double], Option[Double]) =
      try {
        val p = java.nio.file.Paths.get("bench_result.json")
        if (!java.nio.file.Files.exists(p)) (None, None)
        else {
          val txt = java.nio.file.Files.readString(p)
          val recQ = "\"(\\w+)\":([0-9.E\\-]+)".r.findAllMatchIn(
            txt.substring(txt.indexOf("\"queries\":") + 10,
              txt.indexOf("},\"work\"") + 1))
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val common = results.collect {
            case (k, v) if recQ.contains(k) => (k, v, recQ(k)) }
          if (common.size < 50) {
            // ADVICE r15: a silently-disabled check reads as a passed one
            System.err.println(s"[bench] inflation check SKIPPED: only " +
              s"${common.size} keys in common with the standing record (<50)")
            (None, None)
          } else {
            val wall = Some(common.map(_._2).sum / common.map(_._3).sum)
            val recCpu =
              "\"(\\w+)\":\\{[^{}]*\"cpu_sec\":([0-9.E\\-]+)".r
                .findAllMatchIn(txt)
                .map(m => m.group(1) -> m.group(2).toDouble).toMap
            val commonCpu = common.flatMap { case (k, _, _) =>
              for (a <- cpuSecs.get(k); b <- recCpu.get(k)) yield (a, b) }
            val cpuI =
              if (commonCpu.size < 50 || commonCpu.map(_._2).sum <= 0) None
              else Some(commonCpu.map(_._1).sum / commonCpu.map(_._2).sum)
            (wall, cpuI)
          }
        }
      } catch { case _: Throwable => (None, None) }
    // SPARK_GRAFT_FORCE_RECORD=1: operator override for a CONFIRMED real
    // slowdown the heuristics misread (ADVICE r15) — the run lands in
    // bench_result.json regardless of the gate.
    val force = sys.env.get("SPARK_GRAFT_FORCE_RECORD").contains("1")
    val contended = !force &&
      Bench.divert(loadStart, recordInflation, cpuInflation)
    if (recordInflation.exists(_ > 1.5) && cpuInflation.exists(_ > 1.25))
      System.err.println(s"[bench] wall inflation " +
        f"${recordInflation.get}%.2fx WITH cpu inflation " +
        f"${cpuInflation.get}%.2fx: admitting as a REAL regression, " +
        "not contention")
    val target =
      if (keyFilter.nonEmpty) "bench_scoped.json"
      else if (contended &&
        java.nio.file.Files.exists(java.nio.file.Paths.get("bench_result.json"))) {
        System.err.println(s"[bench] contended (load_start=$loadStart, " +
          s"common-key inflation=${recordInflation.getOrElse(-1.0)}): keeping " +
          "the existing quiet bench_result.json; this run -> " +
          "bench_result_contended.json")
        "bench_result_contended.json"
      } else "bench_result.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(target), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $target write failed: $e") }
    // FULL runs also land a per-round copy (bench_result_rNN.json, NN =
    // max committed BENCH_r round + 1) that later SCOPED iteration runs
    // (SPARK_GRAFT_KEYS set) can't overwrite — r8's BENCH artifact lost
    // its parsed tail and only the mutable bench_result.json carried the
    // data; the round-stamped file makes the full-run record durable.
    // WRITE-ONCE per round: a later FULL run on a loaded machine must not
    // shadow the committed quiet-host record within the same round.
    if (keyFilter.isEmpty) try {
      val here = java.nio.file.Paths.get(".")
      val rounds = java.nio.file.Files.list(here)
      val maxR =
        try {
          val it = rounds.iterator()
          var m = 0
          while (it.hasNext) {
            val n = it.next().getFileName.toString
            "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(n)
              .foreach(mm => m = math.max(m, mm.group(1).toInt))
          }
          m
        } finally rounds.close()
      val stamped = here.resolve(f"bench_result_r${maxR + 1}%02d.json")
      // Write-once, with one exception: a QUIET run may replace a CONTENDED
      // record (the r10 gap in reverse — first-writer-wins must not let a
      // loaded driver run permanently shadow a later quiet measurement).
      val existingLoad =
        if (!java.nio.file.Files.exists(stamped)) None
        else "\"load_start\":([0-9.\\-]+)".r
          .findFirstMatchIn(java.nio.file.Files.readString(stamped))
          .map(_.group(1).toDouble)
      existingLoad match {
        case Some(l) if l <= 1.5 || loadStart > 1.5 =>
          System.err.println(s"[bench] $stamped exists; keeping first record")
        case Some(l) =>
          System.err.println(s"[bench] replacing contended $stamped " +
            s"(load_start $l) with quiet run (load_start $loadStart)")
          java.nio.file.Files.writeString(stamped, json + "\n")
        case None => java.nio.file.Files.writeString(stamped, json + "\n")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] round-stamped record write failed: $e") }
    println(json)
    println(compactLine(total, results, errors.toSeq, staged.size,
      loadStart, loadEnd, sfDir, cpus))
    spark.stop()
  }
}
