package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Multi-batch streaming semantics (SURVEY.md §2.12) that the single-file
  * source in streaming.Streaming can't reach deterministically: watermark
  * late-data dropping and incremental window updates, driven by MemoryStream
  * where batch boundaries are explicit.
  */
class StreamingSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark drops events later than the delay in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("start"), $"n")
    val q = agg.writeStream.format("memory")
      .queryName("wm_test").outputMode("append").start()
    try {
      // batch 1: two events in [10:00, 10:10) and one in [10:10, 10:20)
      input.addData((ts(1), 1.0), (ts(5), 1.0), (ts(12), 1.0))
      q.processAllAvailable()
      // watermark is now 10:12 - 5min = 10:07 -> no window closed yet
      // batch 2: advance time to 10:25 -> closes [10:00,10:10)
      input.addData((ts(25), 1.0))
      q.processAllAvailable()
      // batch 3: a LATE event for the closed window must be dropped
      input.addData((ts(2), 99.0))
      q.processAllAvailable()
      // batch 4: advance far enough to close [10:10,10:20) and [10:20,10:30)
      input.addData((Timestamp.valueOf("2024-01-01 11:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .select(date_format($"start", "HH:mm").as("s"), $"n")
        .as[(String, Long)].collect().toMap
      // the 10:00 window emitted exactly 2 (late event dropped), 10:10 -> 1
      assert(rows("10:00") == 2L, s"late event not dropped: $rows")
      assert(rows("10:10") == 1L, rows.toString)
    } finally q.stop()
  }

  test("streaming dedup with watermark keeps one row per key") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val dedup = input.toDF().toDF("ts", "key")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("key")
    val q = dedup.writeStream.format("memory")
      .queryName("dd_test").outputMode("append").start()
    try {
      input.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 2L))
      q.processAllAvailable()
      input.addData((ts(4), 1L), (ts(5), 3L))
      q.processAllAvailable()
      val keys = spark.table("dd_test").select($"key").as[Long].collect().sorted
      assert(keys.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("session windows extend across batches and emit once finalized (append)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "user")
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window($"ts", "10 minutes").as("w"), $"user")
      .agg(count(lit(1)).as("n"))
      .select(date_format($"w.start", "HH:mm").as("s"), $"user", $"n")
    val q = agg.writeStream.format("memory")
      .queryName("sess_test").outputMode("append").start()
    try {
      // batch 1: one session forming for user 1
      input.addData((ts(1), 1L), (ts(5), 1L))
      q.processAllAvailable()
      // batch 2: within the 10-min gap of 10:05 -> EXTENDS the session
      input.addData((ts(12), 1L))
      q.processAllAvailable()
      // nothing emitted yet: session end (10:22) is past the watermark
      assert(spark.table("sess_test").isEmpty)
      // batch 3: far-future event pushes watermark past 10:22 -> flush
      // (this is exactly the sentinel mechanism stream_session uses)
      input.addData((Timestamp.valueOf("2024-01-01 11:30:00"), 2L))
      q.processAllAvailable()
      val rows = spark.table("sess_test")
        .as[(String, Long, Long)].collect().toSeq
      // ONE merged session with all 3 events; user 2's session still open
      assert(rows == Seq(("10:01", 1L, 3L)), rows.toString)
    } finally q.stop()
  }

  test("funnel state stays bounded by the 12h window across batches") {
    import graft.streaming.Streaming.{funnelStep, FunnelWindowUs}
    val win = FunnelWindowUs
    // 10 batches, each a fresh view->click pair two windows after the last:
    // unbounded state would grow to 20 events; pruned state must hold only
    // the trailing window. Each batch arrives out of order (click before
    // view) and batch watermarks trail the data by one batch.
    var state = (0, List.empty[(Long, Int)])
    var maxKept = 0
    for (i <- 0 until 10) {
      val t = i * 2 * win
      val wmUs = if (i == 0) 0L else (i - 1) * 2 * win + 100
      val (next, emit) = funnelStep(state, Seq((t + 100, 2), (t, 1)), wmUs)
      state = next
      assert(emit == 2, s"batch $i emitted $emit")
      maxKept = math.max(maxKept, state._2.size)
      // never more than the 2 in-window events + the 2 not-yet-past-watermark
      assert(state._2.size <= 4, s"batch $i retained ${state._2.size} events")
    }
    assert(maxKept <= 4, s"state grew with history: $maxKept")
    // out-of-order purchase inside the LAST window (older than max seen,
    // newer than watermark) must still complete the funnel after pruning
    val lastT = 9 * 2 * win
    val (afterP, emitP) = funnelStep(state, Seq((lastT + 200, 3)), 8 * 2 * win + 100)
    assert(emitP == 3, s"pruning lost a live anchor: $afterP")
    // once the watermark passes that anchor's window, its level 3 becomes
    // the durable bestFinal and its events prune away
    val (fin, emitF) = funnelStep(afterP, Seq((lastT + 4 * win, 1)), lastT + 3 * win)
    assert(fin._1 == 3 && fin._2.size == 1 && emitF == 3, s"$fin / $emitF")
  }

  test("incremental funnelStep equals one-shot batch scan per mode (random batches)") {
    import graft.streaming.Streaming.{funnelStep, FunnelWindowUs}
    import graft.functions.EventSeqAggregators.{funnelLevelFrom, TsStep}
    val win = FunnelWindowUs
    for (mode <- Seq("default", "deduplication", "fixed", "increase");
         seed <- 0 until 10) {
      val rnd = new scala.util.Random(mode.hashCode * 1000 + seed)
      // 40 events across ~4 windows, delivered in ts-sorted batches of 5
      // with shuffled intra-batch order; watermark trails by one batch, so
      // pruning genuinely kicks in mid-run
      val evs = Seq.fill(40)((rnd.nextLong(4 * win), rnd.nextInt(3) + 1)).sorted
      var state = (0, List.empty[(Long, Int)])
      var emit = 0
      var wm = 0L
      evs.grouped(5).foreach { batch =>
        val r = funnelStep(state, rnd.shuffle(batch), wm, mode)
        state = r._1; emit = r._2
        wm = batch.map(_._1).max
      }
      // one-shot reference: the shared scan over ALL events at once
      val all = evs.sortBy(identity).map { case (t, s) => TsStep(t, s) }.toArray
      val want = all.indices.filter(all(_).step == 1)
        .map(funnelLevelFrom(all, _, win, 3, mode))
        .maxOption.getOrElse(0)
      assert(emit == want, s"mode=$mode seed=$seed: incremental $emit vs batch $want")
    }
  }

  test("streaming funnel over MemoryStream: levels update, prune keeps live anchors") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Int)]
    val ev = input.toDF().toDF("user", "ts", "step")
      .withWatermark("ts", "5 minutes")
      .select($"user", $"ts", unix_micros($"ts").as("ts_us"), $"step")
      .as[(Long, Timestamp, Long, Int)]
    val q = graft.streaming.Streaming.funnelLevels(ev)
      .writeStream.format("memory")
      .queryName("funnel_test").outputMode("update").start()
    def levels(): Map[Long, Int] = {
      val df = spark.table("funnel_test")
      // update mode: emissions are monotone per user, so max = latest
      df.groupBy($"user_id").agg(max($"funnel_level")).as[(Long, Int)]
        .collect().toMap
    }
    try {
      // batch 1: user 1 view + click
      input.addData((1L, ts(0), 1), (1L, ts(5), 2))
      q.processAllAvailable()
      assert(levels()(1L) == 2)
      // batch 2: another user far ahead pushes the watermark well past
      // user 1's events (but within their 12h funnel window)
      input.addData((2L, Timestamp.valueOf("2024-01-01 13:00:00"), 1))
      q.processAllAvailable()
      // batch 3: user 1's purchase arrives out-of-order but above the
      // watermark (12:55) — the retained (pruned) state must still hold the
      // view anchor and complete the chain. (At or below the watermark the
      // operator's late-data filter drops the row — the standard contract.)
      input.addData((1L, Timestamp.valueOf("2024-01-01 12:58:00"), 3))
      q.processAllAvailable()
      assert(levels()(1L) == 3, levels().toString)
      assert(levels()(2L) == 1)
    } finally q.stop()
  }

  test("stream-stream join state is evicted as the watermark advances") {
    // The 100 TB claim behind stream_stream_join is that join state is
    // WATERMARK-CAPPED, not stream-length-shaped — asserted here with the
    // state-store metrics themselves, not timing: buffer two 100-row sides,
    // then advance event time far past delay+range and check numRowsTotal
    // collapses to just the fresh rows (eviction happens in the batch AFTER
    // the watermark advances, hence the nudge batch).
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Timestamp)]
    val right = MemoryStream[(Long, Timestamp)]
    val a = left.toDF().toDF("id", "ts").withWatermark("ts", "1 minute")
    val b = right.toDF().toDF("id2", "ts2").withWatermark("ts2", "1 minute")
    val joined = a.join(b, $"id" === $"id2" &&
      $"ts2" >= $"ts" - expr("interval 1 minute") &&
      $"ts2" <= $"ts" + expr("interval 1 minute"))
    val q = joined.writeStream.format("memory")
      .queryName("ssj_state").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      left.addData((1L to 100L).map(i => (i, t0)): _*)
      right.addData((1L to 100L).map(i => (i, t0)): _*)
      q.processAllAvailable()
      val buffered = q.lastProgress.stateOperators(0).numRowsTotal
      assert(buffered >= 200, s"expected both sides buffered, got $buffered")
      assert(spark.table("ssj_state").count() == 100, "all pairs should match")
      // jump event time 2h ahead (≫ 1 min delay + 1 min range)…
      val t1 = Timestamp.valueOf("2024-01-01 14:00:00")
      left.addData((1001L, t1)); right.addData((1001L, t1))
      q.processAllAvailable()
      // …and a nudge batch so the advanced watermark actually evicts
      left.addData((1002L, t1)); right.addData((1002L, t1))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      assert(after < buffered && after <= 20,
        s"state not watermark-evicted: $buffered -> $after rows")
    } finally q.stop()
  }

  test("left-outer stream-stream join null-extends only after watermark proof") {
    // the outer-join contract stream_stream_left relies on: a matched row
    // emits immediately, an unmatched left row emits (null-extended) ONLY
    // once the watermark proves no in-range right row can still arrive
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(Long, Timestamp)]
    val right = MemoryStream[(Long, Timestamp)]
    val a = left.toDF().toDF("id", "ts").withWatermark("ts", "1 minute")
    val b = right.toDF().toDF("id2", "ts2").withWatermark("ts2", "1 minute")
    val joined = a.join(b, $"id" === $"id2" &&
      $"ts2" >= $"ts" - expr("interval 1 minute") &&
      $"ts2" <= $"ts" + expr("interval 1 minute"), "left_outer")
    val q = joined.writeStream.format("memory")
      .queryName("ssj_left").outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 12:00:00")
      left.addData((1L, t0), (2L, t0))
      right.addData((2L, t0))
      q.processAllAvailable()
      val early = spark.table("ssj_left").collect()
      assert(early.length == 1 && early.head.getLong(0) == 2L,
        s"only the matched row may emit pre-proof: ${early.mkString(",")}")
      // advance the watermark far past t0 + delay + range, plus a nudge
      // batch (eviction lands in the batch AFTER the watermark advances)
      val t1 = Timestamp.valueOf("2024-01-01 14:00:00")
      left.addData((1001L, t1)); right.addData((1001L, t1))
      q.processAllAvailable()
      left.addData((1002L, t1)); right.addData((1002L, t1))
      q.processAllAvailable()
      val one = spark.table("ssj_left").collect().filter(_.getLong(0) == 1L)
      assert(one.length == 1 && one.head.isNullAt(2),
        s"unmatched row must flush null-extended after eviction: ${one.mkString(",")}")
    } finally q.stop()
  }

  test("incremental window agg across batches equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .groupBy(window($"ts", "10 minutes").as("w"))
      .agg(round(sum($"value"), 2).as("total"))
      .select(date_format($"w.start", "HH:mm").as("s"), $"total")
    val q = agg.writeStream.format("memory")
      .queryName("inc_test").outputMode("complete").start()
    try {
      val data = Seq((ts(1), 1.5), (ts(5), 2.5), (ts(12), 4.0), (ts(15), 0.5))
      data.grouped(2).foreach { chunk => input.addData(chunk); q.processAllAvailable() }
      val streamed = spark.table("inc_test").as[(String, Double)].collect().toMap
      assert(streamed == Map("10:00" -> 4.0, "10:10" -> 4.5))
    } finally q.stop()
  }

  test("stream_agg_sketch: per-batch sketch merge is exact, reload-mergeable, HLL in bound") {
    import streaming.Streaming
    val BF = functions.BitmapFunctions
    functions.NativeAggregates.register(spark)
    val table = Streaming.sketchIngest(spark, sf)
    val exact = Tables.events(spark, sf).groupBy($"event_type")
      .agg(countDistinct($"user_id").as("nd"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fin = spark.read.parquet(table)
      .select($"event_type", BF.bitmap_count($"user_bm").as("bm"),
        hll_sketch_estimate($"user_hll").as("est"), $"n")
      .collect()
    assert(fin.length == exact.size, "one standing row per AGGREGATE key")
    fin.foreach { r =>
      val (nd, n) = exact(r.getString(0))
      assert(r.getLong(1) == nd, s"bitmap distinct for ${r.getString(0)}")
      assert(r.getLong(3) == n, s"row count for ${r.getString(0)}")
      // the statistical HLL bound lives HERE, not in the oracle hash
      assert(math.abs(r.getLong(2) - nd) <= math.max(1L, (nd * 0.05).toLong),
        s"HLL estimate ${r.getLong(2)} off exact $nd for ${r.getString(0)}")
    }
    // RESTART re-aggregability: sketch state RELOADED from parquet (a fresh
    // read = a restarted job's view) absorbs a replayed partial through the
    // same merge. Set sketches are union-idempotent, so replaying the whole
    // corpus must leave bitmap distincts exactly unchanged (and HLL in
    // bound), while the additive count doubles.
    val replay = Streaming.sketchPartial(Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value"))
    val again = Streaming.sketchMerge(
        spark.read.parquet(table).unionByName(replay))
      .select($"event_type", BF.bitmap_count($"user_bm").as("bm"),
        hll_sketch_estimate($"user_hll").as("est"), $"n")
      .collect()
    again.foreach { r =>
      val (nd, n) = exact(r.getString(0))
      assert(r.getLong(1) == nd, "reloaded bitmap state lost exactness")
      assert(math.abs(r.getLong(2) - nd) <= math.max(1L, (nd * 0.05).toLong),
        "reloaded HLL state left the bound")
      assert(r.getLong(3) == 2 * n, "additive column must double on replay")
    }
  }

  test("stream_rollup: post-ingest aggregate is served by the streamed rollup") {
    val df = run("stream_rollup")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_merge_table"),
      s"aggregate not retargeted onto the streaming-maintained rollup:\n$plan")
    assert(!plan.contains("events.parquet"),
      s"base fact still scanned post-rewrite:\n$plan")
    // and the rollup-served answer equals the base-table recompute
    val base = Tables.events(spark, sf).groupBy($"event_type")
      .agg(round(sum($"value"), 2).as("sum_value"), count(lit(1)).as("n"),
        round(min($"value"), 2).as("min_value"),
        round(max($"value"), 2).as("max_value"),
        round(avg($"value"), 4).as("avg_value"))
      .orderBy($"event_type")
    assert(df.collect().toSeq == base.collect().toSeq)
  }

  test("stream_join_mv: post-ingest join+agg is served by the streamed join MV") {
    val df = run("stream_join_mv")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_merge_table"),
      s"join+agg not retargeted onto the streaming-maintained join MV:\n$plan")
    assert(!plan.contains("events.parquet") && !plan.contains("customer.parquet"),
      s"a base table is still scanned post-rewrite:\n$plan")
    assert(!plan.contains("Join"), s"join survived the MV rewrite:\n$plan")
    // and the MV-served answer equals the base-table join recompute
    val base = spark.read.parquet(s"$sf/events.parquet")
      .select($"user_id", $"value")
      .join(spark.read.parquet(s"$sf/customer.parquet")
          .select($"c_custkey", $"c_mktsegment"),
        $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"),
        round(avg($"value"), 2).as("avg_value"))
      .orderBy($"c_mktsegment")
    val served = df.collect().toSeq
    plans.JoinMvRewrite.clear()
    try assert(served == base.collect().toSeq)
    finally streaming.Streaming.streamJoinMvDef(spark, sf)
      .foreach(plans.JoinMvRewrite.register)
  }

  test("stream_dedup_index: maintained index and candidates equal the batch build") {
    // the key's equality booleans are computed in-engine; assert them here
    // so a drift between the streamed and batch-built artifacts fails the
    // suite with the specific broken invariant, not just an oracle hash
    val rows = run("stream_dedup_index")
      .select($"threshold", $"n_truth", $"recall_ok",
        $"cands_equal_batch", $"index_equals_batch")
      .as[(Double, Long, Boolean, Boolean, Boolean)].collect()
    assert(rows.length == 2)
    rows.foreach { case (t, nTruth, recallOk, candsEq, idxEq) =>
      assert(nTruth > 0 && recallOk, s"t=$t: recall bound violated ($nTruth truth)")
      assert(candsEq, s"t=$t: streamed candidate set != batch-built candidate set")
      assert(idxEq, s"t=$t: maintained band index != batch-built band table")
    }
  }

  test("jdbc sink replay: a retried micro-batch replaces its rows, not appends") {
    // drives the retry path processAllAvailable() never takes on a healthy
    // run: replaying batchId=1 (Spark retries a failed micro-batch under
    // the SAME id) must leave the table exactly as if it ran once, while a
    // genuinely new batchId appends.
    import streaming.Streaming.jdbcIdempotentAppend
    val db = TempDirs.create("graft_derbyretry") + "/db"
    val url = s"jdbc:derby:$db;create=true"
    def batch(ids: Seq[Int]) =
      ids.toDF("event_id").select($"event_id",
        lit("click").as("event_type"), lit(1.0).as("value"))
    def readBack() = spark.read
      .jdbc(url, "events_sink", new java.util.Properties)
    jdbcIdempotentAppend(url, batch(Seq(1, 2)), 0L)
    jdbcIdempotentAppend(url, batch(Seq(3, 4, 5)), 1L)
    assert(readBack().count() == 5)
    // retry batch 1 verbatim -> idempotent
    jdbcIdempotentAppend(url, batch(Seq(3, 4, 5)), 1L)
    assert(readBack().count() == 5, "retried batch double-appended")
    assert(readBack().select("event_id").as[Long].collect().sorted
      .sameElements(Array(1L, 2L, 3L, 4L, 5L)))
    // a NEW batch id appends
    jdbcIdempotentAppend(url, batch(Seq(6)), 2L)
    assert(readBack().count() == 6)
  }
}
