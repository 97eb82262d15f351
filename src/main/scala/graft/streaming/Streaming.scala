package graft.streaming

import graft.{Confs, QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.12).
  *
  * Doris has no stream-compute operators — its real-time story is
  * transactional continuous ingest (Stream Load
  * [doris: be/src/http/action/stream_load.cpp], Routine Load
  * [doris: fe/.../load/routineload/RoutineLoadJob.java]) into the key models.
  * The Spark-native engine keeps that ingest contract (file-source streams +
  * exactly-once-per-micro-batch foreachBatch sinks ≈ txn-per-load-batch) and
  * adds real stream compute: tumbling/sliding/session windows, watermarks,
  * and custom state (funnel) — all Structured Streaming builtins.
  *
  * Harness note: the driver's Verify/Bench run batch DataFrames, so each key
  * runs a stream over the events parquet (file source) to completion
  * ([[Streaming.runToCompletion]]) and returns the materialized sink as a
  * batch DataFrame; the oracle is the batch-equivalent SQL.
  * Late-data/multi-batch behavior (not reachable deterministically from a
  * one-file source) is covered in ScalaTest with MemoryStream.
  *
  * Scale notes: in production the file source becomes Kafka with checkpointed
  * offsets (same exactly-once contract); windows and dropDuplicates carry
  * watermarks so state is bounded; session windows and funnel state shuffle
  * once on user_id — cardinality = active users, not events.
  */
/** transformWithState processor: per-user running (count, sum) totals —
  * Spark 4's arbitrary-state API (the forward-looking replacement for
  * flatMapGroupsWithState; requires the RocksDB state store provider).
  * State is one ValueState[(Long, Double)] per user — O(users), not
  * O(events), and RocksDB keeps it off-heap at scale. */
class TwsTotals extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, Double), (Long, Long, Double)] {
  @transient private var totals:
    org.apache.spark.sql.streaming.ValueState[(Long, Double)] = _
  override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble),
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(user: Long, rows: Iterator[(Long, Double)],
      timerValues: org.apache.spark.sql.streaming.TimerValues):
      Iterator[(Long, Long, Double)] = {
    var (n, sum) = Option(totals.get()).getOrElse((0L, 0.0))
    rows.foreach { case (_, v) => n += 1; sum += v }
    totals.update((n, sum))
    Iterator((user, n, sum))
  }
}

object Streaming {

  /** events schema for readStream. The file source needs an explicit schema
    * that matches the on-disk layout, and the driver's testdata has shipped
    * two (Tables.scala doc): legacy ns-as-INT64 and, since 2026-08-13, µs
    * TIMESTAMP_NTZ. Callers probe the dir via Tables.eventsTsIsLong and pass
    * the result here; Tables.normalizeEventTs converts either to µs
    * TimestampType after read. */
  private def rawSchema(tsLong: Boolean): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts",
      if (tsLong) LongType else org.apache.spark.sql.types.TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Sentinel event time (2100-01-01) — far past every real event. */
  private val SentinelEpochSec = 4102444800L

  /** One-row sentinel parquet per ts layout, written once per session
    * ([[graft.Artifacts.memo]]; it reads no input, so only a new session
    * rewrites it) and shared by every withSentinel stream, which used to pay
    * a full write job each for the identical file. The sentinel shares the
    * stream dir with the real events file, so its physical ts type must
    * match. */
  private def sentinelFile(s: SparkSession, tsLong: Boolean): java.nio.file.Path =
    graft.Artifacts.memo("streamSentinel", tsLong, s) {
      val tmp = graft.TempDirs.createPath("graft_sentinel")
      val tsVal: Any =
        if (tsLong) SentinelEpochSec * 1000000000L
        else java.time.LocalDateTime.ofEpochSecond(SentinelEpochSec, 0,
          java.time.ZoneOffset.UTC)
      val row = org.apache.spark.sql.Row(-1L, tsVal, -1L, "sentinel", 0.0, "{}")
      s.createDataFrame(java.util.List.of(row), rawSchema(tsLong))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      java.nio.file.Paths.get(part)
    }

  /** view→click→purchase funnel window: 12 hours, in µs. */
  private[graft] val FunnelWindowUs = 12L * 3600 * 1000000L

  /** Funnel state transition, factored out so the state BOUND is directly
    * unit-testable: fold a batch of (ts_us, step) events into
    * (bestFinalLevel, retainedEvents) and produce the level to emit.
    *
    * Pruning: every event older than watermark − window drops. Lossless — a
    * view anchor v with v.ts < watermark − 12h can gain no further steps
    * (every future arrival has ts ≥ watermark > v.ts + 12h by the watermark
    * contract), and a retained anchor's whole window [v.ts, v.ts+12h] sits
    * above the cutoff, so its events are all still here. Retained state is
    * O(events in the trailing 12h per user), never O(event history).
    *
    * Folding: an anchor's level bakes into the durable bestFinal ONLY once
    * the watermark passes its window (same cutoff — at that point the level
    * is immutable). Live anchors are re-scanned each batch instead, because
    * under the deduplication/fixed modes a level is NOT monotone in the
    * event set — a late-but-valid event can break a live chain and lower
    * it — so max-folding live levels would freeze a provisional answer the
    * batch aggregator would revise. Emitted level = max(final, live), which
    * equals the batch scan over everything seen so far. */
  private[graft] def funnelStep(
      prev: (Int, List[(Long, Int)]), incoming: Seq[(Long, Int)],
      watermarkUs: Long, mode: String = "default")
      : ((Int, List[(Long, Int)]), Int) = {
    import graft.functions.EventSeqAggregators.{funnelLevelFrom, TsStep}
    val all = (prev._2 ++ incoming).sortBy(identity).toArray
    val ev = all.map { case (t, st) => TsStep(t, st) }
    val cutoff = watermarkUs - FunnelWindowUs
    var bestFinal = prev._1
    var bestLive = 0
    var i = 0
    while (i < all.length) {
      if (all(i)._2 == 1) {
        val lvl = funnelLevelFrom(ev, i, FunnelWindowUs, 3, mode)
        if (all(i)._1 < cutoff) { if (lvl > bestFinal) bestFinal = lvl }
        else if (lvl > bestLive) bestLive = lvl
      }
      i += 1
    }
    val kept = all.filter(_._1 >= cutoff).toList
    ((bestFinal, kept), math.max(bestFinal, bestLive))
  }

  /** Stateful funnel over a (user_id, event_time, ts_us, step) stream. The
    * event_time column must be the watermarked attribute — EventTimeTimeout
    * requires a watermark-tagged column to survive into this operator's
    * input, so it rides along untouched while the lambda works in µs.
    * Pruning and group-state eviction both key off the watermark
    * (EventTimeTimeout drops a user's retained event list once the
    * watermark passes every retained event's window, leaving O(1)
    * (bestLevel, Nil) per user — the same footprint as any per-user
    * aggregate). Shared by the stream_funnel key and the MemoryStream
    * multi-batch spec. */
  private[graft] def funnelLevels(
      ev: Dataset[(Long, java.sql.Timestamp, Long, Int)],
      mode: String = "default"): DataFrame = {
    import ev.sparkSession.implicits._
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Int, List[(Long, Int)]), (Long, Int)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, it, state) =>
          if (state.hasTimedOut) {
            // watermark passed every retained event's window: finalize the
            // remaining anchors into bestFinal and drop the event list
            val (st, _) = funnelStep(state.get, Nil, Long.MaxValue, mode)
            state.update(st)
            Iterator.empty
          } else {
            val (next, emit) = funnelStep(
              state.getOption.getOrElse((0, Nil)),
              it.map(e => (e._3, e._4)).toSeq,
              state.getCurrentWatermarkMs() * 1000L, mode)
            state.update(next)
            if (next._2.nonEmpty) {
              val evictAtMs = next._2.iterator.map(_._1).max / 1000L +
                FunnelWindowUs / 1000L + 1L
              if (evictAtMs > state.getCurrentWatermarkMs())
                state.setTimeoutTimestamp(evictAtMs)
            }
            Iterator((user, emit))
          }
      }.toDF("user_id", "funnel_level")
  }

  /** Multiset equality of two DataFrames over `cols` in ONE Spark job:
    * per-key counts from each side full-outer-joined, any missing or
    * unequal count falsifies. Same truth value as
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` (exceptAll is
    * multiset-aware), which cost TWO driver actions each executing a
    * two-sided shuffle plan — four effective side-scans instead of two
    * (r21, guide §2.4: remove duplicate passes). */
  private def multisetEqual(
      a: DataFrame, b: DataFrame, cols: Seq[String]): Boolean = {
    val ka = a.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__ca"))
    val kb = b.groupBy(cols.map(col): _*).agg(count(lit(1)).as("__cb"))
    ka.join(kb, cols, "full_outer")
      .filter(col("__ca").isNull || col("__cb").isNull ||
        col("__ca") =!= col("__cb"))
      .isEmpty
  }

  /** Run a bounded stream to completion — the one start → drain → stop
    * lifecycle every streaming key shares: `df` starts with `sink` as its
    * foreachBatch body, processAllAvailable drains everything the source
    * holds, and the query stops in `finally`. Both confs it sets are
    * restored on return, so only the stream's lifetime sees them; batch
    * work before or after (read-backs, equality checks, artifact builds)
    * runs at full session parallelism.
    *
    * State cap: `spark.sql.shuffle.partitions` is 4 while the stream runs.
    * A stream's state-store instance count per stateful operator per
    * micro-batch is frozen at `.start()` from that conf, and at the
    * harness's per-batch volumes state-store setup — not data — dominates
    * wall-clock (measured: 12 keys, 72.7 s of a 132.6 s bench at 32
    * partitions). At production scale the same knob is raised per stream to
    * match throughput: state parallelism is a per-stream decision, never
    * ambient config.
    *
    * `flush = false` disables the no-data micro-batch Spark otherwise
    * appends after the last data batch to advance watermark-dependent
    * state. Only pass it where the result is provably identical without it
    * — shapes whose no-data batch can only EVICT state, never emit: inner
    * stream-stream joins (matches emit in the data batch), bounded
    * dropDuplicatesWithinWatermark (a filter — emission is immediate), and
    * update-mode flatMapGroupsWithState (timeouts emit nothing here).
    * Append-mode / sentinel-flush keys (stream_session, stream_watermark,
    * stream_stream_left/full) NEED the flush batch and keep the default. */
  private[graft] def runToCompletion(df: DataFrame, mode: String = "append",
      flush: Boolean = true)(sink: (DataFrame, Long) => Unit): Unit = {
    val noFlush =
      if (flush) Nil
      else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    Confs.withConf(df.sparkSession,
        ("spark.sql.shuffle.partitions" -> "4") +: noFlush: _*) {
      val q = df.writeStream.outputMode(mode).foreachBatch(sink).start()
      try q.processAllAvailable() finally q.stop()
    }
  }

  /** foreachBatch-to-parquet sink: each micro-batch appends its rows,
    * tagged with the batch id (`_batch`), to a fresh dir; returns the
    * read-back. Sink writes are executor-parallel parquet and the driver
    * never materializes the result table. In append mode every row (every
    * finalized group) emits exactly once, so the read-back needs no merge. */
  private def parquetSink(df: DataFrame, mode: String = "append",
      flush: Boolean = true): DataFrame = {
    val out = graft.TempDirs.create("graft_sink")
    runToCompletion(df, mode, flush) { (batch, id) =>
      batch.withColumn("_batch", lit(id)).write.mode("append").parquet(out)
    }
    df.sparkSession.read.parquet(out)
  }

  /** Update-mode sink + merge-on-read: each micro-batch's changed rows land
    * through [[parquetSink]]; read-back keeps the last `_batch` per key. This
    * is the Doris merge-on-read contract (UNIQUE/AGGREGATE key models)
    * applied to stream compute, and everything stays distributed: aggregate
    * state lives in the executor state store and the driver never
    * materializes the result table. At 100 TB the parquet dir becomes the
    * serving table and the read-back merge is the same row_number() merge
    * the UNIQUE key model already uses.
    *
    * Caveat (documented, exercised in ScalaTest): for session windows a later
    * batch can merge two sessions — the merged session is re-emitted but the
    * superseded sub-sessions are not retracted, so multi-batch session jobs
    * should use append mode + watermark (finalized sessions only). With the
    * harness's single-batch file source both modes agree. */
  private def upsert(df: DataFrame, keys: Seq[String],
      flush: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("_batch").desc)
    parquetSink(df, "update", flush)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_batch", "_rn")
  }

  /** The canonical exactly-once foreachBatch sink body: tag every row with
    * its batchId and DELETE-then-INSERT, so a micro-batch retried after a
    * transient failure REPLACES its own rows instead of double-appending.
    * The DELETE no-ops on the first attempt (and throws-and-is-swallowed on
    * the very first batch, where the table doesn't exist yet). At
    * production scale the sink table carries an index on batch_id so the
    * per-batch DELETE is a range probe, not a table scan (here the Derby
    * fixture table is tiny). Exposed private[graft] so StreamingSpec can
    * drive the retry path directly — processAllAvailable() never retries
    * on a healthy run. */
  private[graft] def jdbcIdempotentAppend(
      url: String, batch: DataFrame, batchId: Long): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // "batch_id" must be QUOTED: Spark's JDBC writer quotes column
      // identifiers at CREATE TABLE, making them case-sensitive in Derby —
      // an unquoted batch_id normalizes to BATCH_ID, misses, and the
      // swallowed error would silently turn the replay into an append
      // (caught by StreamingSpec's replay test). Only table-not-exists
      // (first batch, SQLState 42X05) is swallowable.
      try st.executeUpdate(
        s"""DELETE FROM events_sink WHERE "batch_id" = $batchId""")
      catch {
        case e: java.sql.SQLException if e.getSQLState == "42X05" => ()
      }
      finally st.close()
    } finally conn.close()
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("append")
      .option("createTableColumnTypes", "event_type VARCHAR(32)")
      // r21 sink tuning (guide §6): 10k-row executeBatch round-trips
      // instead of the writer's 1000 default. NOTE (measured, rejected):
      // isolationLevel=NONE — autocommit — was 7× SLOWER on embedded
      // Derby (2.7 → 20 s: a log force per commit); the per-partition
      // transaction stays.
      .option("batchsize", "10000")
      .jdbc(url, "events_sink", new java.util.Properties)
  }

  /** The events parquet as a file-source stream. The landing dir holds the
    * file `copies` times — copies beyond the first replay it, the
    * at-least-once redelivery case (stream_dedup). */
  private def eventStream(s: SparkSession, dir: String,
      withSentinel: Boolean = false, copies: Int = 1): DataFrame = {
    Confs.ensureNanosAsLong(s)
    // the file source requires a directory: expose the events parquet file
    // through a temp dir (in production this is the landing dir / Kafka topic)
    val streamDir = graft.TempDirs.createPath("graft_stream")
    // absolutize the target: a relative sfDir (e.g. "data/sf1") would
    // otherwise produce a symlink that resolves RELATIVE TO THE LINK'S OWN
    // temp dir — a silently broken link and an empty stream (caught when a
    // relative-dir scoped run read 0 rows at sf1; the driver always passes
    // absolute dirs, which is why the full gates never saw it)
    val events = java.nio.file.Paths.get(s"$dir/events.parquet")
      .toAbsolutePath.normalize
    for (i <- 0 until copies) {
      val name = if (i == 0) "events.parquet" else s"events_retry$i.parquet"
      java.nio.file.Files.createSymbolicLink(streamDir.resolve(name), events)
    }
    val tsLong = graft.Tables.eventsTsIsLong(s, dir)
    if (withSentinel) {
      // Append-mode aggregations only emit state finalized BELOW the
      // watermark; with a bounded source the tail windows/sessions would
      // never flush. A single far-future sentinel row (user_id = -1,
      // filtered after read-back) pushes the watermark past all real data so
      // the no-data micro-batch that follows emits every real group. This is
      // the standard bounded-replay flush trick; in production the stream is
      // unbounded and no sentinel is needed. The one-row parquet is written
      // once per session and copied into each stream dir.
      java.nio.file.Files.copy(
        sentinelFile(s, tsLong), streamDir.resolve("zz_sentinel.parquet"))
    }
    graft.Tables.normalizeEventTs(
      s.readStream.schema(rawSchema(tsLong)).parquet(streamDir.toString))
  }

  /** Pre-split the events table into 3 parquet files once per events
    * version and session ([[graft.Artifacts.memo]]) so
    * a maxFilesPerTrigger=1 stream delivers 3 REAL micro-batches — the
    * merge-per-batch ingest keys below must demonstrate multi-batch
    * re-aggregation (the single-file eventStream yields exactly one batch).
    * Columns are pre-projected: the ingest keys never need ts/props. MV
    * keys derived from the split take the events version BEFORE they reach
    * the split, so a split re-cut from a newer events version leaves their
    * def unservable instead of serving it under the old version. */
  private val splitSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  private def eventsSrc(dir: String): String = s"$dir/events.parquet"
  private def splitEvents(s: SparkSession, dir: String): String =
    graft.Artifacts.memo("eventsSplit", dir, s, eventsSrc(dir)) {
      Confs.ensureNanosAsLong(s) // events.ts is ns-precision (see Tables.events)
      val out = graft.TempDirs.create("graft_stream_split")
      s.read.parquet(eventsSrc(dir))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(3)
        .write.mode("overwrite").parquet(out)
      out
    }

  /** Merge-per-micro-batch ingest harness shared by the sketch and rollup
    * ingest keys: stream the 3-file split source one file per trigger; each
    * batch computes a per-key PARTIAL (`partialOf`), unions it with the
    * standing table version, re-aggregates (`mergeOf` — must be shape-
    * preserving so merge(merge(a,b),c) composes), and writes the NEXT
    * version dir. Returns the final version's path. Versioned dirs are the
    * Doris load-version contract: readers of vN never see a half-written
    * vN+1, and per-batch cost is O(|keys| + |batch|) regardless of how much
    * history the table has absorbed. Exposed private[graft] so
    * StreamingSpec can drive partial/merge composition directly. */
  private[graft] def mergeIngest(s: SparkSession, dir: String,
      partialOf: DataFrame => DataFrame,
      mergeOf: DataFrame => DataFrame): String = {
    val table = graft.TempDirs.createPath("graft_merge_table")
    @volatile var current: Option[String] = None
    runToCompletion(s.readStream.schema(splitSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitEvents(s, dir))) { (batch, id) =>
      val partial = partialOf(batch)
      val unioned = current
        .map(v => s.read.parquet(v).unionByName(partial))
        .getOrElse(partial)
      val next = table.resolve(s"v$id").toString
      mergeOf(unioned).write.mode("overwrite").parquet(next)
      current = Some(next)
    }
    current.getOrElse(sys.error("mergeIngest: no micro-batch ran"))
  }

  /** Sketch-ingest partial/merge pair (see stream_agg_sketch), factored out
    * so StreamingSpec can drive reload-and-remerge composition directly.
    * `sketchMerge` must be shape-preserving over `sketchPartial`'s output —
    * that closure property IS the re-aggregability contract. */
  private[graft] def sketchPartial(batch: DataFrame): DataFrame = batch
    .groupBy(col("event_type"))
    .agg(hll_sketch_agg(col("user_id")).as("user_hll"),
      graft.functions.BitmapFunctions.bitmap_union(col("user_id")).as("user_bm"),
      count(lit(1)).as("n"))
  private[graft] def sketchMerge(u: DataFrame): DataFrame = u
    .groupBy(col("event_type"))
    .agg(hll_union_agg(col("user_hll")).as("user_hll"),
      graft.functions.NativeAggregates.bitmap_union_binary(col("user_bm"))
        .as("user_bm"),
      sum(col("n")).as("n"))
  private[graft] def sketchIngest(s: SparkSession, dir: String): String =
    graft.Artifacts.memo("sketchIngest", dir, s, eventsSrc(dir)) {
      graft.functions.NativeAggregates.register(s)
      mergeIngest(s, dir, sketchPartial, sketchMerge)
    }

  /** The streaming-maintained events rollup (see stream_rollup): built once
    * per events version and session ([[graft.Artifacts.memo]]) and
    * registered with RollupRewrite under its own name, so a rebuild replaces
    * its old version instead of appending a second candidate. It is served
    * at the events version the split was cut from. */
  private[graft] def streamRollupIngest(s: SparkSession, dir: String): String =
    graft.Artifacts.memo("streamRollup", dir, s, eventsSrc(dir)) {
      val seen = graft.Freshness.version(eventsSrc(dir))
      val path = mergeIngest(s, dir,
        batch => batch.groupBy(col("event_type"))
          .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("cnt"),
            count(col("value")).as("cnt_value"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value")),
        u => u.groupBy(col("event_type"))
          .agg(sum(col("sum_value")).as("sum_value"),
            sum(col("cnt")).as("cnt"), sum(col("cnt_value")).as("cnt_value"),
            min(col("min_value")).as("min_value"),
            max(col("max_value")).as("max_value")))
      graft.plans.RollupRewrite.register(
        graft.plans.RollupRewrite.RollupDef(
          basePath = eventsSrc(dir),
          rollupPath = path,
          name = "stream_rollup",
          keys = Seq("event_type"),
          columns = Map(
            ("sum", "value") -> "sum_value",
            ("count", "*") -> "cnt",
            ("count", "value") -> "cnt_value",
            ("min", "value") -> "min_value",
            ("max", "value") -> "max_value"),
          version = seen))
      path
    }

  /** The streaming-maintained JOIN MV (see stream_join_mv): per micro-batch
    * the event rows enrich against the broadcast customer dim and fold into
    * a pre-joined aggregate keyed (c_mktsegment, event_type) — the
    * mergeIngest delta-merge, so per-batch cost is O(|keys| + |batch|) and
    * the dim join is map-side. The final version registers with
    * RollupRewrite exactly like streamRollupIngest registers its rollup,
    * once per (events, customer) version and session
    * ([[graft.Artifacts.memo]]), served at the events version the split was
    * cut from and the customer version the dim read. Returns (MV path, its
    * registered def). */
  private def joinMvIngest(s: SparkSession,
      dir: String): (String, graft.plans.RollupRewrite.JoinMvDef) = {
    val customerSrc = s"$dir/customer.parquet"
    graft.Artifacts.memo("streamJoinMv", dir, s, eventsSrc(dir), customerSrc) {
      val seen = graft.Freshness.version(eventsSrc(dir), customerSrc)
      val dim = graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val path = mergeIngest(s, dir,
        batch => batch
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(sum(col("value")).as("sum_value"), count(lit(1)).as("cnt"),
            count(col("value")).as("cnt_value")),
        u => u.groupBy(col("c_mktsegment"), col("event_type"))
          .agg(sum(col("sum_value")).as("sum_value"),
            sum(col("cnt")).as("cnt"),
            sum(col("cnt_value")).as("cnt_value")))
      val d = graft.plans.RollupRewrite.JoinMvDef(
        leftPath = eventsSrc(dir),
        rightPath = customerSrc,
        joinKeys = Seq(("user_id", "c_custkey")),
        mvPath = path,
        name = "stream_join_mv",
        keys = Seq("c_mktsegment", "event_type"),
        columns = Map(
          ("count", "*") -> "cnt",
          ("sum", "value") -> "sum_value",
          ("count", "value") -> "cnt_value"),
        version = seen)
      graft.plans.RollupRewrite.register(d)
      (path, d)
    }
  }

  private[graft] def streamJoinMvIngest(s: SparkSession, dir: String): String =
    joinMvIngest(s, dir)._1

  /** The registered def of the streamed join MV (spec support: re-register
    * after a deregister; the memo serves it without re-running the ingest
    * when this session already built it). */
  private[graft] def streamJoinMvDef(s: SparkSession,
      dir: String): graft.plans.RollupRewrite.JoinMvDef =
    joinMvIngest(s, dir)._2

  /** The streaming-maintained MinHash DEDUP INDEX (see stream_dedup_index):
    * documents arrive in micro-batches; each batch is minhash-banded
    * (per-row, map-only — signatures don't depend on corpus composition),
    * probed against the STANDING band-bucket index plus itself for
    * candidate pairs, then appended to the next index version. This is the
    * daily-100 TB-ingest spelling of llm_dedup_minhash_incr with the batch
    * boundary driven by the stream, not a modulo split: per-batch cost is
    * O(|batch| bands + bucket-join vs index), never corpus×corpus. The
    * index itself is APPEND-ONLY (a band row never changes), so unlike the
    * aggregated state mergeIngest versions by full rewrite, the native
    * maintenance is the Doris delta-rowset shape: each batch atomically adds
    * its own parquet file to the index dir. At sf0.1 this is wall-neutral
    * (the dropped read-union-rewrite was scan+write, not shuffle — probe
    * bytes measured identical), but per-batch index maintenance goes from
    * O(corpus) to O(batch), which is the difference that matters at 100 TB
    * (a compaction job owns small-file hygiene, as it does for rowsets).
    * The standing index a batch probes = the dir
    * BEFORE its own append lands. Because bands are per-row, the union of
    * per-batch candidate sets EQUALS the batch-built candidate set (every
    * pair meets when its later member arrives) — the key pins that equality.
    * Built once per documents version and session
    * ([[graft.Artifacts.memo]]).
    * Returns (index dir, accumulated candidate-pairs dir). */
  private[graft] def streamDedupIndexIngest(
      s: SparkSession, dir: String): (String, String) =
    graft.Artifacts.memo("streamDedupIndex", dir, s,
        s"$dir/documents.parquet") {
      import graft.text.TextOps
      val split = graft.TempDirs.create("graft_docs_split")
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .repartition(3)
        .write.mode("overwrite").parquet(split)
      val table = graft.TempDirs.create("graft_dedup_index")
      val candsDir = graft.TempDirs.create("graft_dedup_cands")
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      @volatile var indexNonEmpty = false
      runToCompletion(s.readStream.schema(docsSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(split)) { (batch, batchId) =>
        // band the batch once; both consumers below reuse the tiny result
        val bands = batch.select(col("doc_id"),
          posexplode(TextOps.minhashBandsUdf(4, 4)(
            TextOps.shinglesUdf(3)(col("text")))).as(Seq("band", "key")))
          .localCheckpoint(true)
        val intra = bands.as("a")
          .join(broadcast(bands.as("b")), Seq("band", "key"))
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        val cands = if (!indexNonEmpty) intra else {
          s.read.parquet(table).select(col("band"), col("key"), col("doc_id")).as("c")
            .join(broadcast(bands.as("d")), Seq("band", "key"))
            .select(least(col("c.doc_id"), col("d.doc_id")).as("i"),
              greatest(col("c.doc_id"), col("d.doc_id")).as("j"))
            .union(intra)
        }
        // RETRY-IDEMPOTENT delta append: each batch owns a deterministic
        // batch=<id> subpath written with overwrite — a foreachBatch
        // retry after a partial failure replaces its own rowset instead
        // of double-appending into the dir-union (which would turn the
        // index into a multiset and fail the index_equals_batch pin).
        // Readers see the same dir-union semantics via partition
        // discovery and just drop the synthetic `batch` column.
        cands.distinct().write.mode("overwrite")
          .parquet(s"$candsDir/batch=$batchId")
        // delta-rowset append: the batch's bands land as a new rowset;
        // the probe above deliberately read the index as it stood
        // pre-append
        bands.write.mode("overwrite").parquet(s"$table/batch=$batchId")
        indexNonEmpty = true
      }
      if (!indexNonEmpty) sys.error("stream_dedup_index: no micro-batch ran")
      (table, candsDir)
    }

  def queries: Map[String, QueryDef] = Map(
    // Stream Load analogue: micro-batch ingest through foreachBatch into
    // partitioned parquet (atomic per batch), then read-back stats.
    "stream_ingest" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        parquetSink(eventStream(s, dir)
            .select($"event_id", $"event_type", $"value"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming -> EXTERNAL RDBMS sink: each micro-batch appends to a JDBC
    // table through Spark's distributed JDBC writer inside foreachBatch —
    // the standard shape for serving stream results to an operational
    // database (Doris's mysql-protocol result delivery / EXPORT path).
    // Embedded Derby plays the external DB (same fixture as scan_jdbc; no
    // external service). The read-back + aggregate closes the loop so the
    // DuckDB oracle checks the stream -> JDBC -> query round trip
    // end-to-end. Exactly-once is the canonical foreachBatch contract:
    // each batch carries its batchId and is DELETE-then-INSERTed, so a
    // micro-batch retried after a transient failure replaces its own rows
    // instead of double-appending (a fresh DB per call only guards
    // cross-run duplication, not intra-run retries).
    "stream_jdbc_sink" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val db = graft.TempDirs.create("graft_derbysink") + "/db"
        val url = s"jdbc:derby:$db;create=true"
        runToCompletion(eventStream(s, dir)
            .select($"event_id", $"event_type", $"value"))(
          jdbcIdempotentAppend(url, _, _))
        s.read.jdbc(s"jdbc:derby:$db", "events_sink", new java.util.Properties)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // UNIQUE-key upsert on ingest: batches append (Doris versions), merge on
    // read = last-write-wins — identical to model_unique_key semantics.
    "stream_upsert" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
        parquetSink(eventStream(s, dir)
            .select($"user_id", $"event_id", $"event_type", $"value", $"ts"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"user_id", $"event_type".as("last_type"), $"value".as("last_value"))
          .orderBy($"user_id")
      },
      """SELECT user_id, event_type AS last_type, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                   ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // AGGREGATE-key incremental aggregation on ingest (Doris aggregate-key
    // merge): streaming groupBy in update mode — each micro-batch emits only
    // the keys it touched; the sink merges last-write-wins per key.
    "stream_agg" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val agg = eventStream(s, dir)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("sum_value"),
            max($"event_id").as("max_event"))
        upsert(agg, Seq("user_id", "event_type"))
          .orderBy($"user_id", $"event_type")
      },
      """SELECT user_id, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value, max(event_id) AS max_event
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Stream-static join (dimension enrichment on ingest — the most common
    // production streaming join): the static nation dim broadcasts; every
    // micro-batch joins map-side with no stream-side state at all, then the
    // enriched stream aggregates in update mode.
    "stream_join_static" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val dim = Tables.nation(s, dir)
        val enriched = eventStream(s, dir)
          .withColumn("nk", pmod($"user_id", lit(25)).cast("int"))
          .join(broadcast(dim), $"nk" === $"n_nationkey")
        val agg = enriched.groupBy($"n_name")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
        upsert(agg, Seq("n_name"))
          .orderBy($"n_name")
      },
      """SELECT n_name, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Stream-stream inner join with a time-range bound: both sides carry
    // watermarks and the range condition caps join state (events outside
    // |Δts| <= 1 min age out of the state store) — the only production-valid
    // spelling of a stream-stream join at 100 TB. Matches emit as they
    // arrive (inner join doesn't hold output for the watermark), so the
    // bounded source drains in one pass; event_id is unique so each event
    // matches exactly itself and the batch oracle is the plain aggregate.
    "stream_stream_join" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val a = eventStream(s, dir)
          .select($"event_id", $"ts", $"event_type", $"value")
          .withWatermark("ts", "1 hour")
        val b = eventStream(s, dir)
          .select($"event_id".as("eid2"), $"ts".as("ts2"))
          .withWatermark("ts2", "1 hour")
        val joined = a.join(b,
          $"event_id" === $"eid2" &&
            $"ts2" >= $"ts" - expr("interval 1 minute") &&
            $"ts2" <= $"ts" + expr("interval 1 minute"))
          // project to the read-back's columns BEFORE the sink write
          // (guide §2.3): the matched event_id/ts/ts2 never leave the join
          .select($"event_type", $"value")
        // inner join: matches emit in the data batch itself; the trailing
        // no-data flush batch only evicts state — skip it (r21)
        parquetSink(joined, flush = false)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Stream-stream LEFT OUTER join: matched rows emit like the inner join,
    // but an UNMATCHED left row can only emit once the watermark proves no
    // right row can still arrive inside the time bound — the null extension
    // is a watermark-driven state eviction, not a batch-shape concept.
    // Bounded-source caveat: the tail's unmatched rows would wait forever
    // for that proof, so the sentinel row (eventStream(withSentinel)) pushes
    // the closing watermark past all real data and the final no-data batch
    // flushes them — the same bounded-replay trick the append-mode window
    // keys use; an unbounded production stream needs none of this. The right
    // side keeps only event_id % 3 == 0 so matched and unmatched rows
    // coexist in every event_type group, making the oracle a FILTERed
    // aggregate over the plain batch table.
    //
    // PUSHDOWN TRAP (measured, 9 tail rows lost): any pre-join selection on
    // a NON-time column ends up BELOW the EventTimeWatermark node — a
    // .filter above withWatermark is pushed under it (the predicate doesn't
    // reference the event-time column), and a single-side predicate inside
    // the join condition is likewise pushed into the branch (legal for the
    // right side of a left outer) — so it eats the sentinel before the
    // watermark collector sees it and the closing watermark stops at
    // max(real ts) − delay, stranding every unmatched row of the last
    // window in state forever. The robust bounded-replay rule: every
    // pre-join selection must be SENTINEL-INCLUSIVE (here pmod(eid2,3)=0
    // OR eid2 < 0), letting the sentinel reach the watermark stats no
    // matter where Catalyst lands the filter. The sentinel pair then meets
    // itself in the join (-1 = -1, same ts) and emits one matched row,
    // which the event_id >= 0 read-back filter removes.
    "stream_stream_left" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val a = eventStream(s, dir, withSentinel = true)
          .select($"event_id", $"ts", $"event_type", $"value")
          .withWatermark("ts", "1 hour")
        val b = eventStream(s, dir, withSentinel = true)
          .select($"event_id".as("eid2"), $"ts".as("ts2"))
          .withWatermark("ts2", "1 hour")
          .filter(pmod($"eid2", lit(3)) === 0 || $"eid2" < 0)
        val joined = a.join(b,
          $"event_id" === $"eid2" &&
            $"ts2" >= $"ts" - expr("interval 1 minute") &&
            $"ts2" <= $"ts" + expr("interval 1 minute"),
          "left_outer")
          // project to the read-back's columns before the sink (§2.3);
          // the flush batch stays ON — unmatched rows emit there
          .select($"event_id", $"event_type", $"value", $"eid2")
        parquetSink(joined)
          .filter($"event_id" >= 0)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            count($"eid2").as("n_matched"),
            round(sum(when($"eid2".isNotNull, $"value").otherwise(0.0)), 2)
              .as("matched_value"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(*) AS n,
        |  count(*) FILTER (WHERE event_id % 3 = 0) AS n_matched,
        |  round(coalesce(sum(value) FILTER (WHERE event_id % 3 = 0), 0), 2)
        |    AS matched_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Stream-stream FULL OUTER join — all three emission paths at once:
    // matched rows emit immediately, left-only rows (non-error types with
    // event_id % 3 != 0) and right-only rows (error types with
    // event_id % 3 == 0) each null-extend once the watermark proves no
    // counterpart can arrive. Both pre-join selections are
    // sentinel-inclusive (see stream_stream_left's pushdown-trap note);
    // the sentinels match each other and are dropped at read-back.
    // Error events with event_id % 3 != 0 are in NEITHER side and must
    // not appear — the oracle's WHERE pins that.
    "stream_stream_full" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val a = eventStream(s, dir, withSentinel = true)
          .select($"event_id", $"ts", $"event_type", $"value")
          .withWatermark("ts", "1 hour")
          .filter($"event_type" =!= "error" || $"event_id" < 0)
        val b = eventStream(s, dir, withSentinel = true)
          .select($"event_id".as("eid2"), $"ts".as("ts2"))
          .withWatermark("ts2", "1 hour")
          .filter(pmod($"eid2", lit(3)) === 0 || $"eid2" < 0)
        val joined = a.join(b,
          $"event_id" === $"eid2" &&
            $"ts2" >= $"ts" - expr("interval 1 minute") &&
            $"ts2" <= $"ts" + expr("interval 1 minute"),
          "full_outer")
          // project to the read-back's columns before the sink (§2.3);
          // the flush batch stays ON — null-extensions emit there
          .select($"event_id", $"event_type", $"value", $"eid2")
        parquetSink(joined)
          .filter(coalesce($"event_id", $"eid2") >= 0)
          .groupBy(coalesce($"event_type", lit("(right-only)")).as("side"))
          .agg(count(lit(1)).as("n"),
            count($"eid2").as("n_right"),
            round(sum(coalesce($"value", lit(0.0))), 2).as("left_value"))
          .orderBy($"side")
      },
      """WITH c AS (
        |  SELECT CASE WHEN event_type <> 'error' THEN event_type END AS lt,
        |         event_id % 3 = 0 AS r, value
        |  FROM events)
        |SELECT coalesce(lt, '(right-only)') AS side,
        |  count(*) AS n,
        |  count(*) FILTER (WHERE r) AS n_right,
        |  round(coalesce(sum(value) FILTER (WHERE lt IS NOT NULL), 0), 2)
        |    AS left_value
        |FROM c WHERE lt IS NOT NULL OR r
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Tumbling window aggregate (1 hour).
    "stream_tumble" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val agg = eventStream(s, dir)
          .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
          .select(date_format($"w.start", "yyyy-MM-dd HH:00").as("win_start"),
            $"event_type", $"n", $"total_value")
        upsert(agg, Seq("win_start", "event_type"))
          .orderBy($"win_start", $"event_type")
      },
      """SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:00') AS win_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Sliding window aggregate (2 hours every 1 hour): each event lands in 2
    // windows — oracle replays the expansion with unnest.
    "stream_slide" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val agg = eventStream(s, dir)
          .groupBy(window($"ts", "2 hours", "1 hour").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(date_format($"w.start", "yyyy-MM-dd HH:00").as("win_start"), $"n")
        upsert(agg, Seq("win_start"))
          .orderBy($"win_start")
      },
      """SELECT strftime(ws, '%Y-%m-%d %H:00') AS win_start, count(*) AS n
        |FROM (SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
        |                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS ws
        |      FROM events) t
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Session windows (30-minute gap) per user.
    "stream_session" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // Spark rejects update output mode for session-window aggs — append
        // mode (finalized sessions only) + sentinel watermark push instead.
        val agg = eventStream(s, dir, withSentinel = true)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
          .agg(count(lit(1)).as("n_events"))
          .select($"user_id", unix_micros($"w.start").as("session_start_us"), $"n_events")
        parquetSink(agg).drop("_batch")
          .filter($"user_id" >= 0)
          .orderBy($"user_id", $"session_start_us")
      },
      """WITH g AS (SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL '30 minutes' OR
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |sess AS (SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
        |  count(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin),

    // Dedup-on-ingest: the landing dir delivers the same file twice (the
    // at-least-once/retry case every real ingest pipeline has);
    // dropDuplicatesWithinWatermark drops the replays while keeping the
    // dedup state WATERMARK-BOUNDED — at 100 TB an unbounded dropDuplicates
    // state is the thing that kills the job, so the bounded variant is the
    // only production-valid spelling.
    "stream_dedup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val deduped = eventStream(s, dir, copies = 2)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select($"event_type", $"value")
        // dropDuplicatesWithinWatermark is a row filter — every surviving
        // row emits in its own data batch; the no-data flush batch only
        // evicts dedup state, so it is skipped (r21)
        parquetSink(deduped, flush = false)
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total_value"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Watermarked windowed aggregate: append mode + sentinel flush — each
    // window is emitted exactly once when the watermark passes it, so the
    // read-back needs no merge (late-drop behavior is exercised with
    // MemoryStream in ScalaTest).
    "stream_watermark" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val agg = eventStream(s, dir, withSentinel = true)
          .withWatermark("ts", "1 hour")
          .groupBy(window($"ts", "6 hours").as("w"))
          .agg(count(lit(1)).as("n"))
          .select(date_format($"w.start", "yyyy-MM-dd HH:00").as("win_start"), $"n")
        parquetSink(agg).drop("_batch")
          .filter($"win_start" < "2099")
          .orderBy($"win_start")
      },
      """SELECT strftime(to_timestamp(floor(epoch(ts) / 21600) * 21600), '%Y-%m-%d %H:00') AS win_start,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Spark 4 transformWithState (the new arbitrary-state API): per-user
    // running totals through a typed StatefulProcessor + ValueState, on the
    // RocksDB state store provider (required by the API; conf is set before
    // the stream starts and restored after it stops, so no other key sees
    // it). Update mode emits the running totals each batch; the read-back
    // keeps the last emission per user.
    "stream_tws" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Confs.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val ev = eventStream(s, dir)
            .select($"user_id", $"value").as[(Long, Double)]
          val totals = ev.groupByKey(_._1)
            .transformWithState(new TwsTotals,
              org.apache.spark.sql.streaming.TimeMode.None(),
              OutputMode.Update())
            .toDF("user_id", "n", "sum_value")
          upsert(totals, Seq("user_id"))
            .select($"user_id", $"n", round($"sum_value", 2).as("total_value"))
            .orderBy($"user_id")
        }
      },
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Stateful per-user funnel via flatMapGroupsWithState (view->click->
    // purchase, 12h) — the streaming twin of agg_window_funnel; equality of
    // the two histograms is asserted in ScalaTest. State is bounded: events
    // prune at watermark − 12h and idle users' event lists evict on
    // event-time timeout (see funnelStep/funnelLevels above).
    "stream_funnel" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = eventStream(s, dir)
          .filter($"event_type".isin("view", "click", "purchase"))
          .withWatermark("ts", "1 hour")
          .select($"user_id", $"ts", unix_micros($"ts").as("ts_us"),
            when($"event_type" === "view", 1)
              .when($"event_type" === "click", 2).otherwise(3).as("step"))
          .as[(Long, java.sql.Timestamp, Long, Int)]
        val levels = funnelLevels(ev)
        // update-mode fMGWS: levels emit in data batches; the no-data
        // flush batch only fires timeouts (which emit nothing here) (r21)
        upsert(levels, Seq("user_id"), flush = false)
          .groupBy($"funnel_level")
          .agg(count(lit(1)).as("n_users"))
          .orderBy($"funnel_level")
      },
      // same cascaded-EXISTS oracle as the batch twin agg_window_funnel: the
      // stream's final state after draining the bounded source must equal
      // the batch histogram (also asserted as spark-vs-spark in ScalaTest)
      """WITH u AS (SELECT DISTINCT user_id FROM events
        |           WHERE event_type IN ('view', 'click', 'purchase')),
        |lvl AS (SELECT user_id,
        |  CASE
        |    WHEN EXISTS (SELECT 1 FROM events v, events c, events p
        |      WHERE v.user_id = u.user_id AND c.user_id = u.user_id
        |        AND p.user_id = u.user_id AND v.event_type = 'view'
        |        AND c.event_type = 'click' AND p.event_type = 'purchase'
        |        AND epoch_us(c.ts) > epoch_us(v.ts)
        |        AND epoch_us(p.ts) > epoch_us(c.ts)
        |        AND epoch_us(p.ts) <= epoch_us(v.ts) + 43200000000) THEN 3
        |    WHEN EXISTS (SELECT 1 FROM events v, events c
        |      WHERE v.user_id = u.user_id AND c.user_id = u.user_id
        |        AND v.event_type = 'view' AND c.event_type = 'click'
        |        AND epoch_us(c.ts) > epoch_us(v.ts)
        |        AND epoch_us(c.ts) <= epoch_us(v.ts) + 43200000000) THEN 2
        |    WHEN EXISTS (SELECT 1 FROM events v
        |      WHERE v.user_id = u.user_id AND v.event_type = 'view') THEN 1
        |    ELSE 0 END AS funnel_level
        |  FROM u)
        |SELECT funnel_level, count(*) AS n_users
        |FROM lvl GROUP BY 1 ORDER BY 1""".stripMargin),

    // AGGREGATE-key table with SKETCH value columns maintained on streaming
    // ingest — Doris's routine-load-into-AGGREGATE-key pattern where value
    // columns are HLL_UNION / BITMAP_UNION states merged per load batch
    // [doris: fe/.../load/routineload/RoutineLoadJob.java;
    //  be/src/olap/aggregate_func.cpp]. Each micro-batch pre-aggregates its
    // rows into per-key sketch PARTIALS, then merges them with the standing
    // table (hll_union_agg / bitmap_union over the two-sided union) and
    // writes a new table version — per-batch cost scales with |keys| + the
    // batch, never the table history, and the standing table stays O(keys)
    // rows at any ingest volume. Reads serve exact distincts from the
    // bitmap and estimates from the HLL without touching raw rows. The
    // oracle replays the exactly-deterministic columns (row counts + bitmap
    // distinct = exact distinct); the HLL estimate is statistical, so its
    // accuracy bound and the across-restart re-aggregability contract live
    // in StreamingSpec, not the oracle hash (the ADVICE-r10 rule).
    "stream_agg_sketch" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val BF = graft.functions.BitmapFunctions
        val table = sketchIngest(s, dir)
        s.read.parquet(table)
          .select($"event_type", BF.bitmap_count($"user_bm").as("n_users"),
            $"n".as("n_events"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Rollup maintenance UNDER streaming ingest: the serving rollup of the
    // events table is kept fresh by the same delta-merge rollup_incremental
    // proves in batch (rollup(base ∪ delta) = re-agg(rollup(base) ∪
    // rollup(delta))), applied per micro-batch in foreachBatch — Doris
    // maintains rollups transactionally on every load
    // [doris: fe/.../alter/MaterializedViewHandler.java]. After ingest the
    // final rollup version registers with RollupRewrite and the returned
    // query aggregates THE BASE events scan — the optimizer retargets it
    // onto the O(event_types)-row rollup (StreamingSpec asserts the
    // rewritten scan; the oracle recomputes from the base table).
    "stream_rollup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        streamRollupIngest(s, dir)
        graft.plans.RollupRewrite.install(s)
        Tables.events(s, dir)
          .groupBy($"event_type")
          .agg(round(sum($"value"), 2).as("sum_value"),
            count(lit(1)).as("n"),
            round(min($"value"), 2).as("min_value"),
            round(max($"value"), 2).as("max_value"),
            round(avg($"value"), 4).as("avg_value"))
          .orderBy($"event_type")
      },
      """SELECT event_type, round(sum(value), 2) AS sum_value,
        |  count(*) AS n, round(min(value), 2) AS min_value,
        |  round(max(value), 2) AS max_value,
        |  round(avg(value), 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // JOIN-MV maintenance under streaming ingest — the multi-table twin of
    // stream_rollup, closing the MTMV lifecycle: micro-batches of events
    // enrich map-side against the broadcast customer dim and delta-merge
    // into a pre-joined aggregate (streamJoinMvIngest); the final version
    // registers with RollupRewrite, and the returned query is a PLAIN
    // batch join+aggregate over the BASE tables that the optimizer
    // transparently retargets onto the streamed MV (StreamingSpec asserts
    // the served plan scans the MV and contains no join; the oracle
    // recomputes from raw events ⋈ customer). At 100 TB the serving cost
    // is |mktsegment × event_type| rows however much stream history the
    // MV has absorbed. Events side reads only (user_id, value) so the
    // scan stays an attr-only projection the MV matcher recognizes.
    "stream_join_mv" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        streamJoinMvIngest(s, dir)
        graft.plans.RollupRewrite.install(s)
        s.read.parquet(s"$dir/events.parquet").select($"user_id", $"value")
          .join(s.read.parquet(s"$dir/customer.parquet")
              .select($"c_custkey", $"c_mktsegment"),
            $"user_id" === $"c_custkey")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"),
            round(sum($"value"), 2).as("total_value"),
            round(avg($"value"), 2).as("avg_value"))
          .orderBy($"c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(value), 2) AS total_value,
        |  round(avg(value), 2) AS avg_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Streaming-maintained MinHash dedup index (streamDedupIndexIngest):
    // the one pipeline shape the streaming and dedup families compose at
    // 100 TB — documents stream in, the band-bucket index is maintained
    // per micro-batch, candidates accrue batch-vs-index. Oracled like
    // llm_dedup_minhash (per-threshold recall over DuckDB-replayable exact
    // truth pairs: the accumulated streaming candidates must catch every
    // jaccard>=0.9 pair) plus two equality booleans the oracle pins true:
    // the union of per-batch candidate sets equals the batch-built
    // candidate set, and the final maintained index equals the batch-built
    // band table (both driver-contract-sized comparisons over O(pairs) /
    // O(docs×bands) rows).
    "stream_dedup_index" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (indexPath, candsDir) = streamDedupIndexIngest(s, dir)
        // r21: each equality is ONE job (multisetEqual) instead of two
        // exceptAll actions per comparison, and the batch-built reference
        // band table serves from the shared checkpoint (bandSigsCached —
        // the jaccard pair-table economics) instead of re-running the
        // banding UDF pass twice more here
        val streamedCands =
          s.read.parquet(candsDir).select($"i", $"j").distinct()
        val batchCands = graft.operators.LlmDedup.minhashCandidates(s, dir)
        val candsEqual = multisetEqual(streamedCands, batchCands, Seq("i", "j"))
        val streamedIndex =
          s.read.parquet(indexPath).select($"doc_id", $"band", $"key")
        val batchIndex = graft.operators.LlmDedup.bandSigsCached(s, dir)
        val indexEqual =
          multisetEqual(streamedIndex, batchIndex, Seq("doc_id", "band", "key"))
        val truth = graft.operators.LlmDedup.jaccardPairsAuto(s, dir, 0.6)
          .filter($"jaccard" >= 0.9).select($"i", $"j", $"jaccard")
        val marked = truth
          .join(streamedCands.withColumn("c", lit(1)), Seq("i", "j"), "left")
        val th = Seq(0.9, 0.95).toDF("threshold")
        th.join(marked, marked("jaccard") >= th("threshold"), "left")
          .groupBy($"threshold")
          .agg(count($"i").as("n_truth"), count($"c").as("n_caught"))
          // recall projected as the banding-contract bound (same rationale
          // as llm_dedup_minhash: probabilistic recall is the contract;
          // the exact caught-count stays pinned in LlmSpec)
          .select($"threshold", $"n_truth",
            ($"n_caught" >= floor((lit(1.0) -
              pow(lit(1.0) - pow($"threshold", 4.0), 4.0)) * $"n_truth"))
              .as("recall_ok"))
          .withColumn("cands_equal_batch", lit(candsEqual))
          .withColumn("index_equals_batch", lit(indexEqual))
          .orderBy($"threshold")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |      FROM pairs pr JOIN sz x ON pr.i = x.doc_id
        |                    JOIN sz y ON pr.j = y.doc_id
        |      WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.9),
        |th AS (SELECT CAST(x AS DOUBLE) AS threshold
        |       FROM (VALUES (0.90), (0.95)) v(x))
        |SELECT threshold, count(p.i) AS n_truth, TRUE AS recall_ok,
        |  true AS cands_equal_batch, true AS index_equals_batch
        |FROM th LEFT JOIN p ON p.jaccard >= th.threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin)
  )
}
