package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{BitmapFunctions => BF, EventSeqAggregators => ESA,
  NativeAggregates => NA, SketchScalars => SS}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sketch & behavioral aggregates (SURVEY.md §2.4 custom rows, M4): NDV/HLL,
  * RoaringBitmap exact-distinct, TOPN, RETENTION, WINDOW_FUNNEL,
  * SEQUENCE_MATCH.
  *
  * HLL maps to Spark's built-in DataSketches HLL functions (hll_sketch_agg /
  * hll_union_agg / hll_sketch_estimate) — re-aggregable sketch columns exactly
  * like Doris' HLL_UNION family ([doris: be/src/olap/hll.cpp]). Bitmap and
  * event-sequence aggs are custom (graft.functions.*).
  *
  * Oracle notes: estimates (HLL/NDV) are not bit-exact across engines, so
  * those keys are rows-only checked here and bound-tested in ScalaTest;
  * bitmap ops are EXACT distinct, so they oracle against count(DISTINCT ...)
  * set algebra.
  */
object Sketches {

  def queries: Map[String, QueryDef] = Map(
    // NDV / approx_count_distinct (HLL++). The estimate itself is
    // engine-internal (no cross-engine bit-equality), so the driver hashes
    // the BOUND, not the estimate: ndv_within_5pct pins |ndv−exact|/exact
    // <= 0.05 (HLL++ at rsd=0.02 measures <= 1.1% on all SFs — 5× margin,
    // and the sketch is deterministic per dataset so the boolean can't
    // flake). exact_parts is DuckDB-replayable, so a regression in either
    // the estimate or the exact path breaks the hash.
    "agg_ndv" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            approx_count_distinct($"l_partkey", 0.02).as("ndv"),
            countDistinct($"l_partkey").as("exact_parts"))
          .select($"l_returnflag", $"exact_parts",
            (abs($"ndv" - $"exact_parts") / $"exact_parts" <= 0.05)
              .as("ndv_within_5pct"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  true AS ndv_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // Re-aggregable HLL sketch column: per-group sketches, unioned and
    // estimated at a coarser level (HLL_UNION / HLL_UNION_AGG / HLL_CARDINALITY).
    // The sketch bytes and the estimate are engine-internal, but the
    // re-aggregation CONTRACT is oracle-pinnable: the estimate produced by
    // union-merging per-(flag,status) sketches at the coarser flag level
    // must sit within 5% of the exact distinct count (measured <= 1.2% on
    // all SFs; DataSketches HLL is deterministic per dataset, so the
    // boolean can't flake). exact_supps is DuckDB-replayable.
    "agg_hll_sketch" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val perFlag = Tables.lineitem(s, dir)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(hll_sketch_agg($"l_suppkey").as("sketch"))
        val est = perFlag
          .groupBy($"l_returnflag")
          .agg(hll_sketch_estimate(hll_union_agg($"sketch")).as("est_supps"))
        val exact = Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_suppkey").as("exact_supps"))
        est.join(exact, Seq("l_returnflag"))
          .select($"l_returnflag", $"exact_supps",
            (abs($"est_supps" - $"exact_supps") / $"exact_supps" <= 0.05)
              .as("union_est_within_5pct"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS exact_supps,
        |  true AS union_est_within_5pct
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // PERCENTILE_APPROX. The approximate value is engine-internal, but its
    // RANK is checkable in-engine and the check is oracle-pinnable: the
    // fraction of group values <= the approx p-quantile must sit within
    // 0.01 of p (the GK sketch at accuracy=1000 guarantees rank error
    // <= 1/1000 — 10× margin; measured <= 0.001 on all SFs, deterministic
    // per dataset). n_rows is DuckDB-replayable, so the driver hash covers
    // both the group shape and the rank bound.
    "agg_percentile_approx" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // the sketch is one-pass; only the rank-check ORACLE needs a second
        // look at the data, so both passes share one materialized 2-column
        // projection. localCheckpoint, NOT .cache(): an unpersisted cache
        // entry outlives the key and lets CacheManager rewrite any later
        // plan containing this subtree (cross-key fingerprint
        // nondeterminism), while a checkpoint is private to this plan.
        val narrow = Tables.lineitem(s, dir)
          .select($"l_returnflag", $"l_extendedprice").localCheckpoint(true)
        // one GK buffer answers both quantiles (as agg_percentile's array)
        val approx = narrow
          .groupBy($"l_returnflag")
          .agg(percentile_approx($"l_extendedprice", array(lit(0.5), lit(0.95)),
            lit(1000)).as("ps"))
        val (p50a, p95a) = (element_at($"ps", 1), element_at($"ps", 2))
        narrow.join(approx, Seq("l_returnflag"))
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            (abs(sum(when($"l_extendedprice" <= p50a, 1L).otherwise(0L))
              / count(lit(1)) - 0.5) <= 0.01).as("p50_rank_ok"),
            (abs(sum(when($"l_extendedprice" <= p95a, 1L).otherwise(0L))
              / count(lit(1)) - 0.95) <= 0.01).as("p95_rank_ok"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag, count(*) AS n_rows,
        |  true AS p50_rank_ok, true AS p95_rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // BITMAP_UNION_COUNT == exact count(distinct): oracled.
    "agg_bitmap_distinct" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        Tables.events(s, dir)
          .groupBy($"event_type")
          .agg(BF.bitmap_union_count($"user_id").as("nd_users"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(DISTINCT user_id) AS nd_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Re-aggregable bitmap column (AGGREGATE-key BITMAP_UNION shape): build
    // per-(event_type, hour) bitmaps once, then merge-on-read to per-type
    // exact distinct WITHOUT touching raw rows — at 100 TB the fine-grained
    // bitmaps are the stored rollup and the second level is cheap. Exact, so
    // fully oracled against count(DISTINCT).
    "agg_bitmap_rollup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        val fine = Tables.events(s, dir)
          .groupBy($"event_type", date_trunc("hour", $"ts").as("h"))
          .agg(BF.bitmap_union($"user_id").as("bm"))
        fine.groupBy($"event_type")
          .agg(
            BF.bitmap_count(NA.bitmap_union_binary($"bm")).as("nd_users"),
            count(lit(1)).as("n_hours"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(DISTINCT user_id) AS nd_users,
        |  count(DISTINCT date_trunc('hour', ts)) AS n_hours
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Bitmap set algebra across segments (Doris orthogonal_bitmap_
    // intersect_count / audience segmentation): ONE shuffle builds the
    // per-segment audience bitmaps; AND/ANDNOT on the merged bitmaps then
    // answer "did both / only A" questions without touching rows again. At
    // 100 TB the bitmaps are the precomputed audience index (aggregate-key
    // table with bitmap_union columns) and every boolean audience query is
    // set algebra over a handful of KB-sized bitmaps. Exact, oracled via
    // INTERSECT/EXCEPT.
    // Orthogonal bitmap aggregation (Doris orthogonal_bitmap_union_count
    // [doris: upstream Doris docs, orthogonal BITMAP functions]): at true
    // scale a SINGLE bitmap per group is the failure mode — 10^9 distinct
    // ids in one RoaringBitmap is a multi-hundred-MB aggregation buffer
    // that must serialize through every partial merge. The orthogonal fix
    // bucketizes the ID SPACE (pmod(user_id, B)) so per-(group, bucket)
    // bitmaps partition the ids: no two buckets can share an id, so the
    // cross-bucket merge needs no bitmap OR at all — cardinalities simply
    // ADD. The expensive exact-distinct state stays bounded per bucket
    // (B× smaller, merged in parallel across the cluster), and the final
    // pass moves only (group, bucket, count) longs, never bitmap bytes.
    // This mirrors Doris's colocate-by-distribution-key orthogonal bitmap
    // pattern; in this engine the same bucketing doubles as the shuffle
    // key, so partial merge parallelism scales with B, not with group
    // count. Exact at every SF, oracled against count(DISTINCT) replayed
    // per bucket.
    "agg_bitmap_orthogonal" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        val buckets = Tables.events(s, dir)
          .groupBy($"event_type", pmod($"user_id", lit(16)).as("bkt"))
          .agg(BF.bitmap_union($"user_id").as("bm"))
        buckets
          .select($"event_type", $"bkt", BF.bitmap_count($"bm").as("c"))
          .groupBy($"event_type")
          .agg(
            sum($"c").as("nd_users"),
            count(lit(1)).as("n_buckets"),
            max($"c").as("max_bucket_card"))
          .orderBy($"event_type")
      },
      """WITH b AS (
        |  SELECT event_type, user_id % 16 AS bkt,
        |    count(DISTINCT user_id) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(sum(c) AS BIGINT) AS nd_users,
        |  count(*) AS n_buckets,
        |  CAST(max(c) AS BIGINT) AS max_bucket_card
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin),

    "agg_bitmap_intersect" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        val bm = Tables.events(s, dir)
          .filter($"event_type".isin("view", "purchase"))
          .groupBy($"event_type")
          .agg(BF.bitmap_union($"user_id").as("bm"))
        bm.agg(
            max(when($"event_type" === "view", $"bm")).as("bv"),
            max(when($"event_type" === "purchase", $"bm")).as("bp"))
          .select(
            BF.bitmap_count($"bv").as("n_view"),
            BF.bitmap_count($"bp").as("n_purchase"),
            BF.bitmap_count(BF.bitmap_and($"bv", $"bp")).as("n_both"),
            BF.bitmap_count(BF.bitmap_andnot($"bv", $"bp")).as("n_view_only"))
      },
      """SELECT
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'view') AS n_view,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'purchase') AS n_purchase,
        |  (SELECT count(*) FROM
        |    (SELECT user_id FROM events WHERE event_type = 'view'
        |     INTERSECT
        |     SELECT user_id FROM events WHERE event_type = 'purchase') t)
        |    AS n_both,
        |  (SELECT count(*) FROM
        |    (SELECT user_id FROM events WHERE event_type = 'view'
        |     EXCEPT
        |     SELECT user_id FROM events WHERE event_type = 'purchase') t)
        |    AS n_view_only""".stripMargin),

    // QUANTILE_STATE analogue #2 — the MERGEABLE kind: per-(flag, status) GK
    // summaries, quantile_union'd to per-flag, then QUANTILE_PERCENT. The GK
    // error bound is asserted vs exact percentile in ScalaTest; estimates are
    // engine-specific -> rows-only here.
    // The GK summary bytes are engine-internal, but the split-merge
    // contract is oracle-pinnable by RANK (same trick as
    // agg_percentile_approx): the estimate from union-merging
    // per-(flag,status) states at the flag level must have rank error
    // <= 2*eps = 0.02 (engine eps 0.01 per summary + one eps headroom for
    // the union — the bound SketchSpec proves directly; measured <= 0.0095
    // on all SFs, deterministic per dataset). n_rows is DuckDB-replayable.
    // The 3-row estimate side is broadcast on purpose. Left to the planner,
    // lineitem becomes the build side, and whole-stage codegen defers the
    // estimate side's deterministic quantile_percent projection into the
    // per-match loop: every joined row re-read its flag's state image. As
    // the build side, the estimate is computed once per flag.
    "agg_quantile_state" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        val fine = Tables.lineitem(s, dir)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(NA.to_quantile_state($"l_extendedprice").as("qs"))
        val est = fine.groupBy($"l_returnflag")
          .agg(NA.quantile_union($"qs").as("qs"))
          .select($"l_returnflag",
            SS.quantile_percent($"qs", lit(0.5)).as("p50_est"),
            SS.quantile_percent($"qs", lit(0.95)).as("p95_est"))
        Tables.lineitem(s, dir).join(broadcast(est), Seq("l_returnflag"))
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            (abs(sum(when($"l_extendedprice" <= $"p50_est", 1L).otherwise(0L))
              / count(lit(1)) - 0.5) <= 0.02).as("p50_rank_ok"),
            (abs(sum(when($"l_extendedprice" <= $"p95_est", 1L).otherwise(0L))
              / count(lit(1)) - 0.95) <= 0.02).as("p95_rank_ok"))
          .orderBy($"l_returnflag")
      },
      """SELECT l_returnflag, count(*) AS n_rows,
        |  true AS p50_rank_ok, true AS p95_rank_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),

    // HLL scalar spellings: hll_hash per row -> hll_union_agg merges them
    // (same lgConfigK as Spark's hll_sketch_agg); hll_cardinality estimates.
    // ScalaTest asserts exact equality with the one-shot hll_sketch_agg
    // path; the driver hash pins the exact count plus the 5% error bound
    // (measured <= 1.4% on all SFs, deterministic per dataset).
    "fn_hll_scalar" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val est = Tables.events(s, dir)
          .select($"event_type", SS.hll_hash($"user_id").as("h"),
            // VARCHAR spelling of hll_hash: same estimate over the string
            // domain (Doris hll_hash accepts both)
            SS.hll_hash_str(concat($"user_id".cast("string"), lit(":s")))
              .as("hs"))
          .groupBy($"event_type")
          .agg(SS.hll_cardinality(hll_union_agg($"h")).as("est_users"),
            SS.hll_cardinality(hll_union_agg($"hs")).as("est_users_str"))
        val exact = Tables.events(s, dir)
          .groupBy($"event_type")
          .agg(countDistinct($"user_id").as("exact_users"))
        est.join(exact, Seq("event_type"))
          .select($"event_type", $"exact_users",
            (abs($"est_users" - $"exact_users") / $"exact_users" <= 0.05)
              .as("est_within_5pct"),
            (abs($"est_users_str" - $"exact_users") / $"exact_users" <= 0.05)
              .as("est_str_within_5pct"),
            SS.hll_cardinality(SS.hll_empty()).as("n_empty"))
          .orderBy($"event_type")
      },
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  true AS est_within_5pct, true AS est_str_within_5pct,
        |  CAST(0 AS BIGINT) AS n_empty
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),

    // Bitmap set algebra on two audience bitmaps (signup vs purchase users):
    // AND/OR/XOR counts are exact and oracled against DuckDB set ops.
    "fn_bitmap" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        val ev = Tables.events(s, dir)
        val bitmaps = ev.agg(
          BF.bitmap_union(when($"event_type" === "signup", $"user_id")).as("bm_signup"),
          BF.bitmap_union(when($"event_type" === "purchase", $"user_id")).as("bm_purchase"))
        bitmaps.select(
          BF.bitmap_count($"bm_signup").as("n_signup"),
          BF.bitmap_count($"bm_purchase").as("n_purchase"),
          BF.bitmap_count(BF.bitmap_and($"bm_signup", $"bm_purchase")).as("n_and"),
          BF.bitmap_count(BF.bitmap_or($"bm_signup", $"bm_purchase")).as("n_or"),
          BF.bitmap_count(BF.bitmap_xor($"bm_signup", $"bm_purchase")).as("n_xor"),
          BF.bitmap_contains($"bm_signup", lit(1L)).cast("int").as("has_user1"),
          BF.bitmap_count(BF.bitmap_from_string(lit("1,2,3,2"))).as("n_parsed"),
          // explode_bitmap analogue: bitmap -> rows -> count round trip
          size(BF.bitmap_to_array($"bm_signup")).as("n_exploded"),
          // scalar long tail (audience analytics)
          BF.bitmap_count(BF.bitmap_andnot($"bm_signup", $"bm_purchase")).as("n_andnot"),
          BF.bitmap_has_all(BF.bitmap_or($"bm_signup", $"bm_purchase"), $"bm_signup")
            .cast("int").as("or_has_all_signup"),
          BF.bitmap_has_all($"bm_signup", $"bm_purchase").cast("int").as("signup_has_all_purchase"),
          BF.bitmap_min($"bm_signup").as("min_signup_user"),
          BF.bitmap_max($"bm_signup").as("max_signup_user"),
          BF.bitmap_count(BF.bitmap_subset_in_range($"bm_signup", lit(10L), lit(40L)))
            .as("n_in_10_40"),
          BF.bitmap_to_string(BF.bitmap_subset_limit($"bm_signup", lit(10L), lit(5L)))
            .as("first5_from_10"),
          BF.bitmap_count(BF.to_bitmap(lit(7L))).as("n_single"),
          BF.bitmap_has_any($"bm_signup", $"bm_purchase").cast("int")
            .as("signup_any_purchase"),
          BF.bitmap_count(BF.bitmap_not($"bm_purchase", $"bm_signup"))
            .as("n_purchase_only"))
      },
      """SELECT
        |  (SELECT count(DISTINCT user_id) FROM events WHERE event_type = 'signup') AS n_signup,
        |  (SELECT count(DISTINCT user_id) FROM events WHERE event_type = 'purchase') AS n_purchase,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
        |     INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') t) AS n_and,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
        |     UNION SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') t) AS n_or,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
        |     EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |     UNION
        |     (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |      EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')) t) AS n_xor,
        |  (SELECT CAST(count(*) > 0 AS INTEGER) FROM events
        |   WHERE event_type = 'signup' AND user_id = 1) AS has_user1,
        |  3 AS n_parsed,
        |  (SELECT CAST(count(DISTINCT user_id) AS INTEGER) FROM events
        |   WHERE event_type = 'signup') AS n_exploded,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
        |     EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') t) AS n_andnot,
        |  1 AS or_has_all_signup,
        |  (SELECT CAST(count(*) = 0 AS INTEGER) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |     EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'signup') t) AS signup_has_all_purchase,
        |  (SELECT min(user_id) FROM events WHERE event_type = 'signup') AS min_signup_user,
        |  (SELECT max(user_id) FROM events WHERE event_type = 'signup') AS max_signup_user,
        |  (SELECT count(DISTINCT user_id) FROM events
        |   WHERE event_type = 'signup' AND user_id >= 10 AND user_id < 40) AS n_in_10_40,
        |  (SELECT string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY user_id) FROM
        |    (SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'signup' AND user_id >= 10
        |     ORDER BY user_id LIMIT 5) t) AS first5_from_10,
        |  1 AS n_single,
        |  (SELECT CAST(count(*) > 0 AS INTEGER) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
        |     INTERSECT SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'purchase') t) AS signup_any_purchase,
        |  (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
        |     EXCEPT SELECT DISTINCT user_id FROM events
        |     WHERE event_type = 'signup') t) AS n_purchase_only""".stripMargin),

    // UDF/UDAF surface through SQL registration (SURVEY §2.13): the bitmap
    // layer exposed under Doris names via spark.udf.register, exercised from
    // a SQL string exactly as a Doris user would write it.
    "udf_sql_surface" -> QueryDef(
      (s, dir) => {
        graft.functions.BitmapFunctions.registerAll(s)
        Tables.events(s, dir).createOrReplaceTempView("v_events_udf")
        s.sql(
          """SELECT event_type,
            |  bitmap_count(bitmap_union(user_id)) AS nd_users,
            |  CAST(bitmap_contains(bitmap_union(user_id), 1L) AS INT) AS has_user1
            |FROM v_events_udf GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type,
        |  count(DISTINCT user_id) AS nd_users,
        |  CAST(count(CASE WHEN user_id = 1 THEN 1 END) > 0 AS INTEGER) AS has_user1
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // TOPN(col, k): exact top-k most frequent values per group, as Spark-first
    // composition (groupBy count -> ranked window -> ordered string_agg).
    "agg_topn_values" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val counts = Tables.events(s, dir)
          .groupBy($"event_type", $"user_id")
          .agg(count(lit(1)).as("c"))
        val ranked = counts.withColumn("rn",
          row_number().over(Window.partitionBy($"event_type")
            .orderBy($"c".desc, $"user_id".asc)))
        ranked.filter($"rn" <= 3)
          .groupBy($"event_type")
          .agg(array_join(
            transform(
              array_sort(collect_list(struct($"rn", $"user_id", $"c"))),
              x => concat(x.getField("user_id"), lit(":"), x.getField("c"))),
            ",").as("top_users"))
          .orderBy($"event_type")
      },
      """SELECT event_type,
        |  string_agg(CAST(user_id AS VARCHAR) || ':' || CAST(c AS VARCHAR), ','
        |             ORDER BY rn) AS top_users
        |FROM (
        |  SELECT event_type, user_id, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c DESC, user_id) AS rn
        |  FROM (SELECT event_type, user_id, count(*) AS c
        |        FROM events GROUP BY 1, 2) t
        |) r WHERE rn <= 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // TOPN as the native mergeable heavy-hitters counter (the actual Doris
    // TOPN internals, vs agg_topn_values' exact composition): map-side
    // SpaceSaving-style eviction, commutative count-map merge through the
    // shuffle, canonical collapse at eval. Capacity is SELF-SIZED from an
    // NDV estimate of the counted column (the corpus-derived-sizing pattern
    // llm_dedup_bloom uses): capacity > ndv ⇒ no eviction ever fires and
    // SpaceSaving counts are EXACT, so the exact SQL oracle applies at any
    // SF — a fixed 256 was exact at sf0.1 (1.5k users) and silently entered
    // the overestimate regime at sf1 (15k users), caught by the r11 sf1
    // sweep. The clamp at 2^20 is the honest 100 TB answer: past ~1M
    // distinct keys per group you are BUYING the approximate regime
    // (SpaceSaving's documented overestimates, bound asserted in
    // SketchSpec) in exchange for bounded memory — exactly Doris TOPN's
    // contract. The NDV probe is one cheap column-pruned aggregate scan,
    // the same stats lookup a warehouse planner does for free.
    "agg_topn_counter" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        NA.register(s)
        val ndv = Tables.events(s, dir)
          .agg(approx_count_distinct($"user_id", 0.02)).head.getLong(0)
        val cap = math.min(1 << 20, math.max(256L, 2L * ndv)).toInt
        Tables.events(s, dir)
          .groupBy($"event_type")
          .agg(NA.topn_counter($"user_id", 3, cap).as("top_users"))
          .orderBy($"event_type")
      },
      """SELECT event_type,
        |  string_agg(CAST(user_id AS VARCHAR) || ':' || CAST(c AS VARCHAR), ','
        |             ORDER BY rn) AS top_users
        |FROM (
        |  SELECT event_type, user_id, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c DESC, user_id) AS rn
        |  FROM (SELECT event_type, user_id, count(*) AS c
        |        FROM events GROUP BY 1, 2) t
        |) r WHERE rn <= 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // RETENTION(cond1, cond2, cond3): per-user gated booleans — Spark-first
    // composition with max(when(...)), no custom aggregate needed.
    "agg_retention" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        ev.groupBy($"user_id")
          .agg(
            max(($"event_type" === "signup").cast("int")).as("c1"),
            max(($"event_type" === "click").cast("int")).as("c2"),
            max(($"event_type" === "purchase").cast("int")).as("c3"))
          .select($"user_id",
            $"c1".as("r1"),
            ($"c1" * $"c2").as("r2"),
            ($"c1" * $"c3").as("r3"))
          .orderBy($"user_id")
      },
      """SELECT user_id,
        |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS r1,
        |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS r2,
        |  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    * max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS r3
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // WINDOW_FUNNEL(12 hours, view -> click -> purchase): per-user max step,
    // reported as a funnel histogram (12 h chosen so all three levels occur in
    // testdata). Oracled via cascaded-EXISTS SQL (level L iff an increasing
    // chain of L steps exists inside one 12 h window anchored at a view —
    // greedy-from-anchor and ∃-chain agree; testdata has no per-user µs ties,
    // so strict ts inequalities mirror the aggregator's sort order).
    "agg_window_funnel" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val steps = Map("view" -> 1, "click" -> 2, "purchase" -> 3)
        val ev = Tables.events(s, dir)
          .filter($"event_type".isin(steps.keys.toSeq: _*))
          .select($"user_id", unix_micros($"ts").as("ts_us"),
            when($"event_type" === "view", 1)
              .when($"event_type" === "click", 2)
              .otherwise(3).as("step"))
        ev.groupBy($"user_id")
          .agg(ESA.window_funnel(12L * 3600 * 1000000L, 3)($"ts_us", $"step").as("funnel_level"))
          .groupBy($"funnel_level")
          .agg(count(lit(1)).as("n_users"))
          .orderBy($"funnel_level")
      },
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

    // WINDOW_FUNNEL mode variants (Doris 'default' / 'deduplication' /
    // 'fixed' / 'increase'): one pass computes all four levels per user;
    // result = user histogram over the 4-tuple. Oracled: because the fixture
    // has no per-user ts ties (asserted in SketchSpec), ordering by ts alone
    // is total and each greedy per-anchor scan becomes window SQL —
    //  * default/increase: the ∃-chain cascade (ties absent ⇒ identical);
    //  * deduplication: the first view-or-click after the anchor must be a
    //    click (a view breaks, a purchase is skipped), then the first funnel
    //    event after that click must be a purchase;
    //  * fixed: the next one/two funnel events after the anchor must be
    //    exactly click then purchase (lead window functions).
    // Ordering invariants + an independent brute-force reference remain in
    // SketchSpec.
    "agg_window_funnel_modes" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val win = 12L * 3600 * 1000000L
        val ev = Tables.events(s, dir)
          .filter($"event_type".isin("view", "click", "purchase"))
          .select($"user_id", unix_micros($"ts").as("ts_us"),
            when($"event_type" === "view", 1)
              .when($"event_type" === "click", 2)
              .otherwise(3).as("step"))
        ev.groupBy($"user_id")
          .agg(
            ESA.window_funnel(win, 3, "default")($"ts_us", $"step").as("lvl_default"),
            ESA.window_funnel(win, 3, "deduplication")($"ts_us", $"step").as("lvl_dedup"),
            ESA.window_funnel(win, 3, "fixed")($"ts_us", $"step").as("lvl_fixed"),
            ESA.window_funnel(win, 3, "increase")($"ts_us", $"step").as("lvl_increase"))
          .groupBy($"lvl_default", $"lvl_dedup", $"lvl_fixed", $"lvl_increase")
          .agg(count(lit(1)).as("n_users"))
          .orderBy($"lvl_default", $"lvl_dedup", $"lvl_fixed", $"lvl_increase")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END AS st
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |u AS (SELECT DISTINCT user_id FROM e),
        |dflt AS (SELECT u.user_id,
        |  CASE
        |    WHEN EXISTS (SELECT 1 FROM e v, e c, e p
        |      WHERE v.user_id = u.user_id AND c.user_id = u.user_id
        |        AND p.user_id = u.user_id AND v.st = 1 AND c.st = 2 AND p.st = 3
        |        AND c.t > v.t AND p.t > c.t AND p.t <= v.t + 43200000000) THEN 3
        |    WHEN EXISTS (SELECT 1 FROM e v, e c
        |      WHERE v.user_id = u.user_id AND c.user_id = u.user_id
        |        AND v.st = 1 AND c.st = 2
        |        AND c.t > v.t AND c.t <= v.t + 43200000000) THEN 2
        |    WHEN EXISTS (SELECT 1 FROM e v
        |      WHERE v.user_id = u.user_id AND v.st = 1) THEN 1
        |    ELSE 0 END AS lvl
        |  FROM u),
        |dd2 AS (SELECT a.user_id, a.t AS at,
        |    (SELECT arg_min(c.st, c.t) FROM e c
        |      WHERE c.user_id = a.user_id AND c.t > a.t
        |        AND c.t <= a.t + 43200000000 AND c.st IN (1, 2)) AS cst,
        |    (SELECT min(c.t) FROM e c
        |      WHERE c.user_id = a.user_id AND c.t > a.t
        |        AND c.t <= a.t + 43200000000 AND c.st IN (1, 2)) AS ct
        |  FROM e a WHERE a.st = 1),
        |dedup_anchor AS (SELECT user_id,
        |    CASE WHEN cst = 2 THEN
        |      CASE WHEN (SELECT arg_min(p.st, p.t) FROM e p
        |                 WHERE p.user_id = dd2.user_id AND p.t > dd2.ct
        |                   AND p.t <= dd2.at + 43200000000) = 3
        |        THEN 3 ELSE 2 END
        |    ELSE 1 END AS lvl
        |  FROM dd2),
        |dedup_lvl AS (SELECT user_id, max(lvl) AS lvl
        |  FROM dedup_anchor GROUP BY user_id),
        |fx AS (SELECT user_id, t, st,
        |    lead(st, 1) OVER w AS s1, lead(t, 1) OVER w AS t1,
        |    lead(st, 2) OVER w AS s2, lead(t, 2) OVER w AS t2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |fixed_anchor AS (SELECT user_id,
        |    CASE WHEN s1 = 2 AND t1 <= t + 43200000000 THEN
        |      CASE WHEN s2 = 3 AND t2 <= t + 43200000000 THEN 3 ELSE 2 END
        |    ELSE 1 END AS lvl
        |  FROM fx WHERE st = 1),
        |fixed_lvl AS (SELECT user_id, max(lvl) AS lvl
        |  FROM fixed_anchor GROUP BY user_id)
        |SELECT d.lvl AS lvl_default, coalesce(dd.lvl, 0) AS lvl_dedup,
        |  coalesce(f.lvl, 0) AS lvl_fixed, d.lvl AS lvl_increase,
        |  count(*) AS n_users
        |FROM dflt d
        |LEFT JOIN dedup_lvl dd USING (user_id)
        |LEFT JOIN fixed_lvl f USING (user_id)
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin),

    // SEQUENCE_COUNT('(?1)(?2)'): number of non-overlapping signup→purchase
    // occurrences per user. Oracled by run-length algebra: greedy matching
    // over a 2-symbol step stream = (number of purchase-runs) minus one if
    // the collapsed stream leads with a purchase-run (the automaton ignores
    // repeats while waiting, so only run boundaries matter and runs
    // alternate after collapsing).
    "agg_sequence_count" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .filter($"event_type".isin("signup", "purchase"))
          .select($"user_id", unix_micros($"ts").as("ts_us"),
            when($"event_type" === "signup", 1).otherwise(2).as("step"))
        ev.groupBy($"user_id")
          .agg(ESA.sequence_count(2)($"ts_us", $"step").as("n_matches"))
          .orderBy($"user_id")
      },
      """WITH e AS (SELECT user_id, epoch_us(ts) AS t,
        |    CASE WHEN event_type = 'signup' THEN 1 ELSE 2 END AS st
        |  FROM events WHERE event_type IN ('signup', 'purchase')),
        |r AS (SELECT user_id, st,
        |    CASE WHEN lag(st) OVER w IS DISTINCT FROM st THEN 1 ELSE 0 END AS is_start,
        |    row_number() OVER w AS rn
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, st)),
        |runs AS (SELECT user_id, st, rn FROM r WHERE is_start = 1)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END)
        |       - CASE WHEN arg_min(st, rn) = 2 THEN 1 ELSE 0 END AS BIGINT) AS n_matches
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin),

    // SEQUENCE_MATCH('(?1)(?2)'): signup then purchase, per user — greedy
    // subsequence existence, oracled via cascaded-min SQL (equivalent).
    "agg_sequence_match" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .filter($"event_type".isin("signup", "purchase"))
          .select($"user_id", unix_micros($"ts").as("ts_us"),
            when($"event_type" === "signup", 1).otherwise(2).as("step"))
        ev.groupBy($"user_id")
          .agg(ESA.sequence_match(2)($"ts_us", $"step").cast("int").as("matched"))
          .orderBy($"user_id")
      },
      """SELECT user_id,
        |  CAST(coalesce((
        |    SELECT min(p.ts) FROM events p
        |    WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |      AND p.ts > (SELECT min(s.ts) FROM events s
        |                  WHERE s.user_id = e.user_id AND s.event_type = 'signup')
        |  ) IS NOT NULL, false) AS INTEGER) AS matched
        |FROM (SELECT DISTINCT user_id FROM events
        |      WHERE event_type IN ('signup', 'purchase')) e
        |ORDER BY user_id""".stripMargin)
  )
}
