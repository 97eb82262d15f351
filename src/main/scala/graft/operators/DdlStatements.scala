package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import graft.sql.DorisDdl
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-driven key-model lifecycles (SURVEY §3.1 steps 1-2 over §1.1): each
  * key here is INPUT AS DORIS SQL STATEMENTS ONLY — create → load → upsert
  * → delete → select — executed by [[graft.sql.DorisDdl]], which maps the
  * statements onto the engine's existing key-model machinery (versioned
  * rowsets, merge-on-read windows, versioned delete predicates, partition
  * dirs, bucketed loads). The hand-built `model_*` keys prove the
  * SEMANTICS; these keys prove a Palo user can reach them the way they do
  * today: SQL text (reference `README_EN.md:26` — "fully compatible with
  * the Apache [Doris] version"; the FE grammar anchor is
  * [doris: fe/fe-core/src/main/cup/sql_parser.cup]).
  *
  * Every lifecycle derives its loads deterministically from the driver
  * testdata, so the DuckDB oracle REPLAYS the whole statement sequence
  * (batch derivation CTEs + the same merge/delete windows) rather than
  * hand-stating expected rows — a front-end bug that alters any statement's
  * meaning diverges from the replay. Plans stay the model_* plans: one
  * window or group-by shuffle per merge, partition-pruned scans after
  * partition selection, no extra materialization beyond the loads
  * themselves.
  */
object DdlStatements {

  /** Lifecycles are staged once per (key, sf dir) (same caching discipline
    * as every ingest key: bench re-runs must not re-pay the loads); the
    * final SELECT re-runs per call against the registered views. The
    * artifact is the DorisDdl catalog holding the loaded tables. */
  private def lifecycle(key: String, s: SparkSession, dir: String)(
      statements: => Seq[String]): DorisDdl =
    Artifacts.memo("ddlLifecycle", (key, dir), s) {
      val ddl = new DorisDdl(s)
      statements.foreach(ddl.execute)
      ddl
    }

  /** Every lifecycle key stages its statement script as untimed bench
    * warm-up: in production these loads happened long before the query,
    * so the timed key shows the merge-on-read / MV-served SELECT. One warm
    * build() runs the staging and a warm pass of the final statement. */
  def queries: Map[String, QueryDef] =
    lifecycles.map { case (k, q) => k -> q.staged(q.build(_, _).count()) } +
      ("sql_hint_join" -> hintJoin)

  private def lifecycles: Map[String, QueryDef] = Map(
    // UNIQUE KEY lifecycle: create → baseline load → upsert load → DELETE
    // (a versioned predicate, not a filter) → post-delete reload that must
    // SURVIVE the delete → merge-on-read select. Exercises: CREATE TABLE
    // UNIQUE KEY / DISTRIBUTED BY HASH BUCKETS, INSERT INTO ... SELECT
    // (twice, with upsert semantics), DELETE FROM ... WHERE, and the
    // final-state SELECT — all as text.
    "sql_ddl_unique" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_unique", s, dir)(Seq(
          """CREATE TABLE user_last (
            |  user_id BIGINT,
            |  last_type VARCHAR(20),
            |  last_value DOUBLE
            |) ENGINE=OLAP
            |UNIQUE KEY(user_id)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          // v1 baseline: one row per user
          """INSERT INTO user_last
            |SELECT user_id, 'init', round(sum(value), 2)
            |FROM events GROUP BY user_id""".stripMargin,
          // v2 upsert: purchase users get a new row — must WIN the merge
          """INSERT INTO user_last
            |SELECT user_id, 'purchase', round(sum(value), 2)
            |FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
            |GROUP BY user_id""".stripMargin,
          // v3 delete: versioned predicate over the key
          "DELETE FROM user_last WHERE user_id % 7 = 0",
          // v4 reload of a subset of the deleted keys — loaded AFTER the
          // delete, so it must survive it
          """INSERT INTO user_last
            |SELECT user_id, 'revived', 1.0
            |FROM events WHERE user_id % 14 = 0 GROUP BY user_id""".stripMargin))
        ddl.sql(
          """SELECT last_type, count(*) AS n_users,
            |  round(sum(last_value), 2) AS sum_value
            |FROM user_last GROUP BY last_type ORDER BY last_type""".stripMargin)
      },
      // replay: same four batches with explicit versions, same
      // (_ver DESC) merge window, same versioned-delete visibility rule
      """WITH b AS (
        |  SELECT user_id, 'init' AS last_type, round(sum(value), 2) AS last_value,
        |         1 AS _ver FROM events GROUP BY user_id
        |  UNION ALL
        |  SELECT user_id, 'purchase', round(sum(value), 2), 2
        |  FROM events WHERE event_type = 'purchase' AND user_id % 3 = 0
        |  GROUP BY user_id
        |  UNION ALL
        |  SELECT user_id, 'revived', 1.0, 4
        |  FROM events WHERE user_id % 14 = 0 GROUP BY user_id),
        |vis AS (SELECT * FROM b
        |        WHERE NOT (user_id % 7 = 0 AND _ver < 3)),
        |m AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY _ver DESC) AS rn FROM vis)
        |SELECT last_type, count(*) AS n_users,
        |  round(sum(last_value), 2) AS sum_value
        |FROM m WHERE rn = 1 GROUP BY last_type ORDER BY last_type""".stripMargin),

    // AGGREGATE KEY lifecycle: value columns declare their merge aggregate
    // in the CREATE (SUM / MAX / REPLACE); two disjoint loads collapse at
    // read into one group-by — ingest-side merge exactly as Doris'
    // MemTable pre-aggregation. REPLACE takes the latest-version value.
    "sql_ddl_aggregate" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_aggregate", s, dir)(Seq(
          """CREATE TABLE evt_cube (
            |  user_id BIGINT,
            |  event_type VARCHAR(20),
            |  sum_value DOUBLE SUM,
            |  max_event BIGINT MAX,
            |  n_rows BIGINT SUM,
            |  load_tag VARCHAR(8) REPLACE
            |) ENGINE=OLAP
            |AGGREGATE KEY(user_id, event_type)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          """INSERT INTO evt_cube
            |SELECT user_id, event_type, value, event_id, 1, 'L1'
            |FROM events WHERE event_id % 2 = 0""".stripMargin,
          """INSERT INTO evt_cube
            |SELECT user_id, event_type, value, event_id, 1, 'L2'
            |FROM events WHERE event_id % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT event_type, count(*) AS n_keys,
            |  round(sum(sum_value), 2) AS total_value,
            |  max(max_event) AS max_event,
            |  sum(n_rows) AS n_rows,
            |  min(load_tag) AS load_tag
            |FROM evt_cube GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      // replay: the per-key aggregate table re-aggregated; load_tag=REPLACE
      // resolves to the latest load ('L2') for every key both loads touch —
      // and min() over keys makes a single L1-only key visible if one slice
      // were missing
      """WITH k AS (
        |  SELECT user_id, event_type,
        |    sum(value) AS sum_value, max(event_id) AS max_event,
        |    count(*) AS n_rows,
        |    CASE WHEN count(*) FILTER (WHERE event_id % 2 <> 0) > 0
        |         THEN 'L2' ELSE 'L1' END AS load_tag
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_keys,
        |  round(sum(sum_value), 2) AS total_value,
        |  max(max_event) AS max_event,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |  min(load_tag) AS load_tag
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),

    // DUPLICATE KEY + PARTITION BY RANGE + DROP PARTITION + partition
    // selection: the retention lifecycle. The CREATE declares three range
    // partitions; one load distributes rows into them (a row beyond the
    // last bound would fail the load); DROP PARTITION removes the oldest
    // as the O(1) directory op; the final SELECT unions the full table
    // with a `PARTITION (p_mid)` selection — the latter a physically
    // partition-PRUNED scan. A second table exercises Doris's BATCH
    // partition spelling (`FROM ("lo") TO ("hi") INTERVAL n unit`,
    // production DDL's multi-partition form) mixed with an explicit
    // MAXVALUE tail; its checked read selects ONE generated partition.
    "sql_ddl_partition" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val ddl = lifecycle("sql_ddl_partition", s, dir)(Seq(
          """CREATE TABLE ord_part (
            |  o_orderdate DATE,
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(o_orderdate, o_orderkey)
            |PARTITION BY RANGE(o_orderdate) (
            |  PARTITION p_old VALUES LESS THAN ('1997-01-01'),
            |  PARTITION p_mid VALUES LESS THAN ('1999-01-01'),
            |  PARTITION p_new VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          """INSERT INTO ord_part
            |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice
            |FROM orders""".stripMargin,
          "ALTER TABLE ord_part DROP PARTITION p_old",
          """CREATE TABLE ord_batch (
            |  o_orderdate DATE,
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(o_orderdate, o_orderkey)
            |PARTITION BY RANGE(o_orderdate) (
            |  FROM ("1992-01-01") TO ("1998-01-01") INTERVAL 2 YEAR,
            |  PARTITION p_tail VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          """INSERT INTO ord_batch
            |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice
            |FROM orders""".stripMargin))
        // checked sums in integer 1/80-dollar units (×80 is halfway-free
        // on exact cents): a rounded DOUBLE sum reaches ~2.6e12 at sf10,
        // past the documented >=1e11 order-drift fragility
        ddl.sql(
          """SELECT 'all' AS scope, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents80
            |FROM ord_part
            |UNION ALL
            |SELECT 'mid' AS scope, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents80
            |FROM ord_part PARTITION (p_mid)
            |UNION ALL
            |SELECT 'batch94' AS scope, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents80
            |FROM ord_batch PARTITION (p_19940101)
            |ORDER BY scope""".stripMargin)
      },
      """SELECT 'all' AS scope, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents80
        |FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        |UNION ALL
        |SELECT 'mid', count(*),
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        |  AND o_orderdate < DATE '1999-01-01'
        |UNION ALL
        |SELECT 'batch94', count(*),
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |FROM orders WHERE o_orderdate >= DATE '1994-01-01'
        |  AND o_orderdate < DATE '1996-01-01'
        |ORDER BY scope""".stripMargin),

    // INSERT ... VALUES + cross-source join: a literal-row dimension table
    // created and populated purely by text, then joined against a base
    // table in the same SELECT — the DDL views compose with everything
    // else in the session. A DEFAULT column is exercised by omitting it
    // from the insert's column list.
    "sql_ddl_values" -> QueryDef(
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
        val ddl = lifecycle("sql_ddl_values", s, dir)(Seq(
          """CREATE TABLE dim_status (
            |  code VARCHAR(4),
            |  descr VARCHAR(40),
            |  rank INT,
            |  source VARCHAR(8) DEFAULT 'manual'
            |) ENGINE=OLAP
            |DUPLICATE KEY(code)
            |DISTRIBUTED BY HASH(code) BUCKETS 1""".stripMargin,
          """INSERT INTO dim_status (code, descr, rank)
            |VALUES ('F', 'finished', 1), ('O', 'open', 2), ('P', 'pending', 3)""".stripMargin))
        ddl.sql(
          """SELECT l.l_linestatus, d.descr, d.rank, d.source,
            |  count(*) AS n, round(sum(l.l_quantity), 2) AS sum_qty
            |FROM lineitem l JOIN dim_status d ON l.l_linestatus = d.code
            |GROUP BY l.l_linestatus, d.descr, d.rank, d.source
            |ORDER BY l.l_linestatus""".stripMargin)
      },
      """SELECT l.l_linestatus, d.descr, d.rank, d.source,
        |  count(*) AS n, round(sum(l.l_quantity), 2) AS sum_qty
        |FROM lineitem l
        |JOIN (VALUES ('F', 'finished', 1, 'manual'),
        |             ('O', 'open', 2, 'manual'),
        |             ('P', 'pending', 3, 'manual')) d(code, descr, rank, source)
        |  ON l.l_linestatus = d.code
        |GROUP BY l.l_linestatus, d.descr, d.rank, d.source
        |ORDER BY l.l_linestatus""".stripMargin),

    // UPDATE lifecycle (Doris UPDATE ... SET ... WHERE, UNIQUE tables
    // only): each UPDATE reads the visible rows matching the predicate,
    // applies the SET expressions, and lands the result as ONE new
    // versioned rowset that wins the merge — O(matched rows), never a
    // table rewrite. The second UPDATE's predicate reads a column the
    // first one modified, pinning compound read-your-writes ordering.
    "sql_ddl_update" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_update", s, dir)(Seq(
          """CREATE TABLE user_score (
            |  user_id BIGINT,
            |  score DOUBLE,
            |  status VARCHAR(10)
            |) ENGINE=OLAP
            |UNIQUE KEY(user_id)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          """INSERT INTO user_score
            |SELECT user_id, round(sum(value), 2), 'active'
            |FROM events GROUP BY user_id""".stripMargin,
          // doubling is exact in binary FP — no cross-engine round risk
          """UPDATE user_score SET score = score * 2, status = 'boosted'
            |WHERE user_id % 5 = 0""".stripMargin,
          """UPDATE user_score SET status = 'flagged'
            |WHERE score > 100 AND user_id % 2 = 0""".stripMargin))
        ddl.sql(
          """SELECT status, count(*) AS n_users,
            |  round(sum(score), 2) AS sum_score
            |FROM user_score GROUP BY status ORDER BY status""".stripMargin)
      },
      """WITH base AS (
        |  SELECT user_id, round(sum(value), 2) AS score, 'active' AS status
        |  FROM events GROUP BY user_id),
        |u1 AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 5 = 0 THEN score * 2 ELSE score END AS score,
        |    CASE WHEN user_id % 5 = 0 THEN 'boosted' ELSE status END AS status
        |  FROM base),
        |u2 AS (
        |  SELECT user_id, score,
        |    CASE WHEN score > 100 AND user_id % 2 = 0 THEN 'flagged'
        |         ELSE status END AS status
        |  FROM u1)
        |SELECT status, count(*) AS n_users,
        |  round(sum(score), 2) AS sum_score
        |FROM u2 GROUP BY status ORDER BY status""".stripMargin),

    // CREATE TABLE AS SELECT: the column list derives from the SELECT's
    // schema, the key/distribution clauses precede AS — then the CTAS
    // table takes further loads like any other (a second INSERT lands a
    // disjoint slice before the final read).
    "sql_ddl_ctas" -> QueryDef(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val ddl = lifecycle("sql_ddl_ctas", s, dir)(Seq(
          """CREATE TABLE top_cust
            |DUPLICATE KEY(c_custkey)
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4
            |AS SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            |FROM customer WHERE c_acctbal > 5000""".stripMargin,
          """INSERT INTO top_cust
            |SELECT c_custkey, c_name, c_mktsegment, c_acctbal
            |FROM customer WHERE c_acctbal <= 0""".stripMargin))
        ddl.sql(
          """SELECT c_mktsegment, count(*) AS n,
            |  round(sum(c_acctbal), 2) AS bal
            |FROM top_cust GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      },
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(c_acctbal), 2) AS bal
        |FROM customer WHERE c_acctbal > 5000 OR c_acctbal <= 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Schema + partition evolution, all as text: a partitioned table gets
    // a LIGHT ADD COLUMN (metadata-only — pre-change rowsets surface the
    // DEFAULT at read, nothing is rewritten) and an ADD PARTITION above
    // the last bound; the post-evolution load writes the new column into
    // the new partition. Without the ADD PARTITION the second load would
    // fail loudly (rows beyond the last range bound are rejected), so the
    // final answer existing at all pins partition evolution too.
    "sql_ddl_schema_evolve" -> QueryDef(
      (s, dir) => {
        // checked in integer cents (×80 halfway-free): at sf1 the raw
        // double sum sits at 2.9e11 where order-dependent summation noise
        // crosses the 12-digit comparator's resolution (caught in the r16
        // sf1 sweep) — BIGINT cents are exact in any order
        schemaEvolveLifecycle(s, dir).sql(
          """SELECT channel, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents
            |FROM ord_evo GROUP BY channel ORDER BY channel""".stripMargin)
      },
      """SELECT CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01'
        |            THEN 'web' ELSE 'legacy' END AS channel,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // SHOW PARTITIONS over the evolved table (same staged lifecycle):
    // partition metadata + per-partition visible row counts, each count a
    // partition-PRUNED scan over one directory.
    "sql_ddl_show_partitions" -> QueryDef(
      (s, dir) => {
        schemaEvolveLifecycle(s, dir)
          .sql("SHOW PARTITIONS FROM ord_evo")
      },
      """SELECT * FROM (
        |  SELECT 'p_early' AS partition_name, '1998-01-01' AS upper_bound,
        |    count(*) AS n_rows
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  UNION ALL
        |  SELECT 'p_late', '2000-01-01', count(*)
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |    AND o_orderdate < TIMESTAMP '2000-01-01'
        |  UNION ALL
        |  SELECT 'p_rest', 'MAXVALUE', count(*)
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |) ORDER BY partition_name""".stripMargin),

    // Sync materialized view by DDL text: CREATE MATERIALIZED VIEW lands a
    // declared-aggregate rollup, maintained TRANSACTIONALLY through the
    // later INSERT (the Doris contract — a sync MV can never serve stale
    // data), and the final aggregate over the BASE table is transparently
    // retargeted onto it by the engine's RollupRewrite rule (DdlSpec
    // asserts the MV scan; the oracle asserts the answer equals
    // aggregating all of events directly).
    "sql_ddl_mv" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_mv", s, dir)(Seq(
          """CREATE TABLE ev (
            |  user_id BIGINT,
            |  event_type VARCHAR(20),
            |  value DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(user_id)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          """INSERT INTO ev
            |SELECT user_id, event_type, value
            |FROM events WHERE event_id % 2 = 0""".stripMargin,
          """CREATE MATERIALIZED VIEW ev_mv AS
            |SELECT event_type, SUM(value) AS sum_v, COUNT(*) AS cnt
            |FROM ev GROUP BY event_type""".stripMargin,
          """INSERT INTO ev
            |SELECT user_id, event_type, value
            |FROM events WHERE event_id % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT event_type, round(sum(value), 2) AS total,
            |  count(*) AS n
            |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type, round(sum(value), 2) AS total, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Doris's signature AGGREGATE-key feature, reached purely by text:
    // sketch-typed value columns. BITMAP BITMAP_UNION merges serialized
    // roaring bitmaps per key (exact distinct across loads — audience
    // segments), HLL HLL_UNION merges HLL sketch images (the estimate is
    // projected as its contract error bound, like every sketch key), and
    // REPLACE_IF_NOT_NULL keeps the last NON-null write (a newer null
    // must not erase an older value). Two half-loads prove the merges are
    // load-order-independent; sketch state rides the shuffle
    // partial-aggregated, never exploded rows.
    "sql_ddl_sketch_cols" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_sketch_cols", s, dir)(Seq(
          """CREATE TABLE seg (
            |  event_type VARCHAR(20),
            |  users BITMAP BITMAP_UNION,
            |  uhll HLL HLL_UNION,
            |  note VARCHAR(8) REPLACE_IF_NOT_NULL
            |) ENGINE=OLAP
            |AGGREGATE KEY(event_type)
            |DISTRIBUTED BY HASH(event_type) BUCKETS 4""".stripMargin,
          """INSERT INTO seg
            |SELECT event_type, to_bitmap(user_id), hll_hash(user_id), 'L1'
            |FROM events WHERE event_id % 2 = 0""".stripMargin,
          // the second load writes NULL notes: REPLACE_IF_NOT_NULL must
          // keep 'L1' even though this rowset has the higher version
          """INSERT INTO seg
            |SELECT event_type, to_bitmap(user_id), hll_hash(user_id), NULL
            |FROM events WHERE event_id % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT event_type,
            |  bitmap_count(users) AS exact_users,
            |  abs(hll_cardinality(uhll) - bitmap_count(users))
            |    <= 0.05 * bitmap_count(users) AS hll_in_bound,
            |  note
            |FROM seg ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  true AS hll_in_bound,
        |  'L1' AS note
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // INSERT OVERWRITE PARTITION — the restatement flow: a partitioned
    // table is fully loaded, then ONE partition's contents are atomically
    // replaced with corrected figures (staged to scratch, validated —
    // rows outside the target partition fail the statement with the old
    // data untouched — then swapped in). The untouched partition must
    // read exactly its original rows.
    "sql_ddl_overwrite" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val ddl = lifecycle("sql_ddl_overwrite", s, dir)(Seq(
          """CREATE TABLE ord_ow (
            |  o_orderdate DATE,
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(o_orderdate, o_orderkey)
            |PARTITION BY RANGE(o_orderdate) (
            |  PARTITION p_old VALUES LESS THAN ('1998-01-01'),
            |  PARTITION p_new VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          """INSERT INTO ord_ow
            |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice
            |FROM orders""".stripMargin,
          // restate the old partition at half price (exact in binary FP)
          """INSERT OVERWRITE TABLE ord_ow PARTITION (p_old)
            |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice / 2
            |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'""".stripMargin))
        // checked sum in integer 1/80-dollar units (the r19 sf10 lesson:
        // round(sum(double),2) at >=1e12 drifts by summation order across
        // engines; x80 of a 2-decimal price — and x40 of its exact /2 —
        // is never a .5 halfway, so per-row BIGINT rounding is exact and
        // the BIGINT sum is order-independent). Plan shape unchanged:
        // the same partition-pruned scans and aggregate.
        ddl.sql(
          """SELECT 'old' AS scope, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS total80
            |FROM ord_ow PARTITION (p_old)
            |UNION ALL
            |SELECT 'new' AS scope, count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS total80
            |FROM ord_ow PARTITION (p_new)
            |ORDER BY scope""".stripMargin)
      },
      """SELECT * FROM (
        |  SELECT 'old' AS scope, count(*) AS n,
        |    CAST(sum(CAST(round(o_totalprice / 2 * 80) AS BIGINT))
        |      AS BIGINT) AS total80
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  UNION ALL
        |  SELECT 'new', count(*),
        |    CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |) ORDER BY scope""".stripMargin),

    // AUTO PARTITION (Doris 2.1): partitions materialize per date_trunc
    // bucket as loads arrive — no per-period DDL. Two loads land 30 daily
    // partitions; a retention DROP PARTITION removes the oldest day as the
    // same O(1) directory op; SHOW PARTITIONS reads the materialized
    // buckets back with per-partition counts from one grouped scan.
    "sql_ddl_auto_partition" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_auto_partition", s, dir)(Seq(
          """CREATE TABLE ev_auto (
            |  ts DATETIME,
            |  event_id BIGINT,
            |  value DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(ts, event_id)
            |AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
            |DISTRIBUTED BY HASH(event_id) BUCKETS 4""".stripMargin,
          """INSERT INTO ev_auto
            |SELECT ts, event_id, value FROM events
            |WHERE ts < TIMESTAMP '2024-01-16'""".stripMargin,
          // later days arrive: their partitions materialize on load
          """INSERT INTO ev_auto
            |SELECT ts, event_id, value FROM events
            |WHERE ts >= TIMESTAMP '2024-01-16'""".stripMargin,
          "ALTER TABLE ev_auto DROP PARTITION p20240101",
          // forward buffer: two empty FUTURE buckets materialize past the
          // newest data day and must list in SHOW PARTITIONS (n_rows 0)
          // before any row lands in them
          """ALTER TABLE ev_auto SET ("dynamic_partition.end" = "2")"""))
        ddl.sql("SHOW PARTITIONS FROM ev_auto")
      },
      """WITH days AS (
        |  SELECT date_trunc('day', ts) AS d, CAST(count(*) AS BIGINT) AS n
        |  FROM events
        |  WHERE date_trunc('day', ts) <> TIMESTAMP '2024-01-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(date_trunc('day', ts)) AS m FROM events),
        |fut AS (SELECT m + INTERVAL 1 DAY AS d, CAST(0 AS BIGINT) AS n FROM mx
        |        UNION ALL
        |        SELECT m + INTERVAL 2 DAY, CAST(0 AS BIGINT) FROM mx),
        |allp AS (SELECT * FROM days UNION ALL SELECT * FROM fut)
        |SELECT concat('p', strftime(d, '%Y%m%d')) AS partition_name,
        |  'AUTO(day)' AS upper_bound, n AS n_rows
        |FROM allp ORDER BY 1""".stripMargin),

    // Sync MV over an AGGREGATE-key base — the layered-serving case: the
    // table's read is itself a merge aggregate, so the MV is computed OVER
    // that merge, and the rewrite serves user aggregates THROUGH the
    // matched merge node ("pre-aggregation: ON" — in Doris an AGGREGATE
    // table's rollup rowsets are already merge-compacted). DdlSpec asserts
    // the MV scan replaces BOTH aggregate layers; the oracle replays the
    // full two-level aggregation from raw events.
    "sql_ddl_agg_mv" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_agg_mv", s, dir)(Seq(
          """CREATE TABLE evc (
            |  user_id BIGINT,
            |  event_type VARCHAR(20),
            |  sum_value DOUBLE SUM,
            |  n BIGINT SUM
            |) ENGINE=OLAP
            |AGGREGATE KEY(user_id, event_type)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          """INSERT INTO evc
            |SELECT user_id, event_type, value, 1
            |FROM events WHERE event_id % 2 = 0""".stripMargin,
          """CREATE MATERIALIZED VIEW evc_mv AS
            |SELECT event_type, SUM(sum_value) AS sv, SUM(n) AS sn
            |FROM evc GROUP BY event_type""".stripMargin,
          """INSERT INTO evc
            |SELECT user_id, event_type, value, 1
            |FROM events WHERE event_id % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT event_type, round(sum(sum_value), 2) AS total,
            |  sum(n) AS n_rows
            |FROM evc GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type, round(sum(value), 2) AS total,
        |  count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // UNIQUE-key SEQUENCE COLUMN + DELETE SIGN, reached AS TEXT: the table
    // declares PROPERTIES("function_column.sequence_col" = "seq") so the
    // merge resolves by (seq DESC, _ver DESC), and delete loads write the
    // hidden __DELETE_SIGN__ through an INSERT column list. Six out-of-order
    // batches (the model_sequence_col fixture, statement-driven): a stale
    // update loses, a fresh one wins, a STALE delete deletes nothing, an
    // equal-seq reload resolves by version, a fresh delete removes its keys.
    "sql_ddl_sequence" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_sequence", s, dir)(Seq(
          """CREATE TABLE ev_seq (
            |  event_id BIGINT,
            |  event_type VARCHAR(20),
            |  value DOUBLE,
            |  seq BIGINT
            |) ENGINE=OLAP
            |UNIQUE KEY(event_id)
            |DISTRIBUTED BY HASH(event_id) BUCKETS 8
            |PROPERTIES ("function_column.sequence_col" = "seq")""".stripMargin,
          "INSERT INTO ev_seq SELECT event_id, event_type, value, 2 FROM events",
          """INSERT INTO ev_seq
            |SELECT event_id, event_type, value + 111.0, 1
            |FROM events WHERE event_type = 'view'""".stripMargin, // stale: loses
          """INSERT INTO ev_seq
            |SELECT event_id, event_type, value + 222.0, 3
            |FROM events WHERE event_type = 'click'""".stripMargin, // fresh: wins
          """INSERT INTO ev_seq (event_id, event_type, value, seq, __DELETE_SIGN__)
            |SELECT event_id, event_type, value, 1, 1
            |FROM events WHERE event_type = 'purchase'""".stripMargin, // stale delete: no-op
          """INSERT INTO ev_seq
            |SELECT event_id, event_type, value + 333.0, 2
            |FROM events WHERE event_type = 'error'""".stripMargin, // equal seq: wins by _ver
          """INSERT INTO ev_seq (event_id, event_type, value, seq, __DELETE_SIGN__)
            |SELECT event_id, event_type, value, 9, 1
            |FROM events WHERE event_type = 'signup'""".stripMargin)) // fresh delete: gone
        ddl.sql(
          """SELECT event_type, count(*) AS n,
            |  round(sum(value), 2) AS total_value
            |FROM ev_seq GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      // replay the six batches with explicit (seq, ver, sign) and the same
      // (_seq DESC, _ver DESC) window + winning-sign filter
      """WITH b AS (
        |  SELECT event_id, event_type, value, 2 AS _seq, 1 AS _ver, 0 AS _sign
        |  FROM events
        |  UNION ALL SELECT event_id, event_type, value + 111.0, 1, 2, 0
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL SELECT event_id, event_type, value + 222.0, 3, 3, 0
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL SELECT event_id, event_type, value, 1, 4, 1
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL SELECT event_id, event_type, value + 333.0, 2, 5, 0
        |  FROM events WHERE event_type = 'error'
        |  UNION ALL SELECT event_id, event_type, value, 9, 6, 1
        |  FROM events WHERE event_type = 'signup'),
        |m AS (SELECT *, row_number() OVER (PARTITION BY event_id
        |        ORDER BY _seq DESC, _ver DESC) AS rn FROM b)
        |SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS total_value
        |FROM m WHERE rn = 1 AND _sign = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ASYNC partitioned MTMV as a statement (Doris 2.1 MTMV): BUILD
    // IMMEDIATE materializes per-date aggregates partitioned like the base;
    // a second load lands ONLY in the open partition; REFRESH MATERIALIZED
    // VIEW recomputes exactly that partition (file-set version diff — the
    // DdlSpec pin asserts partitions_refreshed = 1 and the pruned plan).
    // The MV is then queried DIRECTLY by name; the oracle recomputes the
    // whole aggregate from raw orders, so the hash compare proves the
    // incrementally-refreshed MV equals a full rebuild.
    "sql_ddl_async_mv" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val ddl = lifecycle("sql_ddl_async_mv", s, dir)(Seq(
          """CREATE TABLE ord_mt (
            |  o_orderdate DATE,
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(o_orderdate, o_orderkey)
            |PARTITION BY RANGE(o_orderdate) (
            |  PARTITION p_early VALUES LESS THAN ('1998-01-01'),
            |  PARTITION p_late VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          // v1: everything except a late slice of the open partition
          """INSERT INTO ord_mt
            |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice
            |FROM orders WHERE NOT (o_orderkey % 3 = 0
            |  AND o_orderdate >= TIMESTAMP '1998-01-01')""".stripMargin,
          """CREATE MATERIALIZED VIEW ord_mt_mv
            |BUILD IMMEDIATE REFRESH AUTO ON MANUAL
            |PARTITION BY (o_orderdate)
            |AS SELECT o_orderdate, COUNT(*) AS n, SUM(o_totalprice) AS sum_price
            |FROM ord_mt GROUP BY o_orderdate""".stripMargin,
          // v2: the late slice — touches ONLY p_late
          """INSERT INTO ord_mt
            |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice
            |FROM orders WHERE o_orderkey % 3 = 0
            |  AND o_orderdate >= TIMESTAMP '1998-01-01'""".stripMargin,
          "REFRESH MATERIALIZED VIEW ord_mt_mv"))
        ddl.sql(
          """SELECT CAST(o_orderdate AS STRING) AS d, n,
            |  round(sum_price, 2) AS sum_price
            |FROM ord_mt_mv ORDER BY d""".stripMargin)
      },
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS d,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Light RENAME COLUMN / table RENAME / partition-scoped DELETE, all as
    // text on a partitioned UNIQUE table: the rename is metadata-only (old
    // rowsets keep the old physical name; the read coalesces), the
    // post-rename upsert merges across the rename boundary, the DELETE
    // applies only inside its partition, and the final SELECT goes through
    // the RENAMED table name. The oracle replays upsert + scoped delete
    // from raw customer, so a rename that loses or duplicates bytes
    // diverges from the replay.
    "sql_ddl_rename" -> QueryDef(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val ddl = lifecycle("sql_ddl_rename", s, dir)(Seq(
          """CREATE TABLE cust_rn (
            |  c_custkey BIGINT,
            |  c_acctbal DOUBLE,
            |  c_mktsegment VARCHAR(16)
            |) ENGINE=OLAP
            |UNIQUE KEY(c_custkey)
            |PARTITION BY RANGE(c_custkey) (
            |  PARTITION p_lo VALUES LESS THAN ('750'),
            |  PARTITION p_hi VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 8""".stripMargin,
          """INSERT INTO cust_rn
            |SELECT c_custkey, c_acctbal, c_mktsegment FROM customer""".stripMargin,
          "ALTER TABLE cust_rn RENAME COLUMN c_acctbal balance",
          // post-rename upsert writes the NEW name; merges with old rowsets
          """INSERT INTO cust_rn (c_custkey, balance, c_mktsegment)
            |SELECT c_custkey, c_acctbal + 1000, c_mktsegment
            |FROM customer WHERE c_custkey % 5 = 0""".stripMargin,
          "DELETE FROM cust_rn PARTITION (p_hi) WHERE c_custkey % 7 = 0",
          "ALTER TABLE cust_rn RENAME cust_final"))
        ddl.sql(
          """SELECT c_mktsegment, count(*) AS n,
            |  round(sum(balance), 2) AS bal
            |FROM cust_final GROUP BY c_mktsegment
            |ORDER BY c_mktsegment""".stripMargin)
      },
      """WITH m AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 1000
        |         ELSE c_acctbal END AS balance
        |  FROM customer),
        |vis AS (SELECT * FROM m
        |        WHERE NOT (c_custkey >= 750 AND c_custkey % 7 = 0))
        |SELECT c_mktsegment, count(*) AS n, round(sum(balance), 2) AS bal
        |FROM vis GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // CREATE TABLE LIKE + partition-targeted INSERT + heavy MODIFY COLUMN
    // (schema-change rewrite), as text: the LIKE copy inherits the range
    // partitioning, two targeted loads land each in their declared
    // partition (a misrouted row would kill the load), a versioned DELETE
    // then a physical retype (INT quantity -> BIGINT) rewrites every
    // rowset baking the delete in, and the final SELECT reads the
    // retyped column. The oracle replays load slices + delete + cast.
    "sql_ddl_like" -> QueryDef(
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
        val ddl = lifecycle("sql_ddl_like", s, dir)(Seq(
          """CREATE TABLE li_base (
            |  l_quantity INT,
            |  l_orderkey BIGINT,
            |  l_linenumber INT,
            |  l_extendedprice DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(l_quantity)
            |PARTITION BY RANGE(l_quantity) (
            |  PARTITION p_small VALUES LESS THAN ('25'),
            |  PARTITION p_big VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(l_orderkey) BUCKETS 8""".stripMargin,
          "CREATE TABLE li_copy LIKE li_base",
          """INSERT INTO li_copy PARTITION (p_small)
            |SELECT CAST(l_quantity AS INT), l_orderkey,
            |  CAST(l_linenumber AS INT), l_extendedprice
            |FROM lineitem WHERE l_quantity < 25""".stripMargin,
          """INSERT INTO li_copy PARTITION (p_big)
            |SELECT CAST(l_quantity AS INT), l_orderkey,
            |  CAST(l_linenumber AS INT), l_extendedprice
            |FROM lineitem WHERE l_quantity >= 25""".stripMargin,
          "DELETE FROM li_copy WHERE l_orderkey % 10 = 0",
          "ALTER TABLE li_copy MODIFY COLUMN l_linenumber BIGINT"))
        ddl.sql(
          """SELECT l_quantity, count(*) AS n, sum(l_linenumber) AS sum_ln,
            |  round(sum(l_extendedprice), 2) AS price
            |FROM li_copy GROUP BY l_quantity ORDER BY l_quantity""".stripMargin)
      },
      """SELECT CAST(l_quantity AS INT) AS l_quantity,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_linenumber AS INT)) AS BIGINT) AS sum_ln,
        |  round(sum(l_extendedprice), 2) AS price
        |FROM lineitem WHERE l_orderkey % 10 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // COUNT(DISTINCT) served from a BITMAP_UNION MV — Doris's signature
    // count-distinct acceleration, all as text: the MV declares
    // BITMAP_UNION(TO_BITMAP(user_id)) per event_type, is maintained
    // transactionally through a second load, and the final plain
    // count(DISTINCT user_id) query retargets onto the bitmap rollup
    // (cardinality of the merged roaring set — EXACT, unlike NDV
    // sketches; DdlSpec pins the serving plan). The oracle recomputes the
    // distinct count from raw events, so the hash compare proves the
    // bitmap path is exact.
    "sql_ddl_bitmap_mv" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_bitmap_mv", s, dir)(Seq(
          """CREATE TABLE evb (
            |  user_id BIGINT,
            |  event_type VARCHAR(20),
            |  value DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(user_id)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          """INSERT INTO evb
            |SELECT user_id, event_type, value
            |FROM events WHERE event_id % 2 = 0""".stripMargin,
          """CREATE MATERIALIZED VIEW evb_mv AS
            |SELECT event_type, BITMAP_UNION(TO_BITMAP(user_id)) AS uids,
            |  COUNT(*) AS cnt
            |FROM evb GROUP BY event_type""".stripMargin,
          """INSERT INTO evb
            |SELECT user_id, event_type, value
            |FROM events WHERE event_id % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT event_type, count(DISTINCT user_id) AS n_users,
            |  count(*) AS n_rows
            |FROM evb GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // EXPORT TABLE → LOAD LABEL round-trip, all as text: a CTAS slice is
    // exported DISTRIBUTED to parquet files, a fresh UNIQUE table bulk-loads
    // them back with the broker-load statement (label-deduped), and the
    // final aggregate reads the loaded table. The oracle recomputes from
    // raw customer — a loss or duplication anywhere in the file round-trip
    // (export partitioning, by-name load mapping, cast alignment) breaks
    // the hash.
    "sql_ddl_load" -> QueryDef(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val ddl = lifecycle("sql_ddl_load", s, dir)({
          val out = graft.TempDirs.create("graft_ddl_loadfile")
          Seq(
            """CREATE TABLE cust_src
              |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4
              |AS SELECT c_custkey, c_acctbal, c_mktsegment
              |FROM customer WHERE c_acctbal > 0""".stripMargin,
            s"EXPORT TABLE cust_src TO '$out' FORMAT AS PARQUET",
            """CREATE TABLE cust_dst (
              |  c_custkey BIGINT,
              |  c_acctbal DOUBLE,
              |  c_mktsegment VARCHAR(16)
              |) ENGINE=OLAP
              |UNIQUE KEY(c_custkey)
              |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4""".stripMargin,
            s"LOAD LABEL lf1 (DATA INFILE('$out') INTO TABLE cust_dst FORMAT AS 'parquet')")
        })
        ddl.sql(
          """SELECT c_mktsegment, count(*) AS n,
            |  round(sum(c_acctbal), 2) AS bal
            |FROM cust_dst GROUP BY c_mktsegment
            |ORDER BY c_mktsegment""".stripMargin)
      },
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM customer WHERE c_acctbal > 0
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Index surface as text: an inline `INDEX ... USING INVERTED` in the
    // CREATE, a post-load `CREATE INDEX` statement, bloom_filter_columns
    // (each rowset file writes a parquet bloom filter; rowsets land
    // key-sorted so zonemap min/max prune on the key), and MATCH_ANY /
    // MATCH_ALL predicates in the final SELECT — which are only LEGAL
    // because the indexes exist (a MATCH on an unindexed column rejects;
    // DdlSpec pins that and the physical layout). The oracle replays the
    // same lowercase space-tokenized match semantics.
    "sql_ddl_index" -> QueryDef(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("documents")
        val ddl = lifecycle("sql_ddl_index", s, dir)(Seq(
          """CREATE TABLE doc_ix (
            |  doc_id BIGINT,
            |  lang VARCHAR(8),
            |  body STRING,
            |  INDEX body_ix (`body`) USING INVERTED
            |) ENGINE=OLAP
            |DUPLICATE KEY(doc_id)
            |DISTRIBUTED BY HASH(doc_id) BUCKETS 8
            |PROPERTIES("bloom_filter_columns" = "doc_id")""".stripMargin,
          "INSERT INTO doc_ix SELECT doc_id, lang, text FROM documents",
          "CREATE INDEX lang_ix ON doc_ix (`lang`) USING INVERTED"))
        ddl.sql(
          """SELECT lang, count(*) AS n_any,
            |  sum(CASE WHEN body MATCH_ALL 'spark join' THEN 1 ELSE 0 END) AS n_all
            |FROM doc_ix
            |WHERE body MATCH_ANY 'spark flink' AND doc_id % 2 = 0
            |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      """WITH t AS (SELECT doc_id, lang,
        |    list_distinct(string_split(lower(text), ' ')) AS tl
        |  FROM documents)
        |SELECT lang, count(*) AS n_any,
        |  CAST(sum(CASE WHEN list_contains(tl, 'spark')
        |    AND list_contains(tl, 'join') THEN 1 ELSE 0 END) AS BIGINT) AS n_all
        |FROM t
        |WHERE (list_contains(tl, 'spark') OR list_contains(tl, 'flink'))
        |  AND doc_id % 2 = 0
        |GROUP BY lang ORDER BY lang""".stripMargin),

    // Classic `ALTER TABLE ... ADD ROLLUP` (the pre-MV rollup statement):
    // on an AGGREGATE table, a key-subset rollup whose value columns keep
    // their declared markers. Created AFTER the first load (materializes
    // from current data) and maintained transactionally through the second
    // load; the final event_type aggregate is served from the rollup
    // (DdlSpec asserts the scan path). The oracle recomputes from raw
    // events, so both the rollup's content and its maintenance are pinned.
    "sql_ddl_add_rollup" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_add_rollup", s, dir)(Seq(
          """CREATE TABLE evt_ru (
            |  user_id BIGINT,
            |  event_type VARCHAR(20),
            |  sum_value DOUBLE SUM,
            |  n_rows BIGINT SUM,
            |  max_event BIGINT MAX
            |) ENGINE=OLAP
            |AGGREGATE KEY(user_id, event_type)
            |DISTRIBUTED BY HASH(user_id) BUCKETS 8""".stripMargin,
          """INSERT INTO evt_ru
            |SELECT user_id, event_type, value, 1, event_id
            |FROM events WHERE event_id % 2 = 0""".stripMargin,
          "ALTER TABLE evt_ru ADD ROLLUP r_type (event_type, sum_value, n_rows)",
          """INSERT INTO evt_ru
            |SELECT user_id, event_type, value, 1, event_id
            |FROM events WHERE event_id % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT event_type, round(sum(sum_value), 2) AS total_value,
            |  sum(n_rows) AS n_rows
            |FROM evt_ru GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type, round(sum(value), 2) AS total_value,
        |  count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // GENERATED columns (Doris 2.1 `col TYPE AS (expr)`): computed from
    // the other columns at LOAD time and stored — the positional INSERT
    // maps only the plain columns (naming a generated column rejects,
    // DdlSpec), the read never recomputes. The oracle recomputes both
    // expressions from raw orders, so a wrong compute-at-load (or a stale
    // stored value after the second load) breaks the hash. The stored
    // quantity is integer CENTS via a halfway-free multiplier: a 2-dp
    // price times 80 is cents*0.8, whose fractional part is always even
    // tenths (cents*8 mod 10 ∈ {0,2,4,6,8}) — round() never sees a true
    // .5 case, so Spark's HALF_UP-on-decimal and DuckDB's
    // round-the-binary-double agree on every row (a *0.9 variant produced
    // 1,534 genuine halfway cents at sf0.01 and a real engine divergence).
    "sql_ddl_generated_col" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val ddl = lifecycle("sql_ddl_generated_col", s, dir)(Seq(
          """CREATE TABLE ord_gen (
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE,
            |  band VARCHAR(8) AS (CASE WHEN o_totalprice >= 200000 THEN 'high'
            |    WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'low' END),
            |  net_cents BIGINT AS (CAST(round(o_totalprice * 80) AS BIGINT))
            |) ENGINE=OLAP
            |DUPLICATE KEY(o_orderkey)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          """INSERT INTO ord_gen
            |SELECT o_orderkey, o_totalprice FROM orders
            |WHERE o_orderkey % 2 = 0""".stripMargin,
          """INSERT INTO ord_gen
            |SELECT o_orderkey, o_totalprice FROM orders
            |WHERE o_orderkey % 2 <> 0""".stripMargin))
        ddl.sql(
          """SELECT band, count(*) AS n, sum(net_cents) AS net_total
            |FROM ord_gen GROUP BY band ORDER BY band""".stripMargin)
      },
      """SELECT CASE WHEN o_totalprice >= 200000 THEN 'high'
        |  WHEN o_totalprice >= 100000 THEN 'mid' ELSE 'low' END AS band,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS net_total
        |FROM orders GROUP BY 1 ORDER BY band""".stripMargin),

    // ANALYZE TABLE + SHOW COLUMN STATS: the stats job — one aggregate
    // scan collects (ndv, null_count, min, max) per statsable column plus
    // the row count into driver metadata; SHOW serves from it with zero
    // data IO. NDV is exact here (Doris sketches it), which is what makes
    // the statement DuckDB-replayable column by column.
    "sql_ddl_stats" -> QueryDef(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val ddl = lifecycle("sql_ddl_stats", s, dir)(Seq(
          """CREATE TABLE cust_st (
            |  c_custkey BIGINT,
            |  c_mktsegment VARCHAR(16),
            |  c_nationkey BIGINT
            |) ENGINE=OLAP
            |DUPLICATE KEY(c_custkey)
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4""".stripMargin,
          """INSERT INTO cust_st
            |SELECT c_custkey, c_mktsegment, c_nationkey FROM customer""".stripMargin,
          "ANALYZE TABLE cust_st"))
        ddl.sql("SHOW COLUMN STATS cust_st").orderBy("column_name")
      },
      """WITH s AS (
        |  SELECT 'c_custkey' AS column_name, count(*) AS row_count,
        |    count(DISTINCT c_custkey) AS ndv,
        |    CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
        |    CAST(min(c_custkey) AS VARCHAR) AS min,
        |    CAST(max(c_custkey) AS VARCHAR) AS max
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_mktsegment', count(*), count(DISTINCT c_mktsegment),
        |    CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    min(c_mktsegment), max(c_mktsegment)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'c_nationkey', count(*), count(DISTINCT c_nationkey),
        |    CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
        |  FROM customer)
        |SELECT * FROM s ORDER BY column_name""".stripMargin),

    // LIST partitions (`PARTITION BY LIST(col) ... VALUES IN`): the
    // categorical partition model. The lifecycle drops one partition (its
    // directory is the O(1) op and its VALUES lose coverage), re-adds a
    // partition covering the same value, and reloads a subset — the final
    // SELECT unions the full merge with a partition SELECTION (pruned
    // scan). The oracle replays the drop + partial reload as filters.
    "sql_ddl_list_partition" -> QueryDef(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val ddl = lifecycle("sql_ddl_list_partition", s, dir)(Seq(
          """CREATE TABLE cust_lp (
            |  c_mktsegment VARCHAR(16),
            |  c_custkey BIGINT,
            |  c_acctbal DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(c_mktsegment, c_custkey)
            |PARTITION BY LIST(`c_mktsegment`) (
            |  PARTITION p_auto VALUES IN ('AUTOMOBILE'),
            |  PARTITION p_heavy VALUES IN ('BUILDING', 'MACHINERY'),
            |  PARTITION p_home VALUES IN ('FURNITURE', 'HOUSEHOLD')
            |)
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4""".stripMargin,
          """INSERT INTO cust_lp
            |SELECT c_mktsegment, c_custkey, c_acctbal FROM customer""".stripMargin,
          "ALTER TABLE cust_lp DROP PARTITION p_auto",
          "ALTER TABLE cust_lp ADD PARTITION p_auto2 VALUES IN ('AUTOMOBILE')",
          """INSERT INTO cust_lp
            |SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
            |WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 2 = 0""".stripMargin))
        ddl.sql(
          """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
            |FROM cust_lp GROUP BY c_mktsegment
            |UNION ALL
            |SELECT 'P_HEAVY', count(*), round(sum(c_acctbal), 2)
            |FROM cust_lp PARTITION (p_heavy)
            |ORDER BY c_mktsegment""".stripMargin)
      },
      """WITH base AS (
        |  SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
        |  WHERE c_mktsegment <> 'AUTOMOBILE'
        |  UNION ALL
        |  SELECT c_mktsegment, c_custkey, c_acctbal FROM customer
        |  WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 2 = 0)
        |SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS bal
        |FROM base GROUP BY 1
        |UNION ALL
        |SELECT 'P_HEAVY', count(*), round(sum(c_acctbal), 2)
        |FROM base WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |ORDER BY c_mktsegment""".stripMargin),

    // FILE('path', 'format') table-valued function: ad-hoc distributed
    // reads of files as a relation with no CREATE — the Doris
    // s3()/hdfs()/local() TVF family. The lifecycle exports a supplier
    // slice to parquet files; the timed SELECT joins the TVF read back to
    // a catalog table. The oracle recomputes from raw supplier, so a
    // column/row loss anywhere in the export→TVF round-trip breaks the
    // hash.
    "sql_tvf_file" -> QueryDef(
      (s, dir) => {
        Tables.supplier(s, dir).createOrReplaceTempView("supplier")
        Tables.nation(s, dir).createOrReplaceTempView("nation")
        // stable per-dir export path: the lifecycle runs once per (key,
        // dir) but the final SELECT re-runs per call and must name the
        // same files
        val out = s"${System.getProperty("java.io.tmpdir")}/graft_tvf_" +
          Integer.toHexString(dir.hashCode)
        val ddl = lifecycle("sql_tvf_file", s, dir)(Seq(
          """CREATE TABLE supp_src
            |DISTRIBUTED BY HASH(s_suppkey) BUCKETS 4
            |AS SELECT s_suppkey, s_nationkey, s_acctbal
            |FROM supplier WHERE s_acctbal > 0""".stripMargin,
          s"EXPORT TABLE supp_src TO '$out' FORMAT AS PARQUET"))
        ddl.sql(
          s"""SELECT n.n_name, count(*) AS n_supp,
             |  round(sum(f.s_acctbal), 2) AS bal
             |FROM FILE('$out', 'parquet') f
             |JOIN nation n ON n.n_nationkey = f.s_nationkey
             |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
      },
      """SELECT n.n_name, count(*) AS n_supp,
        |  round(sum(s.s_acctbal), 2) AS bal
        |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE s.s_acctbal > 0
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin),

    // CREATE ROUTINE LOAD: continuous ingest as a statement — a streaming
    // FILE source whose micro-batches land through the SAME versioned,
    // label-deduped load path as INSERT (Kafka routine load is
    // env-excluded; the file source is the honest stand-in, SURVEY §2.12).
    // The lifecycle exports a slice, creates the job (the statement returns
    // after catch-up), upserts over it with a plain INSERT, and stops the
    // job; the oracle replays catch-up + upsert through the UNIQUE merge.
    "sql_routine_load" -> QueryDef(
      (s, dir) => {
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val rdir = s"${System.getProperty("java.io.tmpdir")}/graft_rl_" +
          Integer.toHexString(dir.hashCode)
        val ddl = lifecycle("sql_routine_load", s, dir)(Seq(
          """CREATE TABLE rl_src
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4
            |AS SELECT c_custkey, c_acctbal FROM customer
            |WHERE c_acctbal > 0""".stripMargin,
          s"EXPORT TABLE rl_src TO '$rdir' FORMAT AS PARQUET",
          """CREATE TABLE rl_dst (
            |  c_custkey BIGINT,
            |  c_acctbal DOUBLE
            |) ENGINE=OLAP
            |UNIQUE KEY(c_custkey)
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4""".stripMargin,
          s"CREATE ROUTINE LOAD rl_cust ON rl_dst FROM FILE('$rdir', 'parquet')",
          """INSERT INTO rl_dst
            |SELECT c_custkey, -1.0 FROM customer
            |WHERE c_custkey % 10 = 0""".stripMargin,
          "STOP ROUTINE LOAD rl_cust"))
        ddl.sql(
          """SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal,
            |  sum(CASE WHEN c_acctbal = -1.0 THEN 1 ELSE 0 END) AS n_upserts
            |FROM rl_dst""".stripMargin)
      },
      """WITH up AS (SELECT c_custkey, -1.0 AS c_acctbal FROM customer
        |            WHERE c_custkey % 10 = 0),
        |m AS (SELECT * FROM up
        |      UNION ALL
        |      SELECT c_custkey, c_acctbal FROM customer
        |      WHERE c_acctbal > 0
        |        AND c_custkey NOT IN (SELECT c_custkey FROM up))
        |SELECT count(*) AS n, round(sum(c_acctbal), 2) AS bal,
        |  CAST(sum(CASE WHEN c_acctbal = -1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_upserts
        |FROM m""".stripMargin),

    // BACKUP SNAPSHOT / RESTORE SNAPSHOT: physical backup (rowset files
    // copied verbatim) + the meta sidecar (SHOW CREATE text, nextVer,
    // versioned deletes). The lifecycle snapshots a table carrying a
    // versioned delete AND a post-delete revive, keeps loading after the
    // backup, drops the table, restores — the final SELECT must read
    // EXACTLY the visible state at backup time: delete applied, revive
    // kept, post-backup load gone. The oracle replays that state from raw
    // orders.
    "sql_ddl_backup" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val bdir = s"${System.getProperty("java.io.tmpdir")}/graft_bk_" +
          Integer.toHexString(dir.hashCode)
        val ddl = lifecycle("sql_ddl_backup", s, dir)({
          // snapshots are create-once: wipe a prior JVM's copy so the
          // staging replays cleanly per (key, dir)
          graft.TempDirs.deleteTree(java.nio.file.Paths.get(bdir))
          Seq(
            """CREATE TABLE bk_t (
              |  o_orderkey BIGINT,
              |  o_totalprice DOUBLE
              |) ENGINE=OLAP
              |UNIQUE KEY(o_orderkey)
              |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
            """INSERT INTO bk_t
              |SELECT o_orderkey, o_totalprice FROM orders""".stripMargin,
            "DELETE FROM bk_t WHERE o_orderkey % 5 = 0",
            """INSERT INTO bk_t
              |SELECT o_orderkey, -1.0 FROM orders
              |WHERE o_orderkey % 10 = 0""".stripMargin,
            s"BACKUP SNAPSHOT s1 TO '$bdir' ON (bk_t)",
            """INSERT INTO bk_t
              |SELECT o_orderkey, 999.0 FROM orders
              |WHERE o_orderkey % 7 = 0""".stripMargin,
            "DROP TABLE bk_t",
            s"RESTORE SNAPSHOT s1 FROM '$bdir'")
        })
        // checked in integer cents (x80 is halfway-free): at sf10 the raw
        // double sum sits at 3e12 where ORDER-DEPENDENT summation noise
        // (~3 units over 13.5M rows) exceeds the checker's 12th digit —
        // the r16 sf10 sweep caught exactly that; BIGINT cents are exact
        ddl.sql(
          """SELECT count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents,
            |  sum(CASE WHEN o_totalprice = -1.0 THEN 1 ELSE 0 END) AS n_revived
            |FROM bk_t""".stripMargin)
      },
      """WITH rev AS (SELECT o_orderkey, -1.0 AS o_totalprice FROM orders
        |             WHERE o_orderkey % 10 = 0),
        |m AS (SELECT * FROM rev
        |      UNION ALL
        |      SELECT o_orderkey, o_totalprice FROM orders
        |      WHERE o_orderkey % 5 <> 0)
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(sum(CASE WHEN o_totalprice = -1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_revived
        |FROM m""".stripMargin),

    // TEMPORARY partition + `ALTER TABLE ... REPLACE PARTITION` — the
    // atomic backfill swap, all as text: load the full table, record a
    // standing versioned DELETE, stage a REBUILT lower partition (prices
    // doubled) into a temporary partition with the same range, swap it in,
    // then DELETE again post-swap. The final per-partition aggregate pins
    // all four contracts at once: the swapped partition reads the rebuilt
    // data (not the original), the PRE-swap delete does not touch the
    // swapped-in rows (a replace is a new publish) while it still thins
    // the untouched partition, the POST-swap delete applies everywhere,
    // and the staging data was invisible until the swap (else the doubled
    // rows would double-count). Checked in integer cents (x80 is
    // halfway-free; OracleHygieneSpec). The oracle replays both deletes
    // and the rebuild as filters over raw orders.
    "sql_ddl_replace_partition" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val ddl = lifecycle("sql_ddl_replace_partition", s, dir)(Seq(
          """CREATE TABLE ord_rp (
            |  o_orderkey BIGINT,
            |  o_totalprice DOUBLE
            |) ENGINE=OLAP
            |DUPLICATE KEY(o_orderkey)
            |PARTITION BY RANGE(o_orderkey) (
            |  PARTITION p_lo VALUES LESS THAN ('5000'),
            |  PARTITION p_hi VALUES LESS THAN (MAXVALUE)
            |)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          """INSERT INTO ord_rp
            |SELECT o_orderkey, o_totalprice FROM orders""".stripMargin,
          "ALTER TABLE ord_rp ADD TEMPORARY PARTITION tp_lo VALUES LESS THAN ('5000')",
          // the staging load lands BEFORE the delete on purpose: its
          // version is LOWER than the delete's, so only the swap-time
          // delete scoping (not version order) keeps the rebuilt rows
          // alive — the sharpest spelling of "deletes never touch
          // temporary partitions"
          """INSERT INTO ord_rp TEMPORARY PARTITION (tp_lo)
            |SELECT o_orderkey, o_totalprice * 2 FROM orders
            |WHERE o_orderkey < 5000""".stripMargin,
          "DELETE FROM ord_rp WHERE o_orderkey % 7 = 0",
          "ALTER TABLE ord_rp REPLACE PARTITION (p_lo) WITH TEMPORARY PARTITION (tp_lo)",
          "DELETE FROM ord_rp WHERE o_orderkey % 11 = 0"))
        ddl.sql(
          """SELECT CASE WHEN o_orderkey < 5000 THEN 'lo' ELSE 'hi' END AS band,
            |  count(*) AS n, sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS cents
            |FROM ord_rp GROUP BY 1 ORDER BY band""".stripMargin)
      },
      """WITH m AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice FROM orders
        |  WHERE o_orderkey < 5000
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey >= 5000 AND o_orderkey % 7 <> 0)
        |SELECT CASE WHEN o_orderkey < 5000 THEN 'lo' ELSE 'hi' END AS band,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT) AS cents
        |FROM m WHERE o_orderkey % 11 <> 0
        |GROUP BY 1 ORDER BY band""".stripMargin),

    // VARIANT column type (Doris 2.1 schemaless subcolumns) as DDL: a
    // `v VARIANT` column ingests JSON TEXT (malformed documents kill the
    // load), stores it, and surfaces to queries as Spark VariantType — so
    // `variant_get(v, '$.path', type)` subcolumn access works directly on
    // the table view (§2.8 fn_variant is the function-surface twin; this
    // key is the table-lifecycle one). The lifecycle builds a nested doc
    // per event row, UPDATEs a slice to a doc MISSING most paths (so
    // missing-subcolumn null semantics are checked through the merge), and
    // deletes another slice; the aggregate extracts string/bigint/double/
    // int subcolumns at once. The oracle rebuilds the same JSON and reads
    // it with DuckDB's json_extract family.
    "sql_ddl_variant" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_variant", s, dir)(Seq(
          """CREATE TABLE ev_var (
            |  event_id BIGINT,
            |  vdoc VARIANT
            |) ENGINE=OLAP
            |UNIQUE KEY(event_id)
            |DISTRIBUTED BY HASH(event_id) BUCKETS 4""".stripMargin,
          """INSERT INTO ev_var
            |SELECT event_id,
            |  concat('{"t":"', event_type, '","u":', CAST(user_id AS STRING),
            |    ',"m":{"val":', CAST(CAST(value AS DECIMAL(14,2)) AS STRING),
            |    '},"p":', props, '}')
            |FROM events""".stripMargin,
          """UPDATE ev_var SET vdoc = '{"t":"redacted"}'
            |WHERE event_id % 97 = 0""".stripMargin,
          "DELETE FROM ev_var WHERE event_id % 53 = 0"))
        ddl.sql(
          """SELECT variant_get(vdoc, '$.t', 'string') AS t, count(*) AS n,
            |  CAST(sum(variant_get(vdoc, '$.u', 'bigint')) AS BIGINT) AS su,
            |  CAST(sum(CAST(round(variant_get(vdoc, '$.m.val', 'double') * 80)
            |    AS BIGINT)) AS BIGINT) AS cents,
            |  CAST(sum(variant_get(vdoc, '$.p.k', 'int')) AS BIGINT) AS sk
            |FROM ev_var GROUP BY t ORDER BY t""".stripMargin)
      },
      """WITH built AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 97 = 0 THEN '{"t":"redacted"}'
        |    ELSE '{"t":"' || event_type || '","u":' || CAST(user_id AS VARCHAR)
        |      || ',"m":{"val":' || CAST(CAST(value AS DECIMAL(14,2)) AS VARCHAR)
        |      || '},"p":' || props || '}' END AS vdoc
        |  FROM events WHERE event_id % 53 <> 0)
        |SELECT json_extract_string(vdoc, '$.t') AS t, count(*) AS n,
        |  CAST(sum(CAST(json_extract(vdoc, '$.u') AS BIGINT)) AS BIGINT) AS su,
        |  CAST(sum(CAST(round(CAST(json_extract(vdoc, '$.m.val') AS DOUBLE) * 80)
        |    AS BIGINT)) AS BIGINT) AS cents,
        |  CAST(sum(CAST(json_extract(vdoc, '$.p.k') AS INTEGER)) AS BIGINT) AS sk
        |FROM built GROUP BY t ORDER BY t""".stripMargin),

    // Doris 2.x multi-table DML: `UPDATE t SET ... FROM s WHERE join` (the
    // CDC-apply idiom) and `DELETE FROM t USING s WHERE join` (delete by
    // lookup). Both execute as ONE joined SELECT over the registered views
    // reloaded through the UNIQUE merge path — the update as an upsert
    // batch, the delete as __DELETE_SIGN__ marker rows — so cost is
    // O(matched), never a table rewrite. The lifecycle doubles the prices
    // of negative-balance customers' orders via the join, then deletes
    // rich customers' orders via the join; the aggregate checks in
    // integer cents (x2 keeps 2-dp inputs 2-dp, x80 halfway-free).
    "sql_ddl_delete_using" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        val ddl = lifecycle("sql_ddl_delete_using", s, dir)(Seq(
          """CREATE TABLE ord_m (
            |  o_orderkey BIGINT,
            |  o_custkey BIGINT,
            |  o_totalprice DOUBLE
            |) ENGINE=OLAP
            |UNIQUE KEY(o_orderkey)
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
          """CREATE TABLE cust_m (
            |  c_custkey BIGINT,
            |  c_acctbal DOUBLE
            |) ENGINE=OLAP
            |UNIQUE KEY(c_custkey)
            |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4""".stripMargin,
          """INSERT INTO ord_m
            |SELECT o_orderkey, o_custkey, o_totalprice FROM orders""".stripMargin,
          """INSERT INTO cust_m
            |SELECT c_custkey, c_acctbal FROM customer""".stripMargin,
          """UPDATE ord_m SET o_totalprice = o_totalprice * 2
            |FROM cust_m
            |WHERE ord_m.o_custkey = cust_m.c_custkey
            |  AND cust_m.c_acctbal < 0""".stripMargin,
          """DELETE FROM ord_m USING cust_m
            |WHERE ord_m.o_custkey = cust_m.c_custkey
            |  AND cust_m.c_acctbal > 9000""".stripMargin))
        ddl.sql(
          """SELECT count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents,
            |  count(DISTINCT o_custkey) AS nck
            |FROM ord_m""".stripMargin)
      },
      """WITH m AS (
        |  SELECT o.o_orderkey, o.o_custkey,
        |    CASE WHEN o.o_custkey IN
        |        (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |      THEN o.o_totalprice * 2 ELSE o.o_totalprice END AS o_totalprice
        |  FROM orders o
        |  WHERE o.o_custkey NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_acctbal > 9000))
        |SELECT count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  count(DISTINCT o_custkey) AS nck
        |FROM m""".stripMargin),

    // USER / GRANT / REVOKE — Doris's privilege surface ([doris:
    // fe/.../mysql/privilege/Auth.java]) as statements: CREATE USER, GRANT
    // priv ON scope TO user, SHOW GRANTS, with enforcement evaluated in the
    // statement front-end BEFORE execution (the embedded login() stands in
    // for the MySQL connection identity). The lifecycle is driven as the
    // restricted 'analyst' everywhere the grants allow: a CTAS readable
    // only through its SELECT_PRIV grant on the source, a DELETE gated by
    // LOAD_PRIV, and the final read runs AS the analyst — so the checked
    // aggregate proves the grants actually admit the statements they
    // should (the rejections they enforce are pinned in DdlSpec). Grants
    // are driver metadata; the root session pays zero on any path. The
    // grants column replays in DuckDB as the deterministic constant the
    // metadata must equal.
    "sql_ddl_grant" -> QueryDef(
      (s, dir) => {
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        val ddl = Artifacts.memo("ddlLifecycle", ("sql_ddl_grant", dir), s) {
          val d = new DorisDdl(s)
          Seq(
            """CREATE TABLE ord_g (
              |  o_orderkey BIGINT,
              |  o_totalprice DOUBLE
              |) ENGINE=OLAP
              |UNIQUE KEY(o_orderkey)
              |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
            "INSERT INTO ord_g SELECT o_orderkey, o_totalprice FROM orders",
            "CREATE USER 'analyst' IDENTIFIED BY 'pw'",
            "GRANT SELECT_PRIV ON ord_g TO 'analyst'",
            "GRANT CREATE_PRIV ON * TO 'analyst'").foreach(d.execute)
          d.login("analyst")
          d.execute("""CREATE TABLE top_g
            |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4
            |AS SELECT o_orderkey, o_totalprice FROM ord_g
            |WHERE o_totalprice > 150000""".stripMargin)
          d.login("root")
          d.execute("GRANT SELECT_PRIV, LOAD_PRIV ON top_g TO 'analyst'")
          d.login("analyst")
          d.execute("DELETE FROM top_g WHERE o_totalprice > 300000")
          d.login("root")
          // role-based half (Doris FE roles): a role holds the grant, a
          // user holds the role — 'viewer' reads top_g with ZERO direct
          // grants, purely through DEFAULT ROLE 'reader'
          d.execute("CREATE ROLE 'reader'")
          d.execute("GRANT SELECT_PRIV ON top_g TO ROLE 'reader'")
          d.execute("CREATE USER 'viewer' DEFAULT ROLE 'reader'")
          d
        }
        import s.implicits._
        import org.apache.spark.sql.functions._
        ddl.login("analyst")
        val res = ddl.sql(
          """SELECT count(*) AS n,
            |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
            |    AS cents
            |FROM top_g""".stripMargin)
        val grants = ddl.sql("SHOW GRANTS FOR 'analyst'")
          .agg(concat_ws(";", sort_array(collect_list(
            concat($"scope", lit(":"), $"privs")))).as("grants"))
        // the role-derived read: same rows, no direct grant on 'viewer'
        ddl.login("viewer")
        val viewerN = ddl.sql("SELECT count(*) AS viewer_n FROM top_g")
        ddl.login("root")
        val roleRows = ddl.sql("SHOW ROLES")
          .filter($"name" === "reader")
          .select(concat($"name", lit("->"), $"users", lit("@"), $"grants")
            .as("role_row"))
        res.crossJoin(grants).crossJoin(viewerN).crossJoin(roleRows)
      },
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 80) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  '*:CREATE_PRIV;ord_g:SELECT_PRIV;top_g:LOAD_PRIV,SELECT_PRIV'
        |    AS grants,
        |  count(*) AS viewer_n,
        |  'reader->viewer@top_g: SELECT_PRIV' AS role_row
        |FROM orders
        |WHERE o_totalprice > 150000 AND NOT (o_totalprice > 300000)""".stripMargin),

    // SESSION VARIABLES — `SET name = value`, `SHOW VARIABLES`, `@@name`
    // reads: the MySQL-compat session surface every Doris client and
    // script touches on connect. sql_select_limit is the LIVE knob (caps
    // every top-level SELECT exactly as in Doris/MySQL — internal SELECT
    // consumers like CTAS stay uncapped, pinned in DdlSpec); the final
    // read proves both the cap and an @@ read-back in one statement.
    "sql_ddl_variables" -> QueryDef(
      (s, dir) => {
        Tables.nation(s, dir).createOrReplaceTempView("nation")
        val ddl = lifecycle("sql_ddl_variables", s, dir)(Seq(
          """CREATE TABLE nat_v (n_nationkey BIGINT, n_name VARCHAR(32))
            |DUPLICATE KEY(n_nationkey)
            |DISTRIBUTED BY HASH(n_nationkey) BUCKETS 2""".stripMargin,
          "INSERT INTO nat_v SELECT n_nationkey, n_name FROM nation",
          "SET sql_select_limit = 7"))
        ddl.sql(
          """SELECT n_nationkey, n_name, @@sql_select_limit AS cap
            |FROM nat_v ORDER BY n_nationkey""".stripMargin)
      },
      """SELECT n_nationkey, n_name, 7 AS cap
        |FROM nation ORDER BY n_nationkey LIMIT 7""".stripMargin),

    // DATABASE NAMESPACE ([doris: fe/.../analysis/CreateDbStmt.java];
    // db-level grants [doris: fe/.../mysql/privilege/Auth.java]) — every
    // real Doris script's first statements: CREATE DATABASE + USE, then
    // db.tbl qualification everywhere. The lifecycle creates TWO
    // databases, loads a table into each (one via USE-relative names, one
    // fully qualified from outside), grants a user SELECT on ONE database
    // scope (`mart.*`) plus a single table in the other, and the checked
    // read is a CROSS-DATABASE join run AS that user from inside `mart` —
    // proving qualification, current-db resolution and db-scoped
    // enforcement admit exactly what they should. The drop guard (a
    // non-empty DROP DATABASE rejects without FORCE) lands as a constant
    // column the oracle pins. Databases are driver metadata: canonical
    // names keep every read the same single-shuffle plan it always was.
    "sql_ddl_database" -> QueryDef(
      (s, dir) => {
        Tables.nation(s, dir).createOrReplaceTempView("nation")
        Tables.region(s, dir).createOrReplaceTempView("region")
        val ddl = lifecycle("sql_ddl_database", s, dir)(Seq(
          "CREATE DATABASE mart",
          "USE mart",
          """CREATE TABLE nat (
            |  n_nationkey BIGINT, n_name VARCHAR(32), n_regionkey BIGINT
            |) DUPLICATE KEY(n_nationkey)
            |DISTRIBUTED BY HASH(n_nationkey) BUCKETS 2""".stripMargin,
          "INSERT INTO nat SELECT n_nationkey, n_name, n_regionkey FROM nation",
          "CREATE DATABASE ops",
          """CREATE TABLE ops.reg (r_regionkey BIGINT, r_name VARCHAR(32))
            |DUPLICATE KEY(r_regionkey)
            |DISTRIBUTED BY HASH(r_regionkey) BUCKETS 1""".stripMargin,
          "INSERT INTO ops.reg SELECT r_regionkey, r_name FROM region",
          "CREATE USER 'dbuser'",
          "GRANT SELECT_PRIV ON mart.* TO 'dbuser'",
          "GRANT SELECT_PRIV ON ops.reg TO 'dbuser'"))
        import s.implicits._
        import org.apache.spark.sql.functions._
        ddl.login("dbuser")
        val res = ddl.sql(
          """SELECT r.r_name AS r_name, count(*) AS n_nations,
            |  CAST(sum(n.n_nationkey) AS BIGINT) AS key_sum
            |FROM nat n JOIN ops.reg r ON n.n_regionkey = r.r_regionkey
            |GROUP BY r.r_name""".stripMargin)
        ddl.login("root")
        val dbs = ddl.sql("SHOW DATABASES")
          .agg(concat_ws(",", sort_array(collect_list($"database_name")))
            .as("dbs"))
        val guard = scala.util.Try(ddl.execute("DROP DATABASE mart")) match {
          case scala.util.Failure(e)
            if e.getMessage.contains("not empty") => "not_empty_rejected"
          case _ => "UNEXPECTED"
        }
        res.crossJoin(dbs).withColumn("drop_guard", lit(guard))
          .orderBy("r_name")
      },
      """SELECT r.r_name AS r_name, count(*) AS n_nations,
        |  CAST(sum(n.n_nationkey) AS BIGINT) AS key_sum,
        |  'default_db,mart,ops' AS dbs,
        |  'not_empty_rejected' AS drop_guard
        |FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name
        |ORDER BY r_name""".stripMargin),

    // AUTO_INCREMENT key columns (Doris 2.1 [doris: fe/.../catalog/
    // Column.java — auto-increment]): rows that do not supply the column
    // (omitted from the load's column list, or NULL) get driver-claimed
    // contiguous id blocks at load time — unique forever (persistent
    // per-table counter sidecar, forward-only), exactly-once under label
    // replay (a replayed label rejects BEFORE any claim, so no block is
    // burned). The lifecycle loads one batch with the column omitted, one
    // labeled batch, one explicit-NULL row, then REPLAYS the consumed
    // label (rejected). The checked read proves global uniqueness AND
    // continuity in one row: count(*) = count(DISTINCT id) = max(id),
    // min(id) = 1. Per-row id assignment is order-nondeterministic
    // (distributed block offsets), so the oracle pins the id-SET
    // invariants plus a data sum, never a row→id mapping.
    "sql_ddl_auto_increment" -> QueryDef(
      (s, dir) => {
        Tables.nation(s, dir).createOrReplaceTempView("nation")
        Tables.region(s, dir).createOrReplaceTempView("region")
        val ddl = lifecycle("sql_ddl_auto_increment", s, dir)(Seq(
          """CREATE TABLE ai (
            |  id BIGINT AUTO_INCREMENT,
            |  name VARCHAR(32), k BIGINT
            |) DUPLICATE KEY(id)
            |DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin,
          "INSERT INTO ai (name, k) SELECT n_name, n_nationkey FROM nation",
          """INSERT INTO ai WITH LABEL ai_l1 (name, k)
            |SELECT r_name, r_regionkey FROM region""".stripMargin,
          "INSERT INTO ai (id, name, k) VALUES (NULL, 'manual', 99)"))
        val replay = scala.util.Try(ddl.execute(
          """INSERT INTO ai WITH LABEL ai_l1 (name, k)
            |SELECT r_name, r_regionkey FROM region""".stripMargin)) match {
          case scala.util.Failure(e)
            if e.getMessage.contains("already exists") => "label_rejected"
          case _ => "UNEXPECTED"
        }
        import org.apache.spark.sql.functions._
        ddl.sql(
          """SELECT count(*) AS n, count(DISTINCT id) AS n_ids,
            |  CAST(min(id) AS BIGINT) AS min_id,
            |  CAST(max(id) AS BIGINT) AS max_id,
            |  CAST(sum(k) AS BIGINT) AS k_sum
            |FROM ai""".stripMargin).withColumn("replay", lit(replay))
      },
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_ids,
        |  CAST(1 AS BIGINT) AS min_id,
        |  CAST(count(*) AS BIGINT) AS max_id,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  'label_rejected' AS replay
        |FROM (SELECT n_nationkey AS k FROM nation
        |      UNION ALL SELECT r_regionkey FROM region
        |      UNION ALL SELECT 99)""".stripMargin),

    // BITMAP index (Doris's low-cardinality value index [doris:
    // be/.../olap/bitmap_index]): per-rowset-file EXACT distinct-value-set
    // sidecars (the file stands in for the rowid range — the engine's
    // skip unit is the rowset file, as Doris's is the rowset), consulted
    // by top-level equality/IN conjuncts to prune files whose set misses
    // every literal, riding the same atomic-sidecar/file-prune/FALSE-fold
    // machinery as NGRAM_BF. The lifecycle loads the nation table as two
    // region-disjoint rowsets so the per-file sets are provably disjoint;
    // the checked read proves the data (an IN aggregate + an equality
    // count) and pins the index behavior as booleans the oracle can
    // assert: files_pruned (the equality scan listed fewer files than the
    // table holds) and zero_survivor_fold (a value no file contains
    // folded the predicate to FALSE — zero rows, zero survivors). */
    "sql_ddl_bitmap_index" -> QueryDef(
      (s, dir) => {
        Tables.nation(s, dir).createOrReplaceTempView("nation")
        val ddl = lifecycle("sql_ddl_bitmap_index", s, dir)(Seq(
          """CREATE TABLE bmx (
            |  n_nationkey BIGINT, n_name VARCHAR(32), n_regionkey BIGINT,
            |  INDEX ix_reg (n_regionkey) USING BITMAP
            |) DUPLICATE KEY(n_nationkey)
            |DISTRIBUTED BY HASH(n_nationkey) BUCKETS 2""".stripMargin,
          """INSERT INTO bmx SELECT n_nationkey, n_name, n_regionkey
            |FROM nation WHERE n_regionkey <= 1""".stripMargin,
          """INSERT INTO bmx SELECT n_nationkey, n_name, n_regionkey
            |FROM nation WHERE n_regionkey > 1""".stripMargin))
        import org.apache.spark.sql.functions._
        val res = ddl.sql(
          """SELECT n_regionkey, count(*) AS n,
            |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum
            |FROM bmx WHERE n_regionkey IN (0, 3)
            |GROUP BY n_regionkey""".stripMargin)
        ddl.lastBitmapPrune = None
        val eq = ddl.sql(
          "SELECT count(*) AS n FROM bmx WHERE n_regionkey = 0")
          .head().getLong(0)
        val pruned = ddl.lastBitmapPrune.exists(p => p._2 < p._3)
        ddl.lastBitmapPrune = None
        val zero = ddl.sql(
          "SELECT count(*) AS n FROM bmx WHERE n_regionkey = 99")
          .head().getLong(0)
        val folded = zero == 0L && ddl.lastBitmapPrune.exists(_._2 == 0)
        res.withColumn("eq_n", lit(eq))
          .withColumn("files_pruned", lit(pruned))
          .withColumn("zero_survivor_fold", lit(folded))
          .orderBy("n_regionkey")
      },
      """SELECT n_regionkey, count(*) AS n,
        |  CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |  (SELECT count(*) FROM nation WHERE n_regionkey = 0) AS eq_n,
        |  true AS files_pruned, true AS zero_survivor_fold
        |FROM nation WHERE n_regionkey IN (0, 3)
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // Doris 2.1 AGG_STATE<fn(type)> GENERIC — the generic aggregation-
    // state column with the _state/_merge combinators. States here are
    // each aggregate's ALGEBRAIC form (sum/count: running value; avg: a
    // (sum, count) struct; max: the extremum), so loads write partial
    // aggregates, the AGGREGATE model's merge is the state-union riding
    // the normal partial-agg shuffle, and _merge finalizes at query time.
    // Two loads split the corpus so the cross-rowset union is exercised.
    // avg is checked WITHOUT rounding: its state sums are integer-valued
    // doubles (exact below 2^53 in any order), so both engines divide
    // bit-identical operands and the quotient is IEEE-identical.
    "sql_ddl_agg_state" -> QueryDef(
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events")
        val ddl = lifecycle("sql_ddl_agg_state", s, dir)(Seq(
          """CREATE TABLE ev_state (
            |  event_type VARCHAR(20),
            |  cnt AGG_STATE<count(BIGINT)> GENERIC,
            |  sv AGG_STATE<sum(BIGINT)> GENERIC,
            |  av AGG_STATE<avg(BIGINT)> GENERIC,
            |  mx AGG_STATE<max(DOUBLE)> GENERIC
            |) ENGINE=OLAP
            |AGGREGATE KEY(event_type)
            |DISTRIBUTED BY HASH(event_type) BUCKETS 4""".stripMargin,
          """INSERT INTO ev_state
            |SELECT event_type, count_state(event_id), sum_state(user_id),
            |  avg_state(user_id), max_state(value)
            |FROM events WHERE event_id % 2 = 0 GROUP BY event_type""".stripMargin,
          """INSERT INTO ev_state
            |SELECT event_type, count_state(event_id), sum_state(user_id),
            |  avg_state(user_id), max_state(value)
            |FROM events WHERE event_id % 2 = 1 GROUP BY event_type""".stripMargin))
        ddl.sql(
          """SELECT event_type,
            |  CAST(count_merge(cnt) AS BIGINT) AS n,
            |  CAST(sum_merge(sv) AS BIGINT) AS su,
            |  avg_merge(av) AS au,
            |  max_merge(mx) AS mxv
            |FROM ev_state GROUP BY event_type ORDER BY event_type""".stripMargin)
      },
      """SELECT event_type,
        |  CAST(count(event_id) AS BIGINT) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS su,
        |  sum(CAST(user_id AS DOUBLE)) / count(user_id) AS au,
        |  max(value) AS mxv
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // DISTRIBUTED BY RANDOM BUCKETS AUTO (Doris 2.0 create-table
    // spellings): round-robin write layout — no distribution key, so a
    // hot-key load can't skew a tablet — with the bucket count derived
    // per load from the data volume. DUPLICATE-only (the merge models
    // need key-hash locality; DdlSpec pins the rejects). The lifecycle
    // proves distribution is a LAYOUT choice, not a semantics one:
    // versioned DELETE and post-delete reload behave identically to a
    // hash-distributed table.
    "sql_ddl_random_bucket" -> QueryDef(
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
        val ddl = lifecycle("sql_ddl_random_bucket", s, dir)(Seq(
          """CREATE TABLE li_rand (
            |  k BIGINT,
            |  qty DOUBLE,
            |  flag VARCHAR(4)
            |) ENGINE=OLAP
            |DUPLICATE KEY(k)
            |DISTRIBUTED BY RANDOM BUCKETS AUTO""".stripMargin,
          """INSERT INTO li_rand
            |SELECT l_orderkey, l_quantity, l_returnflag
            |FROM lineitem WHERE l_orderkey % 5 = 0""".stripMargin,
          // versioned delete: hides v1 'A' rows only
          "DELETE FROM li_rand WHERE flag = 'A'",
          // post-delete reload of 'A' rows — must survive the delete
          """INSERT INTO li_rand
            |SELECT l_orderkey, l_quantity, 'A'
            |FROM lineitem WHERE l_orderkey % 10 = 0""".stripMargin))
        ddl.sql(
          """SELECT flag, count(*) AS n,
            |  CAST(sum(CAST(qty * 10 AS BIGINT)) AS BIGINT) AS qty10
            |FROM li_rand GROUP BY flag ORDER BY flag""".stripMargin)
      },
      // replay: two DUPLICATE batches with versions, the versioned-delete
      // visibility rule, no merge window (duplicate model)
      """WITH b AS (
        |  SELECT l_orderkey AS k, l_quantity AS qty, l_returnflag AS flag,
        |         1 AS _ver
        |  FROM lineitem WHERE l_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_quantity, 'A', 3
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |vis AS (SELECT * FROM b WHERE NOT (flag = 'A' AND _ver < 2))
        |SELECT flag, count(*) AS n,
        |  CAST(sum(CAST(qty * 10 AS BIGINT)) AS BIGINT) AS qty10
        |FROM vis GROUP BY flag ORDER BY flag""".stripMargin),

    // NGRAM_BF index (Doris 2.x n-gram bloom filter): per-rowset-file
    // gram-bloom sidecars persist at load; an infix LIKE hashes its
    // CONSTANT needle driver-side, prunes files whose blooms exclude any
    // gram BEFORE per-row work, and keeps the plain LIKE as the residual
    // verify. The oracle runs the plain LIKE on both branches: pruning
    // must be invisible to results. Two statements so each LIKE is its
    // own prunable top-level conjunct: the common needle survives
    // everywhere (plain-LIKE residual), the selective needle exercises
    // the zero/few-survivor fold. DdlSpec asserts files-read < total.
    "sql_ddl_ngram_index" -> QueryDef(
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("documents")
        val ddl = lifecycle("sql_ddl_ngram_index", s, dir)(Seq(
          """CREATE TABLE doc_ng (
            |  doc_id BIGINT,
            |  body VARCHAR(65533),
            |  src VARCHAR(16),
            |  INDEX ix_body (body) USING NGRAM_BF
            |    PROPERTIES("gram_size" = "3", "bf_size" = "65536")
            |) ENGINE=OLAP
            |DUPLICATE KEY(doc_id)
            |DISTRIBUTED BY HASH(doc_id) BUCKETS 8""".stripMargin,
          """INSERT INTO doc_ng
            |SELECT doc_id, text, source FROM documents""".stripMargin))
        val common = ddl.sql(
          """SELECT src, count(*) AS n
            |FROM doc_ng WHERE body LIKE '%data%'
            |GROUP BY src""".stripMargin)
        val selective = ddl.sql(
          """SELECT 'zz_selective' AS src, count(*) AS n
            |FROM doc_ng WHERE body LIKE '%zqxv8kq%'""".stripMargin)
        common.unionByName(selective).orderBy("src")
      },
      """SELECT src, n FROM (
        |  SELECT source AS src, count(*) AS n
        |  FROM documents WHERE text LIKE '%data%'
        |  GROUP BY source
        |  UNION ALL
        |  SELECT 'zz_selective' AS src, count(*) AS n
        |  FROM documents WHERE text LIKE '%zqxv8kq%'
        |) ORDER BY src""".stripMargin)
  )

  // Doris join hints: `JOIN [broadcast] t` translates to Spark's
  // BROADCAST(t) relation hint (DdlSpec asserts it flips the physical
  // build side; [shuffle] → SHUFFLE_HASH), and the LEADING join-order
  // hint strips with a log — hints steer the PLAN, never results, so
  // the oracle replays the plain join.
  private def hintJoin: QueryDef = QueryDef(
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
      Tables.part(s, dir).createOrReplaceTempView("part")
      graft.sql.DorisSqlDialect.sql(s,
        """SELECT /*+ LEADING(p, l) */ p.p_brand AS brand,
          |  CAST(sum(CAST(l.l_quantity * 10 AS BIGINT)) AS BIGINT) AS qty10
          |FROM lineitem l JOIN [broadcast] part p
          |  ON l.l_partkey = p.p_partkey
          |WHERE p.p_size <= 10
          |GROUP BY p.p_brand ORDER BY brand""".stripMargin)
    },
    """SELECT p.p_brand AS brand,
      |  CAST(sum(CAST(l.l_quantity * 10 AS BIGINT)) AS BIGINT) AS qty10
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |WHERE p.p_size <= 10
      |GROUP BY p.p_brand ORDER BY brand""".stripMargin)

  /** The shared evolved-table staging used by `sql_ddl_schema_evolve` and
    * `sql_ddl_show_partitions` (one catalog, two reads of it). */
  private def schemaEvolveLifecycle(s: SparkSession, dir: String): DorisDdl = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    lifecycle("sql_ddl_schema_evolve", s, dir)(Seq(
      """CREATE TABLE ord_evo (
        |  o_orderdate DATE,
        |  o_orderkey BIGINT,
        |  o_totalprice DOUBLE
        |) ENGINE=OLAP
        |DUPLICATE KEY(o_orderdate, o_orderkey)
        |PARTITION BY RANGE(o_orderdate) (
        |  PARTITION p_early VALUES LESS THAN ('1998-01-01'),
        |  PARTITION p_late VALUES LESS THAN ('2000-01-01')
        |)
        |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin,
      """INSERT INTO ord_evo
        |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice
        |FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'""".stripMargin,
      "ALTER TABLE ord_evo ADD COLUMN channel VARCHAR(8) DEFAULT 'legacy'",
      "ALTER TABLE ord_evo ADD PARTITION p_rest VALUES LESS THAN (MAXVALUE)",
      """INSERT INTO ord_evo
        |SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice, 'web'
        |FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'""".stripMargin))
  }
}
