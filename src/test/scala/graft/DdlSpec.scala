package graft

import graft.sql.DorisDdl
import org.apache.spark.sql.functions._

/** Statement front-end invariants (SURVEY §3.1 over §1.1): the DDL/DML
  * parser's semantics beyond what the four sql_ddl_* oracle keys pin —
  * parse rejections a user would hit, the bucketed/partitioned physical
  * layout the CREATE clauses promise, versioned-delete edge cases, and
  * the partition-selection scan actually pruning.
  */
class DdlSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def fresh() = track(new DorisDdl(spark))

  test("create/insert values/select round-trips types and defaults") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE t_types (
        |  id BIGINT,
        |  name VARCHAR(10),
        |  price DECIMAL(10,2),
        |  seen DATETIME,
        |  day DATE,
        |  ok BOOLEAN,
        |  tag VARCHAR(6) DEFAULT 'none'
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute(
      """INSERT INTO t_types (id, name, price, seen, day, ok) VALUES
        |(1, 'a', 12.345, '2024-06-15 10:30:00', '2024-06-15', true),
        |(2, 'b', 0.5, '2024-06-16 00:00:00', '2024-06-16', false)""".stripMargin)
    val rows = ddl.sql("SELECT * FROM t_types ORDER BY id").collect()
    assert(rows.length == 2)
    // DECIMAL(10,2) rounds at load; DEFAULT fills the omitted column
    assert(rows(0).getDecimal(2).toString == "12.35" ||
      rows(0).getDecimal(2).toString == "12.34") // HALF_UP vs HALF_EVEN: pin presence of scale 2
    assert(rows(0).getDecimal(2).scale == 2)
    assert(rows.forall(_.getString(6) == "none"))
    val schema = ddl.sql("SELECT * FROM t_types").schema
    assert(schema("seen").dataType.typeName == "timestamp")
    assert(schema("day").dataType.typeName == "date")
    assert(schema("ok").dataType.typeName == "boolean")
  }

  test("parser rejects malformed / illegal statements loudly") {
    val ddl = fresh()
    // missing DISTRIBUTED BY
    assertThrows[RuntimeException](ddl.execute(
      "CREATE TABLE bad1 (a INT) DUPLICATE KEY(a)"))
    // KEY not a prefix of the columns
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad2 (a INT, b INT) DUPLICATE KEY(b) DISTRIBUTED BY HASH(b) BUCKETS 1"))
    // aggregate marker without AGGREGATE KEY
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad3 (a INT, v DOUBLE SUM) DUPLICATE KEY(a) DISTRIBUTED BY HASH(a) BUCKETS 1"))
    // AGGREGATE value column without a marker
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad4 (a INT, v DOUBLE) AGGREGATE KEY(a) DISTRIBUTED BY HASH(a) BUCKETS 1"))
    // unknown table
    assertThrows[RuntimeException](ddl.execute("INSERT INTO nope VALUES (1)"))
    // DELETE on an AGGREGATE table (Doris restriction)
    ddl.execute("CREATE TABLE ag (a INT, v DOUBLE SUM) AGGREGATE KEY(a) DISTRIBUTED BY HASH(a) BUCKETS 1")
    assertThrows[IllegalArgumentException](ddl.execute("DELETE FROM ag WHERE a = 1"))
    // duplicate CREATE
    ddl.execute("CREATE TABLE once (a INT) DUPLICATE KEY(a) DISTRIBUTED BY HASH(a) BUCKETS 1")
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE once (a INT) DUPLICATE KEY(a) DISTRIBUTED BY HASH(a) BUCKETS 1"))
  }

  test("a load with a row beyond the last range bound is rejected (Doris semantics)") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE bounded (d DATE, v INT) DUPLICATE KEY(d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'),
        |  PARTITION p2 VALUES LESS THAN ('2025-01-01')
        |) DISTRIBUTED BY HASH(v) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO bounded VALUES ('2024-06-15', 1)") // fits p2
    val e = intercept[Exception](ddl.execute(
      "INSERT INTO bounded VALUES ('2026-01-01', 2)")) // beyond p2
    assert(e.getMessage != null)
    // the failed load must not corrupt the table: only the first row visible
    assert(ddl.sql("SELECT count(*) AS n FROM bounded").as[Long].head() == 1L)
  }

  test("bucketed partitioned layout: <= BUCKETS files per partition per load") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE lay (d DATE, k BIGINT, v DOUBLE) DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION pa VALUES LESS THAN ('1998-01-01'),
        |  PARTITION pb VALUES LESS THAN (MAXVALUE)
        |) DISTRIBUTED BY HASH(k) BUCKETS 3""".stripMargin)
    Tables.orders(spark, sf).createOrReplaceTempView("orders")
    ddl.execute(
      "INSERT INTO lay SELECT CAST(o_orderdate AS DATE), o_orderkey, o_totalprice FROM orders")
    val dir = ddlDir(ddl, "lay")
    for (p <- Seq("pa", "pb")) {
      val files = Option(new java.io.File(dir, s"_p=$p").list())
        .getOrElse(Array.empty).filter(_.endsWith(".parquet"))
      assert(files.nonEmpty && files.length <= 3,
        s"partition $p: ${files.length} files (buckets=3)")
    }
  }

  test("partition selection produces a partition-pruned scan") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sel (d DATE, v DOUBLE) DUPLICATE KEY(d)
        |PARTITION BY RANGE(d) (
        |  PARTITION lo VALUES LESS THAN ('1998-01-01'),
        |  PARTITION hi VALUES LESS THAN (MAXVALUE)
        |) DISTRIBUTED BY HASH(d) BUCKETS 2""".stripMargin)
    Tables.orders(spark, sf).createOrReplaceTempView("orders")
    ddl.execute(
      "INSERT INTO sel SELECT CAST(o_orderdate AS DATE), o_totalprice FROM orders")
    val restricted = ddl.sql("SELECT count(*) AS n FROM sel PARTITION (lo)")
    val full = ddl.sql("SELECT count(*) AS n FROM sel")
    assert(restricted.as[Long].head() < full.as[Long].head())
    // physical pruning: the restricted scan reads only the lo directory
    val scan = restricted.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("_p"),
      scan.take(600))
  }

  test("versioned delete: a key whose only row predates the delete stays gone") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE vd (k BIGINT, v VARCHAR(8)) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO vd VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    ddl.execute("DELETE FROM vd WHERE k >= 2")
    ddl.execute("INSERT INTO vd VALUES (2, 'b2')") // post-delete reload
    val got = ddl.sql("SELECT k, v FROM vd ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "a"), (2L, "b2")), got)
    // and a delete matching NOTHING leaves everything visible (null-safe
    // predicate fold — the coalesce rule in applyDeletePredicates)
    ddl.execute("DELETE FROM vd WHERE v = 'zzz'")
    assert(ddl.sql("SELECT count(*) AS n FROM vd").as[Long].head() == 2L)
  }

  test("aggregate model: SUM/MAX/MIN/REPLACE merge across loads") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE am (k BIGINT, s BIGINT SUM, mx BIGINT MAX, mn BIGINT MIN,
        |  r VARCHAR(4) REPLACE) AGGREGATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO am VALUES (1, 10, 5, 5, 'v1'), (2, 20, 7, 7, 'v1')")
    ddl.execute("INSERT INTO am VALUES (1, 1, 9, 2, 'v2')")
    val got = ddl.sql("SELECT k, s, mx, mn, r FROM am ORDER BY k")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq((1L, 11L, 9L, 2L, "v2"), (2L, 20L, 7L, 7L, "v1")), got)
  }

  test("UPDATE: read-your-writes ordering, key-column and key-model guards") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE up (k BIGINT, v DOUBLE, tag VARCHAR(8))
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO up VALUES (1, 10.0, 'a'), (2, 20.0, 'a'), (3, 30.0, 'a')")
    ddl.execute("UPDATE up SET v = v * 2 WHERE k <= 2")
    // second UPDATE's predicate reads the column the first one doubled
    ddl.execute("UPDATE up SET tag = 'big' WHERE v >= 40")
    val got = ddl.sql("SELECT k, v, tag FROM up ORDER BY k")
      .as[(Long, Double, String)].collect().toSeq
    assert(got == Seq((1L, 20.0, "a"), (2L, 40.0, "big"), (3L, 30.0, "a")), got)
    // guards: key columns and non-UNIQUE tables reject
    assertThrows[IllegalArgumentException](
      ddl.execute("UPDATE up SET k = 9 WHERE k = 1"))
    ddl.execute("CREATE TABLE dup_t (k BIGINT, v DOUBLE) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1")
    assertThrows[IllegalArgumentException](
      ddl.execute("UPDATE dup_t SET v = 1 WHERE k = 1"))
  }

  test("TRUNCATE empties the table but keeps the schema for reloads") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE tr (k BIGINT, v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO tr VALUES (1, 1.0), (2, 2.0)")
    ddl.execute("DELETE FROM tr WHERE k = 1")
    ddl.execute("TRUNCATE TABLE tr")
    // a truncated table reads EMPTY (zero rows, Doris semantics) — never
    // stale rows, never a not-found
    assert(ddl.sql("SELECT count(*) AS n FROM tr").head.getLong(0) == 0L)
    // reload after truncate: only the new rows are visible, and the
    // pre-truncate DELETE predicate must NOT apply to them
    ddl.execute("INSERT INTO tr VALUES (1, 9.0), (3, 3.0)")
    val got = ddl.sql("SELECT k, v FROM tr ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 9.0), (3L, 3.0)), got)
  }

  test("partition evolution guards: bound ordering and MAXVALUE finality") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE pe (d DATE, k BIGINT)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'),
        |  PARTITION p2 VALUES LESS THAN ('2024-02-01'))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    // new bound must exceed the last bound
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE pe ADD PARTITION p0 VALUES LESS THAN ('2023-12-01')"))
    // duplicate partition name
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE pe ADD PARTITION p2 VALUES LESS THAN ('2024-03-01')"))
    ddl.execute("ALTER TABLE pe ADD PARTITION p3 VALUES LESS THAN (MAXVALUE)")
    // nothing can follow an open MAXVALUE partition
    assertThrows[RuntimeException](ddl.execute(
      "ALTER TABLE pe ADD PARTITION p4 VALUES LESS THAN ('2024-04-01')"))
    // rows beyond the old last bound now load instead of failing
    ddl.execute("INSERT INTO pe VALUES ('2024-06-15', 1)")
    assert(ddl.sql("SELECT count(*) AS n FROM pe").as[Long].head() == 1L)
  }

  test("light ADD COLUMN: no rowset rewrite; old rows surface the default") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sc (k BIGINT, v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO sc VALUES (1, 1.0)")
    val dir = ddlDir(ddl, "sc")
    def fileSet() = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = fileSet()
    ddl.execute("ALTER TABLE sc ADD COLUMN tag VARCHAR(8) DEFAULT 'legacy'")
    assert(fileSet() == before, "ADD COLUMN must be metadata-only")
    ddl.execute("INSERT INTO sc VALUES (2, 2.0, 'web')")
    val got = ddl.sql("SELECT k, tag FROM sc ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "legacy"), (2L, "web")), got)
    // duplicate column rejects
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE sc ADD COLUMN tag VARCHAR(8)"))
  }

  test("sync MV: aggregate over the base is served by the MV scan, and " +
    "maintenance keeps it exact through INSERT and versioned DELETE") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE mvb (k BIGINT, g VARCHAR(4), v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO mvb VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    ddl.execute(
      """CREATE MATERIALIZED VIEW mvb_mv AS
        |SELECT g, SUM(v) AS sum_v, COUNT(*) AS cnt
        |FROM mvb GROUP BY g""".stripMargin)
    def agg() = ddl.sql(
      "SELECT g, sum(v) AS s, count(*) AS n FROM mvb GROUP BY g ORDER BY g")
    def servedByMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("graft_ddl_mv_mvb_mv"))
        case _ => false
      }
    assert(servedByMv(agg()), "aggregate must retarget onto the MV")
    assert(agg().as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 1.0, 1L), ("b", 2.0, 1L)))
    // INSERT maintenance: the MV is rebuilt transactionally with the load
    ddl.execute("INSERT INTO mvb VALUES (3, 'a', 3.0)")
    assert(servedByMv(agg()), "post-insert aggregate must still be MV-served")
    assert(agg().as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 4.0, 2L), ("b", 2.0, 1L)))
    // versioned DELETE does NOT touch the base dir's version — only the
    // register swap (replace by identity) retires the stale MV version
    // (the race the version guard alone cannot see)
    ddl.execute("DELETE FROM mvb WHERE g = 'b'")
    assert(servedByMv(agg()), "post-delete aggregate must still be MV-served")
    assert(agg().as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 4.0, 2L)))
    // non-covered aggregate bails to base: grouping key outside the MV
    val byK = ddl.sql("SELECT k, sum(v) AS s FROM mvb GROUP BY k ORDER BY k")
    assert(!servedByMv(byK), "non-covered grouping must scan the base")
    assert(byK.as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (3L, 3.0)))
  }

  test("CTAS derives the schema from the SELECT and rejects a non-prefix key") {
    val ddl = fresh()
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem")
    ddl.execute(
      """CREATE TABLE li_small
        |DISTRIBUTED BY HASH(l_orderkey) BUCKETS 2
        |AS SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey < 100""".stripMargin)
    val sch = ddl.sql("SELECT * FROM li_small").schema
    assert(sch.fieldNames.toSeq == Seq("l_orderkey", "l_quantity"))
    assert(sch("l_orderkey").dataType.typeName == "long")
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE bad_ctas DUPLICATE KEY(l_quantity)
        |DISTRIBUTED BY HASH(l_quantity) BUCKETS 1
        |AS SELECT l_orderkey, l_quantity FROM lineitem""".stripMargin))
  }

  test("metadata statements: SHOW TABLES / DESC / SHOW CREATE TABLE " +
    "round-trips the definition") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE meta_t (
        |  d DATE,
        |  k BIGINT,
        |  v DOUBLE,
        |  tag VARCHAR(6) DEFAULT 'none'
        |) ENGINE=OLAP
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'),
        |  PARTITION p2 VALUES LESS THAN (MAXVALUE)
        |)
        |DISTRIBUTED BY HASH(k) BUCKETS 3""".stripMargin)
    assert(ddl.sql("SHOW TABLES").as[String].collect().contains("meta_t"))
    val desc = ddl.sql("DESC meta_t").collect()
    assert(desc.map(_.getString(0)).toSeq == Seq("d", "k", "v", "tag"))
    assert(desc.map(_.getString(2)).toSeq ==
      Seq("true", "true", "false", "false"))
    assert(desc(3).getString(4) == "none")
    // SHOW CREATE TABLE must round-trip: replaying the emitted text in a
    // fresh catalog yields an identical definition
    val stmt = ddl.sql("SHOW CREATE TABLE meta_t")
      .select("create_table").as[String].head()
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("`meta_t`", "`meta_t2`"))
    val stmt2 = ddl2.sql("SHOW CREATE TABLE meta_t2")
      .select("create_table").as[String].head()
    assert(stmt2.replace("meta_t2", "meta_t") == stmt, s"$stmt\n---\n$stmt2")
  }

  test("light DROP COLUMN: metadata-only, structural/MV columns reject") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE dc (k BIGINT, v DOUBLE, extra VARCHAR(6))
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dc VALUES (1, 1.0, 'x'), (2, 2.0, 'y')")
    val dir = ddlDir(ddl, "dc")
    def fileSet() = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
    val before = fileSet()
    ddl.execute("ALTER TABLE dc DROP COLUMN extra")
    assert(fileSet() == before, "DROP COLUMN must be metadata-only")
    assert(ddl.sql("SELECT * FROM dc").schema.fieldNames.toSeq == Seq("k", "v"))
    // a later load no longer carries the column; reads stay consistent
    ddl.execute("INSERT INTO dc VALUES (3, 3.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM dc").as[Long].head() == 3L)
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE dc DROP COLUMN k"))
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE dc DROP COLUMN nope"))
    // an MV-referenced column cannot be dropped (the Doris rollup rule)
    ddl.execute(
      """CREATE TABLE dcm (k BIGINT, g VARCHAR(4), v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dcm VALUES (1, 'a', 1.0)")
    ddl.execute(
      "CREATE MATERIALIZED VIEW dcm_mv AS SELECT g, SUM(v) AS s FROM dcm GROUP BY g")
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE dcm DROP COLUMN v"))
  }

  test("sketch aggregate markers: BITMAP_UNION exact, REPLACE_IF_NOT_NULL " +
    "ordering across versions") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sk (k BIGINT, bm BITMAP BITMAP_UNION,
        |  r VARCHAR(4) REPLACE_IF_NOT_NULL)
        |AGGREGATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    // v1: values; v2: overlapping bitmap + NULL note; v3: fresh note
    ddl.execute("INSERT INTO sk SELECT 1, to_bitmap(10), 'a'")
    ddl.execute("INSERT INTO sk SELECT 1, to_bitmap(11), CAST(NULL AS STRING)")
    val mid = ddl.sql("SELECT bitmap_count(bm) AS n, r FROM sk")
      .as[(Long, String)].head()
    assert(mid == ((2L, "a")), s"newer NULL must not erase 'a': $mid")
    ddl.execute("INSERT INTO sk SELECT 1, to_bitmap(10), 'b'")
    val fin = ddl.sql("SELECT bitmap_count(bm) AS n, r FROM sk")
      .as[(Long, String)].head()
    assert(fin == ((2L, "b")), s"newer non-null must win, dup ids collapse: $fin")
  }

  test("INSERT OVERWRITE: staged validation leaves old data intact on " +
    "failure; full overwrite clears delete predicates") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ow (d DATE, k BIGINT, v DOUBLE)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-02-01'),
        |  PARTITION p2 VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute(
      "INSERT INTO ow VALUES ('2024-01-10', 1, 1.0), ('2024-03-10', 2, 2.0)")
    // a PARTITION overwrite fed a row OUTSIDE the target partition must
    // fail during staging and leave the partition untouched
    assertThrows[Exception](ddl.execute(
      """INSERT OVERWRITE TABLE ow PARTITION (p1)
        |SELECT CAST('2024-03-15' AS DATE), 9, 9.0""".stripMargin))
    assert(ddl.sql("SELECT count(*) AS n FROM ow PARTITION (p1)")
      .as[Long].head() == 1L, "failed overwrite must not wipe the partition")
    // a valid partition overwrite replaces exactly that partition
    ddl.execute(
      """INSERT OVERWRITE TABLE ow PARTITION (p1)
        |SELECT CAST('2024-01-20' AS DATE), 7, 7.0""".stripMargin)
    val rows = ddl.sql("SELECT k, v FROM ow ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(rows == Seq((2L, 2.0), (7L, 7.0)), rows)
    // full-table overwrite clears standing versioned deletes
    ddl.execute("DELETE FROM ow WHERE k = 7")
    ddl.execute(
      "INSERT OVERWRITE TABLE ow SELECT CAST('2024-01-05' AS DATE), 7, 5.0")
    assert(ddl.sql("SELECT k, v FROM ow").as[(Long, Double)].collect().toSeq ==
      Seq((7L, 5.0)), "pre-overwrite delete must not apply to replaced data")
  }

  test("DROP TABLE removes catalog entry, views, and rollup registrations; " +
    "CREATE VIEW stays fresh across later loads") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE dt (k BIGINT, g VARCHAR(4), v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dt VALUES (1, 'a', 1.0)")
    ddl.execute(
      "CREATE MATERIALIZED VIEW dt_mv AS SELECT g, SUM(v) AS s FROM dt GROUP BY g")
    // a logical view over the table, re-registered from text per statement
    ddl.execute("CREATE VIEW dt_v AS SELECT g, sum(v) AS s FROM dt GROUP BY g")
    assert(ddl.sql("SELECT s FROM dt_v").as[Double].head() == 1.0)
    ddl.execute("INSERT INTO dt VALUES (2, 'a', 2.0)")
    assert(ddl.sql("SELECT s FROM dt_v").as[Double].head() == 3.0,
      "view must read the post-load state, not its creation-time plan")
    ddl.execute("DROP TABLE dt")
    assert(!spark.catalog.tableExists("dt"))
    assertThrows[RuntimeException](ddl.execute("INSERT INTO dt VALUES (3, 'b', 1.0)"))
  }

  test("SELECT INTO OUTFILE writes distributed files and reports the count") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE of (k BIGINT, v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO of VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    val out = TempDirs.create("graft_outfile")
    val res = ddl.sql(
      s"SELECT k, v FROM of WHERE k <= 2 INTO OUTFILE '$out' FORMAT AS CSV")
      .as[(Long, String)].head()
    assert(res._1 == 2L, res)
    val back = spark.read.option("header", "true").csv(out)
      .selectExpr("CAST(k AS BIGINT) k", "CAST(v AS DOUBLE) v")
      .as[(Long, Double)].collect().toSet
    assert(back == Set((1L, 1.5), (2L, 2.5)), back)
  }

  test("AUTO PARTITION: buckets materialize on load, manual ADD rejects, " +
    "SHOW CREATE TABLE round-trips the AUTO clause") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ap (d DATETIME, k BIGINT)
        |DUPLICATE KEY(d, k)
        |AUTO PARTITION BY RANGE (date_trunc(`d`, 'month')) ()
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(
      "INSERT INTO ap VALUES ('2024-01-10 00:00:00', 1), ('2024-03-05 00:00:00', 2)")
    val parts = ddl.sql("SHOW PARTITIONS FROM ap")
      .as[(String, String, Long)].collect().toSeq
    assert(parts == Seq(("p202401", "AUTO(month)", 1L),
      ("p202403", "AUTO(month)", 1L)), parts)
    // partition selection works on materialized buckets
    assert(ddl.sql("SELECT count(*) AS n FROM ap PARTITION (p202403)")
      .as[Long].head() == 1L)
    // manual partition management rejects on AUTO tables
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE ap ADD PARTITION p9 VALUES LESS THAN ('2025-01-01')"))
    // dropping an unmaterialized bucket rejects; a materialized one works
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE ap DROP PARTITION p202402"))
    ddl.execute("ALTER TABLE ap DROP PARTITION p202401")
    assert(ddl.sql("SELECT count(*) AS n FROM ap").as[Long].head() == 1L)
    // the emitted CREATE TABLE round-trips the AUTO clause
    val stmt = ddl.sql("SHOW CREATE TABLE ap")
      .select("create_table").as[String].head()
    assert(stmt.contains("AUTO PARTITION BY RANGE (date_trunc(`d`, 'month')) ()"), stmt)
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("`ap`", "`ap2`"))
    ddl2.execute("INSERT INTO ap2 VALUES ('2024-05-01 00:00:00', 7)")
    assert(ddl2.sql("SHOW PARTITIONS FROM ap2")
      .as[(String, String, Long)].head() == (("p202405", "AUTO(month)", 1L)))
  }

  test("ARRAY and MAP typed columns parse, load, and query") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE nested (
        |  k BIGINT,
        |  tags ARRAY<VARCHAR(8)>,
        |  props MAP<VARCHAR(4), INT>
        |) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute(
      """INSERT INTO nested VALUES
        |(1, array('a', 'b'), map('x', 1, 'y', 2)),
        |(2, array('c'), map('x', 9))""".stripMargin)
    val sch = ddl.sql("SELECT * FROM nested").schema
    assert(sch("tags").dataType.simpleString == "array<string>")
    assert(sch("props").dataType.simpleString == "map<string,int>")
    val got = ddl.sql(
      """SELECT k, size(tags) AS n_tags, array_contains(tags, 'b') AS has_b,
        |  element_at(props, 'x') AS x
        |FROM nested ORDER BY k""".stripMargin)
      .as[(Long, Int, Boolean, Int)].collect().toSeq
    assert(got == Seq((1L, 2, true, 1), (2L, 1, false, 9)), got)
    // STRUCT with nested field types (Doris colon syntax)
    ddl.execute(
      """CREATE TABLE structs (
        |  k BIGINT,
        |  who STRUCT<name: VARCHAR(8), score: DOUBLE>
        |) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute(
      "INSERT INTO structs VALUES (1, named_struct('name', 'ada', 'score', 9.5))")
    val s1 = ddl.sql("SELECT k, who.name AS n, who.score AS sc FROM structs")
      .as[(Long, String, Double)].head()
    assert(s1 == ((1L, "ada", 9.5)), s1)
  }

  test("sync MV over an AGGREGATE-key base serves THROUGH the merge " +
    "aggregate (pre-aggregation ON), including pruned queries") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE amv (k BIGINT, g VARCHAR(4), sv DOUBLE SUM, n BIGINT SUM)
        |AGGREGATE KEY(k, g) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO amv VALUES (1, 'a', 1.0, 1), (2, 'a', 2.0, 1), (1, 'b', 4.0, 1)")
    ddl.execute(
      """CREATE MATERIALIZED VIEW amv_mv AS
        |SELECT g, SUM(sv) AS s, SUM(n) AS c FROM amv GROUP BY g""".stripMargin)
    def servedByMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("graft_ddl_mv_amv_mv"))
        case _ => false
      }
    val full = ddl.sql(
      "SELECT g, sum(sv) AS s, sum(n) AS c FROM amv GROUP BY g ORDER BY g")
    assert(servedByMv(full), "aggregate over the AGGREGATE table must " +
      "retarget through the merge node onto the MV")
    assert(full.as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 3.0, 2L), ("b", 4.0, 1L)))
    // column pruning drops unused agg columns from the inner merge node —
    // the subset match must still serve
    val pruned = ddl.sql("SELECT g, sum(sv) AS s FROM amv GROUP BY g ORDER BY g")
    assert(servedByMv(pruned), "pruned inner aggregate must still serve")
    // maintenance: a later load rebuilds the MV; rows merge at both levels
    ddl.execute("INSERT INTO amv VALUES (1, 'a', 10.0, 1)")
    val after = ddl.sql(
      "SELECT g, sum(sv) AS s, sum(n) AS c FROM amv GROUP BY g ORDER BY g")
    assert(servedByMv(after))
    assert(after.as[(String, Double, Long)].collect().toSeq ==
      Seq(("a", 13.0, 3L), ("b", 4.0, 1L)))
    // a grouping outside the MV keys bails to the base merge
    val byK = ddl.sql("SELECT k, sum(sv) AS s FROM amv GROUP BY k ORDER BY k")
    assert(!servedByMv(byK))
    assert(byK.as[(Long, Double)].collect().toSeq ==
      Seq((1L, 15.0), (2L, 2.0)))
  }

  test("CTAS honors the declared key model: UNIQUE KEY ... AS SELECT " +
    "upserts on later INSERTs; AGGREGATE KEY CTAS rejects") {
    val ddl = fresh()
    ddl.execute("CREATE TABLE ctas_src (k BIGINT, v DOUBLE) DUPLICATE KEY(k) " +
      "DISTRIBUTED BY HASH(k) BUCKETS 1")
    ddl.execute("INSERT INTO ctas_src VALUES (1, 1.0), (2, 2.0)")
    ddl.execute(
      """CREATE TABLE ctas_u
        |UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 2
        |AS SELECT k, v FROM ctas_src""".stripMargin)
    // a second INSERT must UPSERT (merge-on-read), not append
    ddl.execute("INSERT INTO ctas_u VALUES (1, 100.0), (3, 3.0)")
    val got = ddl.sql("SELECT k, v FROM ctas_u ORDER BY k")
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 100.0), (2L, 2.0), (3L, 3.0)),
      s"UNIQUE CTAS must carry upsert semantics: $got")
    // and DELETE (UNIQUE-only surface) works on the CTAS table
    ddl.execute("DELETE FROM ctas_u WHERE k = 2")
    assert(ddl.sql("SELECT count(*) AS n FROM ctas_u").as[Long].head() == 2L)
    // AGGREGATE KEY CTAS cannot declare value aggregate markers: reject
    assertThrows[RuntimeException](ddl.execute(
      """CREATE TABLE ctas_a AGGREGATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1
        |AS SELECT k, v FROM ctas_src""".stripMargin))
  }

  test("DROP PARTITION leaves a REJECTING hole; SHOW PARTITIONS hides it; " +
    "SHOW CREATE TABLE round-trips the hole") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE hole (d DATE, v INT) DUPLICATE KEY(d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'),
        |  PARTITION p2 VALUES LESS THAN ('2024-02-01'),
        |  PARTITION p3 VALUES LESS THAN ('2024-03-01')
        |) DISTRIBUTED BY HASH(v) BUCKETS 1""".stripMargin)
    ddl.execute(
      """INSERT INTO hole VALUES ('2023-12-15', 1), ('2024-01-15', 2),
        |('2024-02-15', 3)""".stripMargin)
    ddl.execute("ALTER TABLE hole DROP PARTITION p2")
    // the dropped partition's rows are gone, the others intact
    assert(ddl.sql("SELECT sum(v) AS s FROM hole").as[Long].head() == 4L)
    // a reload into the vacated range must be REJECTED, and the failed
    // load must not corrupt the table
    assertThrows[Exception](
      ddl.execute("INSERT INTO hole VALUES ('2024-01-20', 9)"))
    assert(ddl.sql("SELECT count(*) AS n FROM hole").as[Long].head() == 2L)
    // rows for LIVE partitions still load
    ddl.execute("INSERT INTO hole VALUES ('2024-02-20', 5)")
    assert(ddl.sql("SELECT count(*) AS n FROM hole").as[Long].head() == 3L)
    // SHOW PARTITIONS lists only live partitions
    val parts = ddl.sql("SHOW PARTITIONS FROM hole")
      .select("partition_name").as[String].collect().toSeq
    assert(parts == Seq("p1", "p3"), parts)
    // dropping it again (or selecting it) rejects
    assertThrows[Exception](ddl.execute("ALTER TABLE hole DROP PARTITION p2"))
    // SHOW CREATE TABLE emits p3 as a FIXED RANGE above the hole, and
    // replaying the text reproduces the rejecting hole
    val stmt = ddl.sql("SHOW CREATE TABLE hole")
      .select("create_table").as[String].head()
    assert(stmt.contains("PARTITION p3 VALUES [('2024-02-01'), ('2024-03-01'))"),
      stmt)
    assert(!stmt.contains("p2"), s"dropped partition resurrected:\n$stmt")
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("`hole`", "`hole2`"))
    ddl2.execute("INSERT INTO hole2 VALUES ('2024-02-10', 1)") // p3 range
    assertThrows[Exception]( // the hole still rejects after the round-trip
      ddl2.execute("INSERT INTO hole2 VALUES ('2024-01-10', 1)"))
    val stmt2 = ddl2.sql("SHOW CREATE TABLE hole2")
      .select("create_table").as[String].head()
    assert(stmt2.replace("hole2", "hole") == stmt, s"$stmt\n---\n$stmt2")
  }

  test("light ADD COLUMN backfills ONLY pre-change rowsets: an explicit " +
    "NULL written after the change persists") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE nv (k BIGINT, v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO nv VALUES (1, 1.0)") // pre-change rowset
    ddl.execute("ALTER TABLE nv ADD COLUMN tag VARCHAR(8) DEFAULT 'legacy'")
    // post-change rowset with an EXPLICIT NULL in the defaulted column
    ddl.execute("INSERT INTO nv VALUES (2, 2.0, CAST(NULL AS STRING))")
    ddl.execute("INSERT INTO nv VALUES (3, 3.0, 'web')")
    val got = ddl.sql("SELECT k, tag FROM nv ORDER BY k")
      .as[(Long, Option[String])].collect().toSeq
    assert(got == Seq((1L, Some("legacy")), (2L, None), (3L, Some("web"))),
      s"only the pre-change rowset may read back the default: $got")
    // a CREATE-time defaulted column behaves the same: default fills an
    // OMITTED column at load, but an explicit NULL persists
    ddl.execute(
      """CREATE TABLE nv2 (k BIGINT, tag VARCHAR(8) DEFAULT 'none')
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO nv2 (k) VALUES (1)")
    ddl.execute("INSERT INTO nv2 VALUES (2, CAST(NULL AS STRING))")
    val got2 = ddl.sql("SELECT k, tag FROM nv2 ORDER BY k")
      .as[(Long, Option[String])].collect().toSeq
    assert(got2 == Seq((1L, Some("none")), (2L, None)), got2)
  }

  test("two MVs with the SAME group keys coexist (identity keying); " +
    "TRUNCATE deregisters rollups until the next load") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE co (k BIGINT, g VARCHAR(4), v DOUBLE, w DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO co VALUES (1, 'a', 1.0, 10.0), (2, 'b', 2.0, 20.0)")
    ddl.execute(
      "CREATE MATERIALIZED VIEW co_v AS SELECT g, SUM(v) AS sv FROM co GROUP BY g")
    ddl.execute(
      "CREATE MATERIALIZED VIEW co_w AS SELECT g, SUM(w) AS sw FROM co GROUP BY g")
    def servedBy(df: org.apache.spark.sql.DataFrame, frag: String): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains(frag))
        case _ => false
      }
    // BOTH same-key MVs serve their own aggregate — neither evicted the other
    val qv = ddl.sql("SELECT g, sum(v) AS s FROM co GROUP BY g ORDER BY g")
    val qw = ddl.sql("SELECT g, sum(w) AS s FROM co GROUP BY g ORDER BY g")
    assert(servedBy(qv, "graft_ddl_mv_co_v"), "first MV must serve sum(v)")
    assert(servedBy(qw, "graft_ddl_mv_co_w"), "second MV must serve sum(w)")
    assert(qv.as[(String, Double)].collect().toSeq ==
      Seq(("a", 1.0), ("b", 2.0)))
    assert(qw.as[(String, Double)].collect().toSeq ==
      Seq(("a", 10.0), ("b", 20.0)))
    // TRUNCATE: the stale pre-truncate snapshots must stop serving
    ddl.execute("TRUNCATE TABLE co")
    ddl.execute("INSERT INTO co VALUES (3, 'c', 3.0, 30.0)")
    val post = ddl.sql("SELECT g, sum(v) AS s FROM co GROUP BY g")
    assert(post.as[(String, Double)].collect().toSeq == Seq(("c", 3.0)),
      "post-truncate aggregate must not read a pre-truncate rollup snapshot")
    assert(servedBy(post, "graft_ddl_mv_co_v"),
      "the next load must re-register a FRESH snapshot that serves again")
  }

  test("sequence column property: out-of-order loads resolve by (seq, ver); " +
    "delete sign respects the sequence; guards and round-trip") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sq (k BIGINT, v VARCHAR(8), seq BIGINT)
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1
        |PROPERTIES ("function_column.sequence_col" = "seq")""".stripMargin)
    ddl.execute("INSERT INTO sq VALUES (1, 'base', 5), (2, 'base', 5)")
    // stale update (lower seq) must LOSE despite the higher version
    ddl.execute("INSERT INTO sq VALUES (1, 'stale', 3)")
    // fresh update wins
    ddl.execute("INSERT INTO sq VALUES (2, 'fresh', 7)")
    assert(ddl.sql("SELECT k, v FROM sq ORDER BY k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "base"), (2L, "fresh")))
    // a STALE delete marker (seq below the winner) deletes nothing
    ddl.execute(
      "INSERT INTO sq (k, v, seq, __DELETE_SIGN__) VALUES (1, 'x', 1, 1)")
    assert(ddl.sql("SELECT count(*) AS n FROM sq").as[Long].head() == 2L,
      "stale delete must be a no-op")
    // a FRESH delete marker removes its key
    ddl.execute(
      "INSERT INTO sq (k, v, seq, __DELETE_SIGN__) VALUES (1, 'x', 9, 1)")
    assert(ddl.sql("SELECT k, v FROM sq ORDER BY k")
      .as[(Long, String)].collect().toSeq == Seq((2L, "fresh")))
    // equal seq resolves by version (last load wins)
    ddl.execute("INSERT INTO sq VALUES (2, 'tie', 7)")
    assert(ddl.sql("SELECT v FROM sq WHERE k = 2").as[String].head() == "tie")
    // SHOW CREATE TABLE round-trips the property
    val stmt = ddl.sql("SHOW CREATE TABLE sq")
      .select("create_table").as[String].head()
    assert(stmt.contains("\"function_column.sequence_col\" = \"seq\""), stmt)
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("`sq`", "`sq2`"))
    ddl2.execute("INSERT INTO sq2 VALUES (1, 'a', 5)")
    ddl2.execute("INSERT INTO sq2 VALUES (1, 'old', 1)")
    assert(ddl2.sql("SELECT v FROM sq2").as[String].head() == "a",
      "replayed table must keep sequence-merge semantics")
    // guards: non-UNIQUE table, unknown column, key column
    assertThrows[Exception](ddl.execute(
      """CREATE TABLE bad_sq1 (k BIGINT, seq BIGINT) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1
        |PROPERTIES ("function_column.sequence_col" = "seq")""".stripMargin))
    assertThrows[Exception](ddl.execute(
      """CREATE TABLE bad_sq2 (k BIGINT, v BIGINT) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1
        |PROPERTIES ("function_column.sequence_col" = "nope")""".stripMargin))
  }

  test("async MTMV: BUILD IMMEDIATE materializes; REFRESH recomputes " +
    "EXACTLY the stale partition with a partition-pruned scan") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE mt (d DATE, k BIGINT, v DOUBLE)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION pa VALUES LESS THAN ('2024-02-01'),
        |  PARTITION pb VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(
      """INSERT INTO mt VALUES ('2024-01-10', 1, 1.0), ('2024-01-10', 2, 2.0),
        |('2024-02-10', 3, 3.0)""".stripMargin)
    ddl.execute(
      """CREATE MATERIALIZED VIEW mt_mv
        |BUILD IMMEDIATE REFRESH AUTO ON MANUAL
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n, SUM(v) AS sv FROM mt GROUP BY d""".stripMargin)
    // BUILD IMMEDIATE: queryable by name right away
    assert(ddl.sql("SELECT d, n, sv FROM mt_mv ORDER BY d")
      .as[(java.sql.Date, Long, Double)].collect().toSeq.map(r => (r._1.toString, r._2, r._3)) ==
      Seq(("2024-01-10", 2L, 3.0), ("2024-02-10", 1L, 3.0)))
    // ON MANUAL: a base load does NOT auto-refresh
    ddl.execute("INSERT INTO mt VALUES ('2024-02-15', 4, 4.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM mt_mv").as[Long].head() == 2L,
      "ON MANUAL must defer staleness to REFRESH")
    // REFRESH recomputes exactly the ONE stale partition (pb)
    val r = ddl.sql("REFRESH MATERIALIZED VIEW mt_mv")
      .as[(String, Long)].head()
    assert(r == (("mt_mv", 1L)), s"exactly one stale partition: $r")
    // ... with a partition-PRUNED recompute scan
    val plan = ddl.mtmvLastPlan("mt_mv")
    assert(plan.contains("PartitionFilters") &&
      """PartitionFilters: \[[^\]]*_p#\d+ = pb""".r.findFirstIn(plan).isDefined,
      plan.take(800))
    assert(ddl.sql("SELECT d, n, sv FROM mt_mv ORDER BY d")
      .as[(java.sql.Date, Long, Double)].collect().toSeq.map(r => (r._1.toString, r._2, r._3)) ==
      Seq(("2024-01-10", 2L, 3.0), ("2024-02-10", 1L, 3.0),
        ("2024-02-15", 1L, 4.0)))
    // a no-op refresh touches nothing
    assert(ddl.sql("REFRESH MATERIALIZED VIEW mt_mv")
      .as[(String, Long)].head() == (("mt_mv", 0L)))
    // a versioned DELETE is not partition-scoped: everything goes stale
    ddl.execute("DELETE FROM mt WHERE k = 1")
    assert(ddl.sql("REFRESH MATERIALIZED VIEW mt_mv")
      .as[(String, Long)].head() == (("mt_mv", 2L)))
    assert(ddl.sql("SELECT round(sum(sv), 1) AS s FROM mt_mv")
      .as[Double].head() == 9.0)
  }

  test("light RENAME COLUMN / MODIFY COLUMN and table RENAME are " +
    "metadata-only; partition-scoped DELETE stays in its partition") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE rn (k BIGINT, val DOUBLE, note VARCHAR(4) DEFAULT 'n')
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO rn VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    val dir = ddlDir(ddl, "rn")
    def fileSet() = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try w.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally w.close()
    }
    val before = fileSet()
    ddl.execute("ALTER TABLE rn RENAME COLUMN val amount")
    assert(fileSet() == before, "RENAME COLUMN must be metadata-only")
    // old rowsets read under the new name
    assert(ddl.sql("SELECT k, amount FROM rn ORDER BY k")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 1.0), (2L, 2.0)))
    // a post-rename upsert merges with pre-rename rowsets
    ddl.execute("INSERT INTO rn VALUES (1, 10.0, 'a2'), (3, 3.0, 'c')")
    assert(ddl.sql("SELECT k, amount FROM rn ORDER BY k")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 2.0), (3L, 3.0)))
    // key columns rename too (merge follows the renamed key)
    ddl.execute("ALTER TABLE rn RENAME COLUMN k id")
    ddl.execute("INSERT INTO rn VALUES (2, 20.0, 'b2')")
    assert(ddl.sql("SELECT id, amount FROM rn ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 20.0), (3L, 3.0)))
    // guards: name in use; a renamed column's FORMER name stays reserved
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE rn RENAME COLUMN amount note"))
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE rn ADD COLUMN k BIGINT"))
    // MODIFY COLUMN: VARCHAR resize + DEFAULT change are light ...
    ddl.execute("ALTER TABLE rn MODIFY COLUMN note VARCHAR(64) DEFAULT \"m\"")
    assert(ddl.sql("DESC rn").collect()
      .find(_.getString(0) == "note").get.getString(4) == "m")
    // ... a physical retype is a HEAVY schema change: rowsets are
    // rewritten (contrast with the metadata-only rename above)
    ddl.execute("ALTER TABLE rn MODIFY COLUMN amount BIGINT")
    assert(fileSet() != before, "a retype must rewrite rowsets")
    assert(ddl.sql("SELECT * FROM rn").schema("amount").dataType.typeName
      == "long")
    assert(ddl.sql("SELECT id, amount FROM rn ORDER BY id")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 3L)))
    // table rename: new name serves, old name is gone
    ddl.execute("ALTER TABLE rn RENAME rn9")
    assert(ddl.sql("SELECT count(*) AS n FROM rn9").as[Long].head() == 3L)
    assert(!spark.catalog.tableExists("rn"))
    assertThrows[Exception](ddl.execute("INSERT INTO rn VALUES (9, 9.0, 'x')"))
    // partition-scoped DELETE: same predicate, other partitions survive
    ddl.execute(
      """CREATE TABLE pd (d DATE, v INT) DUPLICATE KEY(d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'),
        |  PARTITION p2 VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(v) BUCKETS 1""".stripMargin)
    ddl.execute(
      "INSERT INTO pd VALUES ('2023-06-01', 1), ('2024-06-01', 1), ('2024-07-01', 2)")
    ddl.execute("DELETE FROM pd PARTITION (p2) WHERE v = 1")
    assert(ddl.sql("SELECT d, v FROM pd ORDER BY d")
      .as[(java.sql.Date, Int)].collect().toSeq.map(r => (r._1.toString, r._2)) ==
      Seq(("2023-06-01", 1), ("2024-07-01", 2)),
      "the v=1 row OUTSIDE p2 must survive the scoped delete")
    // the delete is versioned: a post-delete reload into p2 survives
    ddl.execute("INSERT INTO pd VALUES ('2024-08-01', 1)")
    assert(ddl.sql("SELECT count(*) AS n FROM pd").as[Long].head() == 3L)
  }

  test("CREATE TABLE LIKE, SHOW COLUMNS / SHOW DATA, partition-targeted " +
    "INSERT, and the heavy MODIFY COLUMN retype rewrite") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE lk (d DATE, k BIGINT, v INT, note VARCHAR(4) DEFAULT 'n')
        |UNIQUE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-02-01'),
        |  PARTITION p2 VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(
      "INSERT INTO lk VALUES ('2024-01-10', 1, 5, 'a'), ('2024-03-10', 2, 6, 'b')")
    // LIKE copies the definition (round-trips through SHOW CREATE), no data
    ddl.execute("CREATE TABLE lk2 LIKE lk")
    val s1 = ddl.sql("SHOW CREATE TABLE lk")
      .select("create_table").as[String].head()
    val s2 = ddl.sql("SHOW CREATE TABLE lk2")
      .select("create_table").as[String].head()
    assert(s2.replace("lk2", "lk") == s1, s"$s1\n---\n$s2")
    assert(ddl.sql("SELECT count(*) AS n FROM lk2").as[Long].head() == 0L,
      "LIKE must copy no data (the empty table still reads, as Doris)")
    ddl.execute("INSERT INTO lk2 VALUES ('2024-01-15', 9, 9, 'z')")
    assert(ddl.sql("SELECT count(*) AS n FROM lk2").as[Long].head() == 1L)
    // SHOW COLUMNS is the DESC alias; SHOW DATA reads physical footprint
    assert(ddl.sql("SHOW COLUMNS FROM lk").collect()
      .map(_.getString(0)).toSeq == Seq("d", "k", "v", "note"))
    val rows = ddl.sql("SHOW DATA").collect()
    assert(rows.map(_.getString(0)).toSet == Set("lk", "lk2"))
    assert(rows.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0), rows.toSeq)
    // partition-targeted INSERT: in-partition lands, out-of-partition kills
    // the load without corrupting the table
    ddl.execute("INSERT INTO lk PARTITION (p1) VALUES ('2024-01-20', 3, 7, 'c')")
    assertThrows[Exception](ddl.execute(
      "INSERT INTO lk PARTITION (p1) VALUES ('2024-03-20', 4, 8, 'd')"))
    assert(ddl.sql("SELECT count(*) AS n FROM lk").as[Long].head() == 3L)
    // heavy MODIFY COLUMN (a physical retype = schema-change rewrite):
    // the standing delete is baked in, per-row versions survive
    ddl.execute("DELETE FROM lk WHERE k = 3")
    ddl.execute("ALTER TABLE lk MODIFY COLUMN v BIGINT")
    assert(ddl.sql("SELECT * FROM lk").schema("v").dataType.typeName == "long")
    assert(ddl.sql("SELECT k, v FROM lk ORDER BY k")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 5L), (2L, 6L)))
    // merge-on-read still works across the rewrite boundary
    ddl.execute("INSERT INTO lk VALUES ('2024-01-10', 1, 50, 'a2')")
    assert(ddl.sql("SELECT v FROM lk WHERE k = 1").as[Long].head() == 50L)
    // key/partition columns cannot be retyped
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE lk MODIFY COLUMN k INT"))
  }

  test("EXPORT TABLE writes distributed files (whole table and one " +
    "partition); EXPLAIN returns the plan; dropping the LAST data " +
    "partition leaves a readable empty table") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ex (d DATE, v INT) DUPLICATE KEY(d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'),
        |  PARTITION p2 VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(v) BUCKETS 2""".stripMargin)
    ddl.execute(
      "INSERT INTO ex VALUES ('2023-06-01', 1), ('2024-06-01', 2), ('2024-07-01', 3)")
    val out = TempDirs.create("graft_export")
    val r = ddl.sql(s"EXPORT TABLE ex TO '$out'")
      .as[(String, Long, String)].head()
    assert(r._1 == "ex" && r._2 == 3L, r)
    val outP = TempDirs.create("graft_export_p")
    val rp = ddl.sql(s"EXPORT TABLE ex PARTITION (p2) TO '$outP' FORMAT AS PARQUET")
      .as[(String, Long, String)].head()
    assert(rp._2 == 2L, rp)
    assert(spark.read.parquet(outP).count() == 2L)
    // EXPLAIN returns the physical plan as rows
    val plan = ddl.sql("EXPLAIN SELECT count(*) AS n FROM ex")
      .as[String].collect().mkString("\n")
    assert(plan.contains("Physical Plan"), plan.take(200))
    // regression pin (caught by the fuzz): dropping every data-bearing
    // partition leaves only the _SUCCESS marker — the table must read as
    // EMPTY, not fail schema inference
    val ddl2 = fresh()
    ddl2.execute(
      """CREATE TABLE lone (k BIGINT, v INT) DUPLICATE KEY(k)
        |PARTITION BY RANGE(k) (
        |  PARTITION pa VALUES LESS THAN ('10'),
        |  PARTITION pb VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(v) BUCKETS 1""".stripMargin)
    ddl2.execute("INSERT INTO lone VALUES (1, 1)")
    ddl2.execute("ALTER TABLE lone DROP PARTITION pa") // the ONLY data
    assert(ddl2.sql("SELECT count(*) AS n FROM lone").as[Long].head() == 0L,
      "a table with no rowsets must read EMPTY, never stale rows")
    ddl2.execute("INSERT INTO lone VALUES (20, 2)") // pb still live
    assert(ddl2.sql("SELECT count(*) AS n FROM lone").as[Long].head() == 1L)
  }

  test("BITMAP_UNION MV serves COUNT(DISTINCT col) transparently and " +
    "stays exact through maintenance") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE bmv (uid BIGINT, g VARCHAR(4), v DOUBLE)
        |DUPLICATE KEY(uid) DISTRIBUTED BY HASH(uid) BUCKETS 2""".stripMargin)
    // duplicate uids within and across groups: count(*) != count(distinct)
    ddl.execute(
      """INSERT INTO bmv VALUES (1, 'a', 1.0), (1, 'a', 2.0), (2, 'a', 3.0),
        |(1, 'b', 4.0), (3, 'b', 5.0)""".stripMargin)
    ddl.execute(
      """CREATE MATERIALIZED VIEW bmv_mv AS
        |SELECT g, BITMAP_UNION(TO_BITMAP(uid)) AS uids, COUNT(*) AS cnt
        |FROM bmv GROUP BY g""".stripMargin)
    def servedByMv(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves().exists {
        case org.apache.spark.sql.execution.datasources.LogicalRelation(
            fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation,
            _, _, _, _) =>
          fs.location.rootPaths.exists(_.toString.contains("graft_ddl_mv_bmv_mv"))
        case _ => false
      }
    def q() = ddl.sql(
      "SELECT g, count(DISTINCT uid) AS u, count(*) AS n FROM bmv GROUP BY g ORDER BY g")
    assert(servedByMv(q()),
      "count(DISTINCT) must retarget onto the BITMAP_UNION MV")
    assert(q().as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 2L, 3L), ("b", 2L, 2L)))
    // maintenance: a later load with a NEW and a REPEATED uid stays exact
    ddl.execute("INSERT INTO bmv VALUES (1, 'a', 6.0), (9, 'a', 7.0)")
    assert(servedByMv(q()))
    assert(q().as[(String, Long, Long)].collect().toSeq ==
      Seq(("a", 3L, 5L), ("b", 2L, 2L)))
    // a count(distinct) over a column with NO bitmap mapping bails to base
    val other = ddl.sql(
      "SELECT g, count(DISTINCT v) AS u FROM bmv GROUP BY g ORDER BY g")
    assert(!servedByMv(other), "unmapped distinct column must not serve")
    assert(other.as[(String, Long)].collect().toSeq ==
      Seq(("a", 5L), ("b", 2L)))
    // a FILTER clause on the distinct agg arrives pre-lowered in a shape
    // the rule conservatively declines — it must still answer correctly
    // from the base scan
    val filtered = ddl.sql(
      "SELECT g, count(DISTINCT uid) FILTER (WHERE g = 'a') AS u FROM bmv GROUP BY g ORDER BY g")
    assert(filtered.as[(String, Long)].collect().toSeq ==
      Seq(("a", 3L), ("b", 0L)))
  }

  test("WITH LABEL: a label is consumed by exactly one successful load; " +
    "failed loads keep it reusable; SHOW LOAD lists the history") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE lb (k BIGINT, v DOUBLE)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO lb WITH LABEL batch1 VALUES (1, 1.0)")
    // the client retry with the same label is a NO-OP rejection — the
    // exactly-once contract; the data is unchanged
    assertThrows[IllegalArgumentException](
      ddl.execute("INSERT INTO lb WITH LABEL batch1 VALUES (2, 2.0)"))
    assert(ddl.sql("SELECT count(*) AS n FROM lb").as[Long].head() == 1L)
    ddl.execute("INSERT INTO lb WITH LABEL batch2 VALUES (2, 2.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM lb").as[Long].head() == 2L)
    val loads = ddl.sql("SHOW LOAD FROM lb").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3))).toSeq
    assert(loads == Seq(("batch1", 1L, "FINISHED"), ("batch2", 2L, "FINISHED")),
      loads)
    // a FAILED load (row beyond the last range bound) does not consume its
    // label: the corrected retry with the SAME label publishes
    ddl.execute(
      """CREATE TABLE lbp (d DATE, v INT) DUPLICATE KEY(d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-01-01'))
        |DISTRIBUTED BY HASH(v) BUCKETS 1""".stripMargin)
    assertThrows[Exception](ddl.execute(
      "INSERT INTO lbp WITH LABEL once VALUES ('2025-06-01', 1)"))
    ddl.execute("INSERT INTO lbp WITH LABEL once VALUES ('2023-06-01', 1)")
    assert(ddl.sql("SELECT count(*) AS n FROM lbp").as[Long].head() == 1L)
  }

  test("dynamic_partition retention on AUTO tables: buckets older than " +
    "|start| periods behind the newest are dropped at load time") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ret (d DATETIME, k BIGINT)
        |DUPLICATE KEY(d, k)
        |AUTO PARTITION BY RANGE (date_trunc(`d`, 'month')) ()
        |DISTRIBUTED BY HASH(k) BUCKETS 1
        |PROPERTIES (
        |  "dynamic_partition.enable" = "true",
        |  "dynamic_partition.time_unit" = "month",
        |  "dynamic_partition.start" = "-2")""".stripMargin)
    ddl.execute(
      """INSERT INTO ret VALUES ('2024-01-10 00:00:00', 1),
        |('2024-02-10 00:00:00', 2), ('2024-03-10 00:00:00', 3)""".stripMargin)
    // window [-2, 0] around the newest (2024-03): all three stay
    assert(ddl.sql("SHOW PARTITIONS FROM ret")
      .select("partition_name").as[String].collect().toSeq ==
      Seq("p202401", "p202402", "p202403"))
    // a load advancing "now" to 2024-05 expires p202401 and p202402
    ddl.execute("INSERT INTO ret VALUES ('2024-05-10 00:00:00', 4)")
    assert(ddl.sql("SHOW PARTITIONS FROM ret")
      .select("partition_name").as[String].collect().toSeq ==
      Seq("p202403", "p202405"),
      "buckets more than 2 months behind the newest must be dropped")
    assert(ddl.sql("SELECT count(*) AS n FROM ret").as[Long].head() == 2L)
    // the retention properties round-trip through SHOW CREATE TABLE
    val stmt = ddl.sql("SHOW CREATE TABLE ret")
      .select("create_table").as[String].head()
    assert(stmt.contains("\"dynamic_partition.start\" = \"-2\""), stmt)
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("`ret`", "`ret2`"))
    val stmt2 = ddl2.sql("SHOW CREATE TABLE ret2")
      .select("create_table").as[String].head()
    assert(stmt2.replace("ret2", "ret") == stmt, s"$stmt\n---\n$stmt2")
    // guards: retention without AUTO partitioning rejects
    assertThrows[Exception](ddl.execute(
      """CREATE TABLE ret_bad (k BIGINT) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1
        |PROPERTIES ("dynamic_partition.enable" = "true",
        |  "dynamic_partition.start" = "-2")""".stripMargin))
  }

  test("LOAD LABEL ingests headerless CSV positionally and parquet by " +
    "name, with label dedup") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE bl (k BIGINT, v DOUBLE, tag VARCHAR(8))
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    // headerless CSV, positional mapping (the Doris default)
    val csvDir = TempDirs.create("graft_load_csv")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(csvDir, "part1.csv"),
      "1,1.5,a\n2,2.5,b\n".getBytes("UTF-8"))
    ddl.execute(s"LOAD LABEL csv1 (DATA INFILE('$csvDir') INTO TABLE bl)")
    assert(ddl.sql("SELECT k, v, tag FROM bl ORDER BY k")
      .as[(Long, Double, String)].collect().toSeq ==
      Seq((1L, 1.5, "a"), (2L, 2.5, "b")))
    // parquet, by-name mapping with a column list; upserts by key
    val pqDir = TempDirs.create("graft_load_pq")
    import spark.implicits._
    Seq((2L, 20.5), (3L, 3.5)).toDF("k", "v").write.mode("overwrite").parquet(pqDir)
    ddl.execute(
      s"LOAD LABEL pq1 (DATA INFILE('$pqDir') INTO TABLE bl FORMAT AS 'parquet' (k, v))")
    assert(ddl.sql("SELECT k, v FROM bl ORDER BY k")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (2L, 20.5), (3L, 3.5)))
    // a consumed label rejects; SHOW LOAD lists both jobs
    assertThrows[IllegalArgumentException](ddl.execute(
      s"LOAD LABEL csv1 (DATA INFILE('$csvDir') INTO TABLE bl)"))
    assert(ddl.sql("SHOW LOAD FROM bl").select("label").as[String]
      .collect().toSeq == Seq("csv1", "pq1"))
  }

  test("inverted index legalizes MATCH; unindexed / dropped-index MATCH rejects") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE mtx (
        |  id BIGINT,
        |  body STRING,
        |  note STRING,
        |  INDEX body_ix (`body`) USING INVERTED
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO mtx VALUES " +
      "(1, 'spark joins data', 'x'), (2, 'flink streams', 'y'), " +
      "(3, 'duckdb Spark SQL', 'z')")
    // MATCH_ANY: tokenized (lowercased) membership, not substring
    assert(ddl.sql("SELECT id FROM mtx WHERE body MATCH_ANY 'spark'")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    // MATCH_ALL: every query token present
    assert(ddl.sql("SELECT id FROM mtx WHERE body MATCH_ALL 'spark data'")
      .as[Long].collect().toSeq == Seq(1L))
    // 'streams' ≠ 'stream': token equality, not prefix
    assert(ddl.sql("SELECT count(*) AS n FROM mtx WHERE body MATCH_ANY 'stream'")
      .as[Long].head() == 0L)
    // MATCH on a column with no inverted index rejects (Doris behavior)
    assertThrows[IllegalArgumentException](
      ddl.sql("SELECT id FROM mtx WHERE note MATCH_ANY 'x'"))
    // ALTER TABLE ADD INDEX legalizes it; DROP INDEX revokes it
    ddl.execute("ALTER TABLE mtx ADD INDEX note_ix (`note`) USING INVERTED")
    assert(ddl.sql("SELECT count(*) AS n FROM mtx WHERE note MATCH_ANY 'x'")
      .as[Long].head() == 1L)
    ddl.execute("DROP INDEX note_ix ON mtx")
    assertThrows[IllegalArgumentException](
      ddl.sql("SELECT id FROM mtx WHERE note MATCH_ANY 'x'"))
    // SHOW INDEX lists inverted indexes (bloom columns would append)
    assert(ddl.sql("SHOW INDEX FROM mtx")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq == Seq(("body_ix", "body", "INVERTED")))
    // guards: non-text column, unknown index type, duplicate name
    // (USING BITMAP is a real index since r20 — its own test covers it)
    assertThrows[IllegalArgumentException](
      ddl.execute("CREATE INDEX id_ix ON mtx (`id`) USING INVERTED"))
    assertThrows[RuntimeException](
      ddl.execute("CREATE INDEX b_ix ON mtx (`body`) USING QUUX"))
    assertThrows[IllegalArgumentException](
      ddl.execute("CREATE INDEX body_ix ON mtx (`note`) USING INVERTED"))
    // the index contract is per (table, column): an index on a SAME-NAMED
    // column of another table must not legalize a MATCH on this one
    // (ADVICE r15 — the rewrite used to union indexed names instance-wide)
    ddl.execute(
      """CREATE TABLE other_t (
        |  id BIGINT, note STRING, INDEX n_ix (`note`) USING INVERTED
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    assertThrows[IllegalArgumentException](
      ddl.sql("SELECT id FROM mtx WHERE note MATCH_ANY 'x'"))
    // MATCH_ANY text INSIDE a string literal is data, not a predicate:
    // neither rewritten nor rejected
    assert(ddl.sql(
      "SELECT count(*) AS n FROM mtx WHERE body <> 'no MATCH_ANY here'")
      .as[Long].head() == 3L)
    // a backslash in a search token survives the splice into Spark's
    // escape-processed literal (token equality on the raw backslash)
    ddl.execute("INSERT INTO mtx VALUES (4, 'path c:\\\\tmp listed', 'w')")
    assert(ddl.sql("SELECT id FROM mtx WHERE body MATCH_ANY 'c:\\tmp'")
      .as[Long].collect().toSeq == Seq(4L))
  }

  test("index + bloom_filter_columns round-trip SHOW CREATE; rowsets are " +
    "key-sorted and carry parquet bloom filters") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE phys (
        |  k BIGINT,
        |  body STRING,
        |  INDEX body_ix (`body`) USING INVERTED
        |) DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2
        |PROPERTIES("bloom_filter_columns" = "k")""".stripMargin)
    Tables.orders(spark, sf).createOrReplaceTempView("orders")
    ddl.execute(
      "INSERT INTO phys SELECT o_orderkey, o_orderpriority FROM orders")
    // SHOW CREATE emits the index and the property, and REPLAYING the text
    // yields an identical definition
    val stmt = ddl.sql("SHOW CREATE TABLE phys").select("create_table")
      .as[String].head()
    assert(stmt.contains("INDEX body_ix (`body`) USING INVERTED"), stmt)
    assert(stmt.contains("\"bloom_filter_columns\" = \"k\""), stmt)
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("CREATE TABLE `phys`", "CREATE TABLE `phys2`"))
    val stmt2 = ddl2.sql("SHOW CREATE TABLE phys2").select("create_table")
      .as[String].head()
    assert(stmt2.replace("phys2", "phys") == stmt, stmt2)
    // physical layout: each rowset file is sorted by the key column (the
    // zonemap contract) and its footer carries a bloom filter for k
    val dir = ddlDir(ddl, "phys")
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ks = spark.read.parquet(file.getAbsolutePath)
      .select("k").as[Long].collect().toSeq
    assert(ks == ks.sorted, s"rowset not key-sorted: ${ks.take(10)}...")
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        spark.sessionState.newHadoopConf()))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val kCol = cols.find(_.getPath.toDotString == "k").get
      assert(kCol.getBloomFilterOffset >= 0,
        "k must carry a parquet bloom filter")
      val bCol = cols.find(_.getPath.toDotString == "body").get
      assert(bCol.getBloomFilterOffset < 0,
        "undeclared columns must not pay for bloom filters")
    } finally reader.close()
  }

  test("ADD ROLLUP serves matching aggregates, maintains through loads; " +
    "DROP ROLLUP stops serving; guards reject") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ru (
        |  k1 BIGINT,
        |  k2 VARCHAR(8),
        |  v DOUBLE SUM,
        |  n BIGINT SUM,
        |  m BIGINT MAX,
        |  r VARCHAR(4) REPLACE
        |) AGGREGATE KEY(k1, k2) DISTRIBUTED BY HASH(k1) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO ru VALUES " +
      "(1, 'a', 1.0, 1, 5, 'x'), (1, 'b', 2.0, 1, 6, 'y'), (2, 'a', 3.0, 1, 7, 'z')")
    ddl.execute("ALTER TABLE ru ADD ROLLUP r1 (k2, v, n)")
    def q() = ddl.sql(
      "SELECT k2, sum(v) AS sv, sum(n) AS sn FROM ru GROUP BY k2")
    def servedByRollup(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("graft_ddl_mv_r1_")
    assert(servedByRollup(q()), "rollup must serve the k2 aggregate")
    def rows() = q().collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(rows() == Map("a" -> ((4.0, 2L)), "b" -> ((2.0, 1L))), rows())
    // transactional maintenance: a later load lands in the rollup too
    ddl.execute("INSERT INTO ru VALUES (3, 'b', 10.0, 1, 9, 'w')")
    assert(servedByRollup(q()), "post-load aggregate must still serve")
    assert(rows() == Map("a" -> ((4.0, 2L)), "b" -> ((12.0, 2L))), rows())
    // DROP ROLLUP: the aggregate recomputes from the base (same numbers)
    ddl.execute("ALTER TABLE ru DROP ROLLUP r1")
    assert(!servedByRollup(q()), "dropped rollup must stop serving")
    assert(rows() == Map("a" -> ((4.0, 2L)), "b" -> ((12.0, 2L))), rows())
    // guards: non-AGGREGATE table; REPLACE value column; no keys; dup name
    ddl.execute("CREATE TABLE dup (a INT, b INT) DUPLICATE KEY(a) " +
      "DISTRIBUTED BY HASH(a) BUCKETS 1")
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE dup ADD ROLLUP rx (a, b)"))
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE ru ADD ROLLUP r2 (k2, r)")) // REPLACE marker
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE ru ADD ROLLUP r3 (v, n)")) // no key column
  }

  test("DROP MATERIALIZED VIEW retires a sync MV; unknown names reject") {
    val ddl = fresh()
    ddl.execute("CREATE TABLE dm (k BIGINT, v DOUBLE) DUPLICATE KEY(k) " +
      "DISTRIBUTED BY HASH(k) BUCKETS 1")
    ddl.execute("INSERT INTO dm VALUES (1, 1.0), (1, 2.0), (2, 3.0)")
    ddl.execute(
      "CREATE MATERIALIZED VIEW dm_mv AS SELECT k, SUM(v) AS sv FROM dm GROUP BY k")
    def q() = ddl.sql("SELECT k, sum(v) AS sv FROM dm GROUP BY k")
    def served() =
      q().queryExecution.executedPlan.toString.contains("graft_ddl_mv_dm_mv_")
    assert(served(), "sync MV must serve before the drop")
    ddl.execute("DROP MATERIALIZED VIEW dm_mv ON dm")
    assert(!served(), "dropped MV must stop serving")
    assert(q().collect().map(r => (r.getLong(0), r.getDouble(1))).toMap ==
      Map(1L -> 3.0, 2L -> 3.0))
    assertThrows[RuntimeException](ddl.execute("DROP MATERIALIZED VIEW nope"))
  }

  test("generated columns: computed at load, recomputed on UPDATE, guarded") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE g (
        |  k BIGINT,
        |  v DOUBLE,
        |  v2 DOUBLE AS (round(v * 2, 2)),
        |  tag VARCHAR(4) AS (CASE WHEN v >= 10 THEN 'big' ELSE 'sml' END)
        |) UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    // positional INSERT maps only the plain columns
    ddl.execute("INSERT INTO g VALUES (1, 4.0), (2, 12.0)")
    assert(ddl.sql("SELECT k, v2, tag FROM g ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq((1L, 8.0, "sml"), (2L, 24.0, "big")))
    // an explicit column list naming a generated column rejects
    assertThrows[IllegalArgumentException](
      ddl.execute("INSERT INTO g (k, v, v2) VALUES (3, 1.0, 99.0)"))
    // UPDATE of a base column RECOMPUTES the generated ones
    ddl.execute("UPDATE g SET v = 20.0 WHERE k = 1")
    assert(ddl.sql("SELECT v2, tag FROM g WHERE k = 1")
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ==
      Seq((40.0, "big")))
    // UPDATE of the generated column itself rejects
    assertThrows[IllegalArgumentException](
      ddl.execute("UPDATE g SET v2 = 1.0 WHERE k = 1"))
    // SHOW CREATE round-trips the AS (expr)
    val stmt = ddl.sql("SHOW CREATE TABLE g").select("create_table")
      .as[String].head()
    assert(stmt.contains("AS (round(v * 2, 2))"), stmt)
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("CREATE TABLE `g`", "CREATE TABLE `g2`"))
    ddl2.execute("INSERT INTO g2 VALUES (7, 4.0)")
    assert(ddl2.sql("SELECT v2 FROM g2").as[Double].head() == 8.0)
    // structural guards: can't rename/drop a referenced column, can't ADD
    // a generated column post-create
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE g RENAME COLUMN v vv"))
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE g DROP COLUMN v"))
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE g ADD COLUMN v3 DOUBLE AS (v + 1)"))
    // dropping the generated column itself is a legal light change
    ddl.execute("ALTER TABLE g DROP COLUMN v2")
    assert(!ddl.sql("SELECT * FROM g").columns.contains("v2"))
    // the sql_ddl_generated_col oracle key stores integer cents via a
    // HALFWAY-FREE multiplier: a 2-dp price times 80 has fractional part
    // in even tenths (cents*8 mod 10 ∈ {0,2,4,6,8}), so round() never
    // faces a true .5 and Spark/DuckDB agree row-exactly — the r15 *0.9
    // variant had 1,534 genuine halfway cents at sf0.01 and diverged.
    // Pin: no orders row sits within 0.09 of a .5 boundary after *80.
    val minDist = Tables.orders(spark, sf)
      .select(min(abs(($"o_totalprice" * 80) % 1.0 - 0.5)))
      .as[Double].head()
    assert(minDist > 0.09, s"halfway-adjacent cents at distance $minDist")
  }

  test("ANALYZE TABLE / SHOW COLUMN STATS: exact stats from one scan, " +
    "metadata-served, guarded") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE st (k BIGINT, s VARCHAR(8))
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    // SHOW before ANALYZE rejects
    assertThrows[RuntimeException](ddl.sql("SHOW COLUMN STATS st"))
    ddl.execute("INSERT INTO st VALUES (1, 'a'), (2, 'b'), (3, NULL), (3, 'b')")
    val summary = ddl.sql("ANALYZE TABLE st").collect().head
    assert(summary.getLong(1) == 2L && summary.getLong(2) == 4L) // cols, rows
    val rows = ddl.sql("SHOW COLUMN STATS st").orderBy("column_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq
    assert(rows == Seq(
      ("k", 4L, 3L, 0L, "1", "3"),
      ("s", 4L, 2L, 1L, "a", "b")), rows)
    // stats reflect the LAST analyze (metadata, not live): a later load
    // doesn't change SHOW until re-analyzed
    ddl.execute("INSERT INTO st VALUES (9, 'z')")
    assert(ddl.sql("SHOW COLUMN STATS st").count() == 2 &&
      ddl.sql("SHOW COLUMN STATS st").filter($"max" === "9").count() == 0)
    ddl.sql("ANALYZE TABLE st")
    assert(ddl.sql("SHOW COLUMN STATS st")
      .filter($"column_name" === "k" && $"max" === "9").count() == 1)
    // rowsets exist but ZERO rows are visible (all removed by a versioned
    // DELETE): the stats aggregate must not NPE on a null sum (ADVICE r15)
    ddl.execute("DELETE FROM st WHERE k >= 0")
    assert(ddl.sql("ANALYZE TABLE st").collect().head.getLong(2) == 0L)
    assert(ddl.sql("SHOW COLUMN STATS st")
      .collect().forall(r => r.getLong(1) == 0L && r.getLong(3) == 0L))
  }

  test("LIST partitions: uncovered values reject, drop frees the value set, " +
    "re-add recovers it, SHOW CREATE round-trips") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE lp (seg VARCHAR(8), k BIGINT) DUPLICATE KEY(seg, k)
        |PARTITION BY LIST(`seg`) (
        |  PARTITION pa VALUES IN ('a'),
        |  PARTITION pbc VALUES IN ('b', 'c')
        |) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO lp VALUES ('a', 1), ('b', 2), ('c', 3)")
    // a value in no partition's set kills the load
    assertThrows[Exception](ddl.execute("INSERT INTO lp VALUES ('z', 9)"))
    assert(ddl.sql("SELECT count(*) AS n FROM lp").as[Long].head() == 3L)
    // DROP frees 'a': reload rejects until a partition re-covers it
    ddl.execute("ALTER TABLE lp DROP PARTITION pa")
    assertThrows[Exception](ddl.execute("INSERT INTO lp VALUES ('a', 4)"))
    ddl.execute("ALTER TABLE lp ADD PARTITION pa2 VALUES IN ('a', 'd')")
    ddl.execute("INSERT INTO lp VALUES ('a', 4), ('d', 5)")
    assert(ddl.sql("SELECT seg, k FROM lp ORDER BY k")
      .as[(String, Long)].collect().toSeq ==
      Seq(("b", 2L), ("c", 3L), ("a", 4L), ("d", 5L)))
    // overlap guard: 'b' already belongs to pbc
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE lp ADD PARTITION px VALUES IN ('b')"))
    // round-trip
    val stmt = ddl.sql("SHOW CREATE TABLE lp").select("create_table")
      .as[String].head()
    assert(stmt.contains("PARTITION BY LIST(`seg`)") &&
      stmt.contains("PARTITION pa2 VALUES IN ('a', 'd')"), stmt)
    val ddl2 = fresh()
    ddl2.execute(stmt.replace("CREATE TABLE `lp`", "CREATE TABLE `lp2`"))
    val stmt2 = ddl2.sql("SHOW CREATE TABLE lp2").select("create_table")
      .as[String].head()
    assert(stmt2.replace("lp2", "lp") == stmt, stmt2)
  }

  test("temporary partitions: staging invisible, strict-range REPLACE swaps " +
    "atomically, pre-swap deletes never touch the swapped-in rows") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE rp (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |PARTITION BY RANGE(k) (
        |  PARTITION p1 VALUES LESS THAN ('10'),
        |  PARTITION p2 VALUES LESS THAN ('20')
        |) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO rp VALUES (1, 1.0), (5, 5.0), (15, 15.0)")
    // stage a rebuilt p1: the staged rows are INVISIBLE to every read
    ddl.execute("ALTER TABLE rp ADD TEMPORARY PARTITION t1 VALUES LESS THAN ('10')")
    ddl.execute("INSERT INTO rp TEMPORARY PARTITION (t1) VALUES (2, 200.0), (3, 300.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM rp").as[Long].head() == 3L)
    assert(ddl.sql("SHOW PARTITIONS FROM rp").count() == 2)
    assert(ddl.sql("SHOW TEMPORARY PARTITIONS FROM rp")
      .collect().map(r => (r.getString(0), r.getLong(2))).toSeq ==
      Seq(("t1", 2L)))
    // a staged row outside the TEMP partition's own bounds kills the load
    assertThrows[Exception](ddl.execute(
      "INSERT INTO rp TEMPORARY PARTITION (t1) VALUES (12, 0.0)"))
    // a delete recorded AFTER the staging load (higher version!) — only
    // the swap-time scoping can keep the staged rows alive
    ddl.execute("DELETE FROM rp WHERE v >= 100.0")
    // strict_range: a wrong-bound temp rejects the swap
    ddl.execute("ALTER TABLE rp ADD TEMPORARY PARTITION tbad VALUES LESS THAN ('15')")
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE rp REPLACE PARTITION (p1) WITH TEMPORARY PARTITION (tbad)"))
    // the swap: p1 reads the rebuilt rows, the pre-swap delete (which
    // MATCHES them) does not apply, p2 is untouched
    ddl.execute("ALTER TABLE rp REPLACE PARTITION (p1) WITH TEMPORARY PARTITION (t1)")
    assert(ddl.sql("SELECT k, v FROM rp ORDER BY k").as[(Long, Double)]
      .collect().toSeq == Seq((2L, 200.0), (3L, 300.0), (15L, 15.0)))
    // the partition kept its FORMAL name (use_temp_partition_name=false)
    assert(ddl.sql("SELECT count(*) AS n FROM rp PARTITION (p1)")
      .as[Long].head() == 2L)
    assert(ddl.sql("SHOW TEMPORARY PARTITIONS FROM rp").count() == 1) // tbad
    // a POST-swap delete applies to the swapped rows normally
    ddl.execute("DELETE FROM rp WHERE k = 2")
    assert(ddl.sql("SELECT count(*) AS n FROM rp").as[Long].head() == 2L)
    // replacing a NON-FIRST partition: a LESS THAN temp has no lower bound
    // and fails strict_range; the fixed-range spelling carries it
    ddl.execute("ALTER TABLE rp ADD TEMPORARY PARTITION t2a VALUES LESS THAN ('20')")
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE rp REPLACE PARTITION (p2) WITH TEMPORARY PARTITION (t2a)"))
    ddl.execute("ALTER TABLE rp ADD TEMPORARY PARTITION t2 VALUES [('10'), ('20'))")
    // an EMPTY temp partition swap EMPTIES the target (the Doris idiom for
    // an atomic partition wipe)
    ddl.execute("ALTER TABLE rp REPLACE PARTITION (p2) WITH TEMPORARY PARTITION (t2)")
    assert(ddl.sql("SELECT count(*) AS n FROM rp").as[Long].head() == 1L)
    // guards: unknown names, formal-name collision, abandon staging
    assertThrows[Exception](ddl.execute(
      "ALTER TABLE rp REPLACE PARTITION (p9) WITH TEMPORARY PARTITION (tbad)"))
    assertThrows[Exception](ddl.execute(
      "ALTER TABLE rp REPLACE PARTITION (p1) WITH TEMPORARY PARTITION (nope)"))
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE rp ADD TEMPORARY PARTITION p1 VALUES LESS THAN ('10')"))
    ddl.execute("ALTER TABLE rp DROP TEMPORARY PARTITION tbad")
    ddl.execute("ALTER TABLE rp DROP TEMPORARY PARTITION t2a")
    assert(ddl.sql("SHOW TEMPORARY PARTITIONS FROM rp").count() == 0)
  }

  test("VARIANT columns: JSON-validated ingest, VariantType subcolumn reads, " +
    "SHOW CREATE round-trip, key/default/stats guards") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE vt (id BIGINT, v VARIANT) UNIQUE KEY(id)
        |DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("""INSERT INTO vt VALUES (1, '{"a":1,"b":{"c":"x"}}'), (2, '[5,6,7]')""")
    // the view surfaces v as Spark VariantType: variant_get works directly
    assert(ddl.sql("SELECT v FROM vt").schema("v").dataType ==
      org.apache.spark.sql.types.VariantType)
    assert(ddl.sql(
      """SELECT CAST(sum(variant_get(v, '$.a', 'int')) AS BIGINT) AS sa,
        |  max(variant_get(v, '$.b.c', 'string')) AS bc,
        |  CAST(sum(variant_get(v, '$[1]', 'int')) AS BIGINT) AS e1
        |FROM vt""".stripMargin).collect().head.toSeq == Seq(1L, "x", 6L))
    // malformed JSON kills the load (strict VARIANT ingest)
    assertThrows[Exception](ddl.execute(
      "INSERT INTO vt VALUES (3, '{not json')"))
    assert(ddl.sql("SELECT count(*) AS n FROM vt").as[Long].head() == 2L)
    // an UPDATE through the variant-typed view round-trips variant->text
    ddl.execute("""UPDATE vt SET v = '{"a":9}' WHERE id = 1""")
    assert(ddl.sql("SELECT variant_get(v, '$.a', 'int') AS a FROM vt WHERE id = 1")
      .as[Int].head() == 9)
    // SHOW CREATE emits VARIANT (not the storage type) and replays
    val stmt = ddl.sql("SHOW CREATE TABLE vt").collect().head.getString(1)
    assert(stmt.contains("`v` VARIANT"), stmt)
    ddl.execute(stmt.replace("CREATE TABLE `vt`", "CREATE TABLE `vt2`"))
    val stmt2 = ddl.sql("SHOW CREATE TABLE vt2").collect().head.getString(1)
    assert(stmt2.replace("vt2", "vt") == stmt, stmt2)
    // guards: never a key column, no DEFAULT, no generated expr, only
    // REPLACE-family aggregate markers
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad1 (v VARIANT, x INT) DUPLICATE KEY(v) DISTRIBUTED BY HASH(x) BUCKETS 1"))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE bad2 (id INT, v VARIANT DEFAULT "{}") DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1"""))
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad3 (id INT, v VARIANT SUM) AGGREGATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1"))
    // ANALYZE skips the variant column (no ndv/min/max contract)
    ddl.execute("ANALYZE TABLE vt")
    assert(!ddl.sql("SHOW COLUMN STATS vt").collect()
      .map(_.getString(0)).contains("v"))
    // AGGREGATE REPLACE on variant: last document by version wins
    ddl.execute(
      """CREATE TABLE va (id INT, v VARIANT REPLACE) AGGREGATE KEY(id)
        |DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("""INSERT INTO va VALUES (1, '{"n":1}')""")
    ddl.execute("""INSERT INTO va VALUES (1, '{"n":2}')""")
    assert(ddl.sql("SELECT variant_get(v, '$.n', 'int') AS n FROM va")
      .as[Int].head() == 2)
  }

  test("TRUNCATE PARTITION wipes only the named partitions (no hole); " +
    "RENAME PARTITION moves data, bounds, and scoped deletes") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE tp (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |PARTITION BY RANGE(k) (
        |  PARTITION p1 VALUES LESS THAN ('10'),
        |  PARTITION p2 VALUES LESS THAN ('20'),
        |  PARTITION p3 VALUES LESS THAN ('30')
        |) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO tp VALUES (1, 1.0), (11, 11.0), (21, 21.0)")
    // TRUNCATE PARTITION: only the named scopes empty; defs stay — the
    // range keeps ACCEPTING loads (no DROP-style hole)
    ddl.execute("TRUNCATE TABLE tp PARTITION (p1, p3)")
    assert(ddl.sql("SELECT k FROM tp ORDER BY k").as[Long]
      .collect().toSeq == Seq(11L))
    ddl.execute("INSERT INTO tp VALUES (2, 2.0)") // reload into truncated range
    assert(ddl.sql("SELECT count(*) AS n FROM tp").as[Long].head() == 2L)
    assertThrows[IllegalArgumentException](ddl.execute(
      "TRUNCATE TABLE tp PARTITION (nope)"))
    // RENAME PARTITION: data + partition-scoped delete follow the name
    ddl.execute("INSERT INTO tp VALUES (12, 12.0)")
    ddl.execute("DELETE FROM tp PARTITION (p2) WHERE v > 11.5")
    ddl.execute("ALTER TABLE tp RENAME PARTITION p2 pmid")
    assert(ddl.sql("SELECT k FROM tp PARTITION (pmid) ORDER BY k").as[Long]
      .collect().toSeq == Seq(11L)) // 12 still hidden by the moved delete
    assert(ddl.sql("SHOW PARTITIONS FROM tp").collect()
      .map(_.getString(0)).toSet == Set("p1", "pmid", "p3"))
    // the renamed partition keeps accepting loads under its bounds
    ddl.execute("INSERT INTO tp VALUES (13, 13.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM tp PARTITION (pmid)")
      .as[Long].head() == 2L)
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE tp RENAME PARTITION p1 pmid")) // name in use
    assertThrows[Exception](ddl.execute(
      "ALTER TABLE tp RENAME PARTITION ghost g2"))
  }

  test("AGG_STATE GENERIC: states load via _state, union across rowsets, " +
    "finalize via _merge; _union re-aggregates states; guards hold") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE st (g VARCHAR(4),
        |  c AGG_STATE<count(INT)> GENERIC,
        |  s AGG_STATE<sum(INT)> GENERIC,
        |  a AGG_STATE<avg(INT)> GENERIC,
        |  mn AGG_STATE<min(DOUBLE)> GENERIC
        |) AGGREGATE KEY(g) DISTRIBUTED BY HASH(g) BUCKETS 2""".stripMargin)
    // two loads: the second's states must UNION with the first's
    ddl.execute(
      """INSERT INTO st SELECT 'a', count_state(x), sum_state(x),
        |  avg_state(x), min_state(CAST(x AS DOUBLE))
        |FROM (SELECT 1 AS x UNION ALL SELECT 2) GROUP BY 1""".stripMargin)
    ddl.execute(
      """INSERT INTO st SELECT 'a', count_state(x), sum_state(x),
        |  avg_state(x), min_state(CAST(x AS DOUBLE))
        |FROM (SELECT 6 AS x) GROUP BY 1""".stripMargin)
    assert(ddl.sql(
      """SELECT CAST(count_merge(c) AS BIGINT) AS n,
        |  CAST(sum_merge(s) AS BIGINT) AS su,
        |  avg_merge(a) AS au, min_merge(mn) AS m
        |FROM st""".stripMargin).collect().head.toSeq ==
      Seq(3L, 9L, 3.0, 1.0))
    // _union: states re-aggregate into states (a rollup over states),
    // then merge finalizes the union
    assert(ddl.sql(
      """SELECT CAST(sum_merge(s2) AS BIGINT) AS su
        |FROM (SELECT g, sum_union(s) AS s2 FROM st GROUP BY g) u""".stripMargin)
      .as[Long].head() == 9L)
    // SHOW CREATE round-trips the state type + GENERIC marker
    val stmt = ddl.sql("SHOW CREATE TABLE st").collect().head.getString(1)
    assert(stmt.contains("AGG_STATE<count(INT)> GENERIC"), stmt)
    ddl.execute(stmt.replace("`st`", "`st2`"))
    val stmt2 = ddl.sql("SHOW CREATE TABLE st2").collect().head.getString(1)
    assert(stmt2.replace("st2", "st") == stmt, stmt2)
    // guards: AGGREGATE-only (marker rule), numeric inner for sum/avg,
    // no DEFAULT/extra markers
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE bad (k INT, s AGG_STATE<sum(INT)> GENERIC)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE bad (k INT, s AGG_STATE<sum(VARCHAR(4))> GENERIC)
        |AGGREGATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE bad (k INT, s AGG_STATE<sum(INT)> SUM)
        |AGGREGATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin))
  }

  test("multi-table DML: UPDATE ... FROM applies joined assignments, " +
    "DELETE ... USING hides joined keys via delete signs, reload revives") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE mt (k BIGINT, ref BIGINT, v DOUBLE) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(
      """CREATE TABLE src (r BIGINT, w DOUBLE) UNIQUE KEY(r)
        |DISTRIBUTED BY HASH(r) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO mt VALUES (1, 10, 1.0), (2, 20, 2.0), (3, 30, 3.0)")
    ddl.execute("INSERT INTO src VALUES (10, 100.0), (30, 300.0)")
    // UPDATE FROM: the SET expression reads the SOURCE table (CDC apply)
    ddl.execute(
      """UPDATE mt SET v = src.w FROM src
        |WHERE mt.ref = src.r AND src.w > 150.0""".stripMargin)
    assert(ddl.sql("SELECT k, v FROM mt ORDER BY k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 300.0)))
    // DELETE USING: joined keys vanish; non-matching rows survive
    ddl.execute("DELETE FROM mt USING src WHERE mt.ref = src.r")
    assert(ddl.sql("SELECT k FROM mt ORDER BY k").as[Long]
      .collect().toSeq == Seq(2L))
    // a reload of a deleted key REVIVES it (delete-sign semantics, not a
    // standing predicate)
    ddl.execute("INSERT INTO mt VALUES (1, 10, 11.0)")
    assert(ddl.sql("SELECT k, v FROM mt ORDER BY k").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 11.0), (2L, 2.0)))
    // guards: UNIQUE-only, no key-column assignment
    ddl.execute(
      """CREATE TABLE dup (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dup VALUES (1, 1.0)")
    assertThrows[IllegalArgumentException](ddl.execute(
      "DELETE FROM dup USING src WHERE dup.k = src.r"))
    assertThrows[IllegalArgumentException](ddl.execute(
      "UPDATE mt SET k = src.r FROM src WHERE mt.ref = src.r"))
  }

  test("colocate_with: group members must agree on buckets and " +
    "distribution-column type; the property round-trips SHOW CREATE") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE cg1 (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 8
        |PROPERTIES("colocate_with" = "grp")""".stripMargin)
    // same buckets + same key type joins the group
    ddl.execute(
      """CREATE TABLE cg2 (k2 BIGINT, w DOUBLE) DUPLICATE KEY(k2)
        |DISTRIBUTED BY HASH(k2) BUCKETS 8
        |PROPERTIES("colocate_with" = "grp")""".stripMargin)
    // bucket-count mismatch rejects; distribution-type mismatch rejects
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE cg3 (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 4
        |PROPERTIES("colocate_with" = "grp")""".stripMargin))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE cg4 (k INT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 8
        |PROPERTIES("colocate_with" = "grp")""".stripMargin))
    // a DIFFERENT group is free to differ
    ddl.execute(
      """CREATE TABLE cg5 (k INT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 4
        |PROPERTIES("colocate_with" = "grp2")""".stripMargin)
    // round-trip: SHOW CREATE carries the property and replays
    val stmt = ddl.sql("SHOW CREATE TABLE cg1").collect().head.getString(1)
    assert(stmt.contains("\"colocate_with\" = \"grp\""), stmt)
    ddl.execute(stmt.replace("`cg1`", "`cg6`"))
    val stmt2 = ddl.sql("SHOW CREATE TABLE cg6").collect().head.getString(1)
    assert(stmt2.replace("cg6", "cg1") == stmt, stmt2)
  }

  test("ALTER TABLE SET: dynamic properties take effect from the next load") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE dyn (d DATETIME, v BIGINT) DUPLICATE KEY(d)
        |AUTO PARTITION BY RANGE (date_trunc(`d`, 'day')) ()
        |DISTRIBUTED BY HASH(v) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dyn VALUES ('2024-01-01 00:00:00', 1), " +
      "('2024-01-02 00:00:00', 2), ('2024-01-05 00:00:00', 3)")
    // no retention declared: all three buckets live
    assert(ddl.sql("SHOW PARTITIONS FROM dyn").count() == 3)
    // enable a 1-period window: the NEXT load applies it
    ddl.execute("""ALTER TABLE dyn SET ("dynamic_partition.enable" = "true",
      |"dynamic_partition.start" = "-1")""".stripMargin)
    ddl.execute("INSERT INTO dyn VALUES ('2024-01-06 00:00:00', 4)")
    val parts = ddl.sql("SHOW PARTITIONS FROM dyn")
      .select("partition_name").as[String].collect().toSet
    assert(parts == Set("p20240105", "p20240106"), parts)
    // disable: a later backfill-ish load drops nothing
    ddl.execute("""ALTER TABLE dyn SET ("dynamic_partition.enable" = "false")""")
    ddl.execute("INSERT INTO dyn VALUES ('2024-01-07 00:00:00', 5)")
    assert(ddl.sql("SHOW PARTITIONS FROM dyn").count() == 3)
    // bloom property flips for FUTURE rowsets; unknown properties reject
    ddl.execute("""ALTER TABLE dyn SET ("bloom_filter_columns" = "v")""")
    assert(ddl.sql("SHOW CREATE TABLE dyn").select("create_table")
      .as[String].head().contains("\"bloom_filter_columns\" = \"v\""))
    assertThrows[RuntimeException](
      ddl.execute("""ALTER TABLE dyn SET ("nope" = "1")"""))
  }

  test("FILE() TVF reads parquet by schema and csv as headerless c1..cN") {
    val ddl = fresh()
    val out = graft.TempDirs.create("graft_tvf_spec")
    spark.range(4).selectExpr("id", "id * 10 AS ten")
      .write.mode("overwrite").parquet(s"$out/p")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/c.csv"), "1,x\n2,y\n")
    assert(ddl.sql(s"SELECT sum(ten) AS s FROM FILE('$out/p', 'parquet')")
      .as[Long].head() == 60L)
    assert(ddl.sql(
      s"SELECT c1, c2 FROM FILE('$out/c.csv', 'csv') ORDER BY c1")
      .as[(String, String)].collect().toSeq ==
      Seq(("1", "x"), ("2", "y")))
    assertThrows[RuntimeException](
      ddl.sql(s"SELECT * FROM FILE('$out/p', 'orc')"))
  }

  test("ROUTINE LOAD: catch-up on create, continuous pickup of new files, " +
    "label-deduped batches, STOP halts consumption") {
    val ddl = fresh()
    val rdir = graft.TempDirs.create("graft_routine_spec")
    spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(rdir)
    ddl.execute(
      """CREATE TABLE rt (k BIGINT, v DOUBLE) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(s"CREATE ROUTINE LOAD rj ON rt FROM FILE('$rdir', 'parquet')")
    // the CREATE returned after catch-up: the pre-existing file is loaded
    assert(ddl.sql("SELECT count(*) AS n FROM rt").as[Long].head() == 3L)
    // a NEW file is consumed by the standing job (drained deterministically)
    spark.range(3, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(rdir)
    ddl.drainRoutineLoad("rj")
    assert(ddl.sql("SELECT count(*) AS n FROM rt").as[Long].head() == 5L)
    // SHOW reflects the running job and its batch count; labels recorded
    val row = ddl.sql("SHOW ROUTINE LOAD").collect().head
    assert(row.getString(0) == "rj" && row.getString(2) == "RUNNING" &&
      row.getLong(3) >= 2L, row)
    assert(ddl.sql("SHOW LOAD FROM rt").filter($"label".startsWith("rj_"))
      .count() >= 2L)
    // duplicate job name rejects; DROP TABLE under a running job rejects
    assertThrows[IllegalArgumentException](ddl.execute(
      s"CREATE ROUTINE LOAD rj ON rt FROM FILE('$rdir', 'parquet')"))
    assertThrows[IllegalArgumentException](ddl.execute("DROP TABLE rt"))
    // STOP: later files are NOT consumed
    ddl.execute("STOP ROUTINE LOAD rj")
    spark.range(5, 9).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(rdir)
    Thread.sleep(300)
    assert(ddl.sql("SELECT count(*) AS n FROM rt").as[Long].head() == 5L)
    assert(ddl.sql("SHOW ROUTINE LOAD").collect().head.getString(2) == "STOPPED")
    ddl.execute("DROP TABLE rt") // legal once stopped
  }

  test("PAUSE/RESUME ROUTINE LOAD: paused jobs hold arriving files, resume " +
    "is exactly-once off the standing checkpoint") {
    val ddl = fresh()
    val rdir = graft.TempDirs.create("graft_routine_pause_spec")
    spark.range(2).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(rdir)
    ddl.execute(
      """CREATE TABLE prt (k BIGINT, v DOUBLE) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(s"CREATE ROUTINE LOAD pj ON prt FROM FILE('$rdir', 'parquet')")
    assert(ddl.sql("SELECT count(*) AS n FROM prt").as[Long].head() == 2L)
    // PAUSE: a file arriving while paused is NOT consumed
    ddl.execute("PAUSE ROUTINE LOAD pj")
    assert(ddl.sql("SHOW ROUTINE LOAD").collect().head.getString(2) == "PAUSED")
    spark.range(2, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(rdir)
    Thread.sleep(300)
    assert(ddl.sql("SELECT count(*) AS n FROM prt").as[Long].head() == 2L)
    // a paused job cannot pause again; a running job cannot resume
    assertThrows[IllegalArgumentException](ddl.execute("PAUSE ROUTINE LOAD pj"))
    // RESUME catches up on exactly the waiting files — the checkpoint's
    // file log makes it exactly-once (no re-read of the first file, so a
    // UNIQUE count of 5, and labels keep advancing batch ids)
    ddl.execute("RESUME ROUTINE LOAD pj")
    assert(ddl.sql("SELECT count(*) AS n FROM prt").as[Long].head() == 5L)
    assert(ddl.sql("SHOW ROUTINE LOAD").collect().head.getString(2) == "RUNNING")
    assertThrows[IllegalArgumentException](ddl.execute("RESUME ROUTINE LOAD pj"))
    // the resumed job keeps consuming new files
    spark.range(5, 6).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(rdir)
    ddl.drainRoutineLoad("pj")
    assert(ddl.sql("SELECT count(*) AS n FROM prt").as[Long].head() == 6L)
    // STOP from PAUSED is legal and terminal
    ddl.execute("PAUSE ROUTINE LOAD pj")
    ddl.execute("STOP ROUTINE LOAD pj")
    assert(ddl.sql("SHOW ROUTINE LOAD").collect().head.getString(2) == "STOPPED")
  }

  test("SHOW BACKUP/RESTORE/SNAPSHOT list job history and repo contents; " +
    "CANCEL LOAD implements the terminal-label contract") {
    val ddl = fresh()
    val bdir = graft.TempDirs.create("graft_bk_obs_spec")
    ddl.execute(
      """CREATE TABLE ob (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO ob WITH LABEL lb1 VALUES (1, 1.0), (2, 2.0)")
    // before any job: empty histories
    assert(ddl.sql("SHOW BACKUP").count() == 0)
    assert(ddl.sql("SHOW RESTORE").count() == 0)
    ddl.sql(s"BACKUP SNAPSHOT s1 TO '$bdir' ON (ob)").collect()
    ddl.sql(s"BACKUP SNAPSHOT s2 TO '$bdir' ON (ob)").collect()
    // SHOW BACKUP: two FINISHED jobs in order
    val bk = ddl.sql("SHOW BACKUP").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getString(3))).toSeq
    assert(bk == Seq(("s1", 1L, "FINISHED"), ("s2", 1L, "FINISHED")), bk)
    // SHOW SNAPSHOT reads the REPOSITORY (both snapshots), WHERE filters
    assert(ddl.sql(s"SHOW SNAPSHOT ON '$bdir'").collect()
      .map(_.getString(0)).toSeq == Seq("s1", "s2"))
    assert(ddl.sql(s"SHOW SNAPSHOT ON '$bdir' WHERE SNAPSHOT = 's2'")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("s2", 1L)))
    assertThrows[IllegalArgumentException](
      ddl.sql(s"SHOW SNAPSHOT ON '$bdir/nope'"))
    // restore into history
    ddl.execute("DROP TABLE ob")
    ddl.sql(s"RESTORE SNAPSHOT s1 FROM '$bdir'")
    val rs = ddl.sql("SHOW RESTORE").collect()
      .map(r => (r.getString(0), r.getString(3))).toSeq
    assert(rs == Seq(("s1", "FINISHED")), rs)
    // CANCEL LOAD: a consumed label cannot be cancelled (message says so);
    // an unknown label does not exist; the FROM form scopes to one table.
    // Labels reset across RESTORE (a restore is a new ingest lineage), so
    // re-consume one first.
    ddl.execute("INSERT INTO ob WITH LABEL lb1 VALUES (3, 3.0)")
    val e1 = intercept[RuntimeException](ddl.execute(
      "CANCEL LOAD FROM ob WHERE LABEL = 'lb1'"))
    assert(e1.getMessage.contains("cannot be cancelled"), e1.getMessage)
    val e2 = intercept[RuntimeException](ddl.execute(
      "CANCEL LOAD WHERE LABEL = 'nope'"))
    assert(e2.getMessage.contains("does not exist"), e2.getMessage)
  }

  test("BACKUP/RESTORE round-trips the full definition and the visible " +
    "state; restore-over-existing rejects") {
    val ddl = fresh()
    val bdir = graft.TempDirs.create("graft_bk_spec")
    ddl.execute(
      """CREATE TABLE bkr (
        |  seg VARCHAR(8), k BIGINT, v DOUBLE,
        |  v2 DOUBLE AS (round(v * 2, 2)),
        |  INDEX seg_ix (`seg`) USING INVERTED
        |) UNIQUE KEY(seg, k)
        |PARTITION BY LIST(`seg`) (
        |  PARTITION pa VALUES IN ('a'),
        |  PARTITION pb VALUES IN ('b'))
        |DISTRIBUTED BY HASH(k) BUCKETS 2
        |PROPERTIES("bloom_filter_columns" = "k")""".stripMargin)
    ddl.execute("INSERT INTO bkr (seg, k, v) VALUES ('a', 1, 1.0), " +
      "('a', 2, 2.0), ('b', 3, 3.0)")
    ddl.execute("DELETE FROM bkr WHERE k = 2")
    val before = ddl.sql("SHOW CREATE TABLE bkr").select("create_table")
      .as[String].head()
    assert(ddl.sql(s"BACKUP SNAPSHOT sp TO '$bdir' ON (bkr)")
      .collect().head.getString(2) == "FINISHED")
    // restore over the live table rejects; after a drop it reinstates
    assertThrows[IllegalArgumentException](
      ddl.sql(s"RESTORE SNAPSHOT sp FROM '$bdir'"))
    ddl.execute("INSERT INTO bkr (seg, k, v) VALUES ('b', 9, 9.0)") // post-backup
    ddl.execute("DROP TABLE bkr")
    ddl.sql(s"RESTORE SNAPSHOT sp FROM '$bdir'")
    // visible state = backup time: delete applied, post-backup row gone,
    // generated column intact
    assert(ddl.sql("SELECT seg, k, v, v2 FROM bkr ORDER BY k")
      .as[(String, Long, Double, Double)].collect().toSeq ==
      Seq(("a", 1L, 1.0, 2.0), ("b", 3L, 3.0, 6.0)))
    // full definition round-trip (index, bloom, LIST partitions, gen expr)
    val after = ddl.sql("SHOW CREATE TABLE bkr").select("create_table")
      .as[String].head()
    assert(after == before, after)
    // a versioned delete recorded before the backup still permits reload
    ddl.execute("INSERT INTO bkr (seg, k, v) VALUES ('a', 2, 22.0)")
    assert(ddl.sql("SELECT v FROM bkr WHERE k = 2").as[Double].head() == 22.0)
  }

  test("statement routing is literal- and paren-aware: FROM/USING inside " +
    "a string literal or a subquery never misroutes single-table DML") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE rt (k BIGINT, note VARCHAR(40), v DOUBLE)
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO rt VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    // single-table UPDATE whose SET value contains ' from ' (the r16
    // advisory repro): must route to the single-table path
    ddl.execute("UPDATE rt SET note = 'removed from catalog' WHERE k = 1")
    assert(ddl.sql("SELECT note FROM rt WHERE k = 1").as[String].head() ==
      "removed from catalog")
    // ...and one whose WHERE literal contains ' where ' and ' using '
    ddl.execute("UPDATE rt SET v = 20.0 WHERE note <> 'made using x where y'")
    assert(ddl.sql("SELECT sum(v) AS s FROM rt").as[Double].head() == 60.0)
    // function-call FROM (paren depth > 0) stays single-table
    ddl.execute(
      """CREATE TABLE rtd (k BIGINT, ts DATETIME, d BIGINT) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO rtd VALUES (1, '2024-06-15 10:30:00', 0)")
    ddl.execute("UPDATE rtd SET d = extract(DAY FROM ts) WHERE k = 1")
    assert(ddl.sql("SELECT d FROM rtd WHERE k = 1").as[Long].head() == 15L)
    // single-table DELETE with literals containing ' using '/' from '
    // (DUPLICATE table: one rowset, so the versioned predicate is the
    // whole story — pure routing check)
    ddl.execute(
      """CREATE TABLE rdel (k BIGINT, note VARCHAR(40)) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO rdel VALUES (1, 'made using tools'), (2, 'plain')")
    ddl.execute("DELETE FROM rdel WHERE note = 'made using tools'")
    assert(ddl.sql("SELECT k FROM rdel").as[Long].collect().toSeq == Seq(2L))
    // multi-table forms still route (top-level FROM/USING)
    ddl.execute(
      """CREATE TABLE rsrc (r BIGINT, w DOUBLE) DUPLICATE KEY(r)
        |DISTRIBUTED BY HASH(r) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO rsrc VALUES (2, 222.0)")
    ddl.execute("UPDATE rt SET v = rsrc.w FROM rsrc WHERE rt.k = rsrc.r")
    assert(ddl.sql("SELECT v FROM rt WHERE k = 2").as[Double].head() == 222.0)
    ddl.execute("DELETE FROM rt USING rsrc WHERE rt.k = rsrc.r")
    assert(!ddl.sql("SELECT k FROM rt").as[Long].collect().contains(2L))
  }

  test("MATCH legality: granted through a user view over an indexed table, " +
    "NOT by a table name that appears only inside a string literal") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE mix (id BIGINT, body VARCHAR(60),
        |  INDEX ix_body (body) USING INVERTED
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO mix VALUES (1, 'spark shuffles data'), (2, 'duckdb is fast')")
    // an un-indexed table with a SAME-NAMED column
    ddl.execute(
      """CREATE TABLE mox (id BIGINT, body VARCHAR(60))
        |DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO mox VALUES (9, 'spark text')")
    // through a VIEW over the indexed table: MATCH stays legal
    ddl.execute("CREATE VIEW vmix AS SELECT id, body FROM mix")
    assert(ddl.sql("SELECT id FROM vmix WHERE body MATCH_ANY 'spark'")
      .as[Long].collect().toSeq == Seq(1L))
    // the indexed table's name INSIDE A LITERAL must not legalize a MATCH
    // on the un-indexed table's same-named column
    assertThrows[IllegalArgumentException](ddl.sql(
      "SELECT id FROM mox WHERE body MATCH_ANY 'spark' AND body <> 'see mix'"))
  }

  test("__tmp_ partition-name prefix is reserved at every naming site") {
    val ddl = fresh()
    // CREATE-time spec
    assertThrows[Exception](ddl.execute(
      """CREATE TABLE tres (k BIGINT, d DATE) DUPLICATE KEY(k, d)
        |PARTITION BY RANGE(d) (PARTITION __tmp_x VALUES LESS THAN ('2024-02-01'))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin))
    ddl.execute(
      """CREATE TABLE tok (k BIGINT, d DATE) DUPLICATE KEY(k, d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-02-01'),
        |  PARTITION p2 VALUES LESS THAN ('2024-03-01'))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    // ADD PARTITION and ADD TEMPORARY PARTITION share the parse guard
    assertThrows[Exception](ddl.execute(
      "ALTER TABLE tok ADD PARTITION __tmp_p3 VALUES LESS THAN ('2024-04-01')"))
    assertThrows[Exception](ddl.execute(
      "ALTER TABLE tok ADD TEMPORARY PARTITION __tmp_s " +
        "VALUES [('2024-01-01'), ('2024-02-01'))"))
    // RENAME target
    assertThrows[IllegalArgumentException](ddl.execute(
      "ALTER TABLE tok RENAME PARTITION p1 __tmp_p1"))
  }

  test("RENAME PARTITION amends delete records STRUCTURALLY: user literal " +
    "text containing an _p conjunct spelling is never rewritten") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE rp (k BIGINT, d DATE, note VARCHAR(30))
        |DUPLICATE KEY(k, d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p0 VALUES LESS THAN ('2024-02-01'),
        |  PARTITION p1 VALUES LESS THAN ('2024-03-01'))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    // note value is EXACTLY the spelling the old splice rewrote
    ddl.execute("INSERT INTO rp VALUES " +
      "(1, '2024-01-10', \"_p = 'p0'\"), (2, '2024-01-11', 'plain'), " +
      "(3, '2024-02-10', 'keep')")
    // unscoped delete whose predicate TEXT contains the conjunct spelling
    // inside a literal: deletes only the 'plain' row of p0's range
    ddl.execute("DELETE FROM rp WHERE note <> \"_p = 'p0'\" AND d < '2024-02-01'")
    assert(ddl.sql("SELECT k FROM rp ORDER BY k").as[Long].collect().toSeq ==
      Seq(1L, 3L))
    ddl.execute("ALTER TABLE rp RENAME PARTITION p0 pz")
    // after the rename the literal must be untouched: row 1 still visible
    // (its note still equals the literal), row 2 still deleted
    assert(ddl.sql("SELECT k FROM rp ORDER BY k").as[Long].collect().toSeq ==
      Seq(1L, 3L))
    // and a partition-SCOPED delete follows the rename by name
    ddl.execute("DELETE FROM rp PARTITION (pz) WHERE note = \"_p = 'p0'\"")
    assert(ddl.sql("SELECT k FROM rp ORDER BY k").as[Long].collect().toSeq ==
      Seq(3L))
  }

  test("DISTRIBUTED BY RANDOM + BUCKETS AUTO: DUPLICATE-only round-robin " +
    "layout, per-load sized buckets, SHOW CREATE round-trips") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE rnd (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY RANDOM BUCKETS AUTO""".stripMargin)
    ddl.execute("INSERT INTO rnd VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    // a tiny load sizes to ONE bucket: exactly one data file written
    val files = new java.io.File(ddlDir(ddl, "rnd"))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1, s"expected 1 auto-sized bucket file, got $files")
    // semantics unchanged by layout: versioned delete + survive-reload
    ddl.execute("DELETE FROM rnd WHERE v < 2.0")
    ddl.execute("INSERT INTO rnd VALUES (1, 11.0)")
    assert(ddl.sql("SELECT k, v FROM rnd ORDER BY k, v")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 11.0), (2L, 2.0), (3L, 3.0)))
    // SHOW CREATE round-trips both spellings
    val stmt = ddl.sql("SHOW CREATE TABLE rnd").collect().head.getString(1)
    assert(stmt.contains("DISTRIBUTED BY RANDOM BUCKETS AUTO"), stmt)
    ddl.execute(stmt.replace("`rnd`", "`rnd2`"))
    val stmt2 = ddl.sql("SHOW CREATE TABLE rnd2").collect().head.getString(1)
    assert(stmt2.replace("rnd2", "rnd") == stmt, stmt2)
    // HASH + BUCKETS AUTO also legal
    ddl.execute(
      """CREATE TABLE hau (k BIGINT, v DOUBLE) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS AUTO""".stripMargin)
    ddl.execute("INSERT INTO hau VALUES (1, 1.0), (1, 2.0)")
    assert(ddl.sql("SELECT v FROM hau WHERE k = 1").as[Double].head() == 2.0)
    val stmt3 = ddl.sql("SHOW CREATE TABLE hau").collect().head.getString(1)
    assert(stmt3.contains("DISTRIBUTED BY HASH(`k`) BUCKETS AUTO"), stmt3)
    // guards: RANDOM is DUPLICATE-only; colocation needs HASH + a declared
    // bucket count
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE badr (k BIGINT, v DOUBLE) UNIQUE KEY(k)
        |DISTRIBUTED BY RANDOM BUCKETS 4""".stripMargin))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE badr (k BIGINT, v DOUBLE SUM) AGGREGATE KEY(k)
        |DISTRIBUTED BY RANDOM BUCKETS 4""".stripMargin))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE badc (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY RANDOM BUCKETS 4
        |PROPERTIES("colocate_with" = "cg")""".stripMargin))
    assertThrows[IllegalArgumentException](ddl.execute(
      """CREATE TABLE badc (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS AUTO
        |PROPERTIES("colocate_with" = "cg")""".stripMargin))
  }

  private def scanFileCounts(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }

  test("NGRAM_BF index: persisted per-rowset gram blooms PRUNE FILES at " +
    "read before any per-row work; residual LIKE catches bloom false " +
    "positives; zero survivors fold the predicate away; SHOW surfaces it") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ng (id BIGINT, body VARCHAR(80),
        |  INDEX ix_ng (body) USING NGRAM_BF
        |    PROPERTIES("gram_size" = "3", "bf_size" = "65536")
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    // two loads = two rowsets with disjoint vocabulary
    ddl.execute("INSERT INTO ng VALUES (1, 'spark shuffles data'), " +
      "(2, 'duckdb is fast'), (3, 'sparkling water'), (4, 'park spa dark')")
    ddl.execute("INSERT INTO ng VALUES (10, 'the xylophone sings')")
    // selective needle: only the second rowset's file can contain it
    val df = ddl.sql("SELECT id FROM ng WHERE body LIKE '%xylophone%'")
    assert(df.as[Long].collect().toSeq == Seq(10L))
    val Some((tn, surv, total)) = ddl.lastNgramPrune
    assert(tn == "ng" && surv < total && surv >= 1, s"($tn, $surv, $total)")
    // the SCAN lists only surviving files — storage skipping, not a filter
    assert(scanFileCounts(df).sum == surv, df.queryExecution.executedPlan)
    // common needle: every file survives, the plan is the PLAIN LIKE (the
    // per-row gram re-hash of earlier revisions cost more than the LIKE)
    val all = ddl.sql("SELECT id FROM ng WHERE body LIKE '%spark%'")
    assert(all.as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "residual LIKE must catch rows/files the bloom admits but don't match")
    val cond = all.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.sql
    }.mkString(" ")
    assert(!cond.contains("forall(") && !cond.contains("array_contains("), cond)
    // a needle NO file contains folds to an empty relation: zero files read
    val none = ddl.sql("SELECT id FROM ng WHERE body LIKE '%zzzqqq%'")
    assert(none.count() == 0L)
    assert(scanFileCounts(none).sum == 0, none.queryExecution.executedPlan)
    // a needle shorter than gram_size and a non-indexed column stay plain
    assert(ddl.sql("SELECT count(*) AS n FROM ng WHERE body LIKE '%s%'")
      .as[Long].head() == 5L)
    // NGRAM_BF does not legalize MATCH (INVERTED-only)
    assertThrows[IllegalArgumentException](ddl.sql(
      "SELECT id FROM ng WHERE body MATCH_ANY 'spark'"))
    // SHOW INDEX lists the kind; SHOW CREATE round-trips the properties
    assert(ddl.sql("SHOW INDEX FROM ng")
      .as[(String, String, String)].collect().toSeq
      .contains(("ix_ng", "body", "NGRAM_BF")))
    val stmt = ddl.sql("SHOW CREATE TABLE ng").collect().head.getString(1)
    assert(stmt.contains("USING NGRAM_BF PROPERTIES(\"gram_size\" = \"3\", " +
      "\"bf_size\" = \"65536\")"), stmt)
    ddl.execute(stmt.replace("`ng`", "`ng2`"))
    val stmt2 = ddl.sql("SHOW CREATE TABLE ng2").collect().head.getString(1)
    assert(stmt2.replace("ng2", "ng") == stmt, stmt2)
    // guards: property ranges
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE INDEX bad ON ng (note) USING NGRAM_BF " +
        "PROPERTIES(\"gram_size\" = \"0\")"))
  }

  test("NGRAM_BF soundness gates: driver needle hashes equal Spark's " +
    "hash(); no pruning under OR or in SELECT list or on UNIQUE tables; " +
    "CREATE INDEX backfills existing rowsets; DROP INDEX retires pruning") {
    val ddl = fresh()
    // the driver-side Murmur3 replica must equal the SQL hash() the
    // sidecar build evaluates — a drift here would prune WRONGLY
    for (needle <- Seq("xylophone", "data", "日本語テキスト", "a'b c")) {
      val g = 3
      val sparkSide = spark.sql(
        s"SELECT transform(sequence(1, ${needle.length - g + 1}), " +
          s"i -> pmod(hash(substring('${needle.replace("'", "''")}', i, $g)), 65536))")
        .head.getSeq[Int](0)
      assert(ddl.needleGramHashes(needle, g, 65536) == sparkSide, needle)
    }
    ddl.execute(
      """CREATE TABLE ngs (id BIGINT, body VARCHAR(80))
        |DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO ngs VALUES (1, 'alpha beta'), (2, 'gamma delta')")
    ddl.execute("INSERT INTO ngs VALUES (3, 'epsilon zeta')")
    // CREATE INDEX after the loads: the backfill build makes the very
    // first query prune
    ddl.execute("CREATE INDEX ix_s ON ngs (body) USING NGRAM_BF " +
      "PROPERTIES(\"gram_size\" = \"3\", \"bf_size\" = \"65536\")")
    ddl.lastNgramPrune = None
    val df = ddl.sql("SELECT id FROM ngs WHERE body LIKE '%epsilon%'")
    assert(df.as[Long].collect().toSeq == Seq(3L))
    val Some((_, surv, total)) = ddl.lastNgramPrune
    assert(surv < total, s"($surv, $total)")
    assert(scanFileCounts(df).sum == surv)
    // under OR the predicate restricts nothing about the scan: no pruning
    ddl.lastNgramPrune = None
    assert(ddl.sql("SELECT id FROM ngs WHERE body LIKE '%epsilon%' OR id = 1")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(ddl.lastNgramPrune.isEmpty, "OR-position must not prune")
    // in a SELECT list it is not a row filter: no pruning
    assert(ddl.sql(
      "SELECT id, (body LIKE '%epsilon%') AS hit FROM ngs ORDER BY id")
      .collect().length == 3)
    assert(ddl.lastNgramPrune.isEmpty, "SELECT-list position must not prune")
    // NOT-wrapped: the conjunct is the NOT, not the LIKE — and the result
    // must keep rows from pruned-for-the-needle files
    assert(ddl.sql("SELECT id FROM ngs WHERE NOT (body LIKE '%epsilon%')")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(ddl.lastNgramPrune.isEmpty, "NOT-position must not prune")
    // DROP INDEX retires pruning (plain LIKE over all files)
    ddl.execute("DROP INDEX ix_s ON ngs")
    ddl.lastNgramPrune = None
    val plain = ddl.sql("SELECT id FROM ngs WHERE body LIKE '%epsilon%'")
    assert(plain.as[Long].collect().toSeq == Seq(3L))
    assert(ddl.lastNgramPrune.isEmpty)
    assert(scanFileCounts(plain).sum == total)
    // UNIQUE key model: merge-on-read must see every version of a key —
    // no file pruning, results stay exact
    ddl.execute(
      """CREATE TABLE ngu (id BIGINT, body VARCHAR(80),
        |  INDEX ixu (body) USING NGRAM_BF
        |    PROPERTIES("gram_size" = "3", "bf_size" = "65536")
        |) UNIQUE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO ngu VALUES (1, 'xylophone here')")
    ddl.execute("INSERT INTO ngu VALUES (1, 'replaced away')")
    ddl.lastNgramPrune = None
    assert(ddl.sql("SELECT id FROM ngu WHERE body LIKE '%xylophone%'")
      .count() == 0L, "the key's LATEST version has no match")
    assert(ddl.lastNgramPrune.isEmpty, "UNIQUE tables must not file-prune")
  }

  test("NGRAM_BF lazy repair: a writer that bypasses load() (partition " +
    "REPLACE swap) leaves files without sidecars; the next indexed query " +
    "heals them and then prunes") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ngr (d DATE, id BIGINT, body VARCHAR(80),
        |  INDEX ixr (body) USING NGRAM_BF
        |    PROPERTIES("gram_size" = "3", "bf_size" = "65536")
        |) DUPLICATE KEY(d, id)
        |PARTITION BY RANGE(d) (
        |  PARTITION pa VALUES LESS THAN ('2024-02-01'),
        |  PARTITION pb VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO ngr VALUES ('2024-01-10', 1, 'alpha beta'), " +
      "('2024-02-10', 2, 'gamma delta')")
    // stage + swap pa: the published rowset files never went through load()
    ddl.execute("ALTER TABLE ngr ADD TEMPORARY PARTITION tp " +
      "VALUES LESS THAN ('2024-02-01')")
    ddl.execute("INSERT INTO ngr TEMPORARY PARTITION (tp) " +
      "VALUES ('2024-01-15', 3, 'xylophone staged')")
    ddl.execute("ALTER TABLE ngr REPLACE PARTITION (pa) WITH " +
      "TEMPORARY PARTITION (tp)")
    val df = ddl.sql("SELECT id FROM ngr WHERE body LIKE '%xylophone%'")
    assert(df.as[Long].collect().toSeq == Seq(3L))
    val Some((_, surv, total)) = ddl.lastNgramPrune
    assert(surv < total && surv >= 1, s"($surv, $total): the repaired " +
      "sidecars must prune the gamma-delta file")
    assert(scanFileCounts(df).sum == surv)
  }

  test("NGRAM_BF scope + statement isolation + codepoints: a subquery or " +
    "set-op LIKE over a DIFFERENT table sharing the indexed column name " +
    "never prunes; pruned-scan views are per-statement, dropped after " +
    "analysis, and concurrency-safe; supplementary-plane needles hash by " +
    "codepoint") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE ngm (id BIGINT, body VARCHAR(120),
        |  INDEX ixm (body) USING NGRAM_BF
        |    PROPERTIES("gram_size" = "3", "bf_size" = "65536")
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO ngm VALUES (1, 'alpha beta'), (2, 'gamma delta')")
    ddl.execute("INSERT INTO ngm VALUES (3, 'epsilon zeta')")
    ddl.execute(
      """CREATE TABLE ngaux (id BIGINT, body VARCHAR(120))
        |DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO ngaux VALUES (1, 'onlyaux needle'), (9, 'filler')")
    // the LIKE belongs to the SUBQUERY's WHERE over ngaux: consulting
    // ngm's blooms for 'onlyaux' (present nowhere in ngm) would fold the
    // subquery's predicate to FALSE and silently change the result
    ddl.lastNgramPrune = None
    val got = ddl.sql("SELECT id FROM ngm WHERE id > " +
      "(SELECT min(id) FROM ngaux WHERE body LIKE '%onlyaux%')")
      .as[Long].collect().sorted.toSeq
    assert(got == Seq(2L, 3L),
      s"a different block's WHERE must not prune the outer scan: $got")
    assert(ddl.lastNgramPrune.isEmpty,
      "no prune decision may fire for a subquery's WHERE over another table")
    // set operation: the WHERE governs the SECOND branch's block
    ddl.lastNgramPrune = None
    assert(ddl.sql("SELECT id FROM ngm UNION ALL " +
      "SELECT id FROM ngaux WHERE body LIKE '%onlyaux%'").count() == 4L,
      "folding the second branch's LIKE against ngm's blooms loses its row")
    assert(ddl.lastNgramPrune.isEmpty, "set-op branch WHERE must not prune")
    // the same-block positive control still prunes, through a
    // per-statement view that is DROPPED once the statement analyzes
    ddl.lastNgramPrune = None
    assert(ddl.sql("SELECT id FROM ngm WHERE body LIKE '%epsilon%'")
      .as[Long].collect().toSeq == Seq(3L))
    assert(ddl.lastNgramPrune.exists(p => p._2 < p._3))
    assert(spark.catalog.listTables().collect()
      .forall(!_.name.contains("__ngbf")),
      "pruned-scan views must not outlive their statement")
    // concurrent different-needle statements: unique per-statement view
    // names mean neither can scan the other's survivor set
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(Seq.fill(6)(
      ddl.sql("SELECT id FROM ngm WHERE body LIKE '%epsilon%'")
        .as[Long].collect().toSeq))
    val fb = Future(Seq.fill(6)(
      ddl.sql("SELECT id FROM ngm WHERE body LIKE '%alpha%'")
        .as[Long].collect().toSeq))
    assert(Await.result(fa, 180.seconds).forall(_ == Seq(3L)),
      "needle A must never read needle B's survivor set")
    assert(Await.result(fb, 180.seconds).forall(_ == Seq(1L)),
      "needle B must never read needle A's survivor set")
    // supplementary-plane needle: Spark's substring/length count
    // CODEPOINTS; a UTF-16 segmentation would split surrogate pairs,
    // hash grams the sidecar never wrote, and wrongly prune the file
    val needle = "a🦀b🦀c" // a🦀b🦀c
    val sparkSide = spark.sql(
      s"SELECT transform(sequence(1, length('$needle') - 2), " +
        s"i -> pmod(hash(substring('$needle', i, 3)), 65536))")
      .head.getSeq[Int](0)
    assert(ddl.needleGramHashes(needle, 3, 65536) == sparkSide,
      "driver-side grams must step by codepoint like Spark's substring")
    ddl.execute("INSERT INTO ngm VALUES (7, 'x a🦀b🦀c y')")
    assert(ddl.sql(s"SELECT id FROM ngm WHERE body LIKE '%$needle%'")
      .as[Long].collect().toSeq == Seq(7L),
      "a file containing the emoji needle must survive pruning")
  }

  test("dynamic_partition.end: forward buffer pre-creates empty future " +
    "buckets at SET/load time; SHOW DYNAMIC PARTITION TABLES reports; " +
    "buffered buckets accept loads and never advance data-time") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE fwd (ts DATETIME, k BIGINT, v DOUBLE)
        |DUPLICATE KEY(ts, k)
        |AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
        |DISTRIBUTED BY HASH(k) BUCKETS 2
        |PROPERTIES("dynamic_partition.enable" = "true",
        |  "dynamic_partition.time_unit" = "day",
        |  "dynamic_partition.start" = "-3",
        |  "dynamic_partition.end" = "2")""".stripMargin)
    ddl.execute("INSERT INTO fwd VALUES ('2024-01-10 01:00:00', 1, 1.0)")
    // buffer: p20240111 and p20240112 pre-created, visible, empty
    val parts = ddl.sql("SHOW PARTITIONS FROM fwd")
      .as[(String, String, Long)].collect().toSeq
    assert(parts == Seq(("p20240110", "AUTO(day)", 1L),
      ("p20240111", "AUTO(day)", 0L), ("p20240112", "AUTO(day)", 0L)), parts)
    // the report statement
    val rep = ddl.sql("SHOW DYNAMIC PARTITION TABLES")
      .select("table_name", "time_unit", "start", "end", "buffered_partitions")
      .as[(String, String, String, String, Long)].collect().toSeq
    assert(rep == Seq(("fwd", "day", "-3", "2", 2L)), rep)
    // a load into a buffered day: the bucket fills, buffer extends past it
    ddl.execute("INSERT INTO fwd VALUES ('2024-01-11 05:00:00', 2, 2.0)")
    val parts2 = ddl.sql("SHOW PARTITIONS FROM fwd")
      .select("partition_name").as[String].collect().toSeq
    assert(parts2 == Seq("p20240110", "p20240111", "p20240112", "p20240113"),
      parts2)
    // retention anchors on DATA time: a day-14 load drops day 10 (< 14-3)
    // but the empty buffers never count as "now"
    ddl.execute("INSERT INTO fwd VALUES ('2024-01-14 09:00:00', 3, 3.0)")
    val parts3 = ddl.sql("SHOW PARTITIONS FROM fwd")
      .select("partition_name").as[String].collect().toSeq
    assert(parts3 == Seq("p20240111", "p20240112", "p20240113", "p20240114",
      "p20240115", "p20240116"), parts3)
    // ALTER SET takes effect immediately (no load needed)
    ddl.execute("""ALTER TABLE fwd SET ("dynamic_partition.end" = "3")""")
    assert(ddl.sql("SHOW PARTITIONS FROM fwd")
      .select("partition_name").as[String].collect().toSeq.contains("p20240117"))
    // guards: end must be positive, and needs AUTO partitioning
    assertThrows[IllegalArgumentException](ddl.execute(
      """ALTER TABLE fwd SET ("dynamic_partition.end" = "0")"""))
    ddl.execute(
      """CREATE TABLE nofwd (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    assertThrows[IllegalArgumentException](ddl.execute(
      """ALTER TABLE nofwd SET ("dynamic_partition.end" = "2")"""))
  }

  test("join hints: [broadcast] forces a broadcast of the marked side, " +
    "[shuffle] forces a shuffled hash join, LEADING strips harmlessly") {
    import graft.sql.DorisSqlDialect
    val spark = TestSpark.spark
    (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("hj_l")
    (1 to 2000).map(i => (i.toLong, i * 2L)).toDF("k", "w")
      .createOrReplaceTempView("hj_r")
    // the chosen join STRATEGY must follow the hint on the marked relation
    def planOf(q: String) = {
      val df = DorisSqlDialect.sql(spark, q)
      df.collect() // materialize so AQE finalizes the plan
      df.queryExecution.executedPlan.toString
    }
    // auto-broadcast off: only the HINT can produce a broadcast here, so
    // the assertion proves the hint (tiny tables would mask it otherwise)
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try {
      val plain = planOf("SELECT count(*) AS n FROM hj_l l " +
        "JOIN hj_r r ON l.k = r.k")
      assert(!plain.contains("BroadcastHashJoin"), plain)
      val pb = planOf("SELECT count(*) AS n FROM hj_l l " +
        "JOIN [broadcast] hj_r r ON l.k = r.k")
      assert(pb.contains("BroadcastHashJoin"), pb)
      val ps = planOf("SELECT count(*) AS n FROM hj_l l " +
        "JOIN [shuffle] hj_r r ON l.k = r.k")
      assert(ps.contains("ShuffledHashJoin"), ps)
    } finally spark.conf.set(thr, prev)
    // LEADING strips; results identical with and without hints
    val withHints = DorisSqlDialect.sql(spark,
      "SELECT /*+ LEADING(r, l) */ l.k AS k, r.w AS w FROM hj_l l " +
        "JOIN [broadcast] hj_r r ON l.k = r.k WHERE l.k <= 5 ORDER BY k")
      .collect().toSeq
    val plain = spark.sql(
      "SELECT l.k AS k, r.w AS w FROM hj_l l JOIN hj_r r ON l.k = r.k " +
        "WHERE l.k <= 5 ORDER BY k").collect().toSeq
    assert(withHints == plain)
  }

  private def ddlDir(ddl: DorisDdl, table: String): String = {
    val f = ddl.getClass.getDeclaredField("tables")
    f.setAccessible(true)
    f.get(ddl).asInstanceOf[scala.collection.mutable.LinkedHashMap[String, DorisDdl.TableState]](table).dir
  }

  test("SHOW DATA counts only committed rowsets while a writer's " +
    "_temporary tree comes and goes") {
    import java.nio.file.{Files, Paths}
    val ddl = fresh()
    ddl.execute("CREATE TABLE tmp_walk (k BIGINT, v INT) DUPLICATE KEY(k) " +
      "DISTRIBUTED BY HASH(k) BUCKETS 1")
    ddl.execute("INSERT INTO tmp_walk VALUES (1, 10), (2, 20)")
    def nFiles() = ddl.sql("SHOW DATA FROM tmp_walk").head().getLong(2)
    val committed = nFiles()
    val tmp = Paths.get(ddlDir(ddl, "tmp_walk"), "_temporary")
    @volatile var stop = false
    val writer = new Thread(() =>
      while (!stop) {
        val attempt = tmp.resolve("0/_temporary/attempt_0")
        Files.createDirectories(attempt)
        Files.write(attempt.resolve("part-00000.parquet"), Array[Byte](1))
        TempDirs.deleteTree(tmp)
      })
    writer.start()
    try (1 to 200).foreach { i =>
      val n = nFiles()
      assert(n == committed, s"pass $i counted $n files, $committed committed")
    } finally { stop = true; writer.join() }
  }

  // -------------------------------------------------------- view lifecycle

  test("view lifecycle: ALTER VIEW redefines immediately, SHOW CREATE VIEW " +
    "round-trips, DROP VIEW removes (IF EXISTS tolerant, tables rejected)") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE vt (k BIGINT, v BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO vt VALUES (1, 10), (2, 20), (3, 30)")
    ddl.execute("CREATE VIEW vv AS SELECT k, v FROM vt WHERE k <= 2")
    assert(ddl.sql("SELECT count(*) AS n FROM vv").head.getLong(0) == 2)
    // ALTER VIEW: readers see the new text immediately
    ddl.execute("ALTER VIEW vv AS SELECT k, v FROM vt WHERE k >= 2")
    assert(ddl.sql("SELECT count(*) AS n FROM vv").head.getLong(0) == 2)
    assert(ddl.sql("SELECT min(k) AS m FROM vv").head.getLong(0) == 2)
    // SHOW CREATE VIEW round-trip: drop, replay the emitted text, identical
    val emitted = ddl.sql("SHOW CREATE VIEW vv").head.getString(1)
    ddl.execute("DROP VIEW vv")
    assertThrows[Exception](ddl.sql("SELECT * FROM vv").collect())
    ddl.execute(emitted)
    assert(ddl.sql("SELECT min(k) AS m FROM vv").head.getLong(0) == 2)
    // guards
    assertThrows[IllegalArgumentException](ddl.execute("DROP VIEW vt"))
    assertThrows[IllegalArgumentException](ddl.execute("DROP VIEW ghost_v"))
    ddl.execute("DROP VIEW IF EXISTS ghost_v") // tolerant
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER VIEW ghost_v AS SELECT 1"))
    assertThrows[RuntimeException](ddl.sql("SHOW CREATE VIEW ghost_v"))
    // privileges: ALTER/DROP VIEW gate on the view's own scope
    ddl.execute("CREATE USER 'vu'")
    ddl.login("vu")
    val e1 = intercept[RuntimeException](
      ddl.execute("ALTER VIEW vv AS SELECT k FROM vt"))
    assert(e1.getMessage.contains("ALTER_PRIV"), e1.getMessage)
    val e2 = intercept[RuntimeException](ddl.execute("DROP VIEW vv"))
    assert(e2.getMessage.contains("DROP_PRIV"), e2.getMessage)
    ddl.login("root")
  }

  test("a view over a dropped table is broken, not poisonous: unrelated " +
    "statements keep working, the view errors on read, and recreating " +
    "the base heals it (Doris's invalid-view semantics)") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE dvt (k BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dvt VALUES (1), (2)")
    ddl.execute("CREATE VIEW dvv AS SELECT k FROM dvt")
    ddl.execute("DROP TABLE dvt")
    // unrelated statements must not be poisoned by the dangling view
    // (pre-fix: EVERY statement failed re-registering it)
    ddl.execute(
      """CREATE TABLE dvo (x BIGINT)
        |DUPLICATE KEY(x) DISTRIBUTED BY HASH(x) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dvo VALUES (5)")
    assert(ddl.sql("SELECT x FROM dvo").count() == 1)
    // the view itself errors on read with a named not-found
    assertThrows[Exception](ddl.sql("SELECT * FROM dvv").collect())
    // but its text survives — recreating the base heals it
    ddl.execute(
      """CREATE TABLE dvt (k BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dvt VALUES (7)")
    assert(ddl.sql("SELECT k FROM dvv").as[Long].collect().toSeq == Seq(7))
  }

  test("view-over-view chains survive a drop-and-recreate of the root " +
    "(registration reaches a fixpoint regardless of catalog order)") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE cvt (k BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO cvt VALUES (1), (2), (3)")
    ddl.execute("CREATE VIEW cv1 AS SELECT k FROM cvt WHERE k >= 2")
    ddl.execute("CREATE VIEW cv2 AS SELECT k FROM cv1 WHERE k >= 3")
    assert(ddl.sql("SELECT k FROM cv2").as[Long].collect().toSeq == Seq(3))
    // drop the INTERMEDIATE view, then recreate it — it re-enters the
    // catalog AFTER its dependent cv2, the order the fixpoint must absorb
    ddl.execute("DROP VIEW cv1")
    assertThrows[Exception](ddl.sql("SELECT * FROM cv2").collect())
    ddl.execute("CREATE VIEW cv1 AS SELECT k FROM cvt WHERE k >= 1")
    assert(ddl.sql("SELECT count(*) AS n FROM cv2").head.getLong(0) == 1,
      "dependent view must heal in the SAME statement that recreates its base")
  }

  // ------------------------------------------------------ session variables

  test("session variables: SET/SHOW round-trip, LIKE filter, DEFAULT " +
    "reset, validation, and @@ reads in SELECT text") {
    val ddl = fresh()
    ddl.execute("SET query_timeout = 60")
    ddl.execute("SET GLOBAL enable_profile = true")
    val vars = ddl.sql("SHOW VARIABLES").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vars("query_timeout") == "60" && vars("enable_profile") == "true")
    assert(vars.contains("version_comment") && vars.size >= 9)
    val like = ddl.sql("SHOW VARIABLES LIKE '%limit%'").collect()
    assert(like.map(_.getString(0)).toSeq ==
      Seq("exec_mem_limit", "sql_select_limit"))
    assert(ddl.sql("SHOW VARIABLES LIKE 'sql_select_limit'").count() == 1)
    ddl.execute("SET query_timeout = DEFAULT")
    assert(ddl.sql("SHOW VARIABLES LIKE 'query_timeout'")
      .head.getString(1) == "300")
    // @@ reads: int bare, string quoted; literals containing @@ untouched
    val r = ddl.sql("SELECT @@query_timeout AS qt, " +
      "@@session.version_comment AS vc, '@@not_a_var' AS lit").head
    assert(r.getInt(0) == 300 && r.getString(1) == "palospark" &&
      r.getString(2) == "@@not_a_var")
    // @@ resolves at the STATEMENT entry, so it works in every body
    // (MySQL/Doris scope), not just top-level SELECT
    ddl.execute(
      """CREATE TABLE vat (x BIGINT)
        |DUPLICATE KEY(x) DISTRIBUTED BY HASH(x) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO vat SELECT CAST(@@query_timeout AS BIGINT)")
    assert(ddl.sql("SELECT x FROM vat").head.getLong(0) == 300)
    ddl.execute("SET exec_mem_limit = @@batch_size")
    assert(ddl.sql("SHOW VARIABLES LIKE 'exec_mem_limit'")
      .head.getString(1) == "4096")
    ddl.execute("SET exec_mem_limit = DEFAULT")
    assertThrows[IllegalArgumentException](ddl.execute("SET no_such_var = 1"))
    assertThrows[IllegalArgumentException](
      ddl.execute("SET query_timeout = 'abc'"))
    assertThrows[IllegalArgumentException](
      ddl.execute("SET enable_profile = maybe"))
    assertThrows[IllegalArgumentException](ddl.sql("SELECT @@nope AS x"))
  }

  test("session variables: sql_select_limit caps top-level SELECT only " +
    "(CTAS and OUTFILE-style internal reads stay uncapped)") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sv_t (k BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO sv_t VALUES (1), (2), (3), (4), (5)")
    ddl.execute("SET sql_select_limit = 2")
    assert(ddl.sql("SELECT k FROM sv_t ORDER BY k").count() == 2)
    ddl.execute(
      """CREATE TABLE sv_copy DISTRIBUTED BY HASH(k) BUCKETS 1
        |AS SELECT k FROM sv_t""".stripMargin)
    ddl.execute("SET sql_select_limit = DEFAULT")
    assert(ddl.sql("SELECT k FROM sv_copy").count() == 5,
      "CTAS body must not be capped by sql_select_limit")
    assert(ddl.sql("SELECT k FROM sv_t").count() == 5, "DEFAULT must reset")
  }

  test("async MTMV refresh triggers: ON COMMIT refreshes with every base " +
    "publish; ON SCHEDULE EVERY n honors the schedule at statement entry; " +
    "SHOW CREATE MATERIALIZED VIEW round-trips the trigger") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE mtt (d DATE, k BIGINT, v DOUBLE)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION pa VALUES LESS THAN ('2024-02-01'),
        |  PARTITION pb VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO mtt VALUES ('2024-01-10', 1, 1.0)")
    // ON COMMIT: a base publish refreshes without any REFRESH statement
    ddl.execute(
      """CREATE MATERIALIZED VIEW mtt_c
        |BUILD IMMEDIATE REFRESH AUTO ON COMMIT
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM mtt GROUP BY d""".stripMargin)
    assert(ddl.sql("SELECT count(*) AS n FROM mtt_c").as[Long].head() == 1L)
    ddl.execute("INSERT INTO mtt VALUES ('2024-02-10', 2, 2.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM mtt_c").as[Long].head() == 2L,
      "ON COMMIT must refresh with the publish")
    // ON SCHEDULE: the base load does NOT refresh; once the interval
    // elapses, the NEXT statement's entry check does
    ddl.execute(
      """CREATE MATERIALIZED VIEW mtt_s
        |BUILD IMMEDIATE REFRESH AUTO ON SCHEDULE EVERY 1 SECOND
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM mtt GROUP BY d""".stripMargin)
    ddl.execute("INSERT INTO mtt VALUES ('2024-02-15', 3, 3.0)")
    assert(ddl.sql("SELECT count(*) AS n FROM mtt_s").as[Long].head() >= 2L)
    Thread.sleep(1100)
    assert(ddl.sql("SELECT count(*) AS n FROM mtt_s").as[Long].head() == 3L,
      "a due schedule must refresh at statement entry")
    // SHOW CREATE round-trips the trigger; the text replays
    val stmt = ddl.sql("SHOW CREATE MATERIALIZED VIEW mtt_s")
      .head.getString(1)
    assert(stmt.contains("REFRESH AUTO ON SCHEDULE EVERY 1 SECOND"), stmt)
    assert(ddl.sql("SHOW CREATE MATERIALIZED VIEW mtt_c").head.getString(1)
      .contains("REFRESH AUTO ON COMMIT"))
    ddl.execute("DROP MATERIALIZED VIEW mtt_s")
    ddl.execute(stmt)
    Thread.sleep(1100)
    assert(ddl.sql("SELECT count(*) AS n FROM mtt_s").as[Long].head() == 3L)
    // a STARTS timestamp is accepted AND round-trips through SHOW CREATE
    // (Doris preserves the user's DDL — dropping the clause would lose
    // part of the definition on replay)
    ddl.execute(
      """CREATE MATERIALIZED VIEW mtt_s2
        |BUILD IMMEDIATE REFRESH AUTO ON SCHEDULE EVERY 2 HOUR
        |  STARTS '2024-01-01 00:00:00'
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM mtt GROUP BY d""".stripMargin)
    val s2 = ddl.sql("SHOW CREATE MATERIALIZED VIEW mtt_s2").head.getString(1)
    assert(s2.contains(
      "ON SCHEDULE EVERY 2 HOUR STARTS '2024-01-01 00:00:00'"),
      s"STARTS must round-trip: $s2")
    ddl.execute("DROP MATERIALIZED VIEW mtt_s2")
    ddl.execute(s2) // the emitted text replays, STARTS included
    // a FUTURE starts holds the scheduled tick: a due interval with the
    // job not yet started must not refresh
    ddl.execute(
      """CREATE MATERIALIZED VIEW mtt_s3
        |BUILD IMMEDIATE REFRESH AUTO ON SCHEDULE EVERY 1 SECOND
        |  STARTS '2099-01-01 00:00:00'
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM mtt GROUP BY d""".stripMargin)
    val atBuild = ddl.sql("SELECT count(*) AS n FROM mtt_s3").as[Long].head()
    ddl.execute("INSERT INTO mtt VALUES ('2024-03-01', 9, 9.0)")
    Thread.sleep(1100)
    assert(ddl.sql("SELECT count(*) AS n FROM mtt_s3").as[Long].head()
      == atBuild, "a future STARTS must hold the scheduled refresh")
    val e = intercept[RuntimeException](ddl.execute(
      """CREATE MATERIALIZED VIEW mtt_bad
        |BUILD IMMEDIATE REFRESH AUTO ON SCHEDULE EVERY 1 FORTNIGHT
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM mtt GROUP BY d""".stripMargin))
    assert(e.getMessage.contains("unsupported REFRESH trigger"), e.getMessage)
    // an MTMV created over a NEVER-loaded base reads empty (the
    // empty-table semantics compose), then fills with the first commit
    ddl.execute(
      """CREATE TABLE mte (d DATE, k BIGINT)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (PARTITION pa VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute(
      """CREATE MATERIALIZED VIEW mte_mv
        |BUILD IMMEDIATE REFRESH AUTO ON COMMIT
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM mte GROUP BY d""".stripMargin)
    assert(ddl.sql("SELECT count(*) AS n FROM mte_mv").as[Long].head() == 0L,
      "an MTMV over an empty base must read empty, not error")
    ddl.execute("INSERT INTO mte VALUES ('2024-01-01', 1)")
    assert(ddl.sql("SELECT n FROM mte_mv").as[Long].head() == 1L)
  }

  // ------------------------------------------------------------ privileges

  private def authFixture(): DorisDdl = {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sec_t (k BIGINT, v BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO sec_t VALUES (1, 10), (2, 20), (3, 30)")
    ddl.execute("CREATE USER 'alice'")
    ddl
  }

  private def denied(body: => Any): String = {
    val e = intercept[RuntimeException](body)
    assert(e.getMessage.startsWith("access denied"), e.getMessage)
    e.getMessage
  }

  test("privileges: SELECT/LOAD/ALTER/DROP each gate their statement " +
    "family; grant admits, revoke re-denies immediately") {
    val ddl = authFixture()
    ddl.login("alice")
    assert(denied(ddl.sql("SELECT * FROM sec_t")).contains("SELECT_PRIV"))
    assert(denied(ddl.execute("INSERT INTO sec_t VALUES (4, 40)"))
      .contains("LOAD_PRIV"))
    assert(denied(ddl.execute("ALTER TABLE sec_t ADD COLUMN w BIGINT"))
      .contains("ALTER_PRIV"))
    assert(denied(ddl.execute("DROP TABLE sec_t")).contains("DROP_PRIV"))
    assert(denied(ddl.execute(
      """CREATE TABLE mine (k BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin))
      .contains("CREATE_PRIV"))
    ddl.login("root")
    ddl.execute("GRANT SELECT_PRIV, LOAD_PRIV ON sec_t TO 'alice'")
    ddl.login("alice")
    ddl.execute("INSERT INTO sec_t VALUES (4, 40)")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_t").head.getLong(0) == 4)
    ddl.login("root")
    ddl.execute("REVOKE SELECT_PRIV ON sec_t FROM 'alice'")
    ddl.login("alice")
    assert(denied(ddl.sql("SELECT * FROM sec_t")).contains("SELECT_PRIV"))
    // LOAD survives the SELECT revoke — grants are per-priv, not per-scope
    ddl.execute("INSERT INTO sec_t VALUES (5, 50)")
  }

  test("privileges: INSERT ... SELECT needs LOAD on the target AND " +
    "SELECT on the source; scope * covers all objects") {
    val ddl = authFixture()
    ddl.execute(
      """CREATE TABLE sec_dst (k BIGINT, v BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute("GRANT LOAD_PRIV ON sec_dst TO 'alice'")
    ddl.login("alice")
    assert(denied(ddl.execute("INSERT INTO sec_dst SELECT k, v FROM sec_t"))
      .contains("SELECT_PRIV"))
    ddl.login("root")
    ddl.execute("GRANT SELECT_PRIV ON * TO 'alice'")
    ddl.login("alice")
    ddl.execute("INSERT INTO sec_dst SELECT k, v FROM sec_t")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_dst").head.getLong(0) == 3)
  }

  test("privileges: a view is its own grant scope — SELECT through a " +
    "granted view works without any base-table grant") {
    val ddl = authFixture()
    ddl.execute("CREATE VIEW sec_v AS SELECT k, v FROM sec_t WHERE k <= 2")
    ddl.execute("GRANT SELECT_PRIV ON sec_v TO 'alice'")
    ddl.login("alice")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_v").head.getLong(0) == 2)
    assert(denied(ddl.sql("SELECT * FROM sec_t")).contains("sec_t"))
  }

  test("privileges: GRANT_PRIV delegates administration; ADMIN_PRIV " +
    "opens everything and is grantable only ON *") {
    val ddl = authFixture()
    ddl.execute("CREATE USER 'bob'")
    ddl.login("alice")
    assert(denied(ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'bob'"))
      .contains("GRANT_PRIV"))
    assert(denied(ddl.execute("CREATE USER 'eve'")).contains("GRANT_PRIV"))
    ddl.login("root")
    ddl.execute("GRANT GRANT_PRIV ON * TO 'alice'")
    ddl.login("alice")
    ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'bob'")
    ddl.login("bob")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_t").head.getLong(0) == 3)
    ddl.login("root")
    assertThrows[IllegalArgumentException](
      ddl.execute("GRANT ADMIN_PRIV ON sec_t TO 'bob'"))
    ddl.execute("GRANT ADMIN_PRIV ON * TO 'bob'")
    ddl.login("bob")
    ddl.execute("ALTER TABLE sec_t ADD COLUMN w BIGINT")
    ddl.execute("DROP TABLE sec_t")
  }

  test("privileges: SHOW GRANTS lists own grants freely, others need " +
    "GRANT_PRIV; user lifecycle guards (dup create, drop root, drop " +
    "resets session, unknown names reject)") {
    val ddl = authFixture()
    ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'alice'")
    ddl.execute("GRANT LOAD_PRIV, SELECT_PRIV ON * TO 'alice'")
    ddl.login("alice")
    val own = ddl.sql("SHOW GRANTS").collect()
      .map(r => (r.getString(1), r.getString(2))).toSet
    assert(own == Set(("*", "LOAD_PRIV,SELECT_PRIV"), ("sec_t", "SELECT_PRIV")))
    assert(denied(ddl.sql("SHOW GRANTS FOR 'root'")).contains("GRANT_PRIV"))
    assert(ddl.sql("SHOW GRANTS FOR 'alice'").count() == 2)
    ddl.login("root")
    assert(ddl.sql("SHOW GRANTS").head.getString(2) == "ADMIN_PRIV")
    assertThrows[IllegalArgumentException](ddl.execute("CREATE USER 'alice'"))
    assertThrows[IllegalArgumentException](ddl.execute("DROP USER 'root'"))
    assertThrows[IllegalArgumentException](
      ddl.execute("GRANT SELECT_PRIV ON nope_t TO 'alice'"))
    assertThrows[RuntimeException](
      ddl.execute("GRANT FLY_PRIV ON sec_t TO 'alice'"))
    assertThrows[IllegalArgumentException](
      ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'nobody'"))
    ddl.login("alice")
    ddl.login("root")
    ddl.execute("DROP USER 'alice'")
    assertThrows[IllegalArgumentException](ddl.login("alice"))
    assert(ddl.whoami == "root")
    // dropping a logged-in user elsewhere resets that session to root
    ddl.execute("CREATE USER 'carol'")
    ddl.login("carol")
    ddl.login("root") // need GRANT_PRIV to drop; switch back first
    ddl.execute("DROP USER 'carol'")
    assert(ddl.whoami == "root")
  }

  test("roles: a role holds grants, a user holds roles — effective " +
    "privileges are direct ∪ roles; revoking the role or dropping it " +
    "removes its privileges everywhere; built-ins are guarded") {
    val ddl = authFixture()
    ddl.execute("CREATE ROLE 'reader'")
    ddl.execute("GRANT SELECT_PRIV ON sec_t TO ROLE 'reader'")
    // nothing direct: still denied
    ddl.login("alice")
    assert(denied(ddl.sql("SELECT * FROM sec_t")).contains("SELECT_PRIV"))
    ddl.login("root")
    ddl.execute("GRANT 'reader' TO 'alice'")
    ddl.login("alice")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_t").as[Long].head() == 3L)
    // the role carries only SELECT — LOAD stays denied
    assert(denied(ddl.execute("INSERT INTO sec_t VALUES (9, 90)"))
      .contains("LOAD_PRIV"))
    // union with a DIRECT grant
    ddl.login("root")
    ddl.execute("GRANT LOAD_PRIV ON sec_t TO 'alice'")
    ddl.login("alice")
    ddl.execute("INSERT INTO sec_t VALUES (9, 90)")
    // un-assigning the role removes ONLY its privileges
    ddl.login("root")
    ddl.execute("REVOKE 'reader' FROM 'alice'")
    ddl.login("alice")
    assert(denied(ddl.sql("SELECT * FROM sec_t")).contains("SELECT_PRIV"))
    ddl.execute("INSERT INTO sec_t VALUES (10, 100)") // direct LOAD survives
    // DROP ROLE revokes it everywhere (grants die with the role)
    ddl.login("root")
    ddl.execute("GRANT 'reader' TO 'alice'")
    ddl.execute("DROP ROLE 'reader'")
    ddl.login("alice")
    assert(denied(ddl.sql("SELECT * FROM sec_t")).contains("SELECT_PRIV"))
    ddl.login("root")
    // DEFAULT ROLE at CREATE USER; built-in 'admin' = ADMIN_PRIV ON *
    ddl.execute("CREATE USER 'boss' DEFAULT ROLE 'admin'")
    ddl.login("boss")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_t").as[Long].head() == 5L)
    ddl.execute("ALTER TABLE sec_t ADD COLUMN w BIGINT")
    ddl.login("root")
    // SHOW ROLES lists built-ins and memberships
    val rows = ddl.sql("SHOW ROLES").as[(String, String, String)]
      .collect().map { case (n, u, _) => n -> u }.toMap
    assert(rows.keySet == Set("admin", "operator"))
    assert(rows("admin") == "boss")
    // guards: built-ins immutable, unknown names reject, ACL statements
    // need GRANT_PRIV
    assertThrows[IllegalArgumentException](ddl.execute("DROP ROLE 'admin'"))
    assertThrows[IllegalArgumentException](
      ddl.execute("GRANT SELECT_PRIV ON sec_t TO ROLE 'admin'"))
    assertThrows[IllegalArgumentException](
      ddl.execute("GRANT 'ghost' TO 'alice'"))
    assertThrows[IllegalArgumentException](
      ddl.execute("CREATE USER 'x' DEFAULT ROLE 'ghost'"))
    ddl.execute("CREATE ROLE 'dup'")
    assertThrows[IllegalArgumentException](ddl.execute("CREATE ROLE 'dup'"))
    ddl.login("alice")
    assert(denied(ddl.execute("CREATE ROLE 'evil'")).contains("GRANT_PRIV"))
    assert(denied(ddl.sql("SHOW ROLES")).contains("GRANT_PRIV"))
    ddl.login("root")
  }

  test("privileges: derived objects are not a bypass — MV, MTMV, and " +
    "partition-view references require the BASE table's grant; internal " +
    "scratch views demand superuser scope") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sec_p (d DATE, k BIGINT, v DOUBLE)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  PARTITION pa VALUES LESS THAN ('2024-02-01'),
        |  PARTITION pb VALUES LESS THAN (MAXVALUE))
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin)
    ddl.execute(
      "INSERT INTO sec_p VALUES ('2024-01-10', 1, 1.0), ('2024-02-10', 2, 2.0)")
    ddl.execute(
      """CREATE MATERIALIZED VIEW sec_mtmv
        |BUILD IMMEDIATE REFRESH AUTO ON MANUAL
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM sec_p GROUP BY d""".stripMargin)
    ddl.execute(
      "CREATE MATERIALIZED VIEW sec_smv AS SELECT d, SUM(v) AS sv FROM sec_p GROUP BY d")
    ddl.execute("CREATE USER 'mallory'")
    ddl.login("mallory")
    // every derived spelling of sec_p's data is denied without a grant
    assert(denied(ddl.sql("SELECT * FROM sec_mtmv")).contains("sec_mtmv"))
    assert(denied(ddl.sql("SELECT * FROM sec_smv")).contains("sec_p"))
    assert(denied(ddl.sql("SELECT * FROM sec_p__part_pa")).contains("sec_p"))
    assert(denied(ddl.sql("SELECT * FROM sec_p PARTITION (pa)"))
      .contains("sec_p"))
    // internal scratch views are not grantable objects: superuser scope
    assert(denied(ddl.sql("SELECT * FROM __file_tvf_1")).endsWith("on *"))
    assert(denied(ddl.sql("SELECT * FROM __mtmv_src_sec_mtmv")).endsWith("on *"))
    // the base grant admits the base-scoped derived reads (sync MV,
    // partition view) — but NOT the MTMV, which is its own object in
    // Doris 2.1 (querying a materialized view needs SELECT on the MV)
    ddl.login("root")
    ddl.execute("GRANT SELECT_PRIV ON sec_p TO 'mallory'")
    ddl.login("mallory")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_p__part_pa")
      .as[Long].head() == 1L)
    assert(denied(ddl.sql("SELECT * FROM sec_mtmv")).contains("sec_mtmv"))
    // an MTMV is GRANTABLE by name, like any table
    ddl.login("root")
    ddl.execute("GRANT SELECT_PRIV ON sec_mtmv TO 'mallory'")
    ddl.login("mallory")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_mtmv").as[Long].head() == 2L)
  }

  test("privileges: a literal containing 'routine load' stays a SELECT — " +
    "only a statement-initial ROUTINE LOAD form demands LOAD_PRIV") {
    val ddl = authFixture()
    ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'alice'")
    ddl.login("alice")
    assert(ddl.sql(
      "SELECT k FROM sec_t WHERE CAST(v AS STRING) = 'routine load'")
      .count() == 0L)
    assert(denied(ddl.execute(
      """CREATE ROUTINE LOAD rl_sec ON sec_t
        |PROPERTIES("desired_concurrent_number" = "1")
        |FROM FILE ("path" = "/tmp/nope", "format" = "csv")""".stripMargin))
      .contains("LOAD_PRIV"))
  }

  test("statement table: every row's lookup, mutation-epoch flag and first " +
    "denial for a user with no grants match the pre-table dispatch chain, " +
    "read-only list and authorize") {
    val ddl = fresh()
    ddl.execute("""CREATE TABLE st_t (k BIGINT, v DOUBLE) UNIQUE KEY(k)
      |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("""CREATE TABLE st_u (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
      |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("CREATE VIEW st_v AS SELECT k FROM st_t")
    ddl.execute(
      "CREATE MATERIALIZED VIEW st_smv AS SELECT k, SUM(v) AS sv FROM st_u GROUP BY k")
    ddl.execute("CREATE DATABASE st_wdb")
    ddl.execute("""CREATE TABLE st_wdb.st_w (k BIGINT) DUPLICATE KEY(k)
      |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("CREATE USER 'nobody'")
    ddl.login("nobody")
    // (statement, row, written table, first denial). Rows and denials were
    // recorded from the pre-table dispatch chain; the query row is its old
    // fallback. The written table is what the statement's mutation-epoch
    // step marks: None for a read, "*" for every table.
    val (reads, all, st_t) = (Option.empty[String], Some("*"), Some("st_t"))
    val cases: Seq[(String, String, Option[String], Option[(String, String)])] = Seq(
      ("CREATE DATABASE st_db", "CREATE DATABASE", all, Some("CREATE_PRIV" -> "*")),
      ("DROP DATABASE st_db", "DROP DATABASE", all, Some("DROP_PRIV" -> "*")),
      ("USE default_db", "USE", all, None),
      ("SHOW DATABASES", "SHOW DATABASES", reads, None),
      ("CREATE TABLE st_n (k BIGINT) DUPLICATE KEY(k) " +
        "DISTRIBUTED BY HASH(k) BUCKETS 1", "CREATE TABLE", Some("st_n"),
        Some("CREATE_PRIV" -> "*")),
      ("CREATE TABLE st_n2 DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) " +
        "BUCKETS 1 AS SELECT k FROM st_t", "CREATE TABLE", Some("st_n2"),
        Some("CREATE_PRIV" -> "*")),
      ("CREATE INDEX st_ix ON st_t (v) USING INVERTED", "CREATE INDEX", all,
        Some("ALTER_PRIV" -> "st_t")),
      ("DROP INDEX st_ix ON st_t", "DROP INDEX", all, Some("ALTER_PRIV" -> "st_t")),
      ("CREATE MATERIALIZED VIEW st_mv AS SELECT k, SUM(v) AS sv FROM st_u " +
        "GROUP BY k", "CREATE MATERIALIZED VIEW", all, Some("ALTER_PRIV" -> "st_u")),
      ("CREATE VIEW st_v2 AS SELECT k FROM st_t", "CREATE VIEW", all,
        Some("CREATE_PRIV" -> "*")),
      ("CREATE OR REPLACE VIEW st_v AS SELECT k FROM st_t", "CREATE VIEW", all,
        Some("CREATE_PRIV" -> "*")),
      ("INSERT OVERWRITE TABLE st_t SELECT * FROM st_u", "INSERT OVERWRITE", st_t,
        Some("LOAD_PRIV" -> "st_t")),
      ("INSERT INTO st_t SELECT k, v FROM st_u", "INSERT INTO", st_t,
        Some("LOAD_PRIV" -> "st_t")),
      ("INSERT INTO st_t VALUES (1, 1.0)", "INSERT INTO", st_t,
        Some("LOAD_PRIV" -> "st_t")),
      ("LOAD LABEL st_l (DATA INFILE('/tmp/x.csv') INTO TABLE st_t)", "LOAD LABEL",
        all, Some("LOAD_PRIV" -> "st_t")),
      ("CREATE ROUTINE LOAD st_j ON st_t FROM FILE('/tmp/d', 'parquet')",
        "CREATE ROUTINE LOAD", all, Some("LOAD_PRIV" -> "st_t")),
      ("STOP ROUTINE LOAD FOR st_j", "STOP ROUTINE LOAD", all, Some("LOAD_PRIV" -> "*")),
      ("PAUSE ROUTINE LOAD FOR st_j", "PAUSE ROUTINE LOAD", all,
        Some("LOAD_PRIV" -> "*")),
      ("RESUME ROUTINE LOAD FOR st_j", "RESUME ROUTINE LOAD", all,
        Some("LOAD_PRIV" -> "*")),
      ("SHOW ROUTINE LOAD", "SHOW ROUTINE LOAD", reads, None),
      ("CANCEL LOAD WHERE LABEL = 'st_l'", "CANCEL LOAD", all, Some("LOAD_PRIV" -> "*")),
      // BACKUP, EXPORT and ANALYZE read tables and change no table view
      ("BACKUP SNAPSHOT st_s TO '/tmp/r' ON (st_t)", "BACKUP SNAPSHOT", reads,
        Some("ADMIN_PRIV" -> "*")),
      ("RESTORE SNAPSHOT st_s FROM '/tmp/r'", "RESTORE SNAPSHOT", all,
        Some("ADMIN_PRIV" -> "*")),
      ("SHOW SNAPSHOT ON '/tmp/r'", "SHOW SNAPSHOT", reads, None),
      ("SHOW BACKUP", "SHOW BACKUP", reads, None),
      ("SHOW RESTORE", "SHOW RESTORE", reads, None),
      ("UPDATE st_t SET v = 2.0 WHERE k = 1", "UPDATE", st_t, Some("LOAD_PRIV" -> "st_t")),
      ("UPDATE st_t SET v = st_u.v FROM st_u WHERE st_t.k = st_u.k", "UPDATE", st_t,
        Some("LOAD_PRIV" -> "st_t")),
      ("DELETE FROM st_t WHERE k = 1", "DELETE FROM", st_t, Some("LOAD_PRIV" -> "st_t")),
      ("DROP MATERIALIZED VIEW st_smv ON st_u", "DROP MATERIALIZED VIEW", all,
        Some("DROP_PRIV" -> "*")),
      ("DROP VIEW st_v", "DROP VIEW", all, Some("DROP_PRIV" -> "st_v")),
      ("DROP VIEW IF EXISTS st_v", "DROP VIEW", all, Some("DROP_PRIV" -> "st_v")),
      ("ALTER VIEW st_v AS SELECT k, v FROM st_t", "ALTER VIEW", all,
        Some("ALTER_PRIV" -> "st_v")),
      ("SHOW CREATE MATERIALIZED VIEW st_smv", "SHOW CREATE MATERIALIZED VIEW", reads,
        Some("SELECT_PRIV" -> "st_u")),
      ("SHOW CREATE VIEW st_v", "SHOW CREATE VIEW", reads, Some("SELECT_PRIV" -> "st_v")),
      ("DROP TABLE st_t", "DROP TABLE", all, Some("DROP_PRIV" -> "st_t")),
      ("DROP TABLE IF EXISTS st_t", "DROP TABLE", all, Some("DROP_PRIV" -> "st_t")),
      ("ALTER TABLE st_t ADD COLUMN c BIGINT", "ALTER TABLE", all,
        Some("ALTER_PRIV" -> "st_t")),
      ("TRUNCATE TABLE st_t", "TRUNCATE TABLE", st_t, Some("ALTER_PRIV" -> "st_t")),
      ("REFRESH MATERIALIZED VIEW st_smv", "REFRESH MATERIALIZED VIEW", all,
        Some("ALTER_PRIV" -> "st_u")),
      ("EXPORT TABLE st_t TO '/tmp/e'", "EXPORT TABLE", reads,
        Some("SELECT_PRIV" -> "st_t")),
      ("EXPLAIN SELECT k FROM st_t", "EXPLAIN", reads, Some("SELECT_PRIV" -> "st_t")),
      ("ANALYZE TABLE st_t", "ANALYZE TABLE", reads, Some("SELECT_PRIV" -> "st_t")),
      ("SHOW COLUMN STATS st_t", "SHOW COLUMN STATS", reads,
        Some("SELECT_PRIV" -> "st_t")),
      ("SHOW INDEX FROM st_t", "SHOW INDEX", reads, Some("SELECT_PRIV" -> "st_t")),
      ("SHOW INDEXES FROM st_t", "SHOW INDEX", reads, Some("SELECT_PRIV" -> "st_t")),
      ("SHOW DYNAMIC PARTITION TABLES", "SHOW DYNAMIC PARTITION TABLES", reads, None),
      ("SHOW TEMPORARY PARTITIONS FROM st_t", "SHOW TEMPORARY PARTITIONS", reads,
        Some("SELECT_PRIV" -> "st_t")),
      ("SHOW PARTITIONS FROM st_t", "SHOW PARTITIONS", reads,
        Some("SELECT_PRIV" -> "st_t")),
      ("SHOW CREATE TABLE st_t", "SHOW CREATE TABLE", reads,
        Some("SELECT_PRIV" -> "st_t")),
      ("SHOW COLUMNS FROM st_t", "SHOW COLUMNS", reads, Some("SELECT_PRIV" -> "st_t")),
      ("SHOW LOAD FROM st_t", "SHOW LOAD", reads, Some("SELECT_PRIV" -> "st_t")),
      // still admitted, but now lists only the readable tables (tested below)
      ("SHOW LOAD", "SHOW LOAD", reads, None),
      ("SHOW DATA FROM st_t", "SHOW DATA", reads, Some("SELECT_PRIV" -> "st_t")),
      ("SHOW DATA", "SHOW DATA", reads, None), // likewise filtered
      ("CREATE USER 'st_w'", "CREATE USER", all, Some("GRANT_PRIV" -> "*")),
      ("DROP USER 'st_w'", "DROP USER", all, Some("GRANT_PRIV" -> "*")),
      ("CREATE ROLE 'st_r'", "CREATE ROLE", all, Some("GRANT_PRIV" -> "*")),
      ("DROP ROLE 'st_r'", "DROP ROLE", all, Some("GRANT_PRIV" -> "*")),
      ("SHOW ROLES", "SHOW ROLES", reads, Some("GRANT_PRIV" -> "*")),
      ("GRANT SELECT_PRIV ON st_t TO 'nobody'", "GRANT", all,
        Some("GRANT_PRIV" -> "*")),
      ("GRANT 'st_r' TO 'nobody'", "GRANT", all, Some("GRANT_PRIV" -> "*")),
      ("REVOKE SELECT_PRIV ON st_t FROM 'nobody'", "REVOKE", all,
        Some("GRANT_PRIV" -> "*")),
      ("SHOW GRANTS", "SHOW GRANTS", reads, None),
      ("SHOW GRANTS FOR 'nobody'", "SHOW GRANTS", reads, None),
      ("SHOW GRANTS FOR 'root'", "SHOW GRANTS", reads, Some("GRANT_PRIV" -> "*")),
      ("SHOW VARIABLES", "SHOW VARIABLES", reads, None),
      ("SHOW SESSION VARIABLES", "SHOW VARIABLES", reads, None),
      ("SHOW GLOBAL VARIABLES LIKE 'time%'", "SHOW VARIABLES", reads, None),
      ("SET sql_select_limit = 10", "SET", all, None),
      ("SHOW TABLES", "SHOW TABLES", reads, None),
      ("DESC st_t", "DESC", reads, Some("SELECT_PRIV" -> "st_t")),
      ("DESCRIBE st_t", "DESC", reads, Some("SELECT_PRIV" -> "st_t")),
      ("SELECT k FROM st_t", "SELECT", reads, Some("SELECT_PRIV" -> "st_t")),
      ("WITH x AS (SELECT k FROM st_t) SELECT * FROM x", "SELECT", reads,
        Some("SELECT_PRIV" -> "st_t")),
      ("VALUES (1)", "SELECT", reads, None),
      ("(SELECT k FROM st_t)", "SELECT", reads, Some("SELECT_PRIV" -> "st_t")),
      // EXPLAIN's inner text must be a query; the query path rejects it
      ("EXPLAIN DROP TABLE st_t", "EXPLAIN", reads, Some("SELECT_PRIV" -> "st_t")),
      // Deliberate changes. Whitespace-robust heads: the parent sent these
      // to the query fallback (mutating, except SHOW) with
      // SELECT_PRIV on st_t (SHOW: no check), where spark.sql ran them.
      ("DROP\nTABLE st_t", "DROP TABLE", all, Some("DROP_PRIV" -> "st_t")),
      ("CREATE\nTABLE st_x USING parquet AS SELECT * FROM st_t", "CREATE TABLE",
        Some("st_x"), Some("CREATE_PRIV" -> "*")),
      ("SHOW\nTABLES", "SHOW TABLES", reads, None),
      ("INSERT\tINTO st_t VALUES (1, 1.0)", "INSERT INTO", st_t,
        Some("LOAD_PRIV" -> "st_t")),
      // A literal naming a table is no target: the parent's catch-all
      // `INTO TABLE` target regex demanded LOAD_PRIV on st_t here
      ("CANCEL LOAD WHERE LABEL = 'into table st_t'", "CANCEL LOAD", all,
        Some("LOAD_PRIV" -> "*")),
      // Write scopes. A qualified or backticked target marks the canonical
      // flat name, IF NOT EXISTS names nothing, a one-table row whose regex
      // finds no target marks every table, and so does a row that can
      // write a table its regex does not name.
      ("INSERT INTO st_wdb.st_w VALUES (1)", "INSERT INTO",
        Some("st_wdb__st_w"), Some("LOAD_PRIV" -> "st_wdb__st_w")),
      ("DELETE FROM `st_wdb`.`st_w` WHERE k = 1", "DELETE FROM",
        Some("st_wdb__st_w"), Some("LOAD_PRIV" -> "st_wdb__st_w")),
      ("UPDATE `st_t` SET v = 2.0 WHERE k = 1", "UPDATE", st_t,
        Some("LOAD_PRIV" -> "st_t")),
      ("CREATE TABLE IF NOT EXISTS st_n3 (k BIGINT) DUPLICATE KEY(k) " +
        "DISTRIBUTED BY HASH(k) BUCKETS 1", "CREATE TABLE", Some("st_n3"),
        Some("CREATE_PRIV" -> "*")),
      ("UPDATE", "UPDATE", all, Some("LOAD_PRIV" -> "*")),
      ("LOAD LABEL st_l2 (DATA INFILE('/tmp/x.csv') INTO TABLE st_t, " +
        "DATA INFILE('/tmp/y.csv') INTO TABLE st_u)", "LOAD LABEL", all,
        Some("LOAD_PRIV" -> "st_t")),
      ("ALTER TABLE st_t RENAME st_t2", "ALTER TABLE", all,
        Some("ALTER_PRIV" -> "st_t")))
    val wrong = cases.filterNot { case (st, row, wrote, den) =>
      ddl.classify(st) == ((row, wrote, den))
    }.map { case (st, _, _, _) => s"$st -> ${ddl.classify(st)}" }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    assert(ddl.statementNames.toSet == cases.map(_._2).toSet,
      "one case per statement-table row")
  }

  test("freshness: a write re-registers only the table it wrote; a " +
    "statement that can write any table re-registers every table") {
    val ddl = fresh()
    for (n <- Seq("fr_a", "fr_b")) {
      ddl.execute(s"""CREATE TABLE $n (k BIGINT, v BIGINT) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
      ddl.execute(s"INSERT INTO $n VALUES (1, 10), (2, 20)")
    }
    def rows(n: String) =
      ddl.sql(s"SELECT k, v FROM $n ORDER BY k").as[(Long, Long)].collect().toSeq
    assert(rows("fr_a") == rows("fr_b"))
    // a re-registration replaces the session's temp-view relation, so the
    // same relation object before and after a statement means the
    // statement left that table's view alone
    def view(n: String) = spark.sessionState.catalog.getRawTempView(n).get
    ddl.execute("INSERT INTO fr_a VALUES (3, 30)")
    // fr_b's views are still current: its select re-registers nothing
    val bView = view("fr_b")
    val b = ddl.sql("SELECT k, v FROM fr_b ORDER BY k")
    assert(view("fr_b") eq bView, "SELECT on fr_b re-registered fr_b")
    assert(b.as[(Long, Long)].collect().toSeq == Seq((1L, 10L), (2L, 20L)))
    assert(rows("fr_a") == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // SET may change what any statement reads: every table goes stale,
    // and each re-registers on the next select that names it
    ddl.execute("SET sql_select_limit = DEFAULT")
    val (aSet, bSet) = (view("fr_a"), view("fr_b"))
    ddl.sql("SELECT k, v FROM fr_b")
    assert(!(view("fr_b") eq bSet), "the first select on fr_b after SET " +
      "did not re-register it")
    assert(view("fr_a") eq aSet, "a select naming only fr_b re-registered fr_a")
    ddl.sql("SELECT k, v FROM fr_a")
    assert(!(view("fr_a") eq aSet), "the first select on fr_a after SET " +
      "did not re-register it")
    // so does ALTER TABLE, whose regex names one table but whose schema
    // change reaches every view over it
    ddl.execute("ALTER TABLE fr_b ADD COLUMN c BIGINT DEFAULT '7'")
    val aAlter = view("fr_a")
    ddl.sql("SELECT k, v FROM fr_a")
    assert(!(view("fr_a") eq aAlter),
      "SELECT on fr_a re-registered nothing after ALTER TABLE")
    assert(ddl.sql("SELECT c FROM fr_b").as[Long].collect().toSeq == Seq(7L, 7L))
  }

  test("freshness: a SELECT naming a partition view directly (t__part_p) " +
    "re-registers its stale table") {
    val (ddl, other) = (fresh(), fresh())
    for ((d, v) <- Seq((ddl, 10), (other, 99))) {
      d.execute("""CREATE TABLE fr_p (k BIGINT, v BIGINT) DUPLICATE KEY(k)
        |PARTITION BY RANGE(k) (PARTITION p1 VALUES LESS THAN ('100'))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
      d.execute(s"INSERT INTO fr_p VALUES (1, $v)")
    }
    def view(n: String) = spark.sessionState.catalog.getRawTempView(n).get
    // the other instance took the shared view names: this instance's
    // views are stale, and its SELECT must serve its own rows
    def part() = ddl.sql("SELECT v FROM fr_p__part_p1").as[Long].collect().toSeq
    assert(part() == Seq(10L))
    ddl.execute("SET sql_select_limit = DEFAULT")
    val (tSet, pSet) = (view("fr_p"), view("fr_p__part_p1"))
    assert(part() == Seq(10L))
    assert(!(view("fr_p") eq tSet) && !(view("fr_p__part_p1") eq pSet),
      "the first select on fr_p__part_p1 after SET did not re-register fr_p")
  }

  test("re-added column: a light ADD COLUMN of a dropped column's name " +
    "reads its DEFAULT (NULL without one) on older rowsets, never the " +
    "dropped bytes, and an explicit NULL loaded after the ADD persists") {
    val ddl = fresh()
    for ((n, dflt, old) <- Seq(("rz_d", " DEFAULT '7'", Some(7)), ("rz_n", "", None))) {
      ddl.execute(s"""CREATE TABLE $n (k BIGINT, v BIGINT, c INT) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
      ddl.execute(s"INSERT INTO $n VALUES (1, 10, 100), (2, 20, 200)")
      // sidecars built for the dropped column: {100, 200}
      ddl.execute(s"CREATE INDEX ${n}_ix0 ON $n (c) USING BITMAP")
      ddl.execute(s"ALTER TABLE $n DROP COLUMN c")
      ddl.execute(s"ALTER TABLE $n ADD COLUMN c INT$dflt")
      def read() = ddl.sql(s"SELECT k, c FROM $n ORDER BY k").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]))).toSeq
      assert(read() == Seq((1L, old), (2L, old)), n)
      ddl.execute(s"INSERT INTO $n VALUES (3, 30, NULL), (4, 40, 400)")
      assert(read() == Seq((1L, old), (2L, old), (3L, None), (4L, Some(400))), n)
    }
    // the BITMAP sidecars index what queries read, never the dropped
    // column's values: the older rowset holds 7, then 8 after a light
    // DEFAULT change, so an equality on either must not prune it away
    ddl.execute("CREATE INDEX rz_ix ON rz_d (c) USING BITMAP")
    def eq(v: Int) = ddl.sql(s"SELECT k FROM rz_d WHERE c = $v ORDER BY k")
      .as[Long].collect().toSeq
    assert(eq(7) == Seq(1L, 2L))
    ddl.execute("ALTER TABLE rz_d MODIFY COLUMN c INT DEFAULT '8'")
    assert(eq(8) == Seq(1L, 2L) && eq(7).isEmpty)
    // older rowsets hold a dropped column's bytes under its name at its
    // type: a re-ADD at another type, or a RENAME onto the name, rejects
    // and the table stays readable; a re-ADD at that type reads NULL
    ddl.execute("ALTER TABLE rz_n DROP COLUMN v")
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE rz_n ADD COLUMN v VARCHAR(8)"))
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE rz_n RENAME COLUMN c v"))
    ddl.execute("ALTER TABLE rz_n ADD COLUMN v BIGINT")
    assert(ddl.sql("SELECT k, c, v FROM rz_n ORDER BY k").collect().map(r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq ==
      Seq((1L, None, None), (2L, None, None), (3L, None, None),
        (4L, Some(400), None)))
    // a heavy MODIFY rewrites every rowset with the def's columns only:
    // the dropped bytes are gone, so the name is free at any type
    ddl.execute("ALTER TABLE rz_n DROP COLUMN v")
    ddl.execute("ALTER TABLE rz_n MODIFY COLUMN c BIGINT")
    ddl.execute("ALTER TABLE rz_n ADD COLUMN v VARCHAR(8)")
    assert(ddl.sql("SELECT k, c, v FROM rz_n ORDER BY k").collect().map(r =>
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSeq ==
      Seq((1L, None, None), (2L, None, None), (3L, None, None),
        (4L, Some(400L), None)))
  }

  test("jobs: a DELETE on a loaded table runs no Spark job, and the SELECT " +
    "after it builds with none") {
    val ddl = fresh()
    ddl.execute("""CREATE TABLE dj (k BIGINT, v BIGINT) UNIQUE KEY(k)
      |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO dj VALUES (1, 10), (2, 20)")
    val (_, delJobs) = jobsOf(ddl.execute("DELETE FROM dj WHERE k = 1"))
    assert(delJobs == 0, s"the DELETE ran $delJobs jobs")
    val (df, selJobs) = jobsOf(ddl.sql("SELECT k, v FROM dj ORDER BY k"))
    assert(selJobs == 0, s"the SELECT ran $selJobs jobs while it built")
    assert(df.as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
  }

  test("read schema: it holds every field of the footer-merged rowset " +
    "schema but dropped columns, at the same type, across key models, " +
    "column kinds, partitionings, schema changes and a RESTORE") {
    val ddl = fresh()
    // each table's footer-merged schema (the reference) against its read
    // schema; every table also reads back through its views
    def check(n: String, dropped: Set[String] = Set.empty): Unit = {
      val (dir, rs) = ddl.readSchemaOf(n)
      val have = rs.fields.map(f => f.name -> f.dataType).toMap
      val footers = spark.read.option("mergeSchema", "true").parquet(dir).schema
      val bad = footers.fields.filterNot(f =>
        dropped(f.name) || have.get(f.name).contains(f.dataType))
      assert(bad.isEmpty, s"$n: footer fields ${bad.mkString(", ")} " +
        s"missing from the read schema $rs")
      ddl.sql(s"SELECT * FROM $n").collect()
    }
    def run(stmts: String*): Unit = stmts.foreach(st => ddl.execute(st.stripMargin))
    run(
      """CREATE TABLE rs_dup (k BIGINT, i INT, sm SMALLINT, ti TINYINT,
        |  b BOOLEAN, f FLOAT, d DOUBLE, dc DECIMAL(10,2), lg LARGEINT,
        |  s VARCHAR(8), dt DATE, ts DATETIME, tags ARRAY<VARCHAR(8)>,
        |  props MAP<VARCHAR(4), INT>, who STRUCT<name: VARCHAR(8), score: DOUBLE>)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""",
      """INSERT INTO rs_dup VALUES (1, 2, 3, 4, true, 1.5, 2.5, 3.25, 99, 'a',
        |  '2024-01-02', '2024-01-02 03:04:05', array('x'), map('p', 1),
        |  named_struct('name', 'ada', 'score', 9.5))""",
      """CREATE TABLE rs_uniq (k BIGINT, v VARCHAR(8), seq BIGINT)
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1
        |PROPERTIES ("function_column.sequence_col" = "seq")""",
      "INSERT INTO rs_uniq VALUES (1, 'a', 5), (2, 'b', 5)",
      "INSERT INTO rs_uniq (k, v, seq, __DELETE_SIGN__) VALUES (2, 'x', 9, 1)",
      """CREATE TABLE rs_agg (k BIGINT, bm BITMAP BITMAP_UNION,
        |  h HLL HLL_UNION, c AGG_STATE<count(INT)> GENERIC,
        |  a AGG_STATE<avg(INT)> GENERIC, r VARCHAR(4) REPLACE_IF_NOT_NULL)
        |AGGREGATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""",
      """INSERT INTO rs_agg SELECT 1, to_bitmap(x), hll_hash(x), count_state(x),
        |  avg_state(x), 'a' FROM (SELECT 1 AS x) GROUP BY x""",
      """CREATE TABLE rs_var (k BIGINT, v VARIANT, w DOUBLE,
        |  w2 DOUBLE AS (round(w * 2, 2))) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""",
      """INSERT INTO rs_var VALUES (1, '{"a":1}', 4.0)""",
      """CREATE TABLE rs_range (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |PARTITION BY RANGE(k) (
        |  PARTITION p1 VALUES LESS THAN ('10'),
        |  PARTITION p2 VALUES LESS THAN ('20')
        |) DISTRIBUTED BY HASH(k) BUCKETS 2""",
      "INSERT INTO rs_range VALUES (1, 1.0), (15, 15.0)",
      "ALTER TABLE rs_range ADD TEMPORARY PARTITION t1 VALUES LESS THAN ('10')",
      "INSERT INTO rs_range TEMPORARY PARTITION (t1) VALUES (2, 2.0)",
      """CREATE TABLE rs_list (seg VARCHAR(8), k BIGINT) DUPLICATE KEY(seg, k)
        |PARTITION BY LIST(`seg`) (
        |  PARTITION pa VALUES IN ('a'),
        |  PARTITION pbc VALUES IN ('b', 'c')
        |) DISTRIBUTED BY HASH(k) BUCKETS 2""",
      "INSERT INTO rs_list VALUES ('a', 1), ('b', 2)",
      """CREATE TABLE rs_auto (d DATETIME, k BIGINT) DUPLICATE KEY(d, k)
        |AUTO PARTITION BY RANGE (date_trunc(`d`, 'month')) ()
        |DISTRIBUTED BY HASH(k) BUCKETS 2""",
      "INSERT INTO rs_auto VALUES ('2024-01-10 00:00:00', 1), ('2024-03-05 00:00:00', 2)")
    Seq("rs_dup", "rs_uniq", "rs_agg", "rs_var", "rs_range", "rs_list",
      "rs_auto").foreach(check(_))
    // schema changes on a RANGE-partitioned UNIQUE table, each followed by
    // a load so the footers carry every generation
    run(
      """CREATE TABLE rs_sc (k BIGINT, i INT, s VARCHAR(8), gone BIGINT,
        |  keep DOUBLE) UNIQUE KEY(k)
        |PARTITION BY RANGE(k) (PARTITION p1 VALUES LESS THAN ('100'))
        |DISTRIBUTED BY HASH(k) BUCKETS 1""",
      "INSERT INTO rs_sc VALUES (1, 1, 'a', 1, 1.0)",
      "ALTER TABLE rs_sc ADD COLUMN added BIGINT DEFAULT '5'",
      "INSERT INTO rs_sc VALUES (2, 2, 'b', 2, 2.0, 6)",
      "ALTER TABLE rs_sc RENAME COLUMN keep kept",
      "INSERT INTO rs_sc VALUES (3, 3, 'c', 3, 3.0, 7)",
      "ALTER TABLE rs_sc MODIFY COLUMN s VARCHAR(32) DEFAULT \"m\"",
      "ALTER TABLE rs_sc DROP COLUMN gone",
      "INSERT INTO rs_sc VALUES (4, 4, 'd', 4.0, 8)")
    check("rs_sc", Set("gone"))
    val light = ddl.sql("SELECT * FROM rs_sc ORDER BY k").collect().toSeq
    assert(light.map(r => (r.getLong(0), r.getDouble(3), r.getLong(4))) ==
      Seq((1L, 1.0, 5L), (2L, 2.0, 6L), (3L, 3.0, 7L), (4L, 4.0, 8L)), light)
    // a RESTORE replays the def and copies the rowsets verbatim: it reads
    // the rows the backup saw, renamed and added columns included
    val bdir = graft.TempDirs.create("graft_rs_backup")
    ddl.sql(s"BACKUP SNAPSHOT rs_snap TO '$bdir' ON (rs_sc, rs_range)").collect()
    // heavy MODIFY rewrites every rowset at the new type
    run("ALTER TABLE rs_sc MODIFY COLUMN i BIGINT")
    check("rs_sc", Set("gone"))
    assert(ddl.sql("SELECT * FROM rs_sc ORDER BY k").collect().toSeq.map(_.toSeq) ==
      light.map(r => r.toSeq.updated(1, r.getInt(1).toLong)))
    run("DROP TABLE rs_sc", "DROP TABLE rs_range")
    ddl.sql(s"RESTORE SNAPSHOT rs_snap FROM '$bdir'").collect()
    check("rs_sc", Set("gone"))
    check("rs_range")
    assert(ddl.sql("SELECT * FROM rs_sc ORDER BY k").collect().toSeq == light)
    assertThrows[IllegalArgumentException](
      ddl.execute("ALTER TABLE rs_sc ADD COLUMN gone VARCHAR(8)"))
  }

  test("freshness: a SELECT that starts after another thread's write has " +
    "returned sees that write") {
    val ddl = fresh()
    for (n <- Seq("ryw_a", "ryw_b")) ddl.execute(
      s"""CREATE TABLE $n (k BIGINT, v BIGINT) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO ryw_b VALUES (1, 1), (2, 2)")
    ddl.execute("INSERT INTO ryw_a VALUES (0, 0)")
    // the writer inserts key i, then deletes key i - 1: ryw_a's live keys
    // are always {i - 1, i} or {i}, so a view older than the last returned
    // INSERT lacks its key, and one older than the last returned DELETE
    // still holds that key
    val inserted = new java.util.concurrent.atomic.AtomicLong(0)
    val deleted = new java.util.concurrent.atomic.AtomicLong(-1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    def guarded(body: => Unit): Thread = {
      val th = new Thread(() =>
        try body catch { case e: Throwable => errors.add(e.toString) })
      th.start()
      th
    }
    val writer = guarded {
      try (1 to 4).foreach { i =>
        ddl.execute(s"INSERT INTO ryw_a VALUES ($i, $i)")
        inserted.set(i)
        ddl.execute(s"DELETE FROM ryw_a WHERE k = ${i - 1}")
        deleted.set(i - 1)
      } finally writerDone.set(true)
    }
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = guarded {
      var last = false
      while (!last && errors.isEmpty) {
        last = writerDone.get
        val (ins, del) = (inserted.get, deleted.get)
        val keys = ddl.sql("SELECT k FROM ryw_a").as[Long].collect()
        if (keys.isEmpty || keys.max < ins || keys.min <= del)
          errors.add(s"after INSERT $ins and DELETE $del read ${keys.sorted.toSeq}")
        val b = ddl.sql("SELECT k FROM ryw_b ORDER BY k").as[Long].collect().toSeq
        if (b != Seq(1L, 2L)) errors.add(s"ryw_b read $b")
        reads.incrementAndGet()
      }
    }
    val deadline = System.currentTimeMillis() + 20000
    writer.join(20000)
    reader.join(math.max(1L, deadline - System.currentTimeMillis()))
    assert(!writer.isAlive && !reader.isAlive, "the threads ran past 20 s")
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
    assert(reads.get >= 1 && ddl.sql("SELECT k FROM ryw_a").as[Long]
      .collect().toSeq == Seq(4L))
  }

  test("privileges: the query path admits only queries — newline-spelled " +
    "DDL is its own row, EXPLAIN of a command rejects, and neither reaches " +
    "the Spark catalog") {
    val ddl = authFixture()
    ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'alice'")
    ddl.login("alice")
    assert(denied(ddl.execute("DROP\nTABLE sec_t")).contains("DROP_PRIV"))
    val e = intercept[RuntimeException](ddl.execute("EXPLAIN DROP TABLE sec_t"))
    assert(e.getMessage.startsWith("not a query"), e.getMessage)
    assert(denied(ddl.execute(
      "CREATE\nTABLE sec_x USING parquet AS SELECT * FROM sec_t"))
      .contains("CREATE_PRIV"))
    // the engine's own listing, not the Spark session catalog
    val listed = ddl.sql("SHOW\nTABLES").as[String].collect().toSeq
    assert(listed == ddl.sql("SHOW TABLES").as[String].collect().toSeq)
    assert(listed == Seq("sec_t"))
    ddl.login("root")
    assert(ddl.sql("SELECT count(*) AS n FROM sec_t").as[Long].head() == 3L)
    assert(!spark.catalog.listTables().collect().map(_.name).contains("sec_x"))
  }

  test("privileges: unqualified SHOW DATA and SHOW LOAD list only the " +
    "tables the user may SELECT; root sees every table") {
    val ddl = authFixture()
    ddl.execute(
      """CREATE TABLE sec_u (k BIGINT) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO sec_u VALUES (1)")
    def names(st: String) =
      ddl.sql(st).select("table_name").as[String].collect().toSet
    ddl.login("alice")
    assert(names("SHOW DATA").isEmpty)
    assert(names("SHOW LOAD").isEmpty)
    ddl.login("root")
    ddl.execute("GRANT SELECT_PRIV ON sec_t TO 'alice'")
    ddl.login("alice")
    assert(names("SHOW DATA") == Set("sec_t"))
    assert(names("SHOW LOAD") == Set("sec_t"))
    assert(denied(ddl.sql("SHOW DATA FROM sec_u")).contains("SELECT_PRIV"))
    ddl.login("root")
    assert(names("SHOW DATA") == Set("sec_t", "sec_u"))
    assert(names("SHOW LOAD") == Set("sec_t", "sec_u"))
  }

  test("privileges: a string literal spelling 'into table t' does not " +
    "waive SELECT_PRIV on t for a CREATE TABLE ... AS SELECT source") {
    val ddl = authFixture()
    ddl.execute("GRANT CREATE_PRIV ON * TO 'alice'")
    ddl.login("alice")
    assert(denied(ddl.execute(
      """CREATE TABLE sec_c DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1
        |AS SELECT k FROM sec_t WHERE 'into table sec_t' <> ''""".stripMargin))
      .contains("SELECT_PRIV on 'sec_t'"))
  }

  test("ALTER VIEW validates the new body BEFORE committing: a broken " +
    "definition rejects and the working one survives") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE av_t (k BIGINT, v BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO av_t VALUES (1, 10), (2, 20)")
    ddl.execute("CREATE VIEW av_v AS SELECT k, v FROM av_t")
    val e = intercept[RuntimeException](
      ddl.execute("ALTER VIEW av_v AS SELECT no_such_col FROM av_t"))
    assert(e.getMessage.contains("invalid view definition"), e.getMessage)
    // the old definition is intact — not silently destroyed
    assert(ddl.sql("SELECT count(*) AS n FROM av_v").as[Long].head() == 2L)
    assert(ddl.sql("SHOW CREATE VIEW av_v").head.getString(1)
      .contains("SELECT k, v FROM av_t"))
  }

  test("session variables: time_zone is LIVE — datetime functions follow " +
    "the variable per statement, the session restores after, and bad " +
    "zone names reject by name") {
    val ddl = fresh()
    def epochAt(zone: Option[String]): String = {
      zone.foreach(z => ddl.execute(s"SET time_zone = '$z'"))
      ddl.sql("SELECT date_format(from_unixtime(0), 'yyyy-MM-dd HH:mm') AS t")
        .head.getString(0)
    }
    assert(epochAt(None) == "1970-01-01 00:00", "default is UTC")
    assert(epochAt(Some("America/New_York")) == "1969-12-31 19:00")
    assert(epochAt(Some("+08:00")) == "1970-01-01 08:00")
    // the statement scope restores the SESSION conf for other consumers
    assert(spark.conf.get("spark.sql.session.timeZone") != "+08:00")
    assert(spark.sql(
      "SELECT date_format(from_unixtime(0), 'yyyy-MM-dd HH:mm') AS t")
      .head.getString(0) == "1970-01-01 00:00")
    // concurrent statements under a non-UTC zone: the set/analyze/restore
    // window serializes on the tz lock, so every statement analyzes under
    // the variable's zone and the session conf ALWAYS restores (a stale
    // interleaved restore would pin the session to the variable's zone)
    val before = spark.conf.get("spark.sql.session.timeZone")
    ddl.execute("SET time_zone = '+08:00'")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futs = (1 to 6).map(_ => Future {
      ddl.sql("SELECT date_format(from_unixtime(0), 'yyyy-MM-dd HH:mm') AS t")
        .head.getString(0)
    })
    val got = futs.map(Await.result(_, 120.seconds))
    assert(got.forall(_ == "1970-01-01 08:00"), got.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == before,
      "the session conf must restore after concurrent non-UTC statements")
    // string→timestamp casts inside DML follow too: the same wall-clock
    // text lands at a different instant under a different zone
    ddl.execute("SET time_zone = DEFAULT")
    assert(epochAt(None) == "1970-01-01 00:00", "DEFAULT resets to UTC")
    val e = intercept[IllegalArgumentException](
      ddl.execute("SET time_zone = 'Mars/Olympus'"))
    assert(e.getMessage.contains("time zone"), e.getMessage)
  }

  test("session variables: negative values reject on unsigned int vars " +
    "(a negative sql_select_limit must not zero out every SELECT)") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE sv_neg (k BIGINT)
        |DUPLICATE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO sv_neg VALUES (1), (2), (3)")
    val e = intercept[IllegalArgumentException](
      ddl.execute("SET sql_select_limit = -1"))
    assert(e.getMessage.contains("non-negative"), e.getMessage)
    assertThrows[IllegalArgumentException](
      ddl.execute("SET exec_mem_limit = -5"))
    assert(ddl.sql("SELECT k FROM sv_neg").count() == 3L,
      "the rejected SET must leave the cap at its default (uncapped)")
  }

  test("batch partition creation: FROM/TO/INTERVAL expands onto the range " +
    "machinery — month + numeric stepping, SHOW CREATE round-trip, " +
    "partition pruning, the post-DROP hole, and beyond-bound rejection") {
    import spark.implicits._
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE bp (d DATE, k BIGINT)
        |DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (
        |  FROM ("2024-01-01") TO ("2024-04-01") INTERVAL 1 MONTH,
        |  PARTITION p_rest VALUES LESS THAN ('2024-06-01')
        |)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO bp VALUES ('2024-01-15', 1), ('2024-02-15', 2), " +
      "('2024-03-15', 3), ('2024-04-15', 4)")
    assert(ddl.sql("SHOW PARTITIONS FROM bp").select("partition_name")
      .as[String].collect().sorted.toSeq ==
      Seq("p_20240101", "p_20240201", "p_20240301", "p_rest"))
    // a generated partition is selectable (partition-pruned scan)
    assert(ddl.sql("SELECT k FROM bp PARTITION (p_20240201)")
      .as[Long].collect().toSeq == Seq(2L))
    // beyond the declared end: rejected like any uncovered range
    assertThrows[Exception](
      ddl.execute("INSERT INTO bp VALUES ('2024-07-01', 9)"))
    // SHOW CREATE emits the expansion as explicit bounds and replays
    val ct = ddl.sql("SHOW CREATE TABLE bp").head.getString(1)
    assert(ct.contains("PARTITION p_20240201 VALUES"), ct)
    ddl.execute("DROP TABLE bp")
    ddl.execute(ct)
    ddl.execute("INSERT INTO bp VALUES ('2024-02-20', 5)")
    assert(ddl.sql("SELECT k FROM bp PARTITION (p_20240201)")
      .as[Long].collect().toSeq == Seq(5L))
    // DROP of a generated partition leaves the same rejecting hole
    ddl.execute("ALTER TABLE bp DROP PARTITION p_20240201")
    assertThrows[Exception](
      ddl.execute("INSERT INTO bp VALUES ('2024-02-21', 6)"))
    // numeric stepping, unit-less; partial last step clamps to TO
    ddl.execute(
      """CREATE TABLE bn (b BIGINT, k BIGINT)
        |DUPLICATE KEY(b, k)
        |PARTITION BY RANGE(b) (FROM (0) TO (25) INTERVAL 10)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    assert(ddl.sql("SHOW PARTITIONS FROM bn").select("partition_name")
      .as[String].collect().sorted.toSeq == Seq("p_0", "p_10", "p_20"))
    ddl.execute("INSERT INTO bn VALUES (5, 1), (24, 2)")
    assert(ddl.sql("SELECT k FROM bn PARTITION (p_20)")
      .as[Long].collect().toSeq == Seq(2L))
    assertThrows[Exception](ddl.execute("INSERT INTO bn VALUES (25, 9)"))
    // guard: a runaway expansion rejects by name
    val big = intercept[IllegalArgumentException](ddl.execute(
      """CREATE TABLE bx (d DATE, k BIGINT) DUPLICATE KEY(d, k)
        |PARTITION BY RANGE(d) (FROM ("1900-01-01") TO ("2100-01-01") INTERVAL 1 DAY)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin))
    assert(big.getMessage.contains("4096"), big.getMessage)
  }

  test("database namespace: CREATE/DROP DATABASE, USE, SHOW DATABASES, " +
    "db.tbl qualification across statement forms, same bare name in two " +
    "databases, db-scoped grants, and the non-empty drop guard") {
    import spark.implicits._
    val ddl = fresh()
    ddl.execute("CREATE DATABASE sales")
    ddl.execute("CREATE DATABASE IF NOT EXISTS sales")
    assertThrows[IllegalArgumentException](ddl.execute("CREATE DATABASE sales"))
    assert(ddl.sql("SHOW DATABASES").as[String].collect().toSeq ==
      Seq("default_db", "sales"))
    // qualified creation + DML from the default database
    ddl.execute(
      """CREATE TABLE sales.orders (id BIGINT, amt BIGINT)
        |UNIQUE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO sales.orders VALUES (1, 10), (2, 20)")
    assert(ddl.sql("SELECT sum(amt) AS sa FROM sales.orders")
      .as[Long].head() == 30L)
    // the SAME bare name in the default database stays independent
    ddl.execute(
      """CREATE TABLE orders (id BIGINT, amt BIGINT)
        |DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO orders VALUES (9, 900)")
    ddl.execute("USE sales")
    assert(ddl.currentDatabase == "sales")
    assert(ddl.sql("SHOW TABLES").as[String].collect().toSeq == Seq("orders"))
    // unqualified names resolve in the CURRENT database
    assert(ddl.sql("SELECT sum(amt) AS sa FROM orders").as[Long].head() == 30L)
    ddl.execute("INSERT INTO orders VALUES (3, 30)")
    assert(ddl.sql("SELECT count(*) AS c FROM orders").as[Long].head() == 3L)
    ddl.execute("UPDATE orders SET amt = 11 WHERE id = 1")
    assert(ddl.sql("SELECT amt FROM orders WHERE id = 1").as[Long].head() == 11L)
    ddl.execute("DELETE FROM orders WHERE id = 3")
    assert(ddl.sql("SELECT count(*) AS c FROM orders").as[Long].head() == 2L)
    // cross-database reads and joins, default_db.t ≡ the flat namespace
    assert(ddl.sql("SELECT amt FROM default_db.orders").as[Long].head() == 900L)
    assert(ddl.sql("SELECT count(*) AS c FROM orders o " +
      "JOIN default_db.orders d ON o.id < d.id").as[Long].head() == 2L)
    // INSERT OVERWRITE TABLE resolves its bare target in the CURRENT db
    ddl.execute("INSERT OVERWRITE TABLE orders SELECT 7, 70")
    assert(ddl.sql("SELECT sum(amt) AS sa FROM orders").as[Long].head() == 70L)
    assert(ddl.sql("SELECT amt FROM default_db.orders").as[Long].head() == 900L,
      "the overwrite must hit the current db's table only")
    // DESC + SHOW CREATE emit the BARE name; the text replays under USE
    assert(ddl.sql("DESC orders").count() == 2L)
    val ct = ddl.sql("SHOW CREATE TABLE orders").head.getString(1)
    assert(ct.startsWith("CREATE TABLE `orders`"), ct)
    ddl.execute("DROP TABLE orders")
    ddl.execute(ct)
    assert(ddl.sql("SELECT count(*) AS c FROM orders").as[Long].head() == 0L)
    assert(ddl.sql("SELECT count(*) AS c FROM default_db.orders")
      .as[Long].head() == 1L, "the default-db table must be untouched")
    ddl.execute("USE default_db")
    assert(ddl.sql("SELECT count(*) AS c FROM orders").as[Long].head() == 1L)
    assert(ddl.sql("SHOW TABLES").as[String].collect().toSeq == Seq("orders"))
    // db-scoped grants: SELECT on sales.* reads sales tables, nothing else
    ddl.execute("CREATE USER 'ana'")
    ddl.execute("GRANT SELECT_PRIV ON sales.* TO 'ana'")
    ddl.login("ana")
    assert(ddl.sql("SELECT count(*) AS c FROM sales.orders")
      .as[Long].head() == 0L)
    val denied = intercept[RuntimeException](ddl.sql("SELECT * FROM orders"))
    assert(denied.getMessage.contains("access denied"), denied.getMessage)
    ddl.login("root")
    // non-empty drop REJECTS; FORCE drops contents; current db resets
    ddl.execute("USE sales")
    val ne = intercept[IllegalArgumentException](
      ddl.execute("DROP DATABASE sales"))
    assert(ne.getMessage.contains("not empty"), ne.getMessage)
    ddl.execute("DROP DATABASE sales FORCE")
    assert(ddl.currentDatabase == ddl.DefaultDb,
      "dropping the database in use resets the session to the default")
    assert(ddl.sql("SHOW DATABASES").as[String].collect().toSeq ==
      Seq("default_db"))
    assertThrows[IllegalArgumentException](ddl.execute("USE sales"))
    ddl.execute("DROP DATABASE IF EXISTS sales")
    assert(ddl.sql("SELECT count(*) AS c FROM orders").as[Long].head() == 1L,
      "FORCE must only drop the named database's objects")
    // guards: '__' reserved; an existing flat `d__x` object blocks
    // CREATE DATABASE d (the canonical split would reparent it)
    assertThrows[IllegalArgumentException](ddl.execute("CREATE DATABASE a__b"))
    ddl.execute("CREATE TABLE marts__t (id BIGINT) DUPLICATE KEY(id) " +
      "DISTRIBUTED BY HASH(id) BUCKETS 1")
    val cl = intercept[IllegalArgumentException](
      ddl.execute("CREATE DATABASE marts"))
    assert(cl.getMessage.contains("ambiguous"), cl.getMessage)
    // the namespace audit: everything this lifecycle registered into the
    // session catalog maps to a grant scope (the suite-wide afterAll
    // audits every instance; this pins the invariant visibly)
    assert(ddl.auditTempViews().isEmpty, ddl.auditTempViews().toString)
  }

  test("BITMAP index: persisted per-rowset value sets PRUNE FILES on " +
    "equality/IN before any per-row work; zero survivors fold; soundness " +
    "gates never prune wrongly; SHOW surfaces it; round-trips") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE bm (id BIGINT, cat VARCHAR(16), k BIGINT,
        |  INDEX ix_bm (cat) USING BITMAP
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    // two loads = two rowset file sets with disjoint category vocabulary
    ddl.execute("INSERT INTO bm VALUES (1, 'fruit', 10), (2, 'veg', 20), " +
      "(3, 'fruit', 30)")
    ddl.execute("INSERT INTO bm VALUES (10, 'metal', 40), (11, 'gas', 50)")
    val df = ddl.sql("SELECT id FROM bm WHERE cat = 'metal'")
    assert(df.as[Long].collect().toSeq == Seq(10L))
    val Some((tn, surv, total)) = ddl.lastBitmapPrune
    assert(tn == "bm" && surv < total && surv >= 1, s"($tn, $surv, $total)")
    // the SCAN lists only surviving files — storage skipping, not a filter
    assert(scanFileCounts(df).sum == surv, df.queryExecution.executedPlan)
    // a table-name qualifier is the same predicate
    ddl.lastBitmapPrune = None
    assert(ddl.sql("SELECT bm.id FROM bm WHERE bm.cat = 'metal'")
      .as[Long].collect().toSeq == Seq(10L))
    assert(ddl.lastBitmapPrune.exists(p => p._2 < p._3))
    // IN list: a file survives when its set meets ANY literal
    ddl.lastBitmapPrune = None
    assert(ddl.sql("SELECT id FROM bm WHERE cat IN ('gas', 'nothere')")
      .as[Long].collect().toSeq == Seq(11L))
    assert(ddl.lastBitmapPrune.exists(p => p._2 < p._3))
    // a value NO file contains folds to an empty relation: zero files read
    val none = ddl.sql("SELECT id FROM bm WHERE cat = 'plasma'")
    assert(none.count() == 0L)
    assert(scanFileCounts(none).sum == 0, none.queryExecution.executedPlan)
    // CREATE INDEX on a loaded INTEGER column backfills: first query prunes
    ddl.execute("CREATE INDEX ix_k ON bm (k) USING BITMAP")
    ddl.lastBitmapPrune = None
    assert(ddl.sql("SELECT id FROM bm WHERE k = 40")
      .as[Long].collect().toSeq == Seq(10L))
    assert(ddl.lastBitmapPrune.exists(p => p._2 < p._3),
      ddl.lastBitmapPrune.toString)
    // gates: OR / SELECT-list positions restrict nothing — never prune
    ddl.lastBitmapPrune = None
    assert(ddl.sql("SELECT id FROM bm WHERE cat = 'metal' OR id = 1")
      .as[Long].collect().sorted.toSeq == Seq(1L, 10L))
    assert(ddl.lastBitmapPrune.isEmpty, "OR-position must not prune")
    assert(ddl.sql("SELECT id, (cat = 'gas') AS hit FROM bm ORDER BY id")
      .count() == 5L)
    assert(ddl.lastBitmapPrune.isEmpty, "SELECT-list position must not prune")
    // merge-on-read models never prune on content (pre-merge file drops
    // could hide a key's winning version)
    ddl.execute(
      """CREATE TABLE bmu (id BIGINT, cat VARCHAR(16))
        |UNIQUE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("CREATE INDEX bx ON bmu (cat) USING BITMAP")
    ddl.execute("INSERT INTO bmu VALUES (1, 'old')")
    ddl.execute("INSERT INTO bmu VALUES (1, 'new')")
    ddl.lastBitmapPrune = None
    assert(ddl.sql("SELECT cat FROM bmu WHERE cat = 'new'")
      .as[String].collect().toSeq == Seq("new"))
    assert(ddl.lastBitmapPrune.isEmpty, "merge-on-read must not prune")
    // SHOW INDEX lists the kind; SHOW CREATE round-trips the index
    assert(ddl.sql("SHOW INDEX FROM bm").as[(String, String, String)]
      .collect().toSeq.contains(("ix_bm", "cat", "BITMAP")))
    val stmt = ddl.sql("SHOW CREATE TABLE bm").collect().head.getString(1)
    assert(stmt.contains("USING BITMAP"), stmt)
    ddl.execute(stmt.replace("`bm`", "`bm2`"))
    assert(ddl.sql("SHOW CREATE TABLE bm2").collect().head.getString(1)
      .replace("bm2", "bm") == stmt)
    // guards: float columns have no exact value identity — reject
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bmf (id BIGINT, v DOUBLE, INDEX fx (v) USING BITMAP) " +
        "DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1"))
  }

  test("BITMAP pruning survives a light column RENAME: the IndexDef " +
    "follows and the sidecars rebuild lazily under the new name, reading " +
    "through the priors coalesce") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE bmr (id BIGINT, cat VARCHAR(16),
        |  INDEX rix (cat) USING BITMAP
        |) DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO bmr VALUES (1, 'aa'), (2, 'bb')")
    ddl.execute("INSERT INTO bmr VALUES (3, 'cc')")
    ddl.execute("ALTER TABLE bmr RENAME COLUMN cat category")
    ddl.lastBitmapPrune = None
    assert(ddl.sql("SELECT id FROM bmr WHERE category = 'cc'")
      .as[Long].collect().toSeq == Seq(3L))
    assert(ddl.lastBitmapPrune.exists(p => p._2 < p._3),
      s"pruning must resume under the renamed column: ${ddl.lastBitmapPrune}")
    // SHOW CREATE names the new column in the index and replays
    val stmt = ddl.sql("SHOW CREATE TABLE bmr").head.getString(1)
    assert(stmt.contains("(`category`) USING BITMAP"), stmt)
    ddl.execute("DROP TABLE bmr")
  }

  test("AUTO_INCREMENT across BACKUP/RESTORE: the counter sidecar does " +
    "not travel, so the restored table re-seeds from max(id)+1 — ids " +
    "stay unique and contiguous across the restore boundary") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE aib (id BIGINT AUTO_INCREMENT, v BIGINT)
        |DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    ddl.execute("INSERT INTO aib (v) VALUES (1), (2), (3)")
    val repo = TempDirs.create("graft_test_aib_repo")
    ddl.sql(s"BACKUP SNAPSHOT s1 TO '$repo' ON (aib)").collect()
    ddl.execute("DROP TABLE aib")
    ddl.sql(s"RESTORE SNAPSHOT s1 FROM '$repo'").collect()
    // the restored dir has rowsets but no _auto_inc sidecar: the next
    // claim re-seeds from max(id)+1, never re-issuing a live id
    ddl.execute("INSERT INTO aib (v) VALUES (4), (5)")
    val ids = ddl.sql("SELECT id FROM aib ORDER BY id")
      .as[Long].collect().toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L), ids.toString)
    ddl.execute("DROP TABLE aib")
  }

  test("AUTO_INCREMENT: block allocation, NULL fill, label replay " +
    "exactly-once, start value, SHOW CREATE round-trip, guards") {
    val ddl = fresh()
    ddl.execute(
      """CREATE TABLE aid (
        |  id BIGINT AUTO_INCREMENT,
        |  name VARCHAR(16), k BIGINT
        |) DUPLICATE KEY(id)
        |DISTRIBUTED BY HASH(id) BUCKETS 2""".stripMargin)
    // batch 1: column omitted → all rows allocated from one block
    ddl.execute("INSERT INTO aid (name, k) VALUES ('a', 1), ('b', 2), " +
      "('c', 3)")
    // batch 2: explicit NULLs fill, explicit values keep (Doris's rule)
    ddl.execute(
      "INSERT INTO aid (id, name, k) VALUES (NULL, 'd', 4), (100, 'e', 5)")
    val got = ddl.sql("SELECT id, name FROM aid ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L, 100L), got.toString)
    assert(got.filter(_._1 <= 3L).map(_._2).toSet == Set("a", "b", "c"))
    assert(got.find(_._1 == 4L).map(_._2).contains("d"))
    // batch 3: a labeled load, then its replay — the label is consumed,
    // the replay rejects BEFORE any claim, so the NEXT allocation is
    // exactly contiguous (no burned block, no duplicate ids)
    ddl.execute("INSERT INTO aid WITH LABEL aid_l (name, k) VALUES ('f', 6)")
    val rep = intercept[IllegalArgumentException](ddl.execute(
      "INSERT INTO aid WITH LABEL aid_l (name, k) VALUES ('f', 6)"))
    assert(rep.getMessage.contains("already exists"), rep.getMessage)
    ddl.execute("INSERT INTO aid (name, k) VALUES ('g', 7)")
    val ids = ddl.sql("SELECT id FROM aid ORDER BY id").as[Long]
      .collect().toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L, 6L, 100L),
      s"replay must not burn or duplicate ids: $ids")
    // SHOW CREATE round-trips the flag (and a start value round-trips)
    val ct = ddl.sql("SHOW CREATE TABLE aid").select("create_table")
      .as[String].head()
    assert(ct.contains("AUTO_INCREMENT"), ct)
    ddl.execute("DROP TABLE aid")
    ddl.execute(ct)
    assert(ddl.sql("SHOW CREATE TABLE aid").select("create_table")
      .as[String].head().contains("AUTO_INCREMENT"))
    ddl.execute("DROP TABLE aid")
    ddl.execute(
      """CREATE TABLE aid2 (id BIGINT AUTO_INCREMENT(1000), v BIGINT)
        |DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO aid2 (v) VALUES (1), (2)")
    assert(ddl.sql("SELECT id FROM aid2 ORDER BY id").as[Long]
      .collect().toSeq == Seq(1000L, 1001L))
    // the DECLARED start round-trips (the live counter is load state,
    // not declaration)
    assert(ddl.sql("SHOW CREATE TABLE aid2").select("create_table")
      .as[String].head().contains("AUTO_INCREMENT(1000)"))
    ddl.execute("DROP TABLE aid2")
    // guards: non-BIGINT rejects; two auto columns reject
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad1 (id INT AUTO_INCREMENT, v BIGINT) " +
        "DUPLICATE KEY(id) DISTRIBUTED BY HASH(id) BUCKETS 1"))
    assertThrows[IllegalArgumentException](ddl.execute(
      "CREATE TABLE bad2 (a BIGINT AUTO_INCREMENT, b BIGINT " +
        "AUTO_INCREMENT, v BIGINT) DUPLICATE KEY(a) " +
        "DISTRIBUTED BY HASH(a) BUCKETS 1"))
  }
}
