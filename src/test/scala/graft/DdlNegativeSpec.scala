package graft

import graft.sql.DorisDdl

/** Negative-grammar fuzz of the statement front-end (the round-16 verdict's
  * untested failure-mode area): every pinned-valid statement is mutated —
  * a keyword dropped, the text truncated, an identifier swapped for a
  * number, an unterminated quote appended — and each mutant must either
  * execute as a (coincidentally) valid statement or reject with a NAMED
  * error. The failure classes this hunts are the unnamed ones: a
  * scala.MatchError escaping a regex match, an NPE from a null regex
  * group, an index-out-of-bounds from blind substring arithmetic — any of
  * which would surface to a user as an engine crash instead of a parse
  * reject. Mutations are deterministic (positional, no RNG), so a failure
  * reproduces verbatim.
  */
class DdlNegativeSpec extends SparkSpec {

  private def freshContext(): (DorisDdl, Seq[String]) = {
    val ddl = track(new DorisDdl(TestSpark.spark))
    val dir = TempDirs.create("graft_nf")
    val csv = java.nio.file.Paths.get(dir, "in.csv")
    java.nio.file.Files.write(csv, "7,7.0,g\n".getBytes("UTF-8"))
    val routineSrc = TempDirs.create("graft_nf_routine")
    val statements = Seq(
      """CREATE TABLE nf_u (k BIGINT, v DOUBLE, note VARCHAR(20))
        |UNIQUE KEY(k) DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin,
      """CREATE TABLE nf_d (k BIGINT, d DATE, v DOUBLE)
        |DUPLICATE KEY(k, d)
        |PARTITION BY RANGE(d) (
        |  PARTITION p1 VALUES LESS THAN ('2024-02-01'),
        |  PARTITION p2 VALUES LESS THAN ('2024-03-01'))
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin,
      """CREATE TABLE nf_a (ts DATETIME, k BIGINT, v DOUBLE)
        |DUPLICATE KEY(ts, k)
        |AUTO PARTITION BY RANGE (date_trunc(`ts`, 'day')) ()
        |DISTRIBUTED BY HASH(k) BUCKETS 2""".stripMargin,
      """CREATE TABLE nf_s (r BIGINT, w DOUBLE) DUPLICATE KEY(r)
        |DISTRIBUTED BY RANDOM BUCKETS AUTO""".stripMargin,
      "INSERT INTO nf_u VALUES (1, 1.0, 'a'), (2, 2.0, 'b')",
      "INSERT INTO nf_d VALUES (1, '2024-01-10', 1.0), (2, '2024-02-10', 2.0)",
      "INSERT INTO nf_a VALUES ('2024-01-10 01:00:00', 1, 1.0)",
      "INSERT INTO nf_s VALUES (1, 10.0)",
      "INSERT INTO nf_u WITH LABEL nf_lbl VALUES (3, 3.0, 'c')",
      s"LOAD LABEL nf_ll (DATA INFILE('$csv') INTO TABLE nf_u)",
      "CANCEL LOAD WHERE LABEL = 'nf_ll'", // rejects by design (FINISHED)
      "UPDATE nf_u SET v = 9.0 WHERE k = 1",
      "UPDATE nf_u SET v = nf_s.w FROM nf_s WHERE nf_u.k = nf_s.r",
      "DELETE FROM nf_u WHERE k = 2",
      "DELETE FROM nf_d PARTITION (p1) WHERE v < 100.0",
      "DELETE FROM nf_u USING nf_s WHERE nf_u.k = nf_s.r",
      "CREATE INDEX nf_ix ON nf_u (note) USING INVERTED",
      "CREATE INDEX nf_ng ON nf_u (note) USING NGRAM_BF " +
        """PROPERTIES("gram_size" = "2", "bf_size" = "128")""",
      "DROP INDEX nf_ng ON nf_u",
      "CREATE MATERIALIZED VIEW nf_mv AS SELECT k, SUM(v) AS sv " +
        "FROM nf_d GROUP BY k",
      "CREATE VIEW nf_vw AS SELECT k, v FROM nf_u",
      "ALTER VIEW nf_vw AS SELECT k FROM nf_u",
      "SHOW CREATE VIEW nf_vw",
      "CREATE VIEW nf_vd AS SELECT k FROM nf_u",
      "DROP VIEW nf_vd",
      "ALTER TABLE nf_d ADD PARTITION p3 VALUES LESS THAN ('2024-04-01')",
      "ALTER TABLE nf_d ADD COLUMN tag VARCHAR(8) DEFAULT 'none'",
      "ALTER TABLE nf_d DROP PARTITION p3",
      "ALTER TABLE nf_u ADD COLUMN extra BIGINT DEFAULT '0'",
      "ALTER TABLE nf_u RENAME COLUMN extra extra2",
      "ALTER TABLE nf_u DROP COLUMN extra2",
      "ALTER TABLE nf_d RENAME PARTITION p2 pmid",
      "ALTER TABLE nf_d ADD TEMPORARY PARTITION tp1 " +
        "VALUES [('2024-02-01'), ('2024-03-01'))",
      "INSERT INTO nf_d TEMPORARY PARTITION (tp1) " +
        "VALUES (5, '2024-02-15', 5.0, 'tmp')",
      "SHOW TEMPORARY PARTITIONS FROM nf_d",
      "ALTER TABLE nf_d REPLACE PARTITION (pmid) WITH TEMPORARY PARTITION (tp1)",
      """ALTER TABLE nf_a SET ("dynamic_partition.enable" = "true",
        |  "dynamic_partition.start" = "-30",
        |  "dynamic_partition.end" = "2")""".stripMargin,
      "INSERT OVERWRITE TABLE nf_s SELECT 7 AS r, 70.0 AS w",
      "TRUNCATE TABLE nf_s",
      "INSERT INTO nf_s VALUES (2, 20.0)",
      s"CREATE ROUTINE LOAD nf_job ON nf_s FROM FILE('$routineSrc', 'parquet')",
      "PAUSE ROUTINE LOAD FOR nf_job",
      "RESUME ROUTINE LOAD FOR nf_job",
      "SHOW ROUTINE LOAD",
      "STOP ROUTINE LOAD FOR nf_job",
      """CREATE TABLE nf_b (k BIGINT, v DOUBLE) DUPLICATE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin,
      "INSERT INTO nf_b VALUES (1, 1.0)",
      s"EXPORT TABLE nf_b TO '$dir/export'",
      s"BACKUP SNAPSHOT nf_snap TO '$dir/repo' ON (nf_b)",
      s"SHOW SNAPSHOT ON '$dir/repo'",
      "SHOW BACKUP",
      "DROP TABLE nf_b",
      s"RESTORE SNAPSHOT nf_snap FROM '$dir/repo'",
      "SHOW RESTORE",
      "ANALYZE TABLE nf_u",
      "SHOW COLUMN STATS nf_u",
      "SHOW PARTITIONS FROM nf_d",
      "SHOW CREATE TABLE nf_u",
      "SHOW INDEX FROM nf_u",
      "SHOW LOAD FROM nf_u",
      "SHOW COLUMNS FROM nf_u",
      "SHOW DATA",
      "SHOW TABLES",
      "SHOW DYNAMIC PARTITION TABLES",
      "DESC nf_u",
      "EXPLAIN SELECT k FROM nf_u",
      "CREATE USER 'nf_user' IDENTIFIED BY 'x'",
      "GRANT SELECT_PRIV, LOAD_PRIV ON nf_u TO 'nf_user'",
      "GRANT CREATE_PRIV ON * TO 'nf_user'",
      "SHOW GRANTS FOR 'nf_user'",
      "REVOKE LOAD_PRIV ON nf_u FROM 'nf_user'",
      "SET sql_select_limit = 100",
      "SET GLOBAL query_timeout = DEFAULT",
      "SET time_zone = 'America/New_York'",
      "SET time_zone = DEFAULT",
      "SHOW VARIABLES LIKE '%limit%'",
      "SELECT @@query_timeout AS qt",
      // round-18 families: roles, routine-load FOR forms, MTMV triggers
      "CREATE ROLE 'nf_role'",
      "GRANT SELECT_PRIV ON nf_u TO ROLE 'nf_role'",
      "GRANT 'nf_role' TO 'nf_user'",
      "SHOW ROLES",
      "REVOKE SELECT_PRIV ON nf_u FROM ROLE 'nf_role'",
      "REVOKE 'nf_role' FROM 'nf_user'",
      "DROP ROLE 'nf_role'",
      """CREATE MATERIALIZED VIEW nf_mtv
        |BUILD IMMEDIATE REFRESH AUTO ON SCHEDULE EVERY 5 MINUTE
        |PARTITION BY (d)
        |AS SELECT d, COUNT(*) AS n FROM nf_d GROUP BY d""".stripMargin,
      "SHOW CREATE MATERIALIZED VIEW nf_mtv",
      "REFRESH MATERIALIZED VIEW nf_mtv",
      "DROP MATERIALIZED VIEW nf_mtv",
      "DROP USER 'nf_user'",
      "SELECT k, v FROM nf_u ORDER BY k",
      // last: a mutant that switches the current database only affects
      // the mutants after it
      "CREATE DATABASE nf_db",
      "USE nf_db",
      "SHOW DATABASES",
      "USE default_db",
      "DROP DATABASE nf_db")
    (ddl, statements)
  }

  /** Keywords eligible for the drop mutation (dropping an identifier or a
    * literal mostly yields a DIFFERENT valid statement, which tests
    * nothing; dropping grammar words is what exposes half-matched forms). */
  private val kw = Set(
    "CREATE", "TABLE", "UNIQUE", "DUPLICATE", "AGGREGATE", "KEY",
    "DISTRIBUTED", "BY", "HASH", "RANDOM", "BUCKETS", "AUTO", "PARTITION",
    "PARTITIONS", "RANGE", "LIST", "VALUES", "LESS", "THAN", "IN", "INSERT",
    "INTO", "WITH", "LABEL", "SELECT", "FROM", "WHERE", "GROUP", "ORDER",
    "UPDATE", "SET", "DELETE", "USING", "ALTER", "ADD", "DROP", "RENAME",
    "COLUMN", "TEMPORARY", "REPLACE", "TRUNCATE", "INDEX", "ON",
    "MATERIALIZED", "VIEW", "AS", "SHOW", "DESC", "EXPLAIN", "ANALYZE",
    "PROPERTIES", "ENGINE", "INVERTED", "NGRAM_BF", "DEFAULT", "SUM",
    "STATS", "LOAD", "DYNAMIC", "GRANT", "REVOKE", "TO", "USER", "GRANTS",
    "VARIABLES", "LIKE", "SESSION", "GLOBAL", "IDENTIFIED",
    "ROLE", "ROLES", "BUILD", "IMMEDIATE", "REFRESH", "SCHEDULE", "EVERY",
    "MINUTE", "COMMIT", "MANUAL", "DATABASE", "DATABASES", "USE",
    "OVERWRITE", "ROUTINE", "STOP", "PAUSE", "RESUME", "FOR", "CANCEL",
    "BACKUP", "RESTORE", "SNAPSHOT", "EXPORT", "COLUMNS", "DATA", "TABLES")

  private def mutants(st: String): Seq[String] = {
    val toks = st.split("\\s+").toVector
    val dropKw = toks.indices
      .filter(i => kw.contains(toks(i).toUpperCase.filter(_.isLetter)))
      .take(12)
      .map(i => (toks.take(i) ++ toks.drop(i + 1)).mkString(" "))
    val truncated = Seq(st.take(st.length * 3 / 5))
    val identToNum = toks.indexWhere(t =>
      t.matches("\\w+") && !kw.contains(t.toUpperCase)) match {
      case -1 => Nil
      case i => Seq((toks.updated(i, "123")).mkString(" "))
    }
    val strayQuote = Seq(st + " '")
    (dropKw ++ truncated ++ identToNum ++ strayQuote).distinct
  }

  /** The unnamed failure classes: a user must never see these — they are
    * parser crashes, not parse rejects. Unwraps one level of cause (a
    * driver-side crash can arrive wrapped in a SparkException). */
  private def unnamed(e: Throwable): Boolean = {
    def bad(t: Throwable) = t match {
      case _: scala.MatchError | _: NullPointerException |
           _: NotImplementedError | _: IndexOutOfBoundsException |
           _: ClassCastException | _: UnsupportedOperationException => true
      case _ => false
    }
    bad(e) || Option(e.getCause).exists(bad)
  }

  test("every mutant of every pinned statement either runs as a valid " +
    "statement or rejects with a NAMED error — never a MatchError/NPE/" +
    "index crash") {
    val (ddl, statements) = freshContext()
    // the originals must all be valid; CANCEL LOAD of a published label is
    // valid and its contract is a named reject
    statements.foreach { st =>
      if (st.startsWith("CANCEL LOAD")) assert(intercept[RuntimeException](
        ddl.execute(st)).getMessage.contains("cannot be cancelled"))
      else ddl.execute(st)
    }
    var checked = 0
    val crashes = scala.collection.mutable.ArrayBuffer.empty[String]
    for (st <- statements; mut <- mutants(st)) {
      checked += 1
      try { ddl.execute(mut); () }
      catch {
        case e: Throwable if unnamed(e) =>
          crashes += s"[${e.getClass.getSimpleName}: ${e.getMessage}] $mut"
        case _: Throwable => () // a named reject — the contract
      }
    }
    info(s"checked $checked mutants across ${statements.size} statements")
    // a mutant may have started a routine-load job: stop every running one
    ddl.sql("SHOW ROUTINE LOAD").collect().filter(_.getString(2) == "RUNNING")
      .foreach(r => ddl.execute(s"STOP ROUTINE LOAD FOR ${r.getString(0)}"))
    assert(crashes.isEmpty,
      s"${crashes.size} unnamed crashes:\n  ${crashes.take(12).mkString("\n  ")}")
  }

  test("the corpus holds a valid statement for every statement-table row") {
    val (ddl, statements) = freshContext()
    val reached = statements.map(ddl.classify(_)._1).toSet
    val missing = ddl.statementNames.filterNot(reached)
    assert(missing.isEmpty, s"rows with no corpus statement: $missing")
  }

  test("dispatch probes: bare prefixes, half-statements, garbage, and the " +
    "empty string all reject with named errors (never crash classes)") {
    val ddl = track(new DorisDdl(TestSpark.spark))
    ddl.execute(
      """CREATE TABLE np (k BIGINT, v DOUBLE) UNIQUE KEY(k)
        |DISTRIBUTED BY HASH(k) BUCKETS 1""".stripMargin)
    ddl.execute("INSERT INTO np VALUES (1, 1.0)")
    val probes = Seq(
      "CREATE", "CREATE TABLE", "CREATE TABLE t2x", "CREATE TABLE t2x (",
      "CREATE INDEX", "CREATE MATERIALIZED VIEW", "CREATE VIEW",
      "INSERT", "INSERT INTO", "INSERT INTO ghost VALUES (1)",
      "UPDATE", "UPDATE np", "UPDATE np SET", "UPDATE np SET v = 1",
      "UPDATE np SET v = 1 FROM", "DELETE", "DELETE FROM", "DELETE FROM np",
      "DELETE FROM np USING", "ALTER TABLE", "ALTER TABLE np",
      "ALTER TABLE np FROBNICATE x", "ALTER TABLE np SET", "TRUNCATE",
      "TRUNCATE TABLE ghost", "DROP TABLE", "DROP TABLE ghost",
      "DROP INDEX foo", "DROP MATERIALIZED VIEW",
      "SHOW", "SHOW GIZMOS", "SHOW PARTITIONS", "SHOW CREATE TABLE",
      "SHOW INDEX", "SHOW COLUMN STATS", "DESC ghost", "EXPLAIN", "ANALYZE",
      "ANALYZE TABLE ghost", "BACKUP SNAPSHOT",
      "RESTORE SNAPSHOT s FROM '/nonexistent'", "LOAD LABEL", "CANCEL LOAD",
      "STOP ROUTINE LOAD ghost", "PAUSE ROUTINE LOAD", "EXPORT TABLE",
      "GRANT", "GRANT SELECT_PRIV", "GRANT SELECT_PRIV ON",
      "GRANT SELECT_PRIV ON np TO", "GRANT NOPE_PRIV ON np TO 'x'",
      "REVOKE", "REVOKE SELECT_PRIV ON np FROM",
      "CREATE USER", "CREATE USER root", "DROP USER", "DROP USER 'ghost'",
      "SHOW GRANTS FOR", "SHOW GRANTS FOR 'ghost'",
      "DROP VIEW", "DROP VIEW IF EXISTS", "ALTER VIEW",
      "ALTER VIEW np AS", "SHOW CREATE VIEW", "SHOW CREATE VIEW ghost_v",
      "SET", "SET =", "SET sql_select_limit", "SET no_such = 1",
      "SHOW VARIABLES LIKE", "SELECT @@", "SELECT @@no_such_var",
      "SELECT FROM WHERE", ")(", "'", "", ";", "/*+ LEADING(a) */")
    val crashes = scala.collection.mutable.ArrayBuffer.empty[String]
    probes.foreach { p =>
      try { ddl.execute(p); () }
      catch {
        case e: Throwable if unnamed(e) =>
          crashes += s"[${e.getClass.getSimpleName}: ${e.getMessage}] '$p'"
        case _: Throwable => ()
      }
    }
    assert(crashes.isEmpty, crashes.mkString("\n"))
    // the context table must be untouched by the probe barrage
    import TestSpark.spark.implicits._
    assert(ddl.sql("SELECT v FROM np WHERE k = 1").as[Double].head() == 1.0)
  }
}
