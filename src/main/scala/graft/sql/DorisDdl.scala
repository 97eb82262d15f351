package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.matching.Regex

/** Doris DDL/DML STATEMENT front-end (SURVEY §3.1 steps 1-2, §1.1): the
  * text surface a Palo user actually drives the key-model layer with —
  * `CREATE TABLE ... (DUPLICATE|UNIQUE|AGGREGATE) KEY ... PARTITION BY
  * RANGE ... DISTRIBUTED BY HASH(col) BUCKETS n`, `CREATE TABLE ... AS
  * SELECT`, `CREATE MATERIALIZED VIEW ... AS SELECT` (sync rollup with
  * transactional maintenance on every load/delete), `INSERT INTO ...
  * VALUES | SELECT`, `UPDATE ... SET ... WHERE` (UNIQUE tables), `DELETE
  * FROM ... WHERE`, `ALTER TABLE ... DROP|ADD PARTITION | ADD COLUMN`
  * (light schema change), `TRUNCATE TABLE`, `SHOW PARTITIONS FROM t`, and
  * `SELECT` (including Doris partition selection `FROM t
  * PARTITION (p)`) — parsed here the way the FE's generated parser does
  * ([doris: fe/fe-core/src/main/cup/sql_parser.cup], ~7k grammar; key
  * models [doris: fe/.../catalog/KeysType.java]; range partitions
  * [doris: fe/.../analysis/PartitionDesc.java]; versioned deletes
  * [doris: fe/.../load/DeleteHandler.java]).
  *
  * Execution is Spark-first and reuses the semantics the engine already
  * ships rather than re-implementing them:
  *  - a table = a parquet dir of versioned rowsets (`_ver` column per
  *    load, exactly the KeyModels layout); `DISTRIBUTED BY HASH(c)
  *    BUCKETS n` = `repartition(n, c)` before the write, so each load
  *    lands ≤ n files per partition — the tablet layout;
  *  - `PARTITION BY RANGE` = a CASE-chain partition-name column feeding
  *    `partitionBy`, so a range partition IS a directory: DROP PARTITION
  *    is the O(1) file op model_partition_drop pins, partition selection
  *    is a partition-pruned scan, and a row beyond the last bound fails
  *    the load loudly via `raise_error` (Doris rejects such loads);
  *  - merge-on-read per key model: DUPLICATE = plain scan, UNIQUE = one
  *    row_number window on the key by `_ver` desc, AGGREGATE =
  *    groupBy(keys) with SUM/MAX/MIN/REPLACE column aggregates — the
  *    same single-shuffle plans as the model_* keys;
  *  - `DELETE FROM ... WHERE` records a VERSIONED predicate (no data
  *    touched — broadcast metadata compiled into the read filter via
  *    KeyModels.applyDeletePredicates), so rows loaded after the delete
  *    survive even when they match it;
  *  - SELECT text goes through [[DorisSqlDialect]] (expression shims)
  *    and `spark.sql` over the merge-on-read temp views, so statements
  *    compose freely with base tables and keep codegen'd Catalyst plans.
  *
  * At 100 TB nothing here adds cost over the hand-built model_* keys:
  * the catalog is driver metadata, loads are one repartition-write each,
  * and every read is the one-shuffle merge its key model requires.
  */
final class DorisDdl(s: SparkSession) {
  import DorisDdl._

  // The statement surface leans on the library's SQL-name functions
  // (to_bitmap / hll_hash at load, bitmap_count / hll_cardinality at read,
  // graft_bitmap_union_binary in the AGGREGATE merge) and the rollup rule;
  // install is idempotent.
  graft.Graft.install(s)

  private val tables = mutable.LinkedHashMap[String, TableState]()

  // ------------------------------------------------------------- databases
  // Doris database namespace ([doris: fe/.../analysis/CreateDbStmt.java];
  // every tutorial's first two statements are CREATE DATABASE + USE):
  // `CREATE/DROP DATABASE`, `USE db`, `SHOW DATABASES`, and `db.tbl`
  // qualification in every statement form. The engine's storage stays ONE
  // flat catalog of canonical names: a table t in database d is the
  // canonical `d__t` (the default database's tables keep their bare names,
  // so the engine boots USE'd into `default_db` and every pre-database
  // script runs untouched). Qualification happens ONCE at statement entry
  // ([[rewriteDbRefs]]): explicit `db.tbl` spellings and — under a
  // non-default current database — unqualified identifiers in object
  // positions rewrite to canonical names, after which parsing, privilege
  // checks, temp-view registration and every read/write path below see
  // exactly the flat names they always did. Resolution rule for
  // unqualified names: the current database when the object exists there,
  // else the flat default namespace (the compat fallback that keeps old
  // scripts working after USE). Database names may not contain "__", so
  // canonical names split unambiguously at the first "__".
  private[graft] val DefaultDb = "default_db"
  private val databases = mutable.LinkedHashSet[String](DefaultDb)
  @volatile private var currentDb: String = DefaultDb

  /** Current database (tests / SELECT DATABASE() stand-in). */
  def currentDatabase: String = currentDb

  /** Every temp view the ENGINE registers goes through here, so the
    * namespace audit ([[auditTempViews]]) can enumerate engine-owned
    * views. Caller-registered views are not managed objects and are
    * never gated — they stay outside this set. */
  private val engineViews =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerTemp(df: DataFrame, name: String): Unit = {
    df.createOrReplaceTempView(name)
    engineViews.add(name)
    // ownership record (registration skip): the session temp-view
    // namespace is shared by every DorisDdl instance on this session, so
    // a select may only SKIP re-registering a table view while this
    // instance still owns the name (another instance taking it — the
    // cross-key collision case — invalidates the skip here)
    viewOwners.put((s, name), this)
  }

  /** Test hook — the r17 MV/partition-view privilege bypass class,
    * generalized into a standing invariant: every LIVE temp view this
    * engine registered must resolve to at least one grant scope through
    * [[directRefs]]'s candidate patterns (managed objects, derived
    * `__part_`/`__ngbf`/sync-MV names that bill to their base, or the
    * `*`-gated internal prefixes). Returns the unaccounted names — any
    * FUTURE derived-view shape that reaches the session catalog without
    * a scope mapping fails CLOSED here instead of open (an ungated read
    * path) in production. */
  private[graft] def ownsEngineView(name: String): Boolean =
    engineViews.contains(name)
  private[graft] def mapsToScope(name: String): Boolean =
    directRefs(name).nonEmpty
  private[graft] def auditTempViews(): Seq[String] = {
    val live = s.catalog.listTables().collect().map(_.name)
      .filter(engineViews.contains).toSeq
    live.filterNot(mapsToScope).sorted
  }

  /** TEST-ONLY: manufacture the r19 orphan shape — an engine-registered
    * live temp view with NO catalog def (so no grant scope) — to pin the
    * fail-closed read path without having to win the (now closed) race. */
  private[graft] def injectOrphanViewForTest(name: String): Unit = {
    import s.implicits._
    registerTemp(Seq(1).toDF("one"), name)
  }

  /** Fail CLOSED on scope-less engine views, at statement entry and for
    * EVERY user (root included): a live engine-registered temp view that
    * [[directRefs]] maps to no grant scope is a catalog-integrity
    * violation (the r19 orphan-view class — dropped-view data readable
    * with no privilege demanded), not a privilege question, so any
    * statement that NAMES one refuses outright instead of skipping the
    * check. Cost: one word scan over the statement + O(1) set lookups;
    * the (rare) candidate hits pay one scope resolution each. */
  private def failOrphanViews(t: String): Unit = {
    val q = inLiteral(t)
    val hits = """\b\w+\b""".r.findAllMatchIn(t)
      .filter(m => !q(m.start)).map(_.group(0)).toSeq.distinct
      .filter(n => engineViews.contains(n) && !mapsToScope(n) &&
        s.catalog.tableExists(n)).sorted
    if (hits.nonEmpty) sys.error(
      s"orphaned engine view(s) with no grant scope: ${hits.mkString(", ")}" +
        " — refusing statement (fail-closed); drop the view or recreate" +
        " its backing object")
  }

  private def canon(db: String, tbl: String): String =
    if (db == DefaultDb) tbl else s"${db}__${tbl}"

  /** (database, bare name) of a canonical name. Unambiguous: database
    * names never contain "__", so the owning prefix (if any) ends at the
    * FIRST "__". */
  private def splitDb(name: String): (String, String) = {
    val i = name.indexOf("__")
    if (i > 0 && name.length > i + 2) {
      val d = name.substring(0, i)
      if (d != DefaultDb && databases.synchronized(databases.contains(d)))
        return (d, name.substring(i + 2))
    }
    (DefaultDb, name)
  }

  private def isCanonical(name: String): Boolean =
    splitDb(name)._1 != DefaultDb

  private def managed(name: String): Boolean =
    tables.synchronized(tables.contains(name)) ||
      viewDefs.synchronized(viewDefs.contains(name)) ||
      mtmvs.synchronized(mtmvs.contains(name))

  /** Resolve one bare object reference outside the entry rewrite (comma
    * lists the positional pass cannot see: DELETE ... USING a, b — the
    * handlers call this per member): current database first, flat default
    * as the fallback. */
  private def resolveRef(name: String): String = {
    val c = canon(currentDb, name)
    if (c != name && managed(c)) c else name
  }

  // `db.obj` (db known) — not preceded by an identifier char / dot, not
  // followed by another dot (no 3-part names here)
  private val QualifiedRe =
    """(?s)(?<![\w.`])`?(\w+)`?\s*\.\s*`?(\w+)`?(?!\s*\.)""".r
  // object-position keywords; INTO TABLE before INTO and TABLE so the
  // LOAD form matches as one keyword (non-overlapping scan)
  private val BareObjRe =
    ("""(?is)\b(INTO\s+TABLE|OVERWRITE\s+TABLE|OVERWRITE|FROM|JOIN|USING|""" +
      // an ident directly followed by '(' IS an object in these positions
      // (INSERT INTO t(a,b), CREATE TABLE t(a INT) — never a function
      // call: the known-object gate below protects expression positions
      // like `extract(DAY FROM ts)`), so only \w and '.' block the match
      """INTO|UPDATE|TABLE|VIEW|LIKE|DESC|DESCRIBE)(\s+)`?(\w+)`?(?!\w|\s*\.)""").r

  /** Database qualification, applied once at statement entry (before
    * privilege checks and dispatch). Pass A rewrites explicit `db.obj`
    * references to canonical names — when the object exists there, or
    * unconditionally right after an object keyword (CREATE TABLE db.t
    * creates into db; `alias.col` expressions never sit in those
    * positions). Pass B (only under a non-default current database)
    * qualifies unqualified identifiers in object positions: always after
    * TABLE/VIEW (creation targets), known-object-gated after
    * FROM/JOIN/USING/INTO/UPDATE/LIKE/DESC (a bare name that is NOT an
    * object of the current database falls through to the flat default —
    * the documented fallback — and expression identifiers that merely
    * follow FROM, e.g. extract(DAY FROM ts), stay untouched unless they
    * collide with a current-db table name). GRANT/REVOKE scopes resolve
    * in [[parseGrant]]; statement-head ON positions (indexes, routine
    * load, sync-MV drop) and ALTER TABLE RENAME get dedicated rules. */
  private def rewriteDbRefs(text: String): String = {
    val dbs = databases.synchronized(databases.toSet)
    var out = text
    // ---- pass B FIRST: unqualified identifiers under a non-default
    // current database. Dotted references are skipped by the regexes'
    // lookaheads, so the later dotted pass can never be double-applied
    // (and `default_db.t`, which that pass strips to the bare `t`, can
    // never be re-captured into the current database).
    if (currentDb != DefaultDb) {
      val up = out.toUpperCase
      def bare(ident: String): Boolean =
        !ident.startsWith("_") && !isCanonical(ident) &&
          ident.toUpperCase != "OUTFILE"
      val q2 = inLiteral(out)
      out = BareObjRe.replaceAllIn(out, m => {
        val kw = m.group(1).toUpperCase.replaceAll("\\s+", " ")
        val ident = m.group(3)
        val always = kw == "TABLE" || kw == "VIEW" || kw == "INTO TABLE" ||
          kw == "OVERWRITE TABLE"
        // bare OVERWRITE (INSERT OVERWRITE t) is an object position too,
        // but known-gated: OVERWRITE also precedes non-identifiers
        val known = managed(canon(currentDb, ident))
        if (q2(m.start) || !bare(ident) || !(always || known)) m.matched
        else m.group(1) + m.group(2) + canon(currentDb, ident)
      })
      // `ALTER TABLE t RENAME nn` — the new name lands in the SAME db
      out = """(?is)^(ALTER\s+TABLE\s+\w+\s+RENAME\s+)`?(\w+)`?$""".r
        .replaceAllIn(out, m =>
          if (bare(m.group(2))) m.group(1) + canon(currentDb, m.group(2))
          else m.matched)
      // statement-head ON positions (never a join condition at these heads)
      if ("""(?is)^(?:(?:CREATE|DROP)\s+INDEX|(?:CREATE|STOP|PAUSE|RESUME)\s+ROUTINE\s+LOAD|DROP\s+MATERIALIZED\s+VIEW)\b""".r
        .findFirstIn(up).isDefined) {
        val qOn = inLiteral(out)
        out = """(?is)\b(ON\s+)`?(\w+)`?(?!\s*\.)""".r.replaceAllIn(out, m =>
          if (!qOn(m.start) && bare(m.group(2)) &&
            managed(canon(currentDb, m.group(2))))
            m.group(1) + canon(currentDb, m.group(2))
          else m.matched)
      }
      // BACKUP/RESTORE `ON (t1, t2, ...)` member lists
      if (up.startsWith("BACKUP") || up.startsWith("RESTORE"))
        out = """(?is)\bON\s*\(([^)]*)\)""".r.replaceAllIn(out, m =>
          java.util.regex.Matcher.quoteReplacement("ON (" +
            m.group(1).split(",").map(x => resolveRef(stripIdent(x)))
              .mkString(", ") + ")"))
      // SHOW COLUMN STATS t (no object keyword in the form)
      out = """(?is)^(SHOW\s+COLUMN\s+STATS\s+)`?(\w+)`?$""".r
        .replaceAllIn(out, m =>
          if (bare(m.group(2))) m.group(1) + resolveRef(m.group(2))
          else m.matched)
    }
    // ---- pass A: explicit `db.obj` references → canonical
    if (dbs.size > 1 && out.contains(".")) {
      val q = inLiteral(out)
      val kwBefore =
        """(?is)\b(TABLE|VIEW|INTO|UPDATE|FROM|JOIN|USING|LIKE)\s*$""".r
      out = QualifiedRe.replaceAllIn(out, m => {
        val (d, o) = (m.group(1), m.group(2))
        def objPos = kwBefore.findFirstIn(
          out.substring(math.max(0, m.start - 16), m.start)).isDefined
        if (q(m.start) || !dbs.contains(d)) m.matched
        else if (d == DefaultDb) o // default_db.t ≡ t
        else if (managed(canon(d, o)) || objPos) canon(d, o)
        else m.matched
      })
    }
    out
  }

  /** Run `body` under the session's `time_zone` variable: Spark's
    * timezone-aware expressions capture their zone at ANALYSIS
    * (ResolveTimeZone reads spark.sql.session.timeZone), and statement
    * DataFrames analyze eagerly inside execute(), so scoping the conf
    * around one statement pins that statement's datetime semantics to the
    * variable — Doris's live `SET time_zone` — and restores the session
    * for every other consumer. UTC (the default) is a no-op: the zero-
    * cost path every existing caller stays on.
    *
    * The set/analyze/restore window is NOT atomic on the shared session
    * conf, so non-UTC statements serialize on [[tzLock]]: two concurrent
    * execute() calls would otherwise interleave their set/restore pairs
    * and one could restore a STALE value, pinning the session to the
    * variable's zone after both statements finish. (When the variable is
    * non-UTC every statement of this instance wants the SAME zone — the
    * variable is connection-scoped — so serializing just the conf window
    * is exactly the contention the semantics require, and the UTC
    * default path stays lock-free.) */
  private val tzLock = new Object
  /** The session `time_zone` variable as a ZoneId (UTC, ±HH:MM offsets
    * and region ids all parse); statement-time datetime semantics and the
    * MTMV STARTS schedule gate both read it. */
  private def sessionZone: java.time.ZoneId =
    java.time.ZoneId.of(sessionVars.synchronized(sessionVars("time_zone")))
  private def withSessionTz[T](body: => T): T = {
    val tz = sessionVars.synchronized(sessionVars("time_zone"))
    if (tz == "UTC") body
    else tzLock.synchronized {
      val key = "spark.sql.session.timeZone"
      val old = s.conf.get(key)
      s.conf.set(key, tz)
      try body finally s.conf.set(key, old)
    }
  }

  /** Execute one statement; Some(result) for SELECT/SHOW, None for DDL/DML. */
  def execute(sqlText: String): Option[DataFrame] = withSessionTz {
    // @@var reads resolve at the statement entry so they work in EVERY
    // statement body (INSERT ... SELECT @@x, SET y = @@x, CTAS), exactly
    // MySQL/Doris scope — not just top-level SELECT. Idempotent: resolved
    // values contain no '@@', and literals are protected by inLiteral.
    // Database qualification follows (db.tbl and current-db resolution →
    // canonical flat names), so authorization and dispatch below see
    // exactly the names the catalog keys on.
    guardReservedCreateName(sqlText.trim)
    val t = normalize(sqlText)
    val up = headOf(t)
    val st = statement(up)
    // fail CLOSED on scope-less orphan views for every reading/writing
    // statement; DROP (retract) and CREATE (re-scope) heads are the
    // remediation paths and stay allowed
    if (!up.startsWith("DROP ") && !up.startsWith("CREATE ")) failOrphanViews(t)
    denial(st, t).foreach { case (priv, o) =>
      sys.error(s"access denied: user '$currentUser' needs $priv on " +
        s"${if (o == "*") "*" else s"'$o'"}")
    }
    // registration skip: a statement that can change what a table view
    // serves advances the mutation epoch BEFORE dispatch and marks what it
    // writes with the new value — its one target table, or every table —
    // so the next select re-registers exactly the views stamped below
    // their table's mark (a Doris load publishes only its own table's
    // version). Read-only rows leave epoch and marks alone; that is what
    // keeps warm selects, and reads of tables nobody wrote, skippable.
    st.writes(t).foreach { w =>
      val e = mutationEpoch.incrementAndGet()
      if (w == "*") allTablesMark.accumulateAndGet(e, (a, b) => a max b)
      else tableMarks.merge(w, e, (a, b) => if (a >= b) a else b)
    }
    maintainScheduledMtmvs()
    st.run(t)
  }

  private def normalize(sqlText: String): String =
    rewriteDbRefs(rewriteVarReads(sqlText.trim.stripSuffix(";").trim))

  /** The lookup key of a statement: upper-cased, whitespace runs collapsed
    * to one space, so `DROP\nTABLE t` is the DROP TABLE statement. */
  private def headOf(text: String): String =
    text.trim.toUpperCase.replaceAll("\\s+", " ")

  /** `up` starts with the head keywords `h`, ending at a word boundary. */
  private def headed(up: String, h: String): Boolean =
    up.startsWith(h) && (up.length == h.length || !h.last.isLetter ||
      !(up.charAt(h.length).isLetterOrDigit || up.charAt(h.length) == '_'))

  // ------------------------------------------------------- statement table
  // Doris's FE parses a statement once into one typed statement that both
  // execution and the privilege check read ([doris: fe/fe-core/src/main/
  // cup/sql_parser.cup]). Here one row per statement form plays that part:
  // `execute` selects the row by its head keywords, and the row decides
  // the privilege (`needs`: the (privilege, objects) a non-root user must
  // hold, each row extracting its own target), the table it can write
  // (`writes`, which the registration skip reads) and the handler.
  // No two rows' heads overlap at a word boundary, so the table order is
  // immaterial; a statement matching no row is a query.
  private type Needs = String => Seq[(String, Iterable[String])]
  /** The table a row's statement `t` can change: None for a read
    * (SELECT/WITH/VALUES, SHOW, DESC, EXPLAIN, and ANALYZE, EXPORT and
    * BACKUP, which read tables and change no view), the one table the row's
    * target regex names, or "*" for every table. A row that can write a
    * table its regex does not name (several `INTO TABLE` clauses, a
    * rename, a restore, a dropped database) writes "*", and so does a
    * one-table row whose regex finds no target, as its privilege rule
    * then demands "*". */
  private type Writes = String => Option[String]
  private val reads: Writes = _ => None
  private val everything: Writes = _ => Some("*")
  private final class Stmt(val heads: Seq[String], val writes: Writes,
      val needs: Needs, val run: String => Option[DataFrame]) {
    def name: String = heads.head
  }
  private def write(heads: String*)(needs: Needs)(h: String => Unit) =
    new Stmt(heads, everything, needs, t => { h(t); None })
  private def writeRows(heads: String*)(needs: Needs)(h: String => DataFrame) =
    new Stmt(heads, everything, needs, t => Some(h(t)))
  private def read(heads: String*)(needs: Needs)(h: String => DataFrame) =
    new Stmt(heads, reads, needs, t => Some(h(t)))
  /** A write to the one table right after `head`; the same target regex
    * feeds the row's privilege rule. */
  private def writeTable(head: String)(needs: Regex => Needs)(h: String => Unit) = {
    val target = after(head)
    new Stmt(Seq(head), t => Some(first(target, t).getOrElse("*")),
      needs(target), t => { h(t); None })
  }

  // privilege rules. Sources of a gated write (INSERT ... SELECT, CTAS,
  // UPDATE ... FROM) additionally need SELECT_PRIV, matching Doris; a row
  // whose regex finds no target demands the privilege on all objects.
  private val ungated: Needs = _ => Nil
  private def global(priv: String): Needs = _ => Seq(priv -> Seq("*"))
  private val selects: Needs = t => Seq("SELECT_PRIV" -> directRefs(t))
  private val creates: Needs =
    t => Seq("CREATE_PRIV" -> Seq("*"), "SELECT_PRIV" -> directRefs(t))
  private val alters: Needs = t => Seq("ALTER_PRIV" -> directRefs(t))
  private def onObject(priv: String, re: Regex): Needs =
    t => Seq(priv -> Seq(first(re, t).getOrElse("*")))
  private def loads(re: Regex): Needs = t => {
    val tgt = first(re, t)
    Seq("LOAD_PRIV" -> Seq(tgt.getOrElse("*")),
      "SELECT_PRIV" -> (directRefs(t) -- tgt))
  }
  // load-job control (routine-load state, CANCEL LOAD) names no table
  private val controlsLoads: Needs =
    t => Seq("LOAD_PRIV" -> Seq("*"), "SELECT_PRIV" -> directRefs(t))
  private val altersView: Needs = t => {
    val v = first(after("ALTER VIEW"), t).getOrElse("*")
    Seq("ALTER_PRIV" -> Seq(v), "SELECT_PRIV" -> (directRefs(t) - v))
  }
  // own grants are always visible; listing someone else's needs GRANT
  private val grantsOf: Needs = {
    case ShowGrantsRe(u) if u == null || u == currentUser => Nil
    case _ => Seq("GRANT_PRIV" -> Seq("*"))
  }

  private def first(re: Regex, t: String): Option[String] =
    re.findFirstMatchIn(t).map(_.group(1))
  private def headRe(head: String): String = "(?is)^" + head.replace(" ", "\\s+")
  /** The object right after `head`: `DROP TABLE [IF EXISTS] t`, `UPDATE t`,
    * `CREATE TABLE [IF NOT EXISTS] t`. */
  private def after(head: String): Regex =
    (headRe(head) + """\s+(?:TABLE\s+|IF\s+(?:NOT\s+)?EXISTS\s+)?`?(\w+)`?""").r
  /** The object of `head name ON t` (indexes, routine loads). */
  private def on(head: String): Regex =
    (headRe(head) + """\s+\S+\s+ON\s+`?(\w+)`?""").r

  // sql_select_limit caps TOP-LEVEL SELECT results only (the MySQL/Doris
  // contract) — internal SELECT consumers (CTAS, OUTFILE) call select()
  // directly and stay uncapped
  private val query =
    read("SELECT", "WITH", "VALUES", "(")(selects)(t => applySelectLimit(select(t)))

  private val statements: Seq[Stmt] = Seq(
    write("CREATE DATABASE")(global("CREATE_PRIV"))(createDatabase),
    write("DROP DATABASE")(global("DROP_PRIV"))(dropDatabase),
    write("USE")(ungated)(useDatabase), // session navigation, ungated
    read("SHOW DATABASES")(ungated)(_ => showDatabases()),
    writeTable("CREATE TABLE")(_ => creates)(createTable),
    write("CREATE INDEX")(onObject("ALTER_PRIV", on("CREATE INDEX"))) {
      case CreateIndexRe(iname, tname, rest) =>
        addIndex(tname, s"INDEX $iname $rest")
      case t => sys.error(s"unparseable CREATE INDEX: ${t.take(80)}")
    },
    write("DROP INDEX")(onObject("ALTER_PRIV", on("DROP INDEX"))) {
      case DropIndexRe(iname, tname) => dropIndex(tname, iname)
      case t => sys.error(s"unparseable DROP INDEX: ${t.take(80)}")
    },
    write("CREATE MATERIALIZED VIEW")(alters)(createMv),
    write("CREATE VIEW", "CREATE OR REPLACE VIEW")(creates)(createView),
    writeTable("INSERT OVERWRITE")(loads)(insertOverwrite),
    writeTable("INSERT INTO")(loads)(insertInto),
    write("LOAD LABEL")(loads("""(?is)\bINTO\s+TABLE\s+`?(\w+)`?""".r))(loadLabel),
    write("CREATE ROUTINE LOAD")(loads(on("CREATE ROUTINE LOAD")))(createRoutineLoad),
    write("STOP ROUTINE LOAD")(controlsLoads)(stopRoutineLoad),
    write("PAUSE ROUTINE LOAD")(controlsLoads)(pauseRoutineLoad),
    write("RESUME ROUTINE LOAD")(controlsLoads)(resumeRoutineLoad),
    read("SHOW ROUTINE LOAD")(ungated)(_ => showRoutineLoad()),
    write("CANCEL LOAD")(controlsLoads)(cancelLoad),
    read("BACKUP SNAPSHOT")(global("ADMIN_PRIV"))(backup),
    writeRows("RESTORE SNAPSHOT")(global("ADMIN_PRIV"))(restore),
    read("SHOW SNAPSHOT")(ungated)(showSnapshot),
    read("SHOW BACKUP")(ungated)(_ => showBackupJobs(restoreSide = false)),
    read("SHOW RESTORE")(ungated)(_ => showBackupJobs(restoreSide = true)),
    writeTable("UPDATE")(loads)(update),
    writeTable("DELETE FROM")(loads)(deleteFrom),
    write("DROP MATERIALIZED VIEW")(global("DROP_PRIV"))(dropMv),
    write("DROP VIEW")(onObject("DROP_PRIV", after("DROP VIEW")))(dropView),
    write("ALTER VIEW")(altersView)(alterView),
    read("SHOW CREATE MATERIALIZED VIEW")(selects)(showCreateMtmv),
    read("SHOW CREATE VIEW")(selects)(showCreateView),
    write("DROP TABLE")(onObject("DROP_PRIV", after("DROP TABLE")))(dropTable),
    write("ALTER TABLE")(onObject("ALTER_PRIV", after("ALTER TABLE")))(alterTable),
    writeTable("TRUNCATE TABLE")(onObject("ALTER_PRIV", _))(truncate),
    writeRows("REFRESH MATERIALIZED VIEW")(alters)(refreshStmt),
    read("EXPORT TABLE")(onObject("SELECT_PRIV", after("EXPORT TABLE")))(exportTable),
    read("EXPLAIN")(selects)(explainStmt),
    read("ANALYZE TABLE")(selects)(analyzeStmt),
    read("SHOW COLUMN STATS")(selects)(showColumnStats),
    read("SHOW INDEX", "SHOW INDEXES")(selects)(showIndex),
    read("SHOW DYNAMIC PARTITION TABLES")(ungated)(_ => showDynamicPartitionTables()),
    read("SHOW TEMPORARY PARTITIONS")(selects)(showTempPartitions),
    read("SHOW PARTITIONS")(selects)(showPartitions),
    read("SHOW CREATE TABLE")(selects)(showCreateTable),
    read("SHOW COLUMNS")(selects)(showColumns),
    read("SHOW LOAD")(selects)(showLoad),
    read("SHOW DATA")(selects)(showData),
    write("CREATE USER")(global("GRANT_PRIV"))(createUser),
    write("DROP USER")(global("GRANT_PRIV"))(dropUser),
    write("CREATE ROLE")(global("GRANT_PRIV"))(createRole),
    write("DROP ROLE")(global("GRANT_PRIV"))(dropRole),
    read("SHOW ROLES")(global("GRANT_PRIV"))(_ => showRoles()),
    write("GRANT")(global("GRANT_PRIV"))(grantStmt),
    write("REVOKE")(global("GRANT_PRIV"))(revokeStmt),
    read("SHOW GRANTS")(grantsOf)(showGrants),
    read("SHOW VARIABLES", "SHOW SESSION VARIABLES", "SHOW GLOBAL VARIABLES")(
      selects)(showVariables),
    write("SET")(selects)(setVariable),
    read("SHOW TABLES")(ungated)(_ => showTables()),
    read("DESC", "DESCRIBE")(selects)(describe),
    query)

  private def statement(up: String): Stmt =
    statements.find(_.heads.exists(headed(up, _))).getOrElse(query)

  /** The first (privilege, object) the current user lacks for statement
    * `t` under row `st`. root holds everything and skips the scan. */
  private def denial(st: Stmt, t: String): Option[(String, String)] =
    if (currentUser == "root") None
    else st.needs(t).iterator.flatMap { case (priv, objs) =>
      objs.find(o => !hasPriv(currentUser, priv, o)).map(priv -> _)
    }.nextOption()

  /** Side-effect free, for tests: the row `sqlText` selects (by first
    * head), the table it can write, and the current user's first denial. */
  private[graft] def classify(sqlText: String) = {
    val t = normalize(sqlText)
    val st = statement(headOf(t))
    (st.name, st.writes(t), denial(st, t))
  }
  private[graft] def statementNames: Seq[String] = statements.map(_.name)
  /** For tests: a table's rowset dir and its read schema. */
  private[graft] def readSchemaOf(name: String) = {
    val t = state(name)
    (t.dir, DorisDdl.readSchema(t.def_))
  }

  /** Execute a SELECT (or any statement returning rows). */
  def sql(sqlText: String): DataFrame =
    execute(sqlText).getOrElse(sys.error(
      s"statement returns no rows: ${sqlText.take(60)}"))

  /** Run a script of ';'-separated statements; returns the last SELECT. */
  def script(statements: String*): DataFrame =
    statements.flatMap(st => execute(st)).lastOption.getOrElse(
      sys.error("script contained no SELECT"))

  // ---------------------------------------------------------------- CREATE

  private val CreateRe =
    """(?is)^CREATE\s+TABLE\s+`?(\w+)`?\s*\((.*)""".r

  // CTAS: clauses (key/distribution) precede AS SELECT, the column list is
  // derived from the SELECT's schema — Doris CREATE TABLE ... AS SELECT
  // ([doris: fe/.../analysis/CreateTableAsSelectStmt.java])
  private val CtasRe =
    """(?is)^CREATE\s+TABLE\s+`?(\w+)`?\s+((?:(?!\bAS\s+SELECT\b).)*?)\bAS\s+(SELECT\s+.*)$""".r

  private def createTableAs(name: String, clauses: String, sel: String): Unit = {
    val df = select(sel)
    val cols = df.schema.fields.map(f =>
      ColDef(f.name, f.dataType.sql, None, None)).toSeq
    // the created table must CARRY the declared key model — an accepted
    // UNIQUE KEY clause silently creating a DUPLICATE table changes every
    // later INSERT from upsert to append. AGGREGATE KEY rejects loudly: a
    // CTAS column list (derived from the SELECT) cannot declare the
    // per-value-column aggregate markers an AGGREGATE table requires.
    val upc = clauses.toUpperCase
    val keysType =
      if (upc.contains("UNIQUE KEY")) "UNIQUE"
      else if (upc.contains("AGGREGATE KEY")) sys.error(
        s"$name: AGGREGATE KEY ... AS SELECT is not supported (value columns " +
          "need aggregate markers; CREATE the table, then INSERT INTO ... SELECT)")
      else "DUPLICATE"
    val keyCols = clauseParen(clauses, """(?is)\b(?:DUPLICATE|UNIQUE)\s+KEY\s*\(""")
      .map(topLevelSplit(_).map(stripIdent))
      .getOrElse(Seq(cols.head.name)) // Doris defaults the leading column(s)
    require(cols.map(_.name).startsWith(keyCols),
      s"$name: KEY($keyCols) must be a prefix of the SELECT's columns")
    val (randomDist, hashCol, buckets, autoBuckets) =
      parseDistribution(name, clauses, keysType)
    require(tables.synchronized(!tables.contains(name)),
      s"table $name already exists")
    val st = TableState(
      TableDef(name, cols, keysType, keyCols, None, Nil, hashCol, buckets,
        randomDist = randomDist, autoBuckets = autoBuckets),
      graft.TempDirs.create(s"graft_ddl_$name"))
    tables.synchronized { tables(name) = st }
    load(st, df)
  }

  /** `DISTRIBUTED BY HASH(col) | RANDOM` + `BUCKETS n | AUTO` ([doris:
    * fe/.../analysis/DistributionDesc.java; RANDOM and AUTO are the 2.0
    * spellings]) → (randomDist, hashCol ("" when random), buckets (0 when
    * AUTO), autoBuckets). RANDOM is round-robin tablet layout, legal on
    * DUPLICATE tables only — the merge models need same-key rows
    * co-located by the distribution hash. */
  private def parseDistribution(name: String, clauses: String,
      keysType: String): (Boolean, String, Int, Boolean) = {
    val randomDist =
      """(?is)\bDISTRIBUTED\s+BY\s+RANDOM\b""".r.findFirstIn(clauses).isDefined
    val hashCol =
      if (randomDist) ""
      else clauseParen(clauses, """(?is)\bDISTRIBUTED\s+BY\s+HASH\s*\(""")
        .map(x => stripIdent(x.trim))
        .getOrElse(sys.error(
          s"$name: missing DISTRIBUTED BY HASH(col) (or DISTRIBUTED BY RANDOM)"))
    require(!randomDist || keysType == "DUPLICATE",
      s"$name: DISTRIBUTED BY RANDOM requires a DUPLICATE table " +
        "(UNIQUE/AGGREGATE merge-on-read needs key-hash tablet locality)")
    val autoBuckets =
      """(?is)\bBUCKETS\s+AUTO\b""".r.findFirstIn(clauses).isDefined
    val buckets =
      if (autoBuckets) 0
      else """(?is)\bBUCKETS\s+(\d+)""".r.findFirstMatchIn(clauses)
        .map(_.group(1).toInt).getOrElse(10)
    (randomDist, hashCol, buckets, autoBuckets)
  }

  private val CreateLikeRe =
    """(?is)^CREATE\s+TABLE\s+`?(\w+)`?\s+LIKE\s+`?(\w+)`?$""".r

  private def createTable(text: String): Unit = text match {
    case CreateLikeRe(name, srcName) =>
      // CREATE TABLE t2 LIKE t: copy the full definition (key model,
      // partitions — including DROPPED holes, as a SHOW CREATE replay
      // would — distribution, sequence column), no data. Physical-lineage
      // metadata resets: the new table has no rowsets, so addedVer
      // backfill stamps, rename priors and dropped names do not carry over.
      val src = state(srcName).def_
      require(tables.synchronized(!tables.contains(name)),
        s"table $name already exists")
      val st = TableState(
        src.copy(name = name,
          cols = src.cols.map(_.copy(addedVer = 0L, priors = Nil)),
          droppedCols = Map.empty),
        graft.TempDirs.create(s"graft_ddl_$name"))
      tables.synchronized { tables(name) = st }
    case CtasRe(name, clauses, sel) => createTableAs(name, clauses, sel)
    case CreateRe(name, rest0) =>
      val (colsText, afterCols) = untilMatchingParen(rest0)
      val rest = afterCols.trim
      val up = rest.toUpperCase
      val keysType =
        if (up.contains("UNIQUE KEY")) "UNIQUE"
        else if (up.contains("AGGREGATE KEY")) "AGGREGATE"
        else "DUPLICATE"
      val keyCols = clauseParen(rest, """(?is)\b(?:DUPLICATE|UNIQUE|AGGREGATE)\s+KEY\s*\(""")
        .map(topLevelSplit(_).map(stripIdent))
        .getOrElse(sys.error(s"CREATE TABLE $name: missing KEY clause"))
      // column-list items: column defs, plus inline `INDEX name (col)
      // USING INVERTED` entries (Doris puts index defs inside the parens)
      val (idxItems, colItems) = topLevelSplit(colsText, angles = true)
        .partition(i => """(?is)^INDEX\s""".r.findFirstIn(i).isDefined)
      val cols = colItems.map(parseColDef)
      val indexes = idxItems.map(parseIndexDef(name, _))
      // Doris invariant: key columns lead the schema, value aggregates only
      // after them; REPLACE/SUM/… markers are only legal on AGGREGATE tables
      require(cols.map(_.name).startsWith(keyCols),
        s"$name: KEY($keyCols) must be a prefix of the column list")
      if (keysType != "AGGREGATE")
        require(cols.forall(_.agg.isEmpty),
          s"$name: column aggregate markers require AGGREGATE KEY")
      else cols.foreach { c =>
        require(keyCols.contains(c.name) == c.agg.isEmpty,
          s"$name: value column ${c.name} needs an aggregate marker (SUM/MAX/MIN/REPLACE)")
      }
      // a VARIANT document has no total order or stable hash contract:
      // never a key / distribution / partition column (the Doris rule)
      cols.filter(_.variant).foreach(c =>
        require(!keyCols.contains(c.name),
          s"$name: VARIANT column ${c.name} cannot be a key column"))
      require(cols.count(_.autoInc.isDefined) <= 1,
        s"$name: at most one AUTO_INCREMENT column per table")
      // AUTO PARTITION (Doris 2.1): no declared specs — partitions
      // materialize per date_trunc bucket as loads arrive
      val autoSpec = AutoPartRe.findFirstMatchIn(rest).map { m =>
        val g = m.group(2).toLowerCase
        require(Seq("day", "month", "year").contains(g),
          s"$name: AUTO PARTITION granularity must be day/month/year, got $g")
        (stripIdent(m.group(1)), g)
      }
      val rangeSpec =
        if (autoSpec.isDefined) None
        else clauseParen(rest, """(?is)\bPARTITION\s+BY\s+RANGE\s*\(""")
        .map { inner =>
          val pc = stripIdent(inner.trim)
          val specs = clauseParen(rest.substring(up.indexOf("PARTITION BY RANGE")),
            """(?is)RANGE\s*\([^)]*\)\s*\(""")
            .getOrElse(sys.error(s"$name: PARTITION BY RANGE needs partition specs"))
          (pc, topLevelSplit(specs).flatMap(parsePartitionSpecs))
        }
      // PARTITION BY LIST(col): each partition owns an explicit value set
      val listSpec =
        if (autoSpec.isDefined || rangeSpec.isDefined) None
        else clauseParen(rest, """(?is)\bPARTITION\s+BY\s+LIST\s*\(""")
        .map { inner =>
          val pc = stripIdent(inner.trim)
          val specs = clauseParen(rest.substring(up.indexOf("PARTITION BY LIST")),
            """(?is)LIST\s*\([^)]*\)\s*\(""")
            .getOrElse(sys.error(s"$name: PARTITION BY LIST needs partition specs"))
          (pc, topLevelSplit(specs).flatMap(parsePartitionSpecs))
        }
      listSpec.foreach { case (_, specs) =>
        specs.foreach(p => require(p.inValues.isDefined,
          s"$name: LIST partitions need VALUES IN specs (${p.name})"))
        val all = specs.flatMap(_.inValues.get)
        require(all.distinct.size == all.size,
          s"$name: a value may belong to only one LIST partition")
      }
      val partSpec = rangeSpec orElse listSpec
      val (randomDist, hashCol, buckets, autoBuckets) =
        parseDistribution(name, rest, keysType)
      require(!cols.exists(c => c.variant && c.name == hashCol),
        s"$name: VARIANT column $hashCol cannot be the distribution column")
      (partSpec.map(_._1) orElse autoSpec.map(_._1)).foreach { pc =>
        require(cols.exists(_.name == pc), s"$name: unknown partition column $pc")
        require(!cols.exists(c => c.variant && c.name == pc),
          s"$name: VARIANT column $pc cannot be the partition column")
        if (keysType != "DUPLICATE")
          require(keyCols.contains(pc),
            s"$name: partition column $pc must be a key column on $keysType tables")
      }
      partSpec.foreach { case (_, specs) =>
        require(specs.map(_.name).distinct.size == specs.size,
          s"$name: duplicate partition names")
      }
      rangeSpec.foreach { case (_, specs) =>
        require(specs.init.forall(_.bound.isDefined),
          s"$name: only the last partition may be MAXVALUE")
      }
      // PROPERTIES ("k" = "v", ...): the statement-level knobs; mapped:
      // function_column.sequence_col (UNIQUE merge order) and
      // dynamic_partition.enable/start (AUTO-bucket retention)
      val props = clauseParen(rest, """(?is)\bPROPERTIES\s*\(""")
        .map(parseProps).getOrElse(Map.empty)
      val seqCol = props.get("function_column.sequence_col")
      seqCol.foreach { sc =>
        require(keysType == "UNIQUE",
          s"$name: function_column.sequence_col requires a UNIQUE KEY table")
        require(cols.exists(_.name == sc) && !keyCols.contains(sc),
          s"$name: sequence_col $sc must be a declared non-key column")
        require(!cols.exists(c => c.variant && c.name == sc),
          s"$name: VARIANT column $sc cannot order the merge (sequence_col)")
      }
      // dynamic_partition retention over AUTO buckets: start = how many
      // periods BACK stay live; older buckets are dropped at load time
      // ("now" is DATA time — the newest materialized bucket — which keeps
      // retention deterministic and backfill-safe, vs Doris's wall clock)
      val (retainStart: Option[Int], dynEnd: Option[Int]) =
        if (!props.get("dynamic_partition.enable").contains("true"))
          (None, None)
        else {
          require(autoSpec.isDefined,
            s"$name: dynamic_partition retention requires AUTO PARTITION here")
          props.get("dynamic_partition.time_unit").foreach(tu =>
            require(tu.toLowerCase == autoSpec.get._2,
              s"$name: dynamic_partition.time_unit $tu must match the AUTO " +
                s"granularity ${autoSpec.get._2}"))
          val st = props.getOrElse("dynamic_partition.start",
            sys.error(s"$name: dynamic_partition.start is required")).toInt
          require(st < 0, s"$name: dynamic_partition.start must be negative")
          val en = props.get("dynamic_partition.end").map(_.toInt)
          en.foreach(e => require(e > 0,
            s"$name: dynamic_partition.end must be positive"))
          (Some(st), en)
        }
      // bloom_filter_columns: parquet bloom filters per rowset file; Doris
      // rejects float/double bloom columns (no stable hashable equality)
      val bloomCols = props.get("bloom_filter_columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      bloomCols.foreach { bc =>
        val c = cols.find(_.name == bc)
          .getOrElse(sys.error(s"$name: unknown bloom_filter_columns column $bc"))
        require(!Seq("FLOAT", "DOUBLE").contains(c.sparkType.toUpperCase),
          s"$name: bloom_filter_columns does not support ${c.sparkType} ($bc)")
      }
      indexes.foreach(ix => validateIndex(name, cols, ix))
      require(indexes.map(_.name).distinct.size == indexes.size,
        s"$name: duplicate index names")
      // colocate_with: joining group members on the distribution key is
      // shuffle-free ONLY if every member agrees on bucket count and
      // distribution-column type — enforce the group invariant at create
      val coloGroup = props.get("colocate_with").filter(_.nonEmpty)
      coloGroup.foreach { g =>
        require(!randomDist,
          s"$name: colocate_with requires DISTRIBUTED BY HASH (a colocate " +
            "group's shuffle-free join keys on the distribution column)")
        require(!autoBuckets,
          s"$name: colocate_with requires a declared BUCKETS count " +
            "(AUTO sizes per load, breaking the group's bucket agreement)")
        val hType = cols.find(_.name == hashCol).map(_.sparkType)
          .getOrElse(sys.error(s"$name: unknown distribution column $hashCol"))
        tables.synchronized(tables.values.toSeq)
          .filter(_.def_.colocateWith.contains(g)).foreach { m =>
            require(m.def_.buckets == buckets,
              s"$name: colocate group $g has BUCKETS ${m.def_.buckets} " +
                s"(${m.def_.name}), got $buckets")
            val mType = m.def_.cols.find(_.name == m.def_.hashCol).get.sparkType
            require(mType == hType,
              s"$name: colocate group $g distributes on $mType " +
                s"(${m.def_.name}.${m.def_.hashCol}), got $hType ($hashCol)")
          }
      }
      require(tables.synchronized(!tables.contains(name)),
        s"table $name already exists")
      val st = TableState(
        TableDef(name, cols, keysType, keyCols,
          partSpec.map(_._1) orElse autoSpec.map(_._1),
          partSpec.map(_._2).getOrElse(Nil),
          hashCol, buckets, randomDist = randomDist,
          autoBuckets = autoBuckets, autoGran = autoSpec.map(_._2),
          seqCol = seqCol, retainStart = retainStart, dynEnd = dynEnd,
          indexes = indexes, bloomCols = bloomCols,
          listPart = listSpec.isDefined, colocateWith = coloGroup),
        graft.TempDirs.create(s"graft_ddl_$name"))
      tables.synchronized { tables(name) = st }
    case _ => sys.error(s"unparseable CREATE TABLE: ${text.take(80)}")
  }

  private def parseColDef(text: String): ColDef = {
    val m = """(?is)^\s*`?(\w+)`?\s+(\w+(?:\s*<.*>)?(?:\s*\([^)]*\))?)\s*(.*)$""".r
      .findFirstMatchIn(text)
      .getOrElse(sys.error(s"unparseable column def: $text"))
    var rest = m.group(3).trim
    // generated column: `AS (expr)` — extracted FIRST (paren-matched, so
    // an expression containing DEFAULT/SUM text can't confuse the
    // marker/default parses below, which then see only the remainder)
    val gen = """(?is)^AS\s*\(""".r.findFirstMatchIn(rest).map { g =>
      val (inner, after) = untilMatchingParen(rest.substring(g.end))
      rest = after.trim
      inner.trim
    }
    // longest-first: REPLACE_IF_NOT_NULL must not lex as REPLACE
    val aggRe =
      """(?is)^(REPLACE_IF_NOT_NULL|BITMAP_UNION|HLL_UNION|SUM|MAX|MIN|REPLACE)\b""".r
    val agg = aggRe.findFirstMatchIn(rest).map(_.group(1).toUpperCase)
    val default = """(?is)\bDEFAULT\s+"([^"]*)"|\bDEFAULT\s+'([^']*)'""".r
      .findFirstMatchIn(rest)
      .map(mm => Option(mm.group(1)).getOrElse(mm.group(2)))
    gen.foreach { _ =>
      require(agg.isEmpty && default.isEmpty,
        s"${m.group(1)}: a generated column takes no aggregate marker or DEFAULT")
    }
    // AGG_STATE<fn(inner)> [GENERIC] (Doris 2.1): the generic aggregate-
    // state column. Only legal on AGGREGATE tables (enforced by the
    // marker rule at create — GENERIC is its marker); no DEFAULT, no
    // generated expr, and the remainder of the def must be empty or the
    // GENERIC keyword.
    val AggStateRe = """(?is)^AGG_STATE\s*<\s*(\w+)\s*\(\s*(.*?)\s*\)\s*>$""".r
    m.group(2).trim match {
      case AggStateRe(fn0, inner0) =>
        val fn = fn0.toLowerCase
        val inner = inner0.trim
        require(Set("sum", "count", "min", "max", "avg")(fn),
          s"${m.group(1)}: unsupported AGG_STATE function $fn0 " +
            "(sum/count/min/max/avg)")
        require(rest.isEmpty || rest.equalsIgnoreCase("GENERIC"),
          s"${m.group(1)}: an AGG_STATE column takes only the GENERIC " +
            s"keyword, got: $rest")
        val innerBase = inner.takeWhile(_ != '(').trim.toUpperCase
        val integral =
          Set("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT")(innerBase)
        if (fn == "sum" || fn == "avg")
          require(integral ||
            Set("FLOAT", "DOUBLE")(innerBase),
            s"${m.group(1)}: AGG_STATE<$fn(...)> needs a numeric inner " +
              s"type, got $inner")
        val storage = fn match {
          case "count" => "BIGINT"
          case "sum" => if (integral) "BIGINT" else "DOUBLE"
          case "avg" => "STRUCT<s: DOUBLE, c: BIGINT>"
          case _ => sparkType(inner) // min/max keep the inner type
        }
        return ColDef(m.group(1), storage, Some("GENERIC"), None,
          aggState = Some((fn, inner)))
      case _ =>
    }
    // VARIANT (Doris 2.1): text-ingested schemaless document. No DEFAULT
    // (Doris rejects defaults on VARIANT), no generated expr; the only
    // legal aggregate markers are the REPLACE family (SUM/MIN/MAX over a
    // document are meaningless)
    val isVariant = m.group(2).trim.toUpperCase == "VARIANT"
    if (isVariant) {
      require(default.isEmpty,
        s"${m.group(1)}: a VARIANT column takes no DEFAULT")
      require(gen.isEmpty,
        s"${m.group(1)}: a VARIANT column cannot be generated")
      agg.foreach(a => require(a.startsWith("REPLACE"),
        s"${m.group(1)}: a VARIANT value column only aggregates as REPLACE"))
    }
    // AUTO_INCREMENT [(start)] — BIGINT only, no DEFAULT / generated /
    // aggregate marker (Doris's constraints on the auto column)
    val autoInc = """(?is)\bAUTO_INCREMENT(?:\s*\(\s*(\d+)\s*\))?""".r
      .findFirstMatchIn(rest)
      .map(mm => Option(mm.group(1)).map(_.toLong).getOrElse(1L))
    autoInc.foreach { _ =>
      require(sparkType(m.group(2)).equalsIgnoreCase("BIGINT"),
        s"${m.group(1)}: AUTO_INCREMENT needs a BIGINT column, " +
          s"got ${m.group(2)}")
      require(default.isEmpty && gen.isEmpty && agg.isEmpty && !isVariant,
        s"${m.group(1)}: AUTO_INCREMENT takes no DEFAULT, generated " +
          "expression or aggregate marker")
    }
    ColDef(m.group(1), if (isVariant) "STRING" else sparkType(m.group(2)),
      agg, default, gen = gen, variant = isVariant, autoInc = autoInc)
  }

  /** Doris type name → Spark SQL DDL type (SURVEY §1.2 mapping);
    * ARRAY<T> / MAP<K,V> map their element types recursively. */
  private def sparkType(t: String): String = {
    val trimmed = t.trim
    val lt = trimmed.indexOf('<')
    if (lt >= 0 && trimmed.endsWith(">")) {
      val inner = trimmed.substring(lt + 1, trimmed.length - 1)
      trimmed.substring(0, lt).trim.toUpperCase match {
        case "ARRAY" => s"ARRAY<${sparkType(inner)}>"
        case "MAP" =>
          val Seq(k, v) = topLevelSplit(inner, angles = true)
          s"MAP<${sparkType(k)}, ${sparkType(v)}>"
        case "STRUCT" =>
          val fields = topLevelSplit(inner, angles = true).map { f =>
            val Array(n, ft) = f.split(":", 2)
            s"${n.trim}: ${sparkType(ft)}"
          }
          s"STRUCT<${fields.mkString(", ")}>"
        case other => sys.error(s"unsupported generic type $other<...>")
      }
    } else sparkTypeBase(trimmed)
  }

  private def sparkTypeBase(t: String): String = {
    val base = t.takeWhile(_ != '(').trim.toUpperCase
    base match {
      case "DATETIME" => "TIMESTAMP"
      // JSON/JSONB: stored as text (Doris stores a binary-encoded document;
      // the query surface — get_json_*, json_extract via the dialect — is
      // string-driven here either way, §2.8 fn_json)
      case "VARCHAR" | "CHAR" | "STRING" | "TEXT" | "JSON" | "JSONB" => "STRING"
      case "BITMAP" | "HLL" => "BINARY" // serialized sketch columns (§1.2)
      case "LARGEINT" => "DECIMAL(38,0)"
      case "DECIMAL" | "DECIMALV3" => "DECIMAL" + t.dropWhile(_ != '(')
      case b => b // BOOLEAN TINYINT SMALLINT INT BIGINT FLOAT DOUBLE DATE
    }
  }

  private val AutoPartRe =
    """(?is)\bAUTO\s+PARTITION\s+BY\s+RANGE\s*\(\s*date_trunc\s*\(\s*`?(\w+)`?\s*,\s*'(\w+)'\s*\)\s*\)""".r

  // PARTITION pname VALUES LESS THAN ('lit') | (MAXVALUE)
  private val PartRe =
    """(?is)^\s*PARTITION\s+`?(\w+)`?\s+VALUES\s+LESS\s+THAN\s*\(\s*(?:'([^']*)'|(MAXVALUE))\s*\)\s*$""".r
  // PARTITION pname VALUES [('lo'), ('hi'|MAXVALUE)) — Doris fixed-range
  // syntax; the explicit lower bound is what lets a post-DROP hole
  // round-trip through SHOW CREATE TABLE
  private val FixedPartRe =
    """(?is)^\s*PARTITION\s+`?(\w+)`?\s+VALUES\s+\[\s*\(\s*'([^']*)'\s*\)\s*,\s*\(\s*(?:'([^']*)'|(MAXVALUE))\s*\)\s*\)\s*$""".r

  // PARTITION pname VALUES IN ('a' [, 'b' ...]) — LIST partition spec
  private val ListPartRe =
    """(?is)^\s*PARTITION\s+`?(\w+)`?\s+VALUES\s+IN\s*\((.*)\)\s*$""".r

  /** `__tmp_` prefixes the DIRECTORY names of temporary-partition staging
    * rowsets, which every read path treats as invisible — a user partition
    * named that way would have its data silently hidden and skipped by
    * BACKUP. Reserved at every naming site (parse + rename). */
  private def requireNotReserved(pname: String): String = {
    require(!pname.startsWith("__tmp_"),
      s"partition name $pname is reserved (the __tmp_ prefix marks " +
        "temporary-partition staging data)")
    pname
  }

  private def parsePartition(text: String): PartDef = text match {
    case PartRe(name, lit, _) => PartDef(requireNotReserved(name), Option(lit))
    case FixedPartRe(name, lo, hi, _) =>
      PartDef(requireNotReserved(name), Option(hi), lower = Some(lo))
    case ListPartRe(name, vals) =>
      val vs = topLevelSplit(vals).map(v =>
        v.trim.stripPrefix("'").stripSuffix("'"))
      require(vs.nonEmpty, s"partition $name: VALUES IN needs at least one value")
      PartDef(requireNotReserved(name), None, inValues = Some(vs))
    case _ => sys.error(s"unparseable partition spec: $text")
  }

  // Doris BATCH partition creation ([doris: fe/.../analysis/PartitionDesc
  // .java] — the multi-partition spelling production DDL uses): `FROM
  // ("lo") TO ("hi") INTERVAL n [HOUR|DAY|WEEK|MONTH|YEAR]` (dates /
  // datetimes; unit-less = numeric stepping). Expands at PARSE time onto
  // the SAME PartDef machinery as an explicit list — each generated
  // partition owns [start, start+step) in fixed-range form, so SHOW
  // CREATE TABLE round-trips the expansion as explicit bounds and a later
  // DROP PARTITION leaves the same rejecting hole every other range
  // partition does. A batch segment composes freely with explicit
  // PARTITION items in the same spec list.
  private val BatchPartRe =
    ("""(?is)^\s*FROM\s*\(\s*["']?([^'")]+?)["']?\s*\)\s*TO\s*\(\s*["']?""" +
      """([^'")]+?)["']?\s*\)\s*INTERVAL\s+(\d+)(?:\s+(HOUR|DAY|WEEK|MONTH|YEAR))?\s*$""").r

  private def parsePartitionSpecs(text: String): Seq[PartDef] = text match {
    case BatchPartRe(lo, hi, n, unit) =>
      expandBatchPartition(lo.trim, hi.trim, n.toInt, Option(unit))
    case _ => Seq(parsePartition(text))
  }

  private def expandBatchPartition(lo: String, hi: String, n: Int,
      unit: Option[String]): Seq[PartDef] = {
    require(n >= 1, s"batch partition INTERVAL must be >= 1, got $n")
    val out = mutable.ArrayBuffer[PartDef]()
    def emit(name: String, a: String, b: String): Unit = {
      require(out.size < 4096,
        s"batch partition FROM ($lo) TO ($hi) INTERVAL $n expands to more " +
          "than 4096 partitions")
      out += PartDef(requireNotReserved(name), Some(b), lower = Some(a))
    }
    unit.map(_.toUpperCase) match {
      case None => // numeric stepping: FROM (1) TO (100) INTERVAL 10
        val (a, b) = (lo.toLong, hi.toLong)
        require(a < b, s"batch partition FROM ($a) must be below TO ($b)")
        var cur = a
        while (cur < b) {
          val nxt = math.min(cur + n, b)
          emit(s"p_$cur", cur.toString, nxt.toString)
          cur = nxt
        }
      case Some(u) =>
        val isDt = lo.contains(":") || u == "HOUR"
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern(if (isDt) "yyyy-MM-dd HH:mm:ss" else "yyyy-MM-dd")
        def parse(v: String): java.time.LocalDateTime =
          if (isDt) java.time.LocalDateTime.parse(v, fmt)
          else java.time.LocalDate.parse(v, fmt).atStartOfDay()
        val (a, b) = (parse(lo), parse(hi))
        require(a.isBefore(b), s"batch partition FROM ($lo) must be below TO ($hi)")
        require(u != "HOUR" || isDt,
          "INTERVAL n HOUR needs DATETIME bounds ('yyyy-MM-dd HH:mm:ss')")
        def step(d: java.time.LocalDateTime) = u match {
          case "HOUR" => d.plusHours(n)
          case "DAY" => d.plusDays(n)
          case "WEEK" => d.plusWeeks(n)
          case "MONTH" => d.plusMonths(n)
          case "YEAR" => d.plusYears(n)
        }
        def fmtOut(d: java.time.LocalDateTime): String = d.format(fmt)
        def pname(d: java.time.LocalDateTime): String =
          "p_" + d.format(java.time.format.DateTimeFormatter.ofPattern(
            if (isDt) "yyyyMMddHH" else "yyyyMMdd"))
        var cur = a
        while (cur.isBefore(b)) {
          val nxt0 = step(cur)
          val nxt = if (nxt0.isAfter(b)) b else nxt0
          emit(pname(cur), fmtOut(cur), fmtOut(nxt))
          cur = nxt
        }
    }
    out.toSeq
  }

  // ----------------------------------------------------- inverted indexes

  // INDEX name (`col`) USING kind [PROPERTIES("k"="v", ...)] — the inline
  // (CREATE TABLE) and the standalone (CREATE INDEX / ALTER TABLE ADD
  // INDEX) spellings share it
  private val IndexItemRe =
    """(?is)^INDEX\s+`?(\w+)`?\s*\(\s*`?(\w+)`?\s*\)\s+USING\s+(\w+)\s*(?:PROPERTIES\s*\((.*)\))?$""".r

  private def parseIndexDef(table: String, text: String): IndexDef =
    text.trim match {
      case IndexItemRe(iname, icol, kind, propText) =>
        val props = Option(propText).map(parseProps).getOrElse(Map.empty)
        kind.toUpperCase match {
          case "INVERTED" => IndexDef(iname, icol)
          case "NGRAM_BF" =>
            val g = props.getOrElse("gram_size", "2").toInt
            val b = props.getOrElse("bf_size", "256").toInt
            require(g >= 1 && g <= 8,
              s"$table: NGRAM_BF gram_size must be in [1, 8], got $g")
            require(b >= 64 && b <= 65536,
              s"$table: NGRAM_BF bf_size must be in [64, 65536], got $b")
            IndexDef(iname, icol, kind = "NGRAM_BF", gramSize = g, bfSize = b)
          case "BITMAP" => IndexDef(iname, icol, kind = "BITMAP")
          case other => sys.error(s"$table: unsupported index type $other")
        }
      case _ => sys.error(s"$table: unparseable index def: $text")
    }

  private def validateIndex(table: String, cols: Seq[ColDef], ix: IndexDef): Unit = {
    val c = cols.find(_.name == ix.col)
      .getOrElse(sys.error(s"$table: unknown index column ${ix.col}"))
    if (ix.kind == "BITMAP")
      // Doris's low-cardinality equality/IN index: integer, date and text
      // columns have exact value identity; float/double equality is
      // ill-defined and VARIANT has no stable value text
      require(!c.variant && Set("TINYINT", "SMALLINT", "INT", "BIGINT",
        "DATE", "STRING")(c.sparkType.toUpperCase),
        s"$table: BITMAP index needs an integer/date/text column, " +
          s"${ix.col} is ${c.sparkType}")
    else require(c.sparkType.toUpperCase == "STRING",
      s"$table: ${ix.kind} index needs a text column, ${ix.col} is ${c.sparkType}")
  }

  private val CreateIndexRe =
    """(?is)^CREATE\s+INDEX\s+`?(\w+)`?\s+ON\s+`?(\w+)`?\s*(\(.*)$""".r
  private val DropIndexRe =
    """(?is)^DROP\s+INDEX\s+`?(\w+)`?\s+ON\s+`?(\w+)`?$""".r

  /** Register an inverted index. The index is a READ-side contract here
    * (MATCH tokenizes at scan, the zonemap/bloom skip comes from the
    * parquet layer), so — like Doris 2.x, whose ADD INDEX schedules a
    * build over existing rowsets — an index added after loads serves
    * immediately; nothing is rewritten. */
  private def addIndex(tname: String, idxText: String): Unit = {
    val t = state(tname)
    val ix = parseIndexDef(tname, idxText)
    val d = t.def_
    validateIndex(tname, d.cols, ix)
    require(!d.indexes.exists(_.name == ix.name),
      s"$tname: index ${ix.name} already exists")
    t.synchronized { t.def_ = d.copy(indexes = d.indexes :+ ix) }
    // NGRAM_BF/BITMAP on a loaded table: backfill the per-file sidecars
    // over every existing rowset file NOW (Doris's ADD INDEX build job),
    // so the first query already prunes
    if (ix.kind == "NGRAM_BF") buildNgramSidecars(t)
    if (ix.kind == "BITMAP") buildBitmapSidecars(t)
  }

  private def dropIndex(tname: String, iname: String): Unit = {
    val t = state(tname)
    val d = t.def_
    require(d.indexes.exists(_.name == iname),
      s"$tname: unknown index $iname")
    t.synchronized {
      t.def_ = d.copy(indexes = d.indexes.filterNot(_.name == iname))
    }
  }

  // `col MATCH_ANY 'w1 w2'` / `col MATCH_ALL 'w1 w2'` — the inverted-index
  // match predicates ([doris: be/.../inverted_index_reader.cpp]). Rewritten
  // to codegen'd array predicates over the SAME tokenization the index
  // would store (lowercase, space-split — llm_match's contract); a MATCH on
  // a column with no INVERTED index rejects, as Doris does.
  private val MatchPredRe =
    """(?is)`?(\w+)`?\s+MATCH_(ANY|ALL)\s+'([^']*)'""".r

  /** Character positions inside single-quoted SQL string literals
    * (`''` doubling handled by the toggle: the closing+reopening quotes
    * keep the interior chars in-span). Used so the MATCH rewrite never
    * fires on, or falsely rejects, MATCH_ANY text inside a literal. */
  private def inLiteral(text: String): Int => Boolean = {
    val flags = new Array[Boolean](text.length)
    var in = false
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) == '\'') in = !in
      else flags(i) = in
      i += 1
    }
    j => j < flags.length && flags(j)
  }

  /** Start index of the first whole-word `kw` at/after `from` that sits
    * OUTSIDE single-quoted literals and at top-level paren depth; -1 if
    * none. Statement routing splits here — a SET value like 'removed
    * from catalog', an `extract(DAY FROM ts)` call, or a subquery's FROM
    * must never route a single-table UPDATE/DELETE onto the multi-table
    * FROM/USING path. */
  private def topLevelKeywordAt(text: String, kw: String,
      from: Int = 0): Int = {
    val depth = new Array[Int](text.length)
    var d = 0; var inQ = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQ) { depth(i) = -1; if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true; depth(i) = -1
        case '(' => d += 1; depth(i) = d
        case ')' => depth(i) = d; d -= 1
        case _ => depth(i) = d
      }
      i += 1
    }
    s"(?i)\\b$kw\\b".r.findAllMatchIn(text)
      .find(m => m.start >= from && depth(m.start) == 0)
      .map(_.start).getOrElse(-1)
  }

  /** Table names referenced by the statement OUTSIDE string literals,
    * with user-view bodies expanded transitively — a MATCH issued through
    * a view over an indexed table stays legal, while a table name that
    * appears only inside a literal ('see table lineitem') references
    * nothing and must not leak index legality in. With `partViews` a
    * partition view spelled directly (`t__part_p`) references `t` too. */
  private def referencedTables(text: String,
      partViews: Boolean = false): Set[String] = {
    val tableNames = tables.synchronized(tables.keys.toSeq)
    val views = viewDefs.synchronized(viewDefs.toMap)
    val suffix = if (partViews) "(?:__part_\\w+)?" else ""
    def refs(t: String, cands: Seq[String]): Seq[String] = {
      val q = inLiteral(t)
      cands.filter(n => s"(?is)\\b$n$suffix\\b".r.findAllMatchIn(t)
        .exists(m => !q(m.start)))
    }
    val out = mutable.Set[String]() ++ refs(text, tableNames)
    val seen = mutable.Set[String]()
    var frontier = refs(text, views.keys.toSeq)
    while (frontier.nonEmpty) {
      val v = frontier.head
      frontier = frontier.tail
      if (seen.add(v)) {
        out ++= refs(views(v), tableNames)
        frontier = frontier ++ refs(views(v), views.keys.toSeq).filterNot(seen)
      }
    }
    out.toSet
  }

  private def rewriteMatch(text: String): String = {
    // the index contract is per (table, column): only tables actually
    // referenced by this statement (directly or through a view it names)
    // legalize a MATCH — Doris rejects a MATCH on a column with no
    // INVERTED index on the QUERIED table, and a same-named indexed
    // column on some other table must not leak legality in
    val referenced = referencedTables(text)
    val indexed: Set[String] = tables.synchronized(
      referenced.flatMap(n => tables(n).def_.indexes
        .filter(_.kind == "INVERTED").map(_.col)).toSet)
    val quoted = inLiteral(text)
    val out = MatchPredRe.replaceAllIn(text, m => {
      val c = m.group(1)
      if (quoted(m.start) || !indexed.contains(c)) m.matched // validated below
      else {
        val toks = m.group(3).toLowerCase.split("\\s+").filter(_.nonEmpty)
          // tokens splice into single-quoted Spark literals, where a raw
          // backslash would be re-interpreted by Spark's string-escape
          // rules and diverge from the index tokenization
          .map(_.replace("\\", "\\\\"))
        require(toks.nonEmpty, s"MATCH_${m.group(2)} needs at least one token")
        val tokens = s"array_distinct(split(lower(`$c`), ' '))"
        val repl = m.group(2).toUpperCase match {
          case "ANY" =>
            s"arrays_overlap($tokens, array(${toks.map(w => s"'$w'").mkString(", ")}))"
          case "ALL" =>
            toks.map(w => s"array_contains($tokens, '$w')")
              .mkString("(", " AND ", ")")
        }
        java.util.regex.Matcher.quoteReplacement(repl)
      }
    })
    val outQuoted = inLiteral(out)
    require(!"""(?i)\bMATCH_(ANY|ALL)\b""".r.findAllMatchIn(out)
        .exists(m => !outQuoted(m.start)),
      "MATCH_ANY/MATCH_ALL requires an INVERTED index on the column " +
        "(CREATE INDEX ... USING INVERTED)")
    out
  }

  // `col LIKE '%needle%'` — the infix-match predicate an NGRAM_BF index
  // accelerates. Only a pure infix (no inner %/_ wildcards) rewrites.
  private val InfixLikeRe =
    """(?is)`?(\w+)`?\s+LIKE\s+'%([^%_']+)%'""".r

  // ------------------------------------------- NGRAM_BF skipping sidecars

  /** Sidecar directory for one NGRAM_BF index. The index PARAMETERS are
    * part of the path, so an index dropped and re-created with different
    * gram/bf sizes can never consult a stale bitset (the old dir is just
    * orphaned bytes). Lives under the table dir behind a `_` prefix,
    * which Spark's reader ignores — sidecars are never scanned as data.
    * All sidecar IO goes through the Hadoop FS API — the SAME filesystem
    * the rowset writes use — so on a cluster FS (HDFS/S3) the sidecars
    * land next to the rowsets instead of on executor-local disk. */
  private def ngramDir(t: TableState, ix: IndexDef): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(t.dir,
      s"_ngram_bf/${sidecarCol(t, ix)}_g${ix.gramSize}_b${ix.bfSize}")

  /** The column part of a sidecar dir name. A column a light ADD COLUMN
    * added (addedVer > 0) reads its DEFAULT on older rowsets (readCol), so
    * its part also names addedVer and the DEFAULT: sidecars built for a
    * dropped column of the same name, or under another DEFAULT, are never
    * consulted. */
  private def sidecarCol(t: TableState, ix: IndexDef): String =
    t.def_.cols.find(c => c.name == ix.col && c.addedVer > 0).fold(ix.col)(c =>
      s"${c.name}_v${c.addedVer}_${sha1hex(c.default.toString).take(8)}")

  private def hadoopFs(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def sha1hex(v: String): String = DorisDdl.sha1hexStatic(v)

  /** Current committed rowset files, table-dir-relative — the exact file
    * set the read path serves (`__tmp_` staging and `_`-markers excluded).
    * Driver directory walk through the Hadoop FS, metadata-sized.
    * Non-committed subtrees (`_temporary`, `_ngram_bf`, `_p=__tmp_*`) are
    * pruned BEFORE descending: a concurrent load's attempt dirs appear
    * and vanish mid-walk, and stat'ing a vanished entry throws. A race
    * that still reaches the walk (e.g. `_temporary` itself vanishing
    * while the root is being listed) retries the whole walk — returning
    * a partial listing instead would silently drop COMMITTED files from
    * an NGRAM-pruned scan. */
  private def rowsetFiles(t: TableState): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(t.dir)
    val fs = hadoopFs(root)
    val rootStr = fs.makeQualified(root).toString
    def walk(dir: org.apache.hadoop.fs.Path,
        out: mutable.ArrayBuffer[String]): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_temporary" && name != "_ngram_bf" &&
            name != "_bitmap_ix" &&
            !name.startsWith("_p=__tmp_")) walk(st.getPath, out)
        } else if (name.endsWith(".parquet")) {
          val p = fs.makeQualified(st.getPath).toString
          if (p.startsWith(rootStr + "/")) out += p.substring(rootStr.length + 1)
        }
      }
    var attempt = 0
    while (true) {
      if (!fs.exists(root)) return Nil
      val out = mutable.ArrayBuffer[String]()
      try {
        walk(root, out)
        return out.toSeq.sorted
      } catch {
        // ONLY the vanishing-listing race retries (a concurrent publish's
        // _temporary cleanup deleting a dir between listStatus and the
        // descent); deterministic failures — permission errors, corrupt-FS
        // RuntimeExceptions — surface immediately instead of masking the
        // root cause behind 5 full re-walks
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 5) throw e
      }
    }
    Nil // unreachable
  }

  /** The rowset files `missing` read as queries see the indexed column:
    * the index must be true to what queries read (the one column-read
    * rule, [[DorisDdl.readCol]]), not to the raw file bytes. None = the
    * column left the def. */
  private def indexedRead(t: TableState, missing: Seq[String],
      ix: IndexDef): Option[(DataFrame, Column)] = {
    val d = t.def_
    d.cols.find(_.name == ix.col).map(c => (
      rowsets(t, d, Some(missing.map(rel => s"${t.dir}/$rel"))),
      DorisDdl.readCol(c).getOrElse(col(c.name)).cast("string")))
  }

  /** Build missing per-rowset-file gram-bloom sidecars for every NGRAM_BF
    * index on `t` ([doris: be/.../ngram_bloom_filter — built per segment
    * at write time]). One distributed pass per index over exactly the
    * files that LACK a sidecar (the read PATH-restricts to them, so a
    * fresh load scans only its own new rowset files): load() builds per
    * publish, CREATE INDEX on a loaded table backfills everything once,
    * and writers that bypass load() (partition swap, RESTORE) are healed
    * lazily by the first indexed query — steady state is a directory
    * check only. Sidecars are written EXECUTOR-SIDE (nothing returns to
    * the driver — a million-file table costs the driver one listing), ≤
    * bf_size bits per file. */
  private def buildNgramSidecars(t: TableState): Unit = {
    // merge-on-read models can never consume the sidecars (pruning files
    // pre-merge on a content predicate is unsound — a key's winning
    // version may live in the pruned file): don't pay the build pass
    if (t.def_.keysType != "DUPLICATE") return
    val ixs = t.def_.indexes.filter(_.kind == "NGRAM_BF")
    if (ixs.isEmpty || !hasRowsets(t.dir)) return
    val all = rowsetFiles(t)
    ixs.foreach { ix =>
      val dir = ngramDir(t, ix)
      val fs = hadoopFs(dir)
      val missing = all.filterNot(rel =>
        fs.exists(new org.apache.hadoop.fs.Path(dir, sha1hex(rel) + ".bf")))
      if (missing.nonEmpty) {
        fs.mkdirs(dir)
        indexedRead(t, missing, ix).foreach { case (read, c) =>
          val g = ix.gramSize
          // one distinct (file, gram-bucket) pair stream: map-side partial
          // distinct, then a file-keyed shuffle of ≤ files × bf_size ints
          val grams = expr(
            s"CASE WHEN __ng_c IS NULL OR length(__ng_c) < $g THEN array() " +
              s"ELSE transform(sequence(1, length(__ng_c) - ${g - 1}), " +
              s"i -> pmod(hash(substring(__ng_c, i, $g)), ${ix.bfSize})) END")
          // sidecars are written EXECUTOR-SIDE, one per (file, bitset)
          // group row — nothing returns to the driver, so a million-file
          // table costs the driver nothing. IO goes through the Hadoop
          // FileSystem resolved from the serialized job conf, so the
          // bytes land on the SAME storage as the rowsets on any cluster
          // FS; overwrite(true) makes a retried task idempotent (it
          // rewrites identical bytes).
          val (dirStr, rootQualified, bfSize) =
            (dir.toString, fs.makeQualified(
              new org.apache.hadoop.fs.Path(t.dir)).toString, ix.bfSize)
          val serConf = new org.apache.spark.util.SerializableConfiguration(
            s.sparkContext.hadoopConfiguration)
          read.withColumn("__ng_c", c)
            .select(input_file_name().as("_f"), explode_outer(grams).as("_h"))
            .distinct()
            .groupBy("_f").agg(collect_set(col("_h")).as("hs"))
            .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
              val dirP = new org.apache.hadoop.fs.Path(dirStr)
              val efs = dirP.getFileSystem(serConf.value)
              it.foreach { r =>
                val f = efs.makeQualified(
                  new org.apache.hadoop.fs.Path(r.getString(0))).toString
                if (f.startsWith(rootQualified + "/")) {
                  val rel = f.substring(rootQualified.length + 1)
                  val bs = new java.util.BitSet(bfSize)
                  r.getSeq[Int](1).foreach(bs.set)
                  DorisDdl.writeSidecarAtomic(efs,
                    new org.apache.hadoop.fs.Path(dirP,
                      DorisDdl.sha1hexStatic(rel) + ".bf"),
                    bs.toByteArray)
                }
              }
            }
          // a missing file STILL without a sidecar after the job has ZERO
          // rows (the read listed exactly the missing files — an empty
          // bucket partition's writer leaves such files): no row can ever
          // match any needle, so an empty bitset is its exact bloom
          missing.filterNot(rel => fs.exists(
            new org.apache.hadoop.fs.Path(dir, sha1hex(rel) + ".bf")))
            .foreach { rel =>
              DorisDdl.writeSidecarAtomic(fs,
                new org.apache.hadoop.fs.Path(dir, sha1hex(rel) + ".bf"),
                new java.util.BitSet(ix.bfSize).toByteArray)
            }
        }
      }
    }
  }

  /** Driver-side replica of `pmod(hash(substring(needle, i, g)), b)` —
    * the same Murmur3(seed 42) Spark's `hash()` evaluates, applied to the
    * CONSTANT needle only (the row side never hashes: that is the whole
    * point of the persisted index). Grams step by CODEPOINT, because
    * Spark's substring/length count codepoints while Java's String
    * indexes UTF-16 units: a needle with supplementary-plane characters
    * (emoji) segmented by UTF-16 offsets would split surrogate pairs and
    * hash grams the sidecar build never wrote — wrongly pruning a file
    * that contains the needle. Pinned against the SQL functions by
    * DdlSpec (including a supplementary-plane needle). */
  private[graft] def needleGramHashes(needle: String, gramSize: Int,
      bfSize: Int): Seq[Int] = {
    val n = needle.codePointCount(0, needle.length)
    (0 to n - gramSize).map { i =>
      val a = needle.offsetByCodePoints(0, i)
      val b = needle.offsetByCodePoints(a, gramSize)
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(org.apache.spark.unsafe.types.UTF8String
          .fromString(needle.substring(a, b)),
          org.apache.spark.sql.types.StringType, 42L).toInt
      ((h % bfSize) + bfSize) % bfSize
    }
  }

  /** Consult the sidecars: a file whose bloom is missing some needle gram
    * provably cannot contain the needle and is PRUNED from the scan; a
    * file with no sidecar always survives — pruning is best-effort, never
    * unsound. Bitsets are cached per content-addressed sidecar name
    * (rowset files are immutable, so the cache never invalidates).
    * Returns (survivors, total file count). */
  private def ngramSurvivors(t: TableState, ix: IndexDef,
      needle: String): (Seq[String], Int) = {
    val all = rowsetFiles(t)
    val dir = ngramDir(t, ix)
    val fs = hadoopFs(dir)
    val sub = dir.getName
    val hs = needleGramHashes(needle, ix.gramSize, ix.bfSize)
    val surv = all.filter { rel =>
      val key = sha1hex(rel)
      val bs = t.ngramCache.synchronized(t.ngramCache.get((sub, key)))
        .orElse {
          val f = new org.apache.hadoop.fs.Path(dir, key + ".bf")
          if (!fs.exists(f)) None
          else {
            val in = fs.open(f)
            val bytes =
              try {
                val buf = new java.io.ByteArrayOutputStream()
                val chunk = new Array[Byte](8192)
                var n = in.read(chunk)
                while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
                buf.toByteArray
              } finally in.close()
            val b = java.util.BitSet.valueOf(bytes)
            t.ngramCache.synchronized(t.ngramCache((sub, key)) = b)
            Some(b)
          }
        }
      bs.forall(b => hs.forall(b.get))
    }
    (surv, all.size)
  }

  // ------------------------------------------- BITMAP equality sidecars
  // Doris's third index kind ([doris: be/.../olap/bitmap_index — the
  // low-cardinality value→rowid index]): here, per-rowset-file DISTINCT
  // VALUE SET sidecars under `_bitmap_ix/<col>/` — exact, not a bloom —
  // consulted by top-level equality/IN conjuncts to PRUNE files whose set
  // provably misses every literal, the same atomic-publish/file-prune/
  // FALSE-fold machinery as NGRAM_BF. File granularity stands in for the
  // rowid bitmap: the scan unit this engine can skip is the rowset file
  // (as Doris's is the rowset), and within a surviving file the residual
  // codegen'd equality is cheaper than any per-row index probe.

  /** Distinct-count / value-length caps past which a file's sidecar is
    * written as OVERFLOW (consulted as "always survives" — unprunable,
    * never unsound): the bitmap index is the LOW-cardinality index, and
    * the caps keep a mis-declared high-cardinality column from building
    * multi-MB value lists per file. */
  private val BitmapNdvCap = 4096
  private val BitmapLenCap = 256

  private def bitmapDir(t: TableState, ix: IndexDef): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(t.dir, s"_bitmap_ix/${sidecarCol(t, ix)}")

  /** Build missing per-rowset-file value-set sidecars for every BITMAP
    * index on `t` — same triggers as the NGRAM build (per publish, at
    * CREATE INDEX, lazily healed by the first indexed query), same
    * executor-side atomic writes through the Hadoop FS, same
    * DUPLICATE-only gate (pruning files pre-merge on a content predicate
    * is unsound for merge-on-read models). */
  private def buildBitmapSidecars(t: TableState): Unit = {
    if (t.def_.keysType != "DUPLICATE") return
    val ixs = t.def_.indexes.filter(_.kind == "BITMAP")
    if (ixs.isEmpty || !hasRowsets(t.dir)) return
    val all = rowsetFiles(t)
    ixs.foreach { ix =>
      val dir = bitmapDir(t, ix)
      val fs = hadoopFs(dir)
      val missing = all.filterNot(rel =>
        fs.exists(new org.apache.hadoop.fs.Path(dir, sha1hex(rel) + ".vs")))
      if (missing.nonEmpty) {
        fs.mkdirs(dir)
        indexedRead(t, missing, ix).foreach { case (read, c) =>
          val (dirStr, rootQualified) = (dir.toString, fs.makeQualified(
            new org.apache.hadoop.fs.Path(t.dir)).toString)
          val serConf = new org.apache.spark.util.SerializableConfiguration(
            s.sparkContext.hadoopConfiguration)
          val (ndvCap, lenCap) = (BitmapNdvCap, BitmapLenCap)
          // one distinct (file, value) pair stream: map-side partial
          // distinct, then a file-keyed shuffle of ≤ files × NDV values;
          // sidecars are written EXECUTOR-SIDE — nothing returns to the
          // driver
          read.withColumn("__bm_c", c)
            .select(input_file_name().as("_f"), col("__bm_c").as("_v"))
            .where(col("_v").isNotNull)
            .distinct()
            .groupBy("_f").agg(collect_set(col("_v")).as("vs"))
            .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
              val dirP = new org.apache.hadoop.fs.Path(dirStr)
              val efs = dirP.getFileSystem(serConf.value)
              it.foreach { r =>
                val f = efs.makeQualified(
                  new org.apache.hadoop.fs.Path(r.getString(0))).toString
                if (f.startsWith(rootQualified + "/")) {
                  val rel = f.substring(rootQualified.length + 1)
                  DorisDdl.writeSidecarAtomic(efs,
                    new org.apache.hadoop.fs.Path(dirP,
                      DorisDdl.sha1hexStatic(rel) + ".vs"),
                    DorisDdl.encodeValueSet(r.getSeq[String](1),
                      ndvCap, lenCap))
                }
              }
            }
          // a file the job produced no row for has zero non-null values:
          // the EMPTY set is its exact sidecar (no literal ever matches)
          missing.filterNot(rel => fs.exists(
            new org.apache.hadoop.fs.Path(dir, sha1hex(rel) + ".vs")))
            .foreach { rel =>
              DorisDdl.writeSidecarAtomic(fs,
                new org.apache.hadoop.fs.Path(dir, sha1hex(rel) + ".vs"),
                DorisDdl.encodeValueSet(Nil, ndvCap, lenCap))
            }
        }
      }
    }
  }

  /** Consult the value-set sidecars: a file whose exact distinct set
    * misses EVERY literal provably holds no matching row and is pruned;
    * a missing or OVERFLOW sidecar always survives — best-effort, never
    * unsound. Sets cache per content-addressed name (rowset files are
    * immutable). Returns (survivors, total). */
  private def bitmapSurvivors(t: TableState, ix: IndexDef,
      lits: Set[String]): (Seq[String], Int) = {
    val all = rowsetFiles(t)
    val dir = bitmapDir(t, ix)
    val fs = hadoopFs(dir)
    val sub = dir.getName
    val surv = all.filter { rel =>
      val key = sha1hex(rel)
      val vs = t.bitmapCache.synchronized(t.bitmapCache.get((sub, key)))
        .orElse {
          val f = new org.apache.hadoop.fs.Path(dir, key + ".vs")
          if (!fs.exists(f)) None
          else {
            val in = fs.open(f)
            val bytes =
              try {
                val buf = new java.io.ByteArrayOutputStream()
                val chunk = new Array[Byte](8192)
                var n = in.read(chunk)
                while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
                buf.toByteArray
              } finally in.close()
            val v = DorisDdl.decodeValueSet(bytes)
            t.bitmapCache.synchronized(t.bitmapCache((sub, key)) = v)
            Some(v)
          }
        }
      vs match {
        case Some(Some(set)) => lits.exists(set.contains)
        case _ => true // no sidecar yet, or OVERFLOW: never prune
      }
    }
    (surv, all.size)
  }

  /** Last BITMAP prune decision — (table, survivors, total) — for tests
    * and plan review. */
  @volatile var lastBitmapPrune: Option[(String, Int, Int)] = None

  // `[alias.]col = lit` / `[alias.]col IN (lit, ...)` with every literal
  // a quoted string or integer — the predicate shapes a BITMAP index
  // accelerates. The optional qualifier is INSIDE the match so a
  // zero-survivor fold replaces the whole predicate with FALSE.
  private val BitmapPredRe =
    ("""(?is)(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?\s*""" +
      """(=\s*(?:'[^']*'|-?\d+)(?![\w.])|""" +
      """IN\s*\(\s*(?:'[^']*'|-?\d+)(?:\s*,\s*(?:'[^']*'|-?\d+))*\s*\))""").r
  private val BitmapLitRe = """'([^']*)'|(-?\d+)""".r

  /** BITMAP read path: a top-level equality/IN conjunct on an indexed
    * column consults the persisted per-file value sets and prunes files
    * that provably cannot match BEFORE any per-row work; the scan reads
    * only survivors and the codegen'd equality is the residual verify.
    * Same soundness gates as [[rewriteNgramLike]] (DUPLICATE only,
    * top-level WHERE conjunct, table referenced once, WHERE governs the
    * table's own SELECT block), plus: a qualified `alias.col` only
    * prunes when the qualifier IS the table name (an alias over some
    * other relation sharing the column name must not prune this one).
    * Zero survivors fold the predicate to FALSE; the pruned-scan views
    * (`t__bmix_N`, billing to the base table's grant scope like
    * `t__ngbf_*`) are per-statement and dropped after analysis. */
  private val bmixCounter = new java.util.concurrent.atomic.AtomicLong
  private def rewriteBitmapEq(text: String): (String, Seq[String]) = {
    val bmx: Map[String, (TableState, IndexDef)] = tables.synchronized {
      val pairs = referencedTables(text).toSeq.flatMap(n =>
        tables(n).def_.indexes.filter(_.kind == "BITMAP")
          .map(ix => ix.col -> ((tables(n), ix))))
      pairs.groupBy(_._1).collect { case (c, Seq(one)) => c -> one._2 }
    }
    if (bmx.isEmpty) return (text, Nil)
    val quoted = inLiteral(text)
    val prunes = mutable.LinkedHashMap[String, (TableState, Set[String])]()
    val out = BitmapPredRe.replaceAllIn(text, m => {
      val (qual, c) = (Option(m.group(1)), m.group(2))
      bmx.get(c) match {
        case Some((t, ix)) if !quoted(m.start) &&
          qual.forall(_ == t.def_.name) &&
          t.def_.keysType == "DUPLICATE" &&
          tableFromPos(text, t.def_.name).exists(fp =>
            topWhereConjunct(text, m.start, m.end)
              .exists(ws => whereGovernsFrom(text, ws, fp))) =>
          val lits = BitmapLitRe.findAllMatchIn(m.group(3)).map(mm =>
            Option(mm.group(1)).getOrElse(mm.group(2))).toSet
          buildBitmapSidecars(t) // lazy repair; steady state = dir check
          val (surv, total) = bitmapSurvivors(t, ix, lits)
          lastBitmapPrune = Some((t.def_.name, surv.size, total))
          if (surv.isEmpty) "FALSE" // conjunct position: NULL ≡ FALSE
          else {
            if (surv.size < total) {
              val n = t.def_.name
              val cur = prunes.get(n).map(_._2).getOrElse(surv.toSet)
              prunes(n) = (t, cur intersect surv.toSet)
            }
            m.matched
          }
        case _ => m.matched
      }
    })
    val views = mutable.ArrayBuffer[String]()
    val rewritten = prunes.foldLeft(out) { case (acc, (n, (t, surv))) =>
      if (surv.isEmpty) acc // multi-predicate intersection emptied: no view
      else {
        val pv = s"${n}__bmix_${bmixCounter.incrementAndGet()}"
        registerTemp(visible(t, None,
          files = Some(surv.toSeq.sorted.map(rel => s"${t.dir}/$rel"))), pv)
        views += pv
        replaceTableToken(acc, n, pv)
      }
    }
    (rewritten, views.toSeq)
  }

  /** Unquoted paren depth before each character (and one past the end). */
  private def parenDepths(text: String): Array[Int] = {
    val q = inLiteral(text)
    val depth = new Array[Int](text.length + 1)
    var d = 0
    var i = 0
    while (i < text.length) {
      depth(i) = d
      if (!q(i)) {
        if (text(i) == '(') d += 1 else if (text(i) == ')') d -= 1
      }
      i += 1
    }
    depth(text.length) = d
    depth
  }

  /** Is text[start,end) a TOP-LEVEL conjunct of the WHERE clause that
    * encloses it? Splitting the enclosing WHERE on its own-depth ANDs
    * must yield a conjunct that is exactly this span (modulo wrapping
    * parens/whitespace). This is the soundness gate for scan pruning: a
    * predicate under OR/NOT/CASE restricts nothing about the scan, and a
    * LIKE in a SELECT list or JOIN condition is not a row filter.
    * Returns the enclosing WHERE's start offset on success, so the caller
    * can additionally check WHICH SELECT block that WHERE governs. */
  private def topWhereConjunct(text: String, mStart: Int,
      mEnd: Int): Option[Int] = {
    val q = inLiteral(text)
    val depth = parenDepths(text)
    val where = """(?is)\bWHERE\b""".r.findAllMatchIn(text)
      .filter(w => !q(w.start) && w.end <= mStart &&
        depth(w.start) == depth(mStart))
      .toSeq.lastOption.getOrElse(return None)
    val wd = depth(where.start)
    // clause ends where depth drops below the WHERE's, or at the next
    // own-depth clause keyword
    val kwEnd = """(?is)\b(GROUP|ORDER|LIMIT|HAVING|UNION|INTERSECT|EXCEPT|QUALIFY|WINDOW)\b""".r
      .findAllMatchIn(text)
      .filter(k => !q(k.start) && k.start >= where.end && depth(k.start) == wd)
      .map(_.start).toSeq.minOption.getOrElse(text.length)
    val parenEnd = (where.end until text.length)
      .find(j => depth(j) < wd).getOrElse(text.length)
    val ce = math.min(kwEnd, parenEnd)
    if (mEnd > ce) return None
    val andStarts = """(?is)\bAND\b""".r.findAllMatchIn(text)
      .filter(a => !q(a.start) && a.start >= where.end && a.end <= ce &&
        depth(a.start) == wd).toSeq
    val cuts = (where.end +: andStarts.map(_.end)) zip
      (andStarts.map(_.start) :+ ce)
    val ok = cuts.find { case (cs, ceEnd) => cs <= mStart && mEnd <= ceEnd }
      .exists { case (cs, ceEnd) =>
        val pre = text.substring(cs, mStart)
        val post = text.substring(mEnd, ceEnd)
        pre.forall(ch => ch.isWhitespace || ch == '(') &&
          post.forall(ch => ch.isWhitespace || ch == ')') &&
          pre.count(_ == '(') == post.count(_ == ')')
      }
    if (ok) Some(where.start) else None
  }

  /** Table referenced exactly once in a FROM/JOIN position, with every
    * other mention a `t.`-qualifier — the only shape where renaming the
    * table token to a pruned view is a pure scan substitution. Returns
    * the start offset of that single FROM/JOIN occurrence. */
  private def tableFromPos(text: String, n: String): Option[Int] = {
    val q = inLiteral(text)
    val occ = s"(?is)\\b$n\\b".r.findAllMatchIn(text)
      .filter(m => !q(m.start)).toSeq
    val fromPos = occ.filter { m =>
      val w = text.substring(math.max(0, m.start - 16), m.start)
      """(?is)\b(FROM|JOIN)\s*$""".r.findFirstIn(w).isDefined
    }
    val qual = occ.count(m => m.end < text.length && text(m.end) == '.')
    if (fromPos.size == 1 && occ.size == 1 + qual) Some(fromPos.head.start)
    else None
  }

  /** Does the WHERE at `whereStart` govern the SELECT block whose FROM
    * holds the table reference at `fromPos`? True only when both sit at
    * the same unquoted paren depth, the span between them never leaves
    * that paren group, and no new SELECT block begins between them at
    * that depth (a set operation's second branch). Without this gate a
    * LIKE inside a SUBQUERY over a different table that shares the
    * indexed column name would pass the conjunct/ref-once checks and
    * prune the indexed table's scan on a predicate that never filters
    * it — silently wrong results. */
  private def whereGovernsFrom(text: String, whereStart: Int,
      fromPos: Int): Boolean = {
    if (whereStart < fromPos) return false
    val q = inLiteral(text)
    val depth = parenDepths(text)
    val d = depth(fromPos)
    if (depth(whereStart) != d) return false
    if ((fromPos to whereStart).exists(j => depth(j) < d)) return false
    !"""(?is)\bSELECT\b""".r.findAllMatchIn(text).exists(k =>
      !q(k.start) && k.start > fromPos && k.start < whereStart &&
        depth(k.start) == d)
  }

  private def replaceTableToken(text: String, n: String, repl: String): String = {
    val q = inLiteral(text)
    s"(?is)\\b$n\\b".r.replaceAllIn(text, m =>
      if (q(m.start)) m.matched
      else java.util.regex.Matcher.quoteReplacement(repl))
  }

  /** Last prune decision — (table, surviving files, total files) — for
    * tests and plan review. */
  @volatile var lastNgramPrune: Option[(String, Int, Int)] = None

  /** NGRAM_BF read path ([doris: be/.../ngram_bloom_filter — the 2.x
    * n-gram bloom index]): an infix LIKE on an indexed column consults
    * the PERSISTED per-rowset-file gram blooms and prunes files that
    * provably cannot contain the needle BEFORE any per-row work — the
    * scan then reads only surviving files and the exact LIKE is the
    * residual verify, exactly Doris's rowset-skip-then-verify shape.
    * (An earlier revision recomputed the row side's gram hashes per query
    * as a row-level pre-filter; that costs strictly MORE than the LIKE it
    * fronts — the index must SKIP STORAGE or do nothing.)
    *
    * Soundness gates, each falling back to the plain LIKE (never wrong,
    * just unpruned): DUPLICATE key model only (UNIQUE/AGGREGATE
    * merge-on-read must see every version of a key, so a content
    * predicate cannot drop files pre-merge); the LIKE must be a top-level
    * WHERE conjunct (under OR/NOT it restricts nothing); the table must
    * be referenced exactly once; and that WHERE must govern the SAME
    * SELECT block whose FROM holds the table reference (a LIKE inside a
    * subquery over a different table sharing the column name must not
    * prune this table's scan). Zero surviving files folds the predicate
    * to FALSE — Catalyst's PropagateEmptyRelation then erases the whole
    * scan.
    *
    * Returns the rewritten text plus the per-statement pruned-scan view
    * names it registered: each view name is UNIQUE (two concurrent
    * statements with different needles must never read each other's
    * survivor set through a shared name) and the caller drops them once
    * the statement is analyzed. */
  private val ngbfCounter = new java.util.concurrent.atomic.AtomicLong
  private def rewriteNgramLike(text: String): (String, Seq[String]) = {
    val ngram: Map[String, (TableState, IndexDef)] = tables.synchronized {
      val pairs = referencedTables(text).toSeq.flatMap(n =>
        tables(n).def_.indexes.filter(_.kind == "NGRAM_BF")
          .map(ix => ix.col -> ((tables(n), ix))))
      // a column indexed on more than one referenced table is ambiguous —
      // no rewrite for it
      pairs.groupBy(_._1).collect { case (c, Seq(one)) => c -> one._2 }
    }
    if (ngram.isEmpty) return (text, Nil)
    val quoted = inLiteral(text)
    // per-table intersection of survivors across every prunable LIKE
    val prunes = mutable.LinkedHashMap[String, (TableState, Set[String])]()
    val out = InfixLikeRe.replaceAllIn(text, m => {
      val (c, needle) = (m.group(1), m.group(2))
      ngram.get(c) match {
        case Some((t, ix)) if !quoted(m.start) &&
          needle.codePointCount(0, needle.length) >= ix.gramSize &&
          !needle.contains("\\") &&
          t.def_.keysType == "DUPLICATE" &&
          tableFromPos(text, t.def_.name).exists(fp =>
            topWhereConjunct(text, m.start, m.end)
              .exists(ws => whereGovernsFrom(text, ws, fp))) =>
          // lazy repair covers writers that bypass load(); steady-state
          // this is a directory existence check only
          buildNgramSidecars(t)
          val (surv, total) = ngramSurvivors(t, ix, needle)
          lastNgramPrune = Some((t.def_.name, surv.size, total))
          if (surv.isEmpty) "FALSE" // conjunct position: NULL ≡ FALSE here
          else {
            if (surv.size < total) {
              val n = t.def_.name
              val cur = prunes.get(n).map(_._2).getOrElse(surv.toSet)
              prunes(n) = (t, cur intersect surv.toSet)
            }
            m.matched // the residual verify — a plain, codegen'd LIKE
          }
        case _ => m.matched
      }
    })
    val views = mutable.ArrayBuffer[String]()
    val rewritten = prunes.foldLeft(out) { case (acc, (n, (t, surv))) =>
      // a multi-needle intersection CAN empty out (needle1 only in file A,
      // needle2 only in file B — no one file can satisfy both): a zero-file
      // view has no schema to read, so fall back to the unpruned scan and
      // let the two residual LIKEs return the (empty) result
      if (surv.isEmpty) acc
      else {
        val pv = s"${n}__ngbf_${ngbfCounter.incrementAndGet()}"
        registerTemp(visible(t, None,
          files = Some(surv.toSeq.sorted.map(rel => s"${t.dir}/$rel"))), pv)
        views += pv
        replaceTableToken(acc, n, pv)
      }
    }
    (rewritten, views.toSeq)
  }

  // ----------------------------------------------- CREATE MATERIALIZED VIEW

  // Doris single-table SYNC materialized view (a rollup with declared
  // aggregates, [doris: fe/.../alter/MaterializedViewHandler.java]): the
  // grammar is one aggregate SELECT over one table; the planner then
  // transparently retargets matching aggregates onto it. Here the MV
  // materializes through the engine's RollupRewrite rule, and is rebuilt
  // TRANSACTIONALLY on every subsequent load/delete/truncate of the base —
  // the Doris maintenance contract.
  private val MvRe =
    """(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?\s+AS\s+SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?\s+GROUP\s+BY\s+(.*)$""".r
  private val MvAggRe =
    """(?is)^(SUM|MIN|MAX|COUNT)\s*\(\s*(\*|`?\w+`?)\s*\)\s+AS\s+`?(\w+)`?$""".r
  // Doris count-distinct MV item: BITMAP_UNION(TO_BITMAP(col)) AS alias —
  // the rollup stores the distinct-id set per group; the planner then
  // serves COUNT(DISTINCT col) from it transparently
  private val MvBitmapRe =
    """(?is)^BITMAP_UNION\s*\(\s*TO_BITMAP\s*\(\s*`?(\w+)`?\s*\)\s*\)\s+AS\s+`?(\w+)`?$""".r

  // Doris 2.1 ASYNC partitioned MTMV ([doris: fe/.../mtmv/MTMVPartitionUtil
  // .java — partition-version diffing]): BUILD IMMEDIATE materializes at
  // CREATE; the REFRESH trigger is ON MANUAL (an explicit `REFRESH
  // MATERIALIZED VIEW` statement), ON COMMIT (every publish of the base
  // refreshes), or ON SCHEDULE EVERY n unit (no daemon here: the schedule
  // is honored at the next statement entry, the same from-next-touch
  // contract dynamic-partition retention keeps). `PARTITION BY (col)`
  // pins the MV partitions to the base table's range partitions, which is
  // what makes every refresh partition-INCREMENTAL (only changed
  // partitions recompute) — a due-but-fresh schedule tick costs one
  // file-listing diff, no data.
  private val MtmvRe =
    ("""(?is)^CREATE\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?\s+BUILD\s+IMMEDIATE\s+""" +
      """REFRESH\s+(?:AUTO\s+)?ON\s+(MANUAL|COMMIT|SCHEDULE\s+EVERY\s+\d+\s+\w+(?:\s+STARTS\s+'[^']*')?)\s+""" +
      """PARTITION\s+BY\s*\(\s*`?(\w+)`?\s*\)\s+""" +
      """AS\s+SELECT\s+(.*?)\s+FROM\s+`?(\w+)`?\s+GROUP\s+BY\s+(.*)$""").r
  private val ScheduleRe =
    """(?is)^SCHEDULE\s+EVERY\s+(\d+)\s+(SECOND|MINUTE|HOUR|DAY|WEEK)(?:\s+STARTS\s+'([^']*)')?$""".r

  private def createMv(text: String): Unit = text match {
    case MtmvRe(mvName, refreshClause, pcol, selList, tableName, groupBy) =>
      val (mode, sched) = refreshClause.trim.toUpperCase match {
        case "MANUAL" => ("MANUAL", None)
        case "COMMIT" => ("COMMIT", None)
        case _ => refreshClause.trim match {
          case ScheduleRe(n, unit, starts) =>
            ("SCHEDULE", Some((n.toInt, unit.toUpperCase, Option(starts))))
          case other => sys.error(
            s"$mvName: unsupported REFRESH trigger: ON $other " +
              "(MANUAL | COMMIT | SCHEDULE EVERY n SECOND|MINUTE|HOUR|DAY|WEEK)")
        }
      }
      createMtmv(mvName, pcol, selList, tableName, groupBy, mode, sched)
    case MvRe(mvName, selList, tableName, groupBy) =>
      val t = state(tableName)
      val keys = topLevelSplit(groupBy).map(stripIdent)
      keys.foreach(k => require(t.def_.cols.exists(_.name == k),
        s"$mvName: unknown group key $k"))
      var colMap = Map.empty[(String, String), String]
      val items = topLevelSplit(selList).map { item =>
        item.trim match {
          case MvBitmapRe(arg0, alias) =>
            val arg = stripIdent(arg0)
            val argType = t.def_.cols.find(_.name == arg)
              .getOrElse(sys.error(s"$mvName: unknown column $arg")).sparkType
            require(Seq("TINYINT", "SMALLINT", "INT", "BIGINT")
              .contains(argType.toUpperCase),
              s"$mvName: BITMAP_UNION(TO_BITMAP($arg)) needs an integer " +
                s"column, got $argType")
            colMap += (("bitmap_union", arg) -> alias)
            // build with the raw-long union (same set, one less wrap)
            s"bitmap_union($arg) AS $alias"
          case MvAggRe(fn, arg, alias) =>
            colMap += ((fn.toLowerCase, stripIdent(arg)) -> alias)
            item.trim
          case ident if keys.contains(stripIdent(ident)) => ident.trim
          case other => sys.error(s"$mvName: unsupported MV select item " +
            s"(need k1..kn, AGG(col) AS alias, BITMAP_UNION(TO_BITMAP(col)) " +
            s"AS alias): $other")
        }
      }
      require(colMap.nonEmpty, s"$mvName: an MV needs at least one aggregate")
      require(t.synchronized(!t.mvs.exists(_.name == mvName)),
        s"materialized view $mvName already exists")
      val mv = MvDef(mvName, tableName,
        s"SELECT ${items.mkString(", ")} FROM $tableName " +
          s"GROUP BY ${keys.mkString(", ")}",
        keys, colMap)
      t.synchronized { t.mvs += mv }
      graft.plans.RollupRewrite.install(s)
      refreshMv(t, mv)
    case _ => sys.error(s"unparseable CREATE MATERIALIZED VIEW " +
      s"(need AS SELECT keys, aggs FROM t GROUP BY keys): ${text.take(80)}")
  }

  /** Recompute one MV from the current visible data and swap it into the
    * RollupRewrite registry. Each rebuild lands in a fresh version dir
    * (immutable snapshots — the rule's plan cache never sees mutated
    * files) and REPLACES the previous registration. It is served at the
    * rowset version taken before the rebuild reads the table, so a load
    * landing during the rebuild retires it until the next refresh. */
  private def refreshMv(t: TableState, mv: MvDef): Unit = {
    if (!hasRowsets(t.dir)) return
    val seen = graft.Freshness.version(t.dir)
    registerViews(t)
    val df = DorisSqlDialect.sql(s, mv.selectText)
    val ver = t.synchronized { t.mvVer += 1; t.mvVer }
    val out = graft.TempDirs.create(s"graft_ddl_mv_${mv.name}_v$ver")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    // The MV snapshot already reflects every versioned delete recorded so
    // far; collect the optimizer's canonical form of those read filters so
    // the rewrite can recognize them in a query plan as implied rather
    // than bailing on the non-key `_ver` reference (Doris applies delete
    // versions to rollup rowsets; here the snapshot absorbed them).
    val absorbed: Set[String] =
      if (t.synchronized(t.deletes.isEmpty)) Set.empty
      else {
        val d = t.def_
        val filteredRead = graft.operators.KeyModels.applyDeletePredicates(
          DorisDdl.readCols(rowsets(t, d), d.cols),
          t.synchronized(t.deletes.toSeq).map(d => (expr(d.compiled), d.ver)))
        filteredRead.queryExecution.optimizedPlan.collect {
          case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) =>
            def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
                : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
              e match {
                case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
                  split(l) ++ split(r)
                case other => Seq(other)
              }
            split(c).map(_.sql)
        }.flatten.toSet
      }
    // AGGREGATE-key base: the MV was computed OVER the table's merge
    // aggregate — record that aggregate's canonical shape so the rule can
    // serve queries THROUGH it (pre-aggregation ON). The recorded form
    // comes from the same optimizer pipeline that will shape query plans.
    val innerAgg: Option[(Seq[String], Seq[String])] =
      if (t.def_.keysType != "AGGREGATE") None
      else visible(t, None).queryExecution.optimizedPlan.collectFirst {
        case org.apache.spark.sql.catalyst.plans.logical.Aggregate(g, ae, _, _) =>
          (g.map(_.sql), ae.map(_.sql))
      }
    graft.plans.RollupRewrite.register(
      graft.plans.RollupRewrite.RollupDef(
        basePath = t.dir, rollupPath = out, name = mv.name, keys = mv.keys,
        columns = mv.columns, version = seen, absorbed = absorbed,
        innerAgg = innerAgg))
  }

  private def refreshMvs(t: TableState): Unit = {
    t.synchronized(t.mvs.toSeq).foreach(refreshMv(t, _))
    // ON COMMIT MTMVs over this base refresh with the publish, exactly
    // like sync rollups — still partition-incremental (only the published
    // partition's file set changed)
    mtmvs.synchronized(mtmvs.values.toSeq)
      .filter(m => m.table == t.def_.name && m.refreshMode == "COMMIT")
      .foreach(refreshMtmvUnlessDropped)
  }

  /** A DROP MATERIALIZED VIEW racing an engine-triggered refresh (ON
    * COMMIT publish, ON SCHEDULE tick) deletes the MV dir mid-refresh;
    * the triggering statement (an INSERT) must not fail for it — the
    * DROP wins, the publish stands. A refresh failure on a LIVE MTMV
    * still surfaces. */
  private def refreshMtmvUnlessDropped(m: MtmvState): Unit =
    try { refreshMtmv(m); () }
    catch { case e: Exception =>
      // identity check, not name: a DROP + recreate under the same name
      // (a NEW MtmvState, NEW dir) must not resurrect THIS instance's
      // failure — the old dir is legitimately gone (run-A churn probe)
      if (mtmvs.synchronized(mtmvs.get(m.name).exists(_ eq m))) throw e
    }

  // ------------------------------------------------------------ async MTMV

  private val mtmvs = mutable.LinkedHashMap[String, MtmvState]()

  private def createMtmv(mvName: String, pcol: String, selList: String,
      tableName: String, groupBy: String,
      refreshMode: String = "MANUAL",
      schedule: Option[(Int, String, Option[String])] = None): Unit = {
    val t = state(tableName)
    // the BUILD IMMEDIATE below analyzes the select against the base's
    // temp view — make sure it exists even if no statement has read the
    // (possibly still empty) base yet
    registerViews(t)
    require(t.def_.partCol.contains(pcol) && t.def_.autoGran.isEmpty,
      s"$mvName: PARTITION BY ($pcol) must name the base table's declared " +
        "range-partition column")
    val keys = topLevelSplit(groupBy).map(stripIdent)
    require(keys.contains(pcol),
      s"$mvName: partition column $pcol must be one of the group keys")
    topLevelSplit(selList).foreach { item =>
      item.trim match {
        case MvAggRe(_, _, _) => ()
        case ident if keys.contains(stripIdent(ident)) => ()
        case other => sys.error(s"$mvName: unsupported MTMV select item " +
          s"(need group keys and AGG(col) AS alias): $other")
      }
    }
    require(mtmvs.synchronized(!mtmvs.contains(mvName)),
      s"materialized view $mvName already exists")
    val m = MtmvState(mvName, tableName, pcol, selList, keys,
      graft.TempDirs.create(s"graft_ddl_mtmv_$mvName"),
      refreshMode = refreshMode, schedule = schedule)
    mtmvs.synchronized { mtmvs(mvName) = m }
    refreshMtmv(m) // BUILD IMMEDIATE
  }

  /** ON SCHEDULE triggers, honored at statement entry (no daemon): a due
    * MV runs the normal partition-incremental refresh — if nothing
    * changed underneath, that is one file-listing diff and no data. A
    * declared STARTS 'yyyy-MM-dd HH:mm:ss' holds the FIRST scheduled tick
    * until that wall-clock instant (the BUILD IMMEDIATE still built at
    * CREATE), matching the FE's job start time. */
  private def maintainScheduledMtmvs(): Unit =
    mtmvs.synchronized(mtmvs.values.toSeq).foreach { m =>
      m.schedule.foreach { case (n, unit, starts) =>
        val ms = n.toLong * (unit match {
          case "SECOND" => 1000L
          case "MINUTE" => 60000L
          case "HOUR" => 3600000L
          case "DAY" => 86400000L
          case "WEEK" => 604800000L
        })
        val startGate = starts.flatMap(
          DorisDdl.parseStartsMs(_, sessionZone)).forall(
          _ <= System.currentTimeMillis())
        if (startGate && System.currentTimeMillis() - m.lastRefreshMs >= ms)
          refreshMtmvUnlessDropped(m)
      }
    }

  /** Partition-incremental MTMV refresh: diff each base partition's rowset
    * FILE SET against the snapshot taken at the last refresh (pure driver
    * metadata — the same version-diff idea as the engine's
    * [[graft.operators.MaterializedViews]], with the file listing standing
    * in for the tablet version), recompute ONLY the changed partitions
    * (each slice is a partition-PRUNED `visible` scan), and land them with
    * dynamic partition overwrite so fresh MV partitions are untouched. A
    * change in the standing versioned-delete list invalidates everything
    * (delete predicates are not partition-scoped). Returns the number of
    * partitions recomputed — at 100 TB the steady-state refresh touches
    * "today", never the table.
    *
    * Refreshes of ONE MTMV serialize on its state monitor (Doris: one
    * refresh job per MV at a time): an explicit REFRESH (or the BUILD
    * IMMEDIATE) racing a publish-triggered ON COMMIT refresh would
    * otherwise interleave two dynamic-overwrite writes into the same MV
    * dir — one deleting partition files the other is reading (the r20
    * churn probe's footer-read FileNotFound). Distinct MTMVs still
    * refresh concurrently. */
  private def refreshMtmv(m: MtmvState): Int = m.synchronized {
    val t = state(m.table)
    val cur = partFileSnapshot(t)
    val delSig = t.synchronized(t.deletes.toList)
    val stale =
      (if (delSig != m.lastDeletes) cur.keys
       else cur.collect {
         case (p, fs) if !m.lastFiles.get(p).contains(fs) => p
       }).toSeq.sorted
    (m.lastFiles.keySet -- cur.keySet).foreach(p => // base partition dropped
      graft.TempDirs.deleteTree(java.nio.file.Paths.get(m.dir, s"_p=$p")))
    if (stale.nonEmpty) {
      // per-partition visible() slices: the _p filter sits BELOW the merge
      // window/aggregate (sound — the partition column is key-bound), so
      // every recompute scan is partition-pruned to its stale directory
      val slice = stale.map(p => visible(t, Some(p), keepPart = true))
        .reduce(_.unionByName(_))
      registerTemp(slice, s"__mtmv_src_${m.name}")
      val df = DorisSqlDialect.sql(s,
        s"SELECT ${m.selList}, _p FROM __mtmv_src_${m.name} " +
          s"GROUP BY ${m.keys.mkString(", ")}, _p")
      m.lastPlan = df.queryExecution.executedPlan.toString
      val conf = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(conf)
      s.conf.set(conf, "dynamic")
      try df.write.mode("overwrite").partitionBy("_p").parquet(m.dir)
      finally prev.fold(s.conf.unset(conf))(s.conf.set(conf, _))
    }
    m.lastFiles = cur
    m.lastDeletes = delSig
    m.lastRefreshMs = System.currentTimeMillis()
    registerMtmvView(m)
    stale.size
  }

  /** The MTMV is directly queryable by name (unlike sync rollups, which
    * serve transparently): register its current snapshot. Grouping by
    * (keys, _p) equals grouping by keys because the partition column is a
    * group key, so dropping _p yields exactly the declared SELECT. */
  private def registerMtmvView(m: MtmvState): Unit = {
    if (!hasRowsets(m.dir))
      // an MTMV over an empty base serves ZERO ROWS like every empty
      // table: the declared select analyzes against the base's empty
      // frame (the filter(false) folds the plan to an empty relation)
      try registerTemp(DorisSqlDialect.sql(s,
        s"SELECT ${m.selList} FROM `${m.table}` " +
          s"GROUP BY ${m.keys.mkString(", ")}")
        .filter(lit(false)), m.name)
      catch { case _: Exception => s.catalog.dropTempView(m.name) }
    else registerTemp(graft.Tables.parquetOnce(s, m.dir).drop("_p"), m.name)
    // drop-aware (same race class as the r19 user-view orphan): a DROP
    // MATERIALIZED VIEW landing between this refresh's snapshot and the
    // registerTemp above must not leave a live, scope-less temp view —
    // and a drop + RECREATE under the same name must end with the LIVE
    // instance's registration, not this stale one's
    mtmvs.synchronized(mtmvs.get(m.name)) match {
      case None => s.catalog.dropTempView(m.name)
      case Some(live) if !(live eq m) => registerMtmvView(live)
      case _ => ()
    }
  }

  /** Per-partition rowset file names — a driver directory listing,
    * O(files) metadata, zero data IO. */
  private def partFileSnapshot(t: TableState): Map[String, Set[String]] = {
    val root = new java.io.File(t.dir)
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_p="))
      .map(d => d.getName.stripPrefix("_p=") ->
        Option(d.list()).getOrElse(Array.empty)
          .filter(_.endsWith(".parquet")).toSet)
      .toMap
  }

  private val DropMvRe =
    """(?is)^DROP\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?(?:\s+ON\s+`?(\w+)`?)?$""".r

  /** `DROP MATERIALIZED VIEW m [ON t]`: a sync MV (rollup) leaves the
    * registry and stops serving immediately; an async MTMV drops its
    * queryable view and snapshot dir. The `ON t` form is the Doris sync-MV
    * spelling; without it the name is looked up across both kinds. */
  private def dropMv(text: String): Unit = text match {
    case DropMvRe(mvName, tname) =>
      val owner = Option(tname).map(state).orElse(
        tables.synchronized(tables.values.toSeq).find(t =>
          t.synchronized(t.mvs.exists(_.name == mvName))))
      owner.filter(t => t.synchronized(t.mvs.exists(_.name == mvName))) match {
        case Some(t) =>
          t.synchronized { t.mvs.filterInPlace(_.name != mvName) }
          graft.plans.RollupRewrite.deregister(t.dir, Some(mvName))
        case None =>
          // remove + temp-view drop atomic under the mtmvs monitor, so
          // registerMtmvView's drop-aware re-check observes them as one
          val m = mtmvs.synchronized {
            val r = mtmvs.remove(mvName)
              .getOrElse(sys.error(s"unknown materialized view $mvName"))
            s.catalog.dropTempView(r.name)
            r
          }
          graft.TempDirs.deleteTree(java.nio.file.Paths.get(m.dir))
      }
    case _ => sys.error(s"unparseable DROP MATERIALIZED VIEW: ${text.take(80)}")
  }

  private val RefreshMvRe =
    """(?is)^REFRESH\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?$""".r

  /** `REFRESH MATERIALIZED VIEW m` → one row (mv_name,
    * partitions_refreshed) — the manual trigger of the ON MANUAL policy. */
  private def refreshStmt(text: String): DataFrame = text match {
    case RefreshMvRe(name) =>
      val m = mtmvs.synchronized(mtmvs.getOrElse(name,
        sys.error(s"unknown materialized view $name")))
      val n = refreshMtmv(m)
      import s.implicits._
      Seq((name, n.toLong)).toDF("mv_name", "partitions_refreshed")
    case _ => sys.error(s"unparseable REFRESH: ${text.take(80)}")
  }

  /** Test hook: the physical plan of `m`'s last incremental recompute. */
  private[graft] def mtmvLastPlan(name: String): String =
    mtmvs.synchronized(mtmvs(name).lastPlan)

  private val ShowCreateMtmvRe =
    """(?is)^SHOW\s+CREATE\s+MATERIALIZED\s+VIEW\s+`?(\w+)`?$""".r

  /** `SHOW CREATE MATERIALIZED VIEW m` — the replayable CREATE text,
    * refresh trigger included (the schedule round-trips). */
  private def showCreateMtmv(text: String): DataFrame = text match {
    case ShowCreateMtmvRe(name) =>
      val m = mtmvs.synchronized(mtmvs.getOrElse(name,
        sys.error(s"unknown materialized view $name")))
      val trigger = m.refreshMode match {
        case "SCHEDULE" =>
          // a declared STARTS round-trips: Doris preserves the user's DDL
          val (n, u, starts) = m.schedule.get
          s"ON SCHEDULE EVERY $n $u" +
            starts.fold("")(v => s" STARTS '$v'")
        case other => s"ON $other"
      }
      val stmt = s"CREATE MATERIALIZED VIEW `${splitDb(m.name)._2}` " +
        "BUILD IMMEDIATE " +
        s"REFRESH AUTO $trigger PARTITION BY (`${m.pcol}`) " +
        s"AS SELECT ${m.selList} FROM `${m.table}` " +
        s"GROUP BY ${m.keys.mkString(", ")}"
      import s.implicits._
      Seq((m.name, stmt)).toDF("materialized_view", "create_stmt")
    case _ => sys.error(s"unparseable SHOW CREATE MATERIALIZED VIEW: ${text.take(80)}")
  }

  // ---------------------------------------------------------------- INSERT

  private val InsertRe =
    """(?is)^INSERT\s+INTO\s+`?(\w+)`?\s*(?:WITH\s+LABEL\s+`?(\w+)`?\s*)?(?:(TEMPORARY\s+)?PARTITION\s*\(\s*`?(\w+)`?\s*\)\s*)?(\(([^)]*)\))?\s*(VALUES\s+.*|SELECT\s+.*)$""".r

  private def insertInto(text: String): Unit = text match {
    case InsertRe(name, lbl, tempKw, pname, _, colList, body) =>
      val t = state(name)
      // WITH LABEL: load idempotence — a label is consumed by exactly one
      // SUCCESSFUL load; a duplicate rejects BEFORE any work (the Doris
      // txn-label dedup that makes client retries exactly-once), while a
      // FAILED load does not consume it, so the retry goes through
      val label = Option(lbl)
      label.foreach(l => require(t.synchronized(!t.labels.contains(l)),
        s"$name: errCode = 2, label $l already exists"))
      val temp = tempKw != null
      val part = Option(pname)
      part.foreach { p =>
        require(t.def_.partCol.isDefined,
          s"$name: PARTITION insert needs a partitioned table")
        if (temp) require(t.synchronized(t.tempParts.contains(p)),
          s"$name: unknown temporary partition $p")
        else require(partitionNames(t).contains(p),
          s"$name: unknown partition $p")
      }
      require(!temp || part.isDefined,
        s"$name: TEMPORARY needs a PARTITION (p) target")
      val src =
        if (body.toUpperCase.startsWith("VALUES")) {
          val targets = Option(colList)
            .map(topLevelSplit(_).map(stripIdent))
            .getOrElse(t.def_.cols.filter(_.gen.isEmpty).map(_.name))
          s.sql(s"SELECT * FROM ($body) AS v(${targets.mkString(", ")})")
        } else DorisSqlDialect.sql(s, body) match {
          case df =>
            Option(colList).map(topLevelSplit(_).map(stripIdent)) match {
              case Some(ts) => df.toDF(ts: _*)
              // positional mapping skips GENERATED columns (they are
              // computed, not loaded — Doris excludes them here too)
              case None => df.toDF(t.def_.cols.filter(_.gen.isEmpty).map(_.name): _*)
            }
        }
      if (temp) loadTempPartition(t, src, part.get, label)
      else load(t, src, part, label)
    case _ => sys.error(s"unparseable INSERT: ${text.take(80)}")
  }

  /** One load's rowset frame: missing columns filled from their DEFAULT,
    * every column cast to its declared type, range-partition name assigned
    * (or the load rejected), version stamped, bucketed by the distribution
    * column. Every read of the rowsets goes through the schema this fixes,
    * [[DorisDdl.readSchema]]. */
  private def rowset(t: TableState, src0: DataFrame, ver: Long): DataFrame = {
    // AUTO_INCREMENT fill first, so the alignment below sees the column
    // populated like any other supplied value
    val src = t.def_.cols.find(_.autoInc.isDefined)
      .map(c => fillAutoInc(t, src0, c)).getOrElse(src0)
    val present = src.columns.toSet
    // GENERATED columns are computed, never loaded: a source frame naming
    // one (an explicit INSERT column list) rejects, Doris's rule
    t.def_.cols.filter(_.gen.isDefined).foreach(c =>
      require(!present.contains(c.name),
        s"${t.def_.name}: generated column ${c.name} cannot be written by a load"))
    // UNIQUE rowsets carry the hidden delete sign (Doris
    // __DORIS_DELETE_SIGN__): a load naming __DELETE_SIGN__ in its column
    // list writes delete markers (batch delete / MERGE load); plain loads
    // stamp 0. The marker participates in the merge like any row — only
    // the WINNING version's sign decides visibility.
    val sign =
      if (t.def_.keysType != "UNIQUE") Nil
      else Seq((if (present.contains("__DELETE_SIGN__"))
        col("__DELETE_SIGN__").cast("int") else lit(0)).as("_sign"))
    val aligned0 = src.select(t.def_.cols.filter(_.gen.isEmpty).map { c =>
      val in = (if (present.contains(c.name)) col(c.name)
        else lit(c.default.orNull)).cast(c.sparkType)
      // VARIANT ingest: the column ARRIVES as text (or anything that casts
      // to it — a variant source stringifies back to JSON) and must parse;
      // a malformed document kills the load, Doris's strict VARIANT rule.
      // Stored as the text; the read projection parses it once.
      (if (c.variant)
        when(in.isNotNull && try_parse_json(in).isNull, raise_error(concat(
          lit(s"${t.def_.name}: invalid JSON for VARIANT column ${c.name}: "),
          substring(in, 1, 80)))).otherwise(in)
      else in).as(c.name)
    } ++ sign: _*)
    // generated columns compute from the ALIGNED (already-cast) plain
    // columns at load time and are stored like any other column — reads
    // never recompute them (the Doris stored-generated contract); the
    // final select restores declared column order
    val aligned = t.def_.cols.filter(_.gen.isDefined)
      .foldLeft(aligned0)((df, c) => df.withColumn(c.name,
        expr(DorisSqlDialect.rewrite(c.gen.get)).cast(c.sparkType)))
      .select(t.def_.cols.map(c => col(c.name)) ++
        (if (t.def_.keysType == "UNIQUE") Seq(col("_sign")) else Nil): _*)
    val withPart = t.def_.partCol match {
      case Some(pc) =>
        aligned.withColumn("_p", partitionName(t.def_, col(pc)))
      case None => aligned
    }
    // rowsets land KEY-SORTED (Doris's short-key order, [doris:
    // be/src/olap/short_key_index.cpp]): a local per-bucket sort — no extra
    // shuffle — that makes each parquet row-group's min/max (the zonemap)
    // tight on the key prefix, so pushed key predicates skip row groups at
    // scan. Partitioned tables sort by _p first, which also satisfies the
    // writer's partition-clustering requirement (no second writer sort).
    val sortCols = t.def_.partCol.map(_ => col("_p")).toSeq ++
      t.def_.keyCols.map(col)
    // _pos: within-load row position (assigned BEFORE the bucket shuffle,
    // so a VALUES list numbers in statement order). Two rows with the same
    // key in ONE load tie on _ver; Doris keeps the LAST row of the batch —
    // without this the UNIQUE merge window breaks the tie arbitrarily
    // (caught by the LIST-partition fuzz: same-key VALUES row order flipped
    // the winner run to run). SCOPE: monotonically_increasing_id encodes
    // statement order only for single-partition sources (VALUES lists — the
    // case the contract exists for; a local relation plans as one
    // partition). For a multi-partition INSERT...SELECT with duplicate keys
    // in ONE batch, _pos follows (partitionId, offset) — source partition
    // layout, not global row order — which is also what a distributed Doris
    // load observes: batch order across concurrent tablets is not total.
    // Forcing a global order (coalesce(1)/zipWithIndex) would serialize
    // every bulk load through one task; deliberately not done.
    bucketed(t.def_, withPart.withColumn("_ver", lit(ver))
      .withColumn("_pos", monotonically_increasing_id()))
      .sortWithinPartitions(sortCols: _*)
  }

  /** A read of `t`'s rowset tree (or of the `files` subset) through `d`'s
    * read schema ([[DorisDdl.readSchema]]): the table def, not the
    * footers, is the schema — Doris's light schema change reads every
    * segment through the FE's table schema — so building the read runs no
    * Spark job. basePath keeps `_p` partition discovery for a file subset.
    * Callers pass the one `t.def_` they read (see visible). */
  private def rowsets(t: TableState, d: TableDef,
      files: Option[Seq[String]] = None): DataFrame = {
    val r = s.read.schema(readSchema(d))
    files match {
      case Some(fs) => r.option("basePath", t.dir).parquet(fs: _*)
      case None => r.parquet(t.dir)
    }
  }

  /** Claim a contiguous AUTO_INCREMENT id block [returned, returned+n)
    * for one load — a driver-side, metadata-sized operation: the counter
    * persists per table (`_auto_inc` sidecar, atomic tmp+rename, the
    * `_`-prefix keeps it invisible to every parquet read) and only moves
    * forward, so ids are unique forever; a failed load burns its block
    * (Doris also guarantees uniqueness, not continuity). A missing
    * sidecar over standing rowsets (a RESTORE) re-seeds from max(id)+1 —
    * one column-pruned scan answered mostly from footer stats. */
  private def claimAutoIds(t: TableState, c: ColDef, n: Long): Long =
    t.synchronized {
      val f = java.nio.file.Paths.get(t.dir, "_auto_inc")
      val cur =
        if (java.nio.file.Files.exists(f))
          new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
        else if (hasRowsets(t.dir)) {
          val r = rowsets(t, t.def_)
            .agg(max(DorisDdl.readCol(c).getOrElse(col(c.name)))).head()
          if (r.isNullAt(0)) c.autoInc.get else r.getLong(0) + 1L
        } else c.autoInc.get
      val tmp = java.nio.file.Paths.get(t.dir, "_auto_inc.tmp")
      java.nio.file.Files.write(tmp, (cur + n).toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      cur
    }

  /** Fill the AUTO_INCREMENT column for one load: rows that do not
    * supply it (column absent from the load, or NULL) get ids from ONE
    * driver-claimed contiguous block, assigned DISTRIBUTED via
    * zipWithIndex (per-partition counts + cumulative offsets — no
    * single-task funnel, no global sort; linear at any load size). Rows
    * that DO supply a value keep it, Doris's rule. Label dedup upstream
    * makes replays exactly-once: a replayed label rejects before any
    * claim, so no id is ever allocated twice for one logical load. */
  private def fillAutoInc(t: TableState, src: DataFrame,
      c: ColDef): DataFrame = {
    val df =
      if (src.columns.contains(c.name))
        src.withColumn(c.name, col(c.name).cast("bigint"))
      else src.withColumn(c.name, lit(null).cast("bigint"))
    val need = df.filter(col(c.name).isNull)
    val n = need.count()
    if (n == 0L) return df
    val base = claimAutoIds(t, c, n)
    val schema = need.schema
    val idx = schema.fieldIndex(c.name)
    val filled = s.createDataFrame(
      need.rdd.zipWithIndex().map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq.updated(idx, base + i))
      }, schema)
    df.filter(col(c.name).isNotNull).unionByName(filled)
  }

  /** Apply the table's declared distribution to one rowset frame: HASH =
    * repartition on the distribution column (key-hash tablet locality),
    * RANDOM = round-robin repartition. BUCKETS AUTO derives the count PER
    * LOAD from the source plan's size estimate (~1 GiB per bucket, capped
    * at 128, Doris's auto-bucket sizing idea) — a VALUES trickle stays
    * one file per partition while a 100 GB backfill fans out, with no
    * user-guessed constant to outgrow. */
  private def bucketed(d: TableDef, df: DataFrame): DataFrame = {
    val n =
      if (!d.autoBuckets) d.buckets
      else {
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val per = BigInt(1L << 30)
        ((bytes + per - 1) / per).max(1).min(128).toInt
      }
    if (d.randomDist) df.repartition(n) else df.repartition(n, col(d.hashCol))
  }

  /** Apply the table's bloom_filter_columns as parquet bloom-filter write
    * options: each rowset file carries a bloom filter per declared column,
    * and the vectorized reader consults it for pushed equality/IN
    * predicates (parquet.filter.bloom.enabled is on by default) — file-
    * level skipping without reading pages, Doris's bloom skip index. */
  private def withBloom[T](w: org.apache.spark.sql.DataFrameWriter[T],
      d: TableDef): org.apache.spark.sql.DataFrameWriter[T] =
    d.bloomCols.foldLeft(w)((acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true"))

  private def load(t: TableState, src: DataFrame,
      part: Option[String] = None, label: Option[String] = None): Unit =
      t.loadLock.synchronized {
    // label dedup re-checked INSIDE the publish lock: the insertInto-time
    // check is a cheap early reject, but two concurrent loads carrying the
    // same label must resolve atomically — exactly one claims it
    label.foreach(l => require(t.synchronized(!t.labels.contains(l)),
      s"${t.def_.name}: errCode = 2, label $l already exists"))
    val ver = t.synchronized { t.nextVer += 1; t.nextVer }
    var out = rowset(t, src, ver)
    // INSERT INTO t PARTITION (p): a row routed anywhere else kills the
    // load (Doris rejects rows outside the target partition list)
    part.foreach { p =>
      out = out.withColumn("_p",
        when(col("_p") === p, col("_p")).otherwise(raise_error(concat(
          lit(s"${t.def_.name}: INSERT PARTITION ($p) received a row for partition "),
          col("_p")))))
    }
    val w = withBloom(out.write.mode("append"), t.def_)
    try (if (t.def_.partCol.isDefined) w.partitionBy("_p") else w).parquet(t.dir)
    catch { case e: Throwable =>
      // a REJECTED load (raise_error row) must leave no droppings: the
      // aborted Spark job can leave a _temporary dir, which would make an
      // otherwise-empty table dir look non-empty (and unreadable) to the
      // view registration
      graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir, "_temporary"))
      throw e
    }
    // the load is PUBLISHED: consume its label and record the version
    // (driver metadata; SHOW LOAD serves from it)
    t.synchronized {
      label.foreach(t.labels += _)
      t.loads += ((ver, label))
    }
    dynamicPartitionMaintain(t)
    registerViews(t)
    refreshMvs(t)
    // NGRAM_BF/BITMAP load-time index build: the new rowset's files get
    // their sidecars here (one pass over the new files only — the _ver
    // filter's parquet stats skip every older rowset)
    buildNgramSidecars(t)
    buildBitmapSidecars(t)
  }

  /** Dynamic-partition maintenance (AUTO tables) — runs at load time and
    * when ALTER SET flips the knobs, both anchored on DATA time (the
    * newest bucket that actually holds rowsets, so a forward-created
    * empty buffer never advances "now"):
    *  - RETENTION (start < 0): drop buckets older than newest + start, an
    *    O(1) directory op per expired period — log retention free at
    *    100 TB;
    *  - FORWARD BUFFER (end > 0): pre-create the next `end` empty
    *    buckets, so SHOW PARTITIONS (and partition-targeted statements)
    *    see tomorrow's partition before any row lands in it — the buffer
    *    Doris's dynamic-partition scheduler maintains. */
  private def dynamicPartitionMaintain(t: TableState): Unit = {
    if (t.def_.autoGran.isEmpty ||
      (t.def_.retainStart.isEmpty && t.def_.dynEnd.isEmpty)) return
    val gran = t.def_.autoGran.get
    val all = partitionNames(t)
    val dataNames = all.filter(p => partitionHasData(t, p))
    if (dataNames.isEmpty) return
    val newest = dataNames.map(bucketIndex(gran, _)).max
    t.def_.retainStart.foreach { start =>
      all.filter(p => bucketIndex(gran, p) < newest + start).foreach { p =>
        graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir, s"_p=$p"))
        s.catalog.dropTempView(s"${t.def_.name}__part_$p")
      }
    }
    t.def_.dynEnd.foreach { end =>
      (1 to end).foreach { i =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(t.dir, s"_p=${bucketName(gran, newest + i)}"))
      }
    }
  }

  // ---------------------------------- TEMPORARY partitions / REPLACE swap

  /** `ALTER TABLE t ADD TEMPORARY PARTITION p <spec>` ([doris:
    * fe/.../analysis/ReplacePartitionClause.java; the temporary-partition
    * staging model]): declare the staging side of the atomic backfill
    * swap. A temp partition's range MAY overlap the live layout — that is
    * the point, it shadows the partition it will replace — but its name
    * must be fresh across both namespaces. */
  private def addTempPartition(name: String, spec: String): Unit = {
    val t = state(name)
    val d = t.def_
    require(d.partCol.isDefined, s"$name: table is not partitioned")
    require(d.autoGran.isEmpty,
      s"$name: AUTO-partitioned tables manage their own partitions")
    val p = parsePartition(s"PARTITION $spec")
    require(!d.parts.exists(_.name == p.name) &&
      t.synchronized(!t.tempParts.contains(p.name)),
      s"$name: partition ${p.name} already exists")
    if (d.listPart) require(p.inValues.isDefined,
      s"$name: a LIST table's temporary partition needs VALUES IN")
    else require(p.inValues.isEmpty,
      s"$name: VALUES IN needs a LIST-partitioned table")
    t.synchronized { t.tempParts(p.name) = p }
  }

  private def dropTempPartition(name: String, pname: String): Unit = {
    val t = state(name)
    require(t.synchronized(t.tempParts.contains(pname)),
      s"$name: unknown temporary partition $pname")
    t.synchronized { t.tempParts -= pname }
    graft.TempDirs.deleteTree(
      java.nio.file.Paths.get(t.dir, s"_p=__tmp_$pname"))
  }

  /** `INSERT INTO t TEMPORARY PARTITION (tp) ...`: the staging load. Rows
    * route against the TEMP partition's own bounds (a row outside them
    * kills the load — the same raise_error contract as declared
    * partitions) and land under `_p=__tmp_<tp>`, physically co-located
    * with the table but invisible to every read until REPLACE publishes
    * them. Versions come from the table's own counter, so after publish
    * the swapped rowset is a normal citizen of the merge version order. */
  private def loadTempPartition(t: TableState, src: DataFrame,
      tp: String, label: Option[String]): Unit =
      t.loadLock.synchronized {
    label.foreach(l => require(t.synchronized(!t.labels.contains(l)),
      s"${t.def_.name}: errCode = 2, label $l already exists"))
    val pd = t.synchronized(t.tempParts(tp))
    val ver = t.synchronized { t.nextVer += 1; t.nextVer }
    // route with a one-partition shadow layout: rowset()'s partitionName
    // CASE chain then validates the temp bounds and stamps the staging
    // name in the same single pass a declared load gets
    val shadow = TableState(
      t.def_.copy(parts = Seq(pd.copy(name = s"__tmp_$tp"))), t.dir)
    val out = rowset(shadow, src, ver)
    val w = withBloom(out.write.mode("append"), t.def_)
    try w.partitionBy("_p").parquet(t.dir)
    catch { case e: Throwable =>
      graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir, "_temporary"))
      throw e
    }
    t.synchronized {
      label.foreach(t.labels += _)
      t.loads += ((ver, label))
    }
    // no registerViews/refreshMvs: staging data is invisible by contract
  }

  /** `ALTER TABLE t REPLACE PARTITION (p) WITH TEMPORARY PARTITION (tp)`
    * — the atomic backfill swap Doris production pipelines lean on: stage
    * a rebuilt partition, swap it in as one transaction. strict_range
    * (the Doris default) is enforced: the temp partition must cover
    * EXACTLY the replaced partition's range — same upper bound and same
    * effective lower (the preceding partition's bound; declare the temp
    * with the fixed-range `VALUES [('lo'), ('hi'))` spelling when
    * replacing a non-first partition) — or, on a LIST table, the same
    * value set — so the swap can never lose or double-cover a key range.
    * The swap itself is O(1) data-free metadata:
    *   1. the replaced partition's directory is removed and the staging
    *      directory renamed into its place (the partition KEEPS its formal
    *      name — use_temp_partition_name=false, the Doris default);
    *   2. standing versioned deletes are scoped away from the partition:
    *      the swapped-in rowset is a NEW publish, and a delete recorded
    *      before the swap must not apply to it (Doris deletes never touch
    *      temporary partitions). Deletes issued AFTER the swap apply
    *      normally. */
  private def replacePartition(name: String, pname: String,
      tmpName: String): Unit = {
    val t = state(name)
    val d = t.def_
    val idx = d.parts.indexWhere(_.name == pname)
    require(idx >= 0, s"$name: unknown partition $pname")
    val p = d.parts(idx)
    require(!p.dropped, s"$name: partition $pname was dropped")
    val tp = t.synchronized(t.tempParts.get(tmpName)).getOrElse(
      sys.error(s"$name: unknown temporary partition $tmpName"))
    if (d.listPart)
      require(tp.inValues.map(_.toSet) == p.inValues.map(_.toSet),
        s"$name: strict_range: temporary partition $tmpName's value set " +
          s"must equal partition $pname's")
    else {
      val effLower = p.lower.orElse(
        if (idx == 0) None else d.parts(idx - 1).bound)
      require(tp.bound == p.bound && tp.lower == effLower,
        s"$name: strict_range: temporary partition $tmpName " +
          s"[${tp.lower.getOrElse("-inf")}, ${tp.bound.getOrElse("MAX")}) " +
          s"must equal partition $pname " +
          s"[${effLower.getOrElse("-inf")}, ${p.bound.getOrElse("MAX")})")
    }
    val mainDir = java.nio.file.Paths.get(t.dir, s"_p=$pname")
    val tmpDir = java.nio.file.Paths.get(t.dir, s"_p=__tmp_$tmpName")
    graft.TempDirs.deleteTree(mainDir)
    if (java.nio.file.Files.isDirectory(tmpDir))
      java.nio.file.Files.move(tmpDir, mainDir) // one filesystem rename
    t.synchronized {
      t.tempParts -= tmpName
      // amend STRUCTURALLY: a delete scoped to the replaced partition only
      // ever applied to the swapped-out data (now gone) — drop it; one
      // scoped elsewhere already excludes this partition; an unscoped one
      // records the exclusion
      val amended = t.deletes.flatMap { d =>
        if (d.scope.contains(pname)) None
        else if (d.scope.isDefined) Some(d)
        else Some(d.copy(excluded = d.excluded :+ pname))
      }
      t.deletes.clear()
      t.deletes ++= amended
    }
    registerViews(t)
    refreshMvs(t)
  }

  /** Ordinal of an AUTO bucket name (p20240115 / p202401 / p2024) on its
    * granularity's axis — consecutive periods differ by exactly 1. */
  private def bucketIndex(gran: String, name: String): Long = {
    val digits = name.stripPrefix("p")
    gran match {
      case "day" => java.time.LocalDate.parse(digits,
        java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toEpochDay
      case "month" =>
        digits.take(4).toLong * 12 + (digits.drop(4).toLong - 1)
      case "year" => digits.toLong
    }
  }

  /** Inverse of [[bucketIndex]]: the AUTO bucket name at ordinal `idx`. */
  private def bucketName(gran: String, idx: Long): String = gran match {
    case "day" => "p" + java.time.LocalDate.ofEpochDay(idx)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE)
    case "month" => f"p${idx / 12}%04d${idx % 12 + 1}%02d"
    case "year" => s"p$idx"
  }

  /** Does this partition's directory hold any rowset file? (Metadata-sized
    * listing — distinguishes data buckets from forward-created empties.) */
  private def partitionHasData(t: TableState, p: String): Boolean = {
    val d = new java.io.File(t.dir, s"_p=$p")
    d.isDirectory && Option(d.list()).exists(_.exists(_.endsWith(".parquet")))
  }

  // ------------------------------------------------------------ LOAD LABEL

  private val LoadLabelRe =
    ("""(?is)^LOAD\s+LABEL\s+`?(\w+)`?\s*\(\s*DATA\s+INFILE\s*\(\s*'([^']+)'\s*\)\s*""" +
      """INTO\s+TABLE\s+`?(\w+)`?\s*(?:FORMAT\s+AS\s+'?(\w+)'?\s*)?""" +
      """(?:\(([^)]*)\))?\s*\)$""").r

  /** `LOAD LABEL lbl (DATA INFILE('path') INTO TABLE t [FORMAT AS
    * 'csv'|'parquet'] [(cols)])` — the broker/bulk-load statement
    * ([doris: fe/.../analysis/LoadStmt.java]): files read DISTRIBUTED
    * (spark.read over the glob — at 100 TB this is the many-splits scan
    * path, never a driver-side read), columns map positionally for
    * headerless CSV (the Doris default) or by name for parquet, every
    * value is cast by the table's rowset alignment, and the LABEL carries
    * the same exactly-once dedup as INSERT WITH LABEL. */
  private def loadLabel(text: String): Unit = text match {
    case LoadLabelRe(lbl, path, name, fmt0, colList) =>
      val t = state(name)
      require(t.synchronized(!t.labels.contains(lbl)),
        s"$name: errCode = 2, label $lbl already exists")
      val targets = Option(colList).map(topLevelSplit(_).map(stripIdent))
        .getOrElse(t.def_.cols.filter(_.gen.isEmpty).map(_.name))
      targets.foreach(c => require(t.def_.cols.exists(_.name == c),
        s"$name: unknown column $c in LOAD column list"))
      val src = Option(fmt0).map(_.toLowerCase).getOrElse("csv") match {
        case "parquet" => s.read.parquet(path).select(targets.map(col): _*)
        case "csv" => s.read.csv(path).toDF(targets: _*) // headerless, positional
        case other => sys.error(s"LOAD $lbl: unsupported format $other")
      }
      load(t, src, None, Some(lbl))
    case _ => sys.error(s"unparseable LOAD LABEL: ${text.take(80)}")
  }

  // --------------------------------------------------------- BACKUP/RESTORE

  private val BackupRe =
    """(?is)^BACKUP\s+SNAPSHOT\s+`?(\w+)`?\s+TO\s+'([^']+)'\s+ON\s*\((.*)\)$""".r
  private val RestoreRe =
    """(?is)^RESTORE\s+SNAPSHOT\s+`?(\w+)`?\s+FROM\s+'([^']+)'$""".r

  // backup/restore job history (driver metadata; SHOW BACKUP / SHOW
  // RESTORE serve from it): (snapshot, repo, n_tables, state)
  private val backupJobs = mutable.ArrayBuffer[(String, String, Long, String)]()
  private val restoreJobs = mutable.ArrayBuffer[(String, String, Long, String)]()

  private val ShowSnapshotRe =
    """(?is)^SHOW\s+SNAPSHOT\s+ON\s+'([^']+)'(?:\s+WHERE\s+SNAPSHOT\s*=\s*'([^']+)')?$""".r

  /** `SHOW BACKUP` / `SHOW RESTORE` → (snapshot, repo, n_tables, state):
    * the instance's backup/restore job history ([doris:
    * fe/.../backup/BackupHandler.java]; jobs here run synchronously, so
    * every recorded job is FINISHED — a failed one threw before
    * recording). */
  private def showBackupJobs(restoreSide: Boolean): DataFrame = {
    import s.implicits._
    (if (restoreSide) restoreJobs else backupJobs)
      .synchronized((if (restoreSide) restoreJobs else backupJobs).toSeq)
      .toDF("snapshot", "repo", "n_tables", "state")
  }

  /** `SHOW SNAPSHOT ON 'repo' [WHERE SNAPSHOT = 'name']` → (snapshot,
    * n_tables, state): list what the REPOSITORY holds — read from the
    * repo directory itself (not job history), so snapshots written by
    * another instance are visible, the point of a shared repo. */
  private def showSnapshot(text: String): DataFrame = text match {
    case ShowSnapshotRe(path, wanted) =>
      val root = java.nio.file.Paths.get(path)
      require(java.nio.file.Files.isDirectory(root),
        s"unknown repository path $path")
      val snaps = {
        val l = java.nio.file.Files.list(root)
        try l.filter(p => java.nio.file.Files.isDirectory(p))
          .toArray(new Array[java.nio.file.Path](_)).toSeq
        finally l.close()
      }
      val rows = snaps.map { sd =>
        val nTables = {
          val l = java.nio.file.Files.list(sd)
          try l.filter(p => java.nio.file.Files.isDirectory(p)).count()
          finally l.close()
        }
        (sd.getFileName.toString, nTables, "FINISHED")
      }.filter(r => wanted == null || r._1 == wanted)
        .sortBy(_._1)
      import s.implicits._
      rows.toDF("snapshot", "n_tables", "state")
    case _ => sys.error(s"unparseable SHOW SNAPSHOT: ${text.take(80)}")
  }

  private val CancelLoadRe =
    """(?is)^CANCEL\s+LOAD(?:\s+FROM\s+`?(\w+)`?)?\s+WHERE\s+LABEL\s*=\s*['"]([^'"]+)['"]$""".r

  /** `CANCEL LOAD [FROM t] WHERE LABEL = 'l'` ([doris:
    * fe/.../analysis/CancelLoadStmt.java]): kill a load job that has not
    * published. In this engine every label-carrying load publishes or
    * throws SYNCHRONOUSLY — there is no window in which a label exists
    * un-published — so the statement's reachable contract is Doris's two
    * terminal errors: a consumed label cannot be cancelled, an unknown
    * label does not exist. (The one long-lived load, ROUTINE LOAD, has its
    * own PAUSE/RESUME/STOP job control.) */
  private def cancelLoad(text: String): Unit = text match {
    case CancelLoadRe(tname, lbl) =>
      val targets = Option(tname) match {
        case Some(n) => Seq(state(n))
        case None => tables.synchronized(tables.values.toSeq)
      }
      if (targets.exists(t => t.synchronized(t.labels.contains(lbl))))
        sys.error(s"errCode = 2, label $lbl: load job is FINISHED and " +
          "cannot be cancelled")
      else sys.error(s"errCode = 2, load job with label $lbl does not exist")
    case _ => sys.error(s"unparseable CANCEL LOAD: ${text.take(80)}")
  }

  /** `BACKUP SNAPSHOT snap TO 'repo' ON (t1, ...)` ([doris:
    * fe/.../backup/BackupJob.java]; the named-repository indirection is
    * folded into the path). A table's snapshot = its rowset FILES copied
    * verbatim (no re-encode, the physical-backup property) plus a 1-row
    * parquet meta sidecar carrying the SHOW CREATE text (the full
    * definition round-trip: key model, partitions including holes,
    * indexes, bloom columns, generated exprs) and the visibility metadata
    * a physical copy alone would lose — nextVer, the standing VERSIONED
    * DELETES and the light-schema-change history. Sync MVs are
    * not captured (recreate after restore), matching
    * the "materializations are derived" stance. Returns the one-row job
    * summary. */
  private def backup(text: String): DataFrame = text match {
    case BackupRe(snap, path, tlist) =>
      val names = topLevelSplit(tlist).map(stripIdent)
      require(names.nonEmpty, "BACKUP: ON (...) needs at least one table")
      names.foreach { n =>
        val t = state(n)
        val dst = java.nio.file.Paths.get(path, snap, n)
        require(!java.nio.file.Files.exists(dst),
          s"snapshot $snap already contains $n")
        java.nio.file.Files.createDirectories(dst)
        copyParquetTree(java.nio.file.Paths.get(t.dir), dst.resolve("data"))
        val createText = showCreateTable(s"SHOW CREATE TABLE $n")
          .select("create_table").head().getString(0)
        val recs = t.synchronized(t.deletes.toSeq)
        val d = t.def_
        import s.implicits._
        // deletes serialize field-per-field (pred / ver / scope / excluded)
        // so a restored table keeps the STRUCTURAL records — a post-restore
        // partition rename must still amend them by name, not by splicing.
        // The light-schema-change history (each column's addedVer and
        // rename priors, the dropped names) rides along: SHOW CREATE
        // cannot say it, and the copied rowsets are read through it
        Seq((createText, t.synchronized(t.nextVer), recs.map(_.pred),
            recs.map(_.ver), recs.map(_.scope.getOrElse("")),
            recs.map(_.excluded.mkString(",")), d.cols.map(_.addedVer),
            d.cols.map(_.priors), d.droppedCols))
          .toDF("create_text", "next_ver", "del_preds", "del_vers",
            "del_scopes", "del_excls", "col_added_vers", "col_priors",
            "dropped_cols")
          .coalesce(1).write.parquet(dst.resolve("_meta").toString)
      }
      backupJobs.synchronized {
        backupJobs += ((snap, path, names.size.toLong, "FINISHED"))
      }
      import s.implicits._
      Seq((snap, names.size.toLong, "FINISHED"))
        .toDF("snapshot", "n_tables", "state")
    case _ => sys.error(s"unparseable BACKUP: ${text.take(80)}")
  }

  /** `RESTORE SNAPSHOT snap FROM 'repo'`: every table in the snapshot is
    * recreated by replaying its SHOW CREATE text, its rowset files are
    * copied back verbatim, and nextVer, the versioned deletes and the
    * columns' light-schema-change history are reinstated — so the
    * restored table reads EXACTLY the visible state at
    * backup time (a delete recorded before the backup still hides
    * pre-delete rowsets; labels/load history reset, as a restore is a new
    * ingest lineage). Restoring over an existing table rejects. */
  private def restore(text: String): DataFrame = text match {
    case RestoreRe(snap, path) =>
      val root = java.nio.file.Paths.get(path, snap)
      require(java.nio.file.Files.isDirectory(root),
        s"unknown snapshot $snap under $path")
      val tableDirs = {
        val l = java.nio.file.Files.list(root)
        try l.filter(p => java.nio.file.Files.isDirectory(p))
          .toArray(new Array[java.nio.file.Path](_)).toSeq
        finally l.close()
      }
      require(tableDirs.nonEmpty, s"snapshot $snap is empty")
      val restored = tableDirs.sortBy(_.getFileName.toString).map { td =>
        val n = td.getFileName.toString
        require(tables.synchronized(!tables.contains(n)),
          s"RESTORE: table $n already exists (drop it first)")
        val meta = graft.Tables.parquetOnce(s, td.resolve("_meta").toString).head()
        createTable(meta.getString(0)) // full-definition replay
        val t = state(n)
        copyParquetTree(td.resolve("data"), java.nio.file.Paths.get(t.dir))
        t.synchronized {
          t.nextVer = meta.getLong(1)
          t.deletes.clear()
          val (preds, vers) = (meta.getSeq[String](2), meta.getSeq[Long](3))
          val (scopes, excls) = (meta.getSeq[String](4), meta.getSeq[String](5))
          t.deletes ++= preds.indices.map(i => DeleteRec(preds(i), vers(i),
            Option(scopes(i)).filter(_.nonEmpty),
            excls(i).split(",").filter(_.nonEmpty).toSeq))
          if (meta.schema.fieldNames.contains("col_priors")) {
            val (added, priors) =
              (meta.getSeq[Long](6), meta.getSeq[scala.collection.Seq[String]](7))
            t.def_ = t.def_.copy(
              cols = t.def_.cols.zipWithIndex.map { case (c, i) =>
                c.copy(addedVer = added(i), priors = priors(i).toSeq)
              },
              droppedCols = meta.getMap[String, String](8).toMap)
          }
        }
        registerViews(t)
        n
      }
      restoreJobs.synchronized {
        restoreJobs += ((snap, path, restored.size.toLong, "FINISHED"))
      }
      import s.implicits._
      Seq((snap, restored.size.toLong, "FINISHED"))
        .toDF("snapshot", "n_tables", "state")
    case _ => sys.error(s"unparseable RESTORE: ${text.take(80)}")
  }

  /** Copy every parquet file under `src` to the same relative path under
    * `dst` (close-safe walk; directory markers skipped). */
  private def copyParquetTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    val files = {
      val walk = java.nio.file.Files.walk(src)
      // `_p=__tmp_*` staging rowsets are NOT part of a snapshot: a backup
      // captures the VISIBLE state, and a restore has no temp-partition
      // defs to attach the staging data to
      try walk.filter(f => f.toString.endsWith(".parquet") &&
          !f.toString.contains("_p=__tmp_"))
        .toArray(new Array[java.nio.file.Path](_)).toSeq
      finally walk.close()
    }
    files.foreach { f =>
      val to = dst.resolve(src.relativize(f))
      java.nio.file.Files.createDirectories(to.getParent)
      java.nio.file.Files.copy(f, to,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // ----------------------------------------------------------- ROUTINE LOAD

  private val routines = mutable.LinkedHashMap[String, RoutineState]()

  private val CreateRoutineRe =
    ("""(?is)^CREATE\s+ROUTINE\s+LOAD\s+`?(\w+)`?\s+ON\s+`?(\w+)`?\s+""" +
      """FROM\s+FILE\s*\(\s*'([^']+)'\s*,\s*'(\w+)'\s*\)$""").r
  // Doris spells the job-state statements `... ROUTINE LOAD FOR job`
  // ([doris: fe grammar StopRoutineLoadStmt]); FOR is optional here so
  // both the FE spelling and the bare name work (caught by a round-18
  // cross-feature probe: a real Doris admin script uses FOR)
  private val StopRoutineRe =
    """(?is)^STOP\s+ROUTINE\s+LOAD\s+(?:FOR\s+)?`?(\w+)`?$""".r
  private val PauseRoutineRe =
    """(?is)^PAUSE\s+ROUTINE\s+LOAD\s+(?:FOR\s+)?`?(\w+)`?$""".r
  private val ResumeRoutineRe =
    """(?is)^RESUME\s+ROUTINE\s+LOAD\s+(?:FOR\s+)?`?(\w+)`?$""".r

  /** `CREATE ROUTINE LOAD job ON t FROM FILE('dir', 'parquet'|'csv')` —
    * continuous ingest ([doris: fe/.../load/routineload/
    * RoutineLoadJob.java]; Kafka is env-excluded, the FILE source is the
    * honest stand-in): a Structured Streaming file source over the
    * directory, each micro-batch landing through the SAME load path as
    * INSERT — versioned rowset, bucket layout, MV maintenance — under an
    * auto label `job_<batchId>`, so a replayed batch dedups exactly like a
    * client retry. The statement returns after the initial catch-up
    * (processAllAvailable); the job then keeps RUNNING until STOP ROUTINE
    * LOAD. At 100 TB this is the many-small-files tail-ingest shape: each
    * batch costs one bucketed write of the new files only. */
  private def createRoutineLoad(text: String): Unit = text match {
    case CreateRoutineRe(job, tname, dir, fmt0) =>
      require(routines.synchronized(!routines.contains(job)),
        s"routine load job $job already exists")
      state(tname) // table must exist
      val fmt = fmt0.toLowerCase
      require(fmt == "parquet" || fmt == "csv",
        s"ROUTINE LOAD $job: unsupported format $fmt0")
      // a PERSISTENT checkpoint (not the engine's run-scoped temp one) is
      // what makes PAUSE/RESUME exactly-once: the file-source log records
      // which files each batch consumed, so a resumed query continues from
      // the next unseen file with the next batch id — no re-read, no
      // label collision
      val st = RoutineState(job, tname, dir, fmt,
        graft.TempDirs.create(s"graft_routine_ckpt_$job"))
      startRoutineQuery(st)
      routines.synchronized { routines(job) = st }
      st.query.processAllAvailable() // initial catch-up before the statement returns
    case _ => sys.error(s"unparseable CREATE ROUTINE LOAD: ${text.take(80)}")
  }

  /** (Re)start a routine job's streaming query against its standing
    * checkpoint — shared by CREATE and RESUME. */
  private def startRoutineQuery(st: RoutineState): Unit = {
    val t = state(st.table)
    val plain = t.def_.cols.filter(_.gen.isEmpty)
    val schema = org.apache.spark.sql.types.StructType(plain.map(c =>
      org.apache.spark.sql.types.StructField(c.name,
        org.apache.spark.sql.types.DataType.fromDDL(c.sparkType))))
    val reader = s.readStream.schema(schema)
    val src = st.fmt match {
      case "parquet" => reader.parquet(st.srcDir)
      case "csv" => reader.csv(st.srcDir) // headerless, positional like LOAD LABEL
    }
    st.query = src.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val t = state(st.table)
        val lbl = s"${st.name}_$id"
        // crash-replay window: a batch that PUBLISHED (rowset + label
        // live) but whose checkpoint commit never landed is re-executed
        // by the resumed query with the SAME batch id. Its label is
        // already consumed, so the data is already visible — acknowledge
        // the replay without re-loading (Doris's label-based
        // exactly-once on transaction replay). Loading again would abort
        // on the duplicate label and wedge the job.
        if (t.synchronized(t.labels.contains(lbl))) ()
        else if (!b.isEmpty) {
          load(t, b, None, Some(lbl))
          st.synchronized { st.batches += 1 }
        }
      }
      .option("checkpointLocation", st.ckpt)
      .queryName(s"graft_routine_${st.name}")
      .start()
  }

  /** Test hook: a routine job's standing checkpoint dir (the crash-resume
    * probe manufactures the publish-without-commit on-disk state in it). */
  private[graft] def routineCheckpoint(job: String): String =
    routines.synchronized(routines(job).ckpt)

  /** Test hook: stop a routine job's query WITHOUT the graceful
    * processAllAvailable drain — the in-JVM analogue of a crash while a
    * backlog is in flight. */
  private[graft] def killRoutineQuery(job: String): Unit = {
    val st = routines.synchronized(routines.getOrElse(job,
      sys.error(s"unknown routine load job $job")))
    st.query.stop()
    st.state = "PAUSED"
  }

  private def stopRoutineLoad(text: String): Unit = text match {
    case StopRoutineRe(job) =>
      val st = routines.synchronized(routines.getOrElse(job,
        sys.error(s"unknown routine load job $job")))
      if (st.state == "RUNNING") {
        st.query.processAllAvailable() // drain, then stop — no half batch
        st.query.stop()
      }
      st.state = "STOPPED" // a PAUSED job stops where it is (query already down)
    case _ => sys.error(s"unparseable STOP ROUTINE LOAD: ${text.take(80)}")
  }

  /** `PAUSE ROUTINE LOAD job` ([doris: fe/.../load/routineload/
    * RoutineLoadJob.java updateState NEED_SCHEDULE->PAUSED]): suspend
    * consumption WITHOUT ending the job — the current batch drains (no
    * half batch), the streaming query stops, and files arriving while
    * paused simply wait. The job is the one long-lived non-terminal load
    * in this engine, so PAUSE/RESUME is its genuine pending-state
    * control. */
  private def pauseRoutineLoad(text: String): Unit = text match {
    case PauseRoutineRe(job) =>
      val st = routines.synchronized(routines.getOrElse(job,
        sys.error(s"unknown routine load job $job")))
      require(st.state == "RUNNING",
        s"routine load job $job is ${st.state}, only a RUNNING job pauses")
      st.query.processAllAvailable()
      st.query.stop()
      st.state = "PAUSED"
    case _ => sys.error(s"unparseable PAUSE ROUTINE LOAD: ${text.take(80)}")
  }

  /** `RESUME ROUTINE LOAD job`: restart the query on the SAME checkpoint —
    * the file-source log skips every already-consumed file and batch ids
    * continue, so the pause/resume cycle is exactly-once end to end. The
    * statement returns after catching up on files that arrived while
    * paused (the deterministic analogue of Doris's rescheduling). */
  private def resumeRoutineLoad(text: String): Unit = text match {
    case ResumeRoutineRe(job) =>
      val st = routines.synchronized(routines.getOrElse(job,
        sys.error(s"unknown routine load job $job")))
      require(st.state == "PAUSED",
        s"routine load job $job is ${st.state}, only a PAUSED job resumes")
      startRoutineQuery(st)
      st.state = "RUNNING"
      st.query.processAllAvailable()
    case _ => sys.error(s"unparseable RESUME ROUTINE LOAD: ${text.take(80)}")
  }

  /** `SHOW ROUTINE LOAD` → (job_name, table_name, state, batches_loaded). */
  private def showRoutineLoad(): DataFrame = {
    import s.implicits._
    routines.synchronized(routines.values.toSeq)
      .map(r => (r.name, r.table, r.state, r.synchronized(r.batches)))
      .toDF("job_name", "table_name", "state", "batches_loaded")
  }

  /** Test/driver hook: make a RUNNING job process newly arrived files NOW
    * (in Doris the job consumes continuously; here micro-batches fire on
    * the engine's own cadence, and this forces a deterministic drain). */
  private[graft] def drainRoutineLoad(job: String): Unit =
    routines.synchronized(routines(job)).query.processAllAvailable()

  // ------------------------------------------------------ INSERT OVERWRITE

  private val InsertOverwriteRe =
    """(?is)^INSERT\s+OVERWRITE\s+TABLE\s+`?(\w+)`?\s*(?:PARTITION\s*\(\s*`?(\w+)`?\s*\))?\s*(SELECT\s+.*)$""".r

  /** Doris `INSERT OVERWRITE TABLE t [PARTITION (p)] SELECT ...`: replace
    * the table's (or one partition's) contents with the SELECT result. The
    * new rowset is STAGED to a scratch dir first — every row is validated
    * there (partition bounds; for the PARTITION form, rows outside the
    * target partition fail the statement) — and only then swapped in, so a
    * failed overwrite leaves the old data untouched (Doris runs the same
    * write-then-publish sequence through its txn manager). */
  private def insertOverwrite(text: String): Unit = text match {
    case InsertOverwriteRe(name, pname, body) =>
      val t = state(name)
      val part = Option(pname)
      part.foreach(p => require(
        t.def_.parts.exists(x => x.name == p && !x.dropped),
        s"$name: unknown partition $p"))
      require(part.isEmpty || t.def_.partCol.isDefined,
        s"$name: PARTITION overwrite needs a partitioned table")
      val src = DorisSqlDialect.sql(s, body)
        .toDF(t.def_.cols.filter(_.gen.isEmpty).map(_.name): _*)
      val ver = t.synchronized { t.nextVer += 1; t.nextVer }
      val out0 = rowset(t, src, ver)
      val out = part match {
        case Some(p) => out0.withColumn("_p",
          when(col("_p") === p, col("_p")).otherwise(raise_error(concat(
            lit(s"$name: OVERWRITE PARTITION ($p) received a row for partition "),
            col("_p")))))
        case None => out0
      }
      val staging = graft.TempDirs.create(s"graft_ddl_ow_${t.def_.name}")
      val w = withBloom(out.write.mode("overwrite"), t.def_)
      (if (t.def_.partCol.isDefined) w.partitionBy("_p") else w).parquet(staging)
      // staging succeeded — publish: wipe the replaced scope, move files in
      // (close-safe tree ops: Files.walk/list hold a directory fd)
      part match {
        case Some(p) =>
          graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir, s"_p=$p"))
        case None =>
          graft.TempDirs.deleteTree(
            java.nio.file.Paths.get(t.dir), keepRoot = true)
          t.synchronized { t.deletes.clear() }
      }
      moveStagedParquet(staging, t.dir)
      registerViews(t)
      refreshMvs(t)
    case _ => sys.error(s"unparseable INSERT OVERWRITE: ${text.take(80)}")
  }

  /** Does `dir` hold any committed rowset file? Directory MARKERS —
    * `_SUCCESS`, an aborted job's `_temporary` — and an in-flight load's
    * `_temporary` files don't count: Spark's reader ignores them, so a dir
    * holding only those (e.g. after DROP PARTITION removed the last data
    * partition, or during a table's first load) is EMPTY, and its views
    * read zero rows. */
  private def hasRowsets(dir: String): Boolean = {
    var found = false
    DorisDdl.walkCommitted(dir) { _ => found = true; false }
    found
  }

  /** Publish a staged write: move its parquet files (with their partition
    * subdirs) into the table dir. Close-safe walk. */
  private def moveStagedParquet(staging: String, dir: String): Unit = {
    val stRoot = java.nio.file.Paths.get(staging)
    val dstRoot = java.nio.file.Paths.get(dir)
    val stagedFiles = {
      val walk = java.nio.file.Files.walk(stRoot)
      try walk.filter(f => f.toString.endsWith(".parquet"))
        .toArray(new Array[java.nio.file.Path](_)).toSeq
      finally walk.close()
    }
    stagedFiles.foreach { f =>
      val rel = stRoot.relativize(f)
      val dst = dstRoot.resolve(rel)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(f, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Range-partition assignment. AUTO mode: the partition IS the
    * date_trunc bucket (p20240115-style names — partitions materialize as
    * dirs on load, no DDL per period). Declared mode: a CASE chain over
    * the bounds; a row beyond the last bound kills the load job (Doris
    * rejects it). */
  private def partitionName(d: TableDef, c: Column): Column = d.autoGran match {
    case Some(g) =>
      val fmt = g match {
        case "day" => "yyyyMMdd"
        case "month" => "yyyyMM"
        case "year" => "yyyy"
      }
      concat(lit("p"), date_format(date_trunc(g, c), fmt))
    case None => declaredPartitionName(d, c)
  }

  private def declaredPartitionName(d: TableDef, c: Column): Column = {
    val typed = (s: String) => lit(s).cast(
      d.cols.find(_.name == d.partCol.get).get.sparkType)
    def reject(why: String): Column = raise_error(concat(
      lit(s"${d.name}: $why "), c.cast("string")))
    // LIST partitions: value-set membership, no ordering — a value in no
    // partition's set (including one freed by DROP PARTITION) kills the load
    if (d.listPart)
      return d.parts.foldRight(reject("no partition for value")) { (p, acc) =>
        when(c.isin(p.inValues.get.map(typed): _*), lit(p.name)).otherwise(acc)
      }
    // CASE chain in bound order: each partition claims [implicit-or-explicit
    // lower, bound). A DROPPED partition keeps its branch but the branch
    // REJECTS — Doris leaves a hole after DROP PARTITION, never a merged
    // range, and rows with no covering partition kill the load. An explicit
    // `lower` (fixed-range partition after a hole) adds a >= guard so the
    // hole below it also rejects.
    d.parts.foldRight(reject("no partition for value")) { (p, acc) =>
      val upper = p.bound.map(b => c < typed(b)).getOrElse(lit(true))
      val cond = p.lower.map(lo => upper && c >= typed(lo)).getOrElse(upper)
      val hit: Column =
        if (p.dropped) reject(s"partition ${p.name} was dropped; no partition for value")
        else lit(p.name)
      when(cond, hit).otherwise(acc)
    }
  }

  // ---------------------------------------------------------------- UPDATE

  // UPDATE splits on the first TOP-LEVEL (non-literal, paren-depth-0)
  // FROM/WHERE keyword via topLevelKeywordAt, so only the head needs a
  // regex — a FROM inside a string literal or a subquery can't misroute
  private val UpdateHeadRe =
    """(?is)^UPDATE\s+`?(\w+)`?\s+SET\s+(.*)$""".r

  /** Doris `UPDATE ... SET ... WHERE` (UNIQUE-key tables only, the Doris
    * restriction): executed the way the BE does — read the visible rows
    * matching the predicate, apply the SET expressions, write the result
    * back as ONE new versioned rowset whose rows win the merge-on-read
    * window. Rows outside the predicate are untouched (not rewritten), so
    * the cost is O(matched rows), not a table rewrite. */
  /** Doris 2.x `UPDATE t SET c = expr FROM s1 [, s2...] WHERE join-pred`
    * ([doris: fe/.../analysis/UpdateStmt.java, 2.x multi-table form]):
    * the SET expressions may reference the joined sources (the CDC-apply
    * idiom — `SET t.v = src.v FROM src WHERE t.k = src.k`). Executed as
    * one joined SELECT over the registered views producing the matched
    * rows with assignments applied, reloaded as an upsert batch — the
    * same O(matched) reload as single-table UPDATE. A target row matching
    * several source rows resolves by within-batch position like any
    * same-key batch (the _pos note on rowset(); Doris documents the
    * multi-match result as order-dependent too). */
  private def updateFrom(name: String, sets: String, fromList: String,
      pred: String): Unit = {
    val t = state(name)
    require(t.def_.keysType == "UNIQUE",
      s"$name: UPDATE requires a UNIQUE KEY table (Doris restriction)")
    if (!hasRowsets(t.dir)) return
    registerViews(t)
    val assignments = topLevelSplit(sets).map { a =>
      val Array(c, e) = a.split("=", 2)
      // the LHS may be qualified (`t`.`c` / t.c): strip the target prefix
      (stripIdent(c.trim.replaceFirst(s"^`?$name`?\\.", "")), e.trim)
    }
    assignments.foreach { case (c, _) =>
      require(t.def_.cols.exists(_.name == c), s"$name: unknown column $c")
      require(!t.def_.keyCols.contains(c),
        s"$name: cannot UPDATE key column $c")
      require(t.def_.cols.find(_.name == c).get.gen.isEmpty,
        s"$name: cannot UPDATE generated column $c")
    }
    // assigned columns take their expression, the rest read from the
    // target — all target references QUALIFIED so same-named source
    // columns can't capture them
    val selList = t.def_.cols.filter(_.gen.isEmpty).map { c =>
      assignments.find(_._1 == c.name) match {
        case Some((_, e)) => s"($e) AS `${c.name}`"
        case None => s"`$name`.`${c.name}` AS `${c.name}`"
      }
    }.mkString(", ")
    val updated = DorisSqlDialect.sql(s,
      s"SELECT $selList FROM `$name`, ${resolveListRefs(fromList)} " +
        s"WHERE $pred")
    load(t, updated)
  }

  private def update(text: String): Unit = {
    val whereAt = topLevelKeywordAt(text, "WHERE")
    require(whereAt >= 0, s"unparseable UPDATE (missing WHERE): ${text.take(80)}")
    val fromAt = topLevelKeywordAt(text, "FROM")
    // multi-table (Doris 2.x `UPDATE t SET ... FROM s1, ... WHERE join`)
    // only when a top-level FROM precedes the top-level WHERE
    if (fromAt >= 0 && fromAt < whereAt) {
      val fromList = text.substring(fromAt + "FROM".length, whereAt).trim
      val pred = text.substring(whereAt + "WHERE".length).trim
      text.substring(0, fromAt).trim match {
        case UpdateHeadRe(name, sets) => updateFrom(name, sets, fromList, pred)
        case _ => sys.error(s"unparseable UPDATE: ${text.take(80)}")
      }
      return
    }
    val pred = text.substring(whereAt + "WHERE".length).trim
    text.substring(0, whereAt).trim match {
      case UpdateHeadRe(name, sets) =>
        val t = state(name)
        require(t.def_.keysType == "UNIQUE",
          s"$name: UPDATE requires a UNIQUE KEY table (Doris restriction)")
        // an empty table (never loaded, or truncated) has nothing to update
        if (!hasRowsets(t.dir)) return
        registerViews(t)
        val assignments = topLevelSplit(sets).map { a =>
          val Array(c, e) = a.split("=", 2)
          (stripIdent(c), DorisSqlDialect.rewrite(e.trim))
        }
        assignments.foreach { case (c, _) =>
          require(t.def_.cols.exists(_.name == c), s"$name: unknown column $c")
          require(!t.def_.keyCols.contains(c),
            s"$name: cannot UPDATE key column $c")
          require(t.def_.cols.find(_.name == c).get.gen.isEmpty,
            s"$name: cannot UPDATE generated column $c")
        }
        val matched = visible(t, None)
          .filter(expr(DorisSqlDialect.rewrite(pred)))
        val updated = assignments.foldLeft(matched) { case (df, (c, e)) =>
          df.withColumn(c, expr(e))
        }
        // generated columns RECOMPUTE from the updated row in rowset() —
        // drop their stale stored values from the reload frame
        load(t, updated.drop(t.def_.cols.filter(_.gen.isDefined).map(_.name): _*))
      case _ => sys.error(s"unparseable UPDATE: ${text.take(80)}")
    }
  }

  // ---------------------------------------------------------------- DELETE

  // DELETE splits on the first TOP-LEVEL USING/WHERE via
  // topLevelKeywordAt (a literal 'made using tools' or a subquery's
  // JOIN ... USING (k) can't misroute); only the head needs a regex
  private val DeleteHeadRe =
    """(?is)^DELETE\s+FROM\s+`?(\w+)`?\s*(?:PARTITION\s*\(\s*`?(\w+)`?\s*\)\s*)?$""".r

  /** Doris 2.x `DELETE FROM t [PARTITION (p)] USING s1 [, s2...] WHERE
    * join-pred` ([doris: fe/.../analysis/DeleteStmt.java, 2.x join
    * form]): delete the target rows matching a join — Doris rewrites this
    * to an INSERT of delete-sign rows, and so does this engine: one
    * joined SELECT over the registered views yields the matched target
    * rows, loaded with `__DELETE_SIGN__ = 1` so the markers win the
    * UNIQUE merge window and hide their keys. O(matched), never a table
    * rewrite; a later reload of the key revives it, exactly like batch
    * delete. The PARTITION form joins against the partition-scoped view,
    * so out-of-partition matches survive. */
  private def deleteUsing(name: String, pname: String, usingList: String,
      pred: String): Unit = {
    val t = state(name)
    require(t.def_.keysType == "UNIQUE",
      s"$name: DELETE ... USING requires a UNIQUE KEY table (Doris restriction)")
    if (!hasRowsets(t.dir)) return
    registerViews(t)
    val target = Option(pname) match {
      case Some(p) =>
        require(t.def_.partCol.isDefined,
          s"$name: PARTITION delete needs a partitioned table")
        require(partitionNames(t).contains(p),
          s"$name: unknown partition $p")
        s"`${name}__part_$p` AS `$name`"
      case None => s"`$name`"
    }
    val selList = t.def_.cols.filter(_.gen.isEmpty)
      .map(c => s"`$name`.`${c.name}` AS `${c.name}`").mkString(", ")
    val marks = DorisSqlDialect.sql(s,
      s"SELECT $selList, 1 AS `__DELETE_SIGN__` FROM $target, " +
        s"${resolveListRefs(usingList)} WHERE $pred")
    load(t, marks)
  }

  /** Resolve each member of a comma-separated relation list (USING /
    * UPDATE-FROM) against the current database; a resolved member keeps
    * its bare name as the alias so the predicate's references still
    * bind. Entry qualification cannot see past the FIRST member (the
    * rest follow commas, not keywords). */
  private def resolveListRefs(list: String): String =
    topLevelSplit(list).map { item =>
      val parts = item.trim.split("\\s+", 2)
      val bare0 = stripIdent(parts(0))
      val rn = resolveRef(bare0)
      if (rn == bare0) item.trim
      else if (parts.length == 2) s"`$rn` ${parts(1)}"
      else s"`$rn` AS `$bare0`"
    }.mkString(", ")

  private def deleteFrom(text: String): Unit = {
    val whereAt = topLevelKeywordAt(text, "WHERE")
    require(whereAt >= 0, s"unparseable DELETE (missing WHERE): ${text.take(80)}")
    val usingAt = topLevelKeywordAt(text, "USING")
    val pred = text.substring(whereAt + "WHERE".length).trim
    if (usingAt >= 0 && usingAt < whereAt) {
      val usingList = text.substring(usingAt + "USING".length, whereAt).trim
      text.substring(0, usingAt).trim match {
        case DeleteHeadRe(name, pname) => deleteUsing(name, pname, usingList, pred)
        case _ => sys.error(s"unparseable DELETE: ${text.take(80)}")
      }
      return
    }
    text.substring(0, whereAt).trim match {
      case DeleteHeadRe(name, pname) =>
        val t = state(name)
        require(t.def_.keysType != "AGGREGATE",
          s"$name: DELETE WHERE is not supported on AGGREGATE tables (Doris restriction)")
        // DELETE FROM t PARTITION (p) WHERE ...: the predicate is recorded
        // SCOPED to the partition (DeleteRec.scope compiles to an `_p`
        // conjunct — the read applies delete predicates before the merge,
        // where `_p` is still in scope), so matching rows in OTHER
        // partitions survive
        val scope = Option(pname).map { p =>
          require(t.def_.partCol.isDefined,
            s"$name: PARTITION delete needs a partitioned table")
          require(partitionNames(t).contains(p),
            s"$name: unknown partition $p")
          p
        }
        val ver = t.synchronized { t.nextVer += 1; t.nextVer }
        t.synchronized {
          t.deletes += DeleteRec(DorisSqlDialect.rewrite(pred), ver, scope)
        }
        registerViews(t)
        refreshMvs(t)
      case _ => sys.error(s"unparseable DELETE: ${text.take(80)}")
    }
  }

  // ----------------------------------------------------------------- ALTER

  private val DropPartRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+PARTITION\s+`?(\w+)`?$""".r
  private val AddPartRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+PARTITION\s+(.*)$""".r
  private val AddColRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+COLUMN\s+(.*)$""".r
  private val DropColRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+COLUMN\s+`?(\w+)`?$""".r
  private val RenameColRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+RENAME\s+COLUMN\s+`?(\w+)`?\s+`?(\w+)`?$""".r
  private val RenamePartRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+RENAME\s+PARTITION\s+`?(\w+)`?\s+`?(\w+)`?$""".r
  private val ModifyColRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+MODIFY\s+COLUMN\s+(.*)$""".r
  private val RenameTableRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+RENAME\s+`?(\w+)`?$""".r
  private val AlterSetRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+SET\s*\((.*)\)$""".r
  private val AlterAddIndexRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+(INDEX\s+.*)$""".r
  private val AlterDropIndexRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+INDEX\s+`?(\w+)`?$""".r
  private val AddRollupRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+ROLLUP\s+`?(\w+)`?\s*\(([^)]*)\)$""".r
  private val DropRollupRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+ROLLUP\s+`?(\w+)`?$""".r
  private val AddTempPartRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+ADD\s+TEMPORARY\s+PARTITION\s+(.*)$""".r
  private val DropTempPartRe =
    """(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+DROP\s+TEMPORARY\s+PARTITION\s+`?(\w+)`?$""".r
  private val ReplacePartRe =
    ("""(?is)^ALTER\s+TABLE\s+`?(\w+)`?\s+REPLACE\s+PARTITION\s*\(\s*`?(\w+)`?\s*\)\s+""" +
      """WITH\s+TEMPORARY\s+PARTITION\s*\(\s*`?(\w+)`?\s*\)$""").r

  private def alterTable(text: String): Unit = text match {
    case AddTempPartRe(name, spec) => addTempPartition(name, spec)
    case DropTempPartRe(name, pname) => dropTempPartition(name, pname)
    case ReplacePartRe(name, pname, tmpName) =>
      replacePartition(name, pname, tmpName)
    case DropPartRe(name, pname) =>
      val t = state(name)
      if (t.def_.autoGran.isDefined) {
        // AUTO partitions: drop = remove the materialized bucket; a later
        // load into the range simply re-materializes it (AUTO semantics)
        require(partitionNames(t).contains(pname),
          s"$name: unknown partition $pname")
        s.catalog.dropTempView(s"${name}__part_$pname")
      } else if (t.def_.listPart) {
        // LIST partition: dropping REMOVES the PartDef — its values lose
        // coverage (loads with them reject via the no-partition fall-
        // through) and may be re-added later; no hole marking needed
        // because no other partition can swallow an explicit value set
        val d = t.def_
        require(d.parts.exists(_.name == pname),
          s"$name: unknown partition $pname")
        t.synchronized {
          t.def_ = d.copy(parts = d.parts.filterNot(_.name == pname))
        }
        s.catalog.dropTempView(s"${name}__part_$pname")
      } else {
        // declared partitions: the PartDef stays, MARKED — the vacated
        // range becomes a rejecting hole (Doris: a row with no covering
        // partition fails the load; DROP never merges ranges)
        val d = t.def_
        val p = d.parts.find(_.name == pname)
          .getOrElse(sys.error(s"$name: unknown partition $pname"))
        require(!p.dropped, s"$name: partition $pname is already dropped")
        t.synchronized {
          t.def_ = d.copy(parts = d.parts.map(x =>
            if (x.name == pname) x.copy(dropped = true) else x))
        }
        s.catalog.dropTempView(s"${name}__part_$pname")
      }
      // the O(1) metadata op: a range partition IS a directory
      graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir, s"_p=$pname"))
      registerViews(t)
      refreshMvs(t)
    case AddPartRe(name, spec) =>
      // partition evolution without DDL downtime: the new range must sit
      // strictly above every existing bound, and nothing can be added past
      // an open MAXVALUE partition (Doris rejects overlapping ranges)
      val t = state(name)
      val d = t.def_
      require(d.partCol.isDefined, s"$name: table is not range-partitioned")
      require(d.autoGran.isEmpty,
        s"$name: AUTO-partitioned tables manage their own partitions")
      val p = parsePartition(s"PARTITION $spec")
      require(!d.parts.exists(_.name == p.name),
        s"$name: partition ${p.name} already exists")
      if (d.listPart) {
        // LIST table: the new value set must not overlap any live partition
        require(p.inValues.isDefined,
          s"$name: a LIST table's ADD PARTITION needs VALUES IN")
        val used = d.parts.flatMap(_.inValues.getOrElse(Nil)).toSet
        p.inValues.get.foreach(v => require(!used(v),
          s"$name: value '$v' already belongs to a partition"))
      } else {
        require(p.inValues.isEmpty,
          s"$name: VALUES IN needs a LIST-partitioned table")
        val lastBound = d.parts.last.bound.getOrElse(sys.error(
          s"$name: cannot ADD PARTITION after a MAXVALUE partition"))
        p.bound.foreach { b =>
          require(boundGt(d, b, lastBound),
            s"$name: new bound '$b' must exceed the last bound '$lastBound'")
        }
      }
      t.synchronized { t.def_ = d.copy(parts = d.parts :+ p) }
      registerViews(t)
    case AddColRe(name, colDef) =>
      // light schema change ([doris: fe/.../alter/SchemaChangeHandler.java]
      // "light schema change" 1.2+): metadata-only — no rowset is rewritten;
      // rows from pre-change rowsets surface the DEFAULT at read time
      // through the column-read rule (DorisDdl.readCol). Key columns cannot
      // be added this way.
      val t = state(name)
      val c = parseColDef(colDef)
      require(c.gen.isEmpty,
        s"$name: ADD COLUMN ... AS (expr) is not supported (generated " +
          "columns are CREATE-time only — old rowsets have no stored value)")
      val d = t.def_
      require(!d.cols.exists(_.storedNames.contains(c.name)),
        s"$name: column name ${c.name} already exists (or is a renamed " +
          "column's former name, still present in old rowsets)")
      // a dropped column's bytes under the name read as the DEFAULT
      // (readCol), but only at the type they were loaded at
      d.droppedCols.get(c.name).foreach(ty => require(ty == c.sparkType,
        s"$name: older rowsets hold a dropped ${c.name} of type $ty — " +
          s"re-add it as $ty or under another name"))
      if (d.keysType != "AGGREGATE")
        require(c.agg.isEmpty,
          s"$name: aggregate marker on ${c.name} requires AGGREGATE KEY")
      else require(c.agg.isDefined,
        s"$name: new value column ${c.name} needs an aggregate marker")
      // stamp the light-change version: rowsets loaded up to here (_ver <=
      // addedVer) predate the column and read back its DEFAULT; later
      // explicit NULLs persist (Doris backfills only pre-change rowsets)
      t.synchronized {
        t.def_ = d.copy(cols = d.cols :+ c.copy(addedVer = t.nextVer),
          droppedCols = d.droppedCols - c.name)
      }
      registerViews(t)
    case DropColRe(name, cname) =>
      // light DROP COLUMN: metadata-only — old rowsets keep the bytes, the
      // merge-on-read view simply stops selecting them. Structural columns
      // and MV-referenced columns reject (the Doris rule: a column used by
      // any rollup cannot be dropped).
      val t = state(name)
      val d = t.def_
      require(d.cols.exists(_.name == cname), s"$name: unknown column $cname")
      require(!d.keyCols.contains(cname), s"$name: cannot drop key column $cname")
      require(!d.cols.exists(c => c.gen.exists(g =>
        s"(?i)\\b$cname\\b".r.findFirstIn(g).isDefined)),
        s"$name: column $cname is referenced by a generated column")
      require(!d.partCol.contains(cname),
        s"$name: cannot drop the partition column")
      require(d.hashCol != cname, s"$name: cannot drop the distribution column")
      // the sequence column is structural: the UNIQUE merge orders by it,
      // so dropping it is a latent read poison once no rowset carries the
      // bytes (Doris rejects dropping function_column.sequence_col)
      require(!d.seqCol.contains(cname),
        s"$name: cannot drop the sequence column $cname")
      require(t.synchronized(t.mvs.toSeq).forall(mv =>
        !mv.keys.contains(cname) && !mv.columns.keys.exists(_._2 == cname)),
        s"$name: column $cname is referenced by a materialized view")
      // a standing versioned DELETE's predicate names the column: dropping
      // it would leave an unresolvable read filter the moment no rowset
      // carries the bytes (Doris rejects exactly this — a column with
      // delete conditions cannot be dropped; caught by a round-18 probe)
      t.synchronized(t.deletes.toSeq).foreach { rec =>
        val q = inLiteral(rec.pred)
        require(!s"(?i)\\b$cname\\b".r.findAllMatchIn(rec.pred)
          .exists(m => !q(m.start)),
          s"$name: column $cname is referenced by a delete condition " +
            s"(${rec.pred}) — it cannot be dropped")
      }
      // indexes and the bloom declaration on the column die WITH it
      // (Doris drops a column's indexes in the same schema change);
      // leaving them dangling made SHOW CREATE non-replayable
      val gone = d.cols.find(_.name == cname).get
      t.synchronized {
        t.def_ = d.copy(
          cols = d.cols.filterNot(_.name == cname),
          droppedCols = d.droppedCols ++ gone.storedNames.map(_ -> gone.sparkType),
          indexes = d.indexes.filterNot(_.col == cname),
          bloomCols = d.bloomCols.filterNot(_ == cname))
      }
      registerViews(t)
    case RenamePartRe(name, oldP, newP) =>
      // `ALTER TABLE t RENAME PARTITION old new` ([doris: fe/.../alter/
      // Alter.java processRename]): metadata + ONE directory rename; the
      // partition's rowsets, bounds, and any recorded `_p`-scoped delete
      // conjuncts move with it (delete predicates name `_p`, so they are
      // rewritten to the new name — a pre-rename partition-scoped delete
      // must keep thinning the renamed partition).
      val t = state(name)
      val d = t.def_
      require(d.partCol.isDefined, s"$name: table is not partitioned")
      require(d.autoGran.isEmpty,
        s"$name: AUTO partitions are named by their period")
      val idx = d.parts.indexWhere(p => p.name == oldP && !p.dropped)
      require(idx >= 0, s"$name: unknown partition $oldP")
      requireNotReserved(newP)
      require(!d.parts.exists(_.name == newP) &&
        t.synchronized(!t.tempParts.contains(newP)),
        s"$name: partition name $newP is already in use")
      val oldDir = java.nio.file.Paths.get(t.dir, s"_p=$oldP")
      if (java.nio.file.Files.isDirectory(oldDir))
        java.nio.file.Files.move(oldDir,
          java.nio.file.Paths.get(t.dir, s"_p=$newP"))
      t.synchronized {
        t.def_ = d.copy(parts = d.parts.updated(idx,
          d.parts(idx).copy(name = newP)))
        // the rename follows the STRUCTURAL name fields only — user
        // predicate text coincidentally containing "_p = '<old>'" (e.g.
        // inside a string literal) is never touched
        def ren(p: String) = if (p == oldP) newP else p
        val amended = t.deletes.map(del =>
          del.copy(scope = del.scope.map(ren), excluded = del.excluded.map(ren)))
        t.deletes.clear()
        t.deletes ++= amended
      }
      s.catalog.dropTempView(s"${t.def_.name}__part_$oldP")
      registerViews(t)
      refreshMvs(t)
    case RenameColRe(name, oldN, newN) =>
      // light RENAME COLUMN: pure metadata — no rowset is rewritten; old
      // rowsets keep their bytes under the old name and the read surfaces
      // them through the priors coalesce. Structural references (key,
      // partition, distribution, sequence column) follow the rename;
      // MV-referenced columns reject (their SQL text names the old column —
      // the same Doris restriction as DROP COLUMN on rollup columns).
      val t = state(name)
      val d = t.def_
      require(d.cols.exists(_.name == oldN), s"$name: unknown column $oldN")
      require(!d.cols.exists(_.storedNames.contains(newN)),
        s"$name: column name $newN is already in use")
      require(!d.cols.exists(c => c.gen.exists(g =>
        s"(?i)\\b$oldN\\b".r.findFirstIn(g).isDefined)),
        s"$name: column $oldN is referenced by a generated column")
      require(!d.droppedCols.contains(newN),
        s"$name: older rowsets hold a dropped column's values under $newN " +
          "— rename to another name")
      require(t.synchronized(t.mvs.toSeq).forall(mv =>
        !mv.keys.contains(oldN) && !mv.columns.keys.exists(_._2 == oldN)),
        s"$name: column $oldN is referenced by a materialized view")
      require(mtmvs.synchronized(mtmvs.values.forall(_.table != name)),
        s"$name: drop dependent async MTMVs before renaming columns")
      def ren(x: String) = if (x == oldN) newN else x
      t.synchronized {
        t.def_ = d.copy(
          cols = d.cols.map(c =>
            if (c.name == oldN) c.copy(name = newN, priors = oldN +: c.priors)
            else c),
          keyCols = d.keyCols.map(ren),
          partCol = d.partCol.map(ren),
          hashCol = ren(d.hashCol),
          seqCol = d.seqCol.map(ren),
          // indexes and bloom columns FOLLOW the rename (Doris attaches
          // them to the column, not its spelling) — without this the
          // index went silently inert, MATCH on the new name rejected,
          // and SHOW CREATE emitted a non-replayable statement (caught
          // by a round-18 cross-feature probe). NGRAM sidecars under the
          // old-name dir are orphaned; the first indexed query rebuilds
          // them under the new name through the priors-coalesce read.
          indexes = d.indexes.map(ix => ix.copy(col = ren(ix.col))),
          bloomCols = d.bloomCols.map(ren))
        // standing versioned deletes amend structurally too: the stored
        // predicate TEXT names the old column, and while reads usually
        // still resolve it (old rowsets keep their bytes under the old
        // name, a field of the read schema), a delete recorded when NO
        // rowset carried the old name poisoned every subsequent read
        // (caught by a round-18 probe). The new name resolves against
        // the same coalesced read surface, so the predicate's value is
        // unchanged. Word-boundary outside literals — user literal text
        // that happens to contain the name is never touched.
        t.deletes.mapInPlace { rec =>
          val q = inLiteral(rec.pred)
          rec.copy(pred = s"(?i)\\b$oldN\\b".r.replaceAllIn(rec.pred, m =>
            if (q(m.start)) m.matched
            else java.util.regex.Matcher.quoteReplacement(newN)))
        }
      }
      registerViews(t)
    case ModifyColRe(name, colDef) =>
      // MODIFY COLUMN. Two regimes, exactly Doris's:
      //  - LIGHT: the physical type is unchanged (VARCHAR resize — every
      //    length maps to STRING — or a DEFAULT change): metadata only.
      //  - HEAVY: a physical retype runs a SCHEMA-CHANGE REWRITE (Doris
      //    schedules a background job building new tablets): every rowset
      //    is re-materialized with the cast, staged, then swapped in.
      //    Per-row `_ver` (and `_sign`) survive, so merge-on-read is
      //    unchanged; standing versioned deletes are BAKED INTO the
      //    rewrite (all rewritten rows predate them) and cleared; rename
      //    priors are physically normalized away.
      val t = state(name)
      val c = parseColDef(colDef)
      val d = t.def_
      val old = d.cols.find(_.name == c.name)
        .getOrElse(sys.error(s"$name: unknown column ${c.name}"))
      require(c.agg == old.agg,
        s"$name: MODIFY COLUMN cannot change the aggregate marker")
      require(c.gen == old.gen,
        s"$name: MODIFY COLUMN cannot add, drop, or change a generated " +
          s"expression (restate the same AS (expr) when modifying ${c.name})")
      if (c.sparkType == old.sparkType) {
        t.synchronized {
          t.def_ = d.copy(cols = d.cols.map(x =>
            if (x.name == c.name) old.copy(default = c.default) else x))
        }
      } else {
        require(!d.keyCols.contains(c.name) && !d.partCol.contains(c.name),
          s"$name: cannot retype key/partition column ${c.name}")
        // a text index lives on a TEXT column: retyping underneath it
        // would leave an index SHOW CREATE can emit but never replay
        // (Doris rejects the change — drop the index first)
        require(!d.indexes.exists(_.col == c.name),
          s"$name: column ${c.name} carries an index " +
            s"(${d.indexes.filter(_.col == c.name).map(_.name).mkString(", ")})" +
            " — drop the index before retyping")
        val newCols = d.cols.map(x =>
          if (x.name == c.name)
            old.copy(sparkType = c.sparkType, default = c.default)
          else x)
        if (hasRowsets(t.dir)) {
          // read every column as queries see it FIRST (deletes may name a
          // renamed or defaulted column), then bake in the standing
          // versioned deletes
          val df = graft.operators.KeyModels.applyDeletePredicates(
            DorisDdl.readCols(rowsets(t, d), d.cols),
            t.synchronized(t.deletes.toSeq).map(d => (expr(d.compiled), d.ver)))
          val keep = newCols.map(x => col(x.name).cast(x.sparkType).as(x.name)) ++
            Seq(col("_ver"), col("_pos")) ++
            (if (d.keysType == "UNIQUE") Seq(col("_sign")) else Nil) ++
            (if (d.partCol.isDefined) Seq(col("_p")) else Nil)
          val out = bucketed(d, df.select(keep: _*))
          val staging = graft.TempDirs.create(s"graft_ddl_sc_$name")
          val w = withBloom(out.write.mode("overwrite"), d)
          (if (d.partCol.isDefined) w.partitionBy("_p") else w).parquet(staging)
          // staging succeeded — swap (the failed-rewrite case leaves the
          // table untouched, the same publish discipline as OVERWRITE)
          graft.TempDirs.deleteTree(
            java.nio.file.Paths.get(t.dir), keepRoot = true)
          moveStagedParquet(staging, t.dir)
        }
        t.synchronized {
          t.deletes.clear()
          // the rewrite keeps only newCols: no file holds a rename prior
          // or a dropped column's bytes any more
          t.def_ = d.copy(cols = newCols.map(_.copy(priors = Nil)),
            droppedCols = Map.empty)
        }
      }
      registerViews(t)
      refreshMvs(t)
    case AlterSetRe(name, propText) =>
      // ALTER TABLE t SET ("k" = "v"): dynamic property changes. Mapped
      // knobs (each takes effect from the NEXT load, exactly Doris's
      // dynamic-property contract — existing rowsets are never rewritten):
      // dynamic_partition.enable/start (AUTO retention window) and
      // bloom_filter_columns (future rowset files gain/lose the filter).
      val t = state(name)
      val d = t.def_
      val props = parseProps(propText)
      require(props.nonEmpty, s"$name: SET needs at least one property")
      var nd = d
      props.foreach {
        case ("dynamic_partition.enable", "false") =>
          nd = nd.copy(retainStart = None, dynEnd = None)
        case ("dynamic_partition.enable", "true") => () // start/end carry it
        case ("dynamic_partition.start", v) =>
          require(nd.autoGran.isDefined,
            s"$name: dynamic_partition retention requires AUTO PARTITION")
          require(v.toInt < 0, s"$name: dynamic_partition.start must be negative")
          nd = nd.copy(retainStart = Some(v.toInt))
        case ("dynamic_partition.end", v) =>
          require(nd.autoGran.isDefined,
            s"$name: dynamic_partition forward creation requires AUTO PARTITION")
          require(v.toInt > 0, s"$name: dynamic_partition.end must be positive")
          nd = nd.copy(dynEnd = Some(v.toInt))
        case ("dynamic_partition.time_unit", v) =>
          require(nd.autoGran.contains(v.toLowerCase),
            s"$name: dynamic_partition.time_unit $v must match the AUTO " +
              s"granularity ${nd.autoGran.getOrElse("(none)")}")
        case ("bloom_filter_columns", v) =>
          val bcs = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          bcs.foreach { bc =>
            val c = nd.cols.find(_.name == bc)
              .getOrElse(sys.error(s"$name: unknown bloom_filter_columns column $bc"))
            require(!Seq("FLOAT", "DOUBLE").contains(c.sparkType.toUpperCase),
              s"$name: bloom_filter_columns does not support ${c.sparkType} ($bc)")
          }
          nd = nd.copy(bloomCols = bcs)
        case (k, _) => sys.error(s"$name: unsupported dynamic property $k")
      }
      t.synchronized { t.def_ = nd }
      // a new retention window / forward buffer takes effect NOW, not at
      // the next load (pre-created partitions must be visible immediately)
      dynamicPartitionMaintain(t)
      if (hasRowsets(t.dir)) registerViews(t)
    case AlterAddIndexRe(name, idxText) => addIndex(name, idxText.trim)
    case AlterDropIndexRe(name, iname) => dropIndex(name, iname)
    case AddRollupRe(name, rname, colList) =>
      // classic `ALTER TABLE t ADD ROLLUP r (k..., v...)` ([doris:
      // fe/.../alter/MaterializedViewHandler.java] — the pre-MV rollup
      // statement): on an AGGREGATE table the listed columns are a key
      // subset followed by value columns, each re-aggregated by its OWN
      // declared marker. Mapped onto the sync-MV machinery: the rollup is
      // materialized now, maintained transactionally on every later
      // load/delete, and served transparently by the RollupRewrite rule.
      val t = state(name)
      val d = t.def_
      require(d.keysType == "AGGREGATE",
        s"$name: ADD ROLLUP needs an AGGREGATE KEY table (on DUPLICATE " +
          "tables use CREATE MATERIALIZED VIEW)")
      require(!tables.synchronized(tables.contains(rname)) &&
        t.synchronized(!t.mvs.exists(_.name == rname)),
        s"rollup $rname already exists")
      val listed = topLevelSplit(colList).map(stripIdent)
      listed.foreach(c => require(d.cols.exists(_.name == c),
        s"$name: unknown rollup column $c"))
      val (keys, vals) = listed.partition(d.keyCols.contains)
      require(keys.nonEmpty, s"$name: a rollup needs at least one key column")
      require(vals.nonEmpty, s"$name: a rollup needs at least one value column")
      val items = vals.map { v =>
        val marker = d.cols.find(_.name == v).get.agg.get
        require(Seq("SUM", "MAX", "MIN").contains(marker),
          s"$name: rollup value column $v has unsupported marker $marker " +
            "(SUM/MAX/MIN only)")
        marker.toLowerCase -> v
      }
      val mv = MvDef(rname, name,
        s"SELECT ${keys.mkString(", ")}, " +
          items.map { case (fn, v) => s"${fn.toUpperCase}($v) AS $v" }
            .mkString(", ") +
          s" FROM $name GROUP BY ${keys.mkString(", ")}",
        keys, items.map { case (fn, v) => (fn, v) -> v }.toMap)
      t.synchronized { t.mvs += mv }
      graft.plans.RollupRewrite.install(s)
      refreshMv(t, mv)
    case DropRollupRe(name, rname) =>
      val t = state(name)
      require(t.synchronized(t.mvs.exists(_.name == rname)),
        s"$name: unknown rollup $rname")
      t.synchronized { t.mvs.filterInPlace(_.name != rname) }
      graft.plans.RollupRewrite.deregister(t.dir, Some(rname))
    case RenameTableRe(name, newName) =>
      // table rename: catalog re-key + view re-registration; the rowset
      // dir (and hence rollup registrations, keyed on the dir) is
      // untouched. Sync-MV and MTMV definitions follow the new name.
      val t = state(name)
      require(tables.synchronized(!tables.contains(newName)) &&
        !viewDefs.synchronized(viewDefs.contains(newName)),
        s"$newName already exists")
      val partViews = partitionNames(t)
      tables.synchronized { tables.remove(name) }
      s.catalog.dropTempView(name)
      partViews.foreach(p => s.catalog.dropTempView(s"${name}__part_$p"))
      t.synchronized {
        t.def_ = t.def_.copy(name = newName)
        t.mvs.mapInPlace(mv => mv.copy(table = newName,
          selectText = mv.selectText.replaceAll(
            s"(?i)\\bFROM\\s+`?$name`?\\b", s"FROM $newName")))
      }
      mtmvs.synchronized {
        mtmvs.keys.toSeq.foreach { mn =>
          val m = mtmvs(mn)
          if (m.table == name) {
            val nm = MtmvState(m.name, newName, m.pcol, m.selList, m.keys, m.dir)
            nm.lastFiles = m.lastFiles
            nm.lastDeletes = m.lastDeletes
            nm.lastPlan = m.lastPlan
            mtmvs(mn) = nm
          }
        }
      }
      tables.synchronized { tables(newName) = t }
      registerViews(t)
    case _ => sys.error(s"unsupported ALTER: ${text.take(80)}")
  }

  /** Is bound `a` strictly greater than `b` under the partition column's
    * type ordering (numeric compare for numeric columns, lexicographic —
    * correct for ISO dates/timestamps — otherwise)? */
  private def boundGt(d: TableDef, a: String, b: String): Boolean = {
    val numeric = d.cols.find(_.name == d.partCol.get).get.sparkType match {
      case t0 => Seq("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT",
        "DOUBLE").exists(t0.toUpperCase.startsWith) ||
        t0.toUpperCase.startsWith("DECIMAL")
    }
    if (numeric) BigDecimal(a) > BigDecimal(b) else a > b
  }

  // -------------------------------------------------------------- TRUNCATE

  private val TruncateRe = """(?is)^TRUNCATE\s+TABLE\s+`?(\w+)`?$""".r
  private val TruncatePartRe =
    """(?is)^TRUNCATE\s+TABLE\s+`?(\w+)`?\s+PARTITION\s*\(([^)]*)\)$""".r

  /** Doris TRUNCATE TABLE: drop all rowsets and delete predicates, keep the
    * schema — an O(files) directory wipe, no scan. */
  private def truncate(text: String): Unit = text match {
    // `TRUNCATE TABLE t PARTITION (p1 [, p2...])`: wipe ONLY the named
    // partitions — an O(1) directory drop per partition, the partition
    // defs stay (unlike DROP PARTITION there is no hole: the range keeps
    // accepting loads). Standing versioned deletes remain recorded but
    // have nothing left to match in the wiped scope, and a later reload
    // carries a higher version than any pre-truncate delete — the same
    // publish-order contract as table TRUNCATE + reload.
    case TruncatePartRe(name, plist) =>
      val t = state(name)
      require(t.def_.partCol.isDefined, s"$name: table is not partitioned")
      val ps = topLevelSplit(plist).map(stripIdent)
      require(ps.nonEmpty, s"$name: TRUNCATE PARTITION needs partition names")
      ps.foreach(p => require(partitionNames(t).contains(p),
        s"$name: unknown partition $p"))
      ps.foreach { p =>
        graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir, s"_p=$p"))
        s.catalog.dropTempView(s"${t.def_.name}__part_$p")
      }
      // the wiped partition moved the rowset version, so the rule stops
      // serving the pre-truncate rollup snapshots (even when refreshMv
      // early-returns on a now-empty table)
      registerViews(t)
      refreshMvs(t)
    case TruncateRe(name) =>
      val t = state(name)
      val partViews = partitionNames(t) // capture before the wipe (AUTO)
      graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir), keepRoot = true)
      t.synchronized { t.deletes.clear() }
      // the table is empty again: its views must stop serving stale rows
      s.catalog.dropTempView(t.def_.name)
      partViews.foreach(p =>
        s.catalog.dropTempView(s"${t.def_.name}__part_$p"))
      // ... and neither may its rollups: the wipe moved the rowset version,
      // so the rule retires the pre-truncate snapshots; refreshMv
      // early-returns on the now-empty dir, and the next load's refreshMvs
      // registers fresh ones
      refreshMvs(t)
    case _ => sys.error(s"unparseable TRUNCATE: ${text.take(80)}")
  }

  // ------------------------------------------------------- SHOW PARTITIONS

  private val ShowPartsRe =
    """(?is)^SHOW\s+PARTITIONS\s+FROM\s+`?(\w+)`?$""".r
  private val ShowTempPartsRe =
    """(?is)^SHOW\s+TEMPORARY\s+PARTITIONS\s+FROM\s+`?(\w+)`?$""".r

  /** `SHOW TEMPORARY PARTITIONS FROM t`: the staging namespace —
    * (partition_name, upper_bound, n_rows), counts read from the
    * `_p=__tmp_*` dirs the main read path excludes by contract. */
  private def showTempPartitions(text: String): DataFrame = text match {
    case ShowTempPartsRe(name) =>
      val t = state(name)
      require(t.def_.partCol.isDefined, s"$name: table is not partitioned")
      import s.implicits._
      val defs = t.synchronized(t.tempParts.values.toSeq)
        .map(p => (p.name, p.inValues.map(_.mkString(","))
          .getOrElse(p.bound.getOrElse("MAXVALUE"))))
        .toDF("partition_name", "upper_bound")
      val counts = rowsets(t, t.def_)
        .filter(col("_p").startsWith("__tmp_"))
        .groupBy(regexp_replace(col("_p"), "^__tmp_", "").as("partition_name"))
        .agg(count(lit(1)).as("n_rows"))
      defs.join(counts, Seq("partition_name"), "left")
        .select(col("partition_name"), col("upper_bound"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .orderBy(col("partition_name"))
    case _ => sys.error(s"unparseable SHOW TEMPORARY PARTITIONS: ${text.take(80)}")
  }

  /** `SHOW PARTITIONS FROM t` → (partition_name, upper_bound, n_rows):
    * partition metadata plus per-partition visible row counts from ONE
    * grouped scan (never a per-partition job loop). Declared partitions
    * join their bound metadata (a dropped/empty partition reads 0); AUTO
    * partitions are exactly the materialized buckets. */
  private def showPartitions(text: String): DataFrame = text match {
    case ShowPartsRe(name) =>
      val t = state(name)
      require(t.def_.partCol.isDefined, s"$name: table is not partitioned")
      // freshness-aware like selectPlain: the unconditional pass
      // re-analyzed every partition view per SHOW — ~31 views for the
      // auto-partitioned table, the bulk of sql_ddl_auto_partition's
      // warm 1.3 s wall
      if (!viewsFresh(t)) registerViews(t)
      import s.implicits._
      // a created-but-never-loaded table still LISTS its declared
      // partitions (all zero rows, as Doris) — there is no rowset dir to
      // scan for counts yet
      val counts =
        if (!hasRowsets(t.dir))
          Seq.empty[(String, Long)].toDF("partition_name", "n_rows")
        else visible(t, None, keepPart = true)
          .groupBy(col("_p").as("partition_name"))
          .agg(count(lit(1)).as("n_rows"))
      val out = t.def_.autoGran match {
        case Some(g) =>
          // anchor on the directory listing, not the data scan: forward-
          // created buffer partitions hold no rows yet and must still list
          val meta = partitionNames(t).toDF("partition_name")
          meta.join(counts, Seq("partition_name"), "left")
            .withColumn("upper_bound", lit(s"AUTO($g)"))
            .select(col("partition_name"), col("upper_bound"),
              coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        case None =>
          val meta = t.def_.parts.filterNot(_.dropped)
            .map(p => (p.name, p.inValues.map(_.mkString(","))
              .getOrElse(p.bound.getOrElse("MAXVALUE"))))
            .toDF("partition_name", "upper_bound")
          meta.join(counts, Seq("partition_name"), "left")
            .select(col("partition_name"), col("upper_bound"),
              coalesce(col("n_rows"), lit(0L)).as("n_rows"))
      }
      out.orderBy(col("partition_name"))
    case _ => sys.error(s"unparseable SHOW PARTITIONS: ${text.take(80)}")
  }

  // ---------------------------------------------------------------- SELECT

  private val IntoOutfileRe =
    """(?is)^(.*?)\s+INTO\s+OUTFILE\s+'([^']+)'\s*(?:FORMAT\s+AS\s+(\w+))?$""".r

  /** `SELECT ... INTO OUTFILE 'path' [FORMAT AS CSV|PARQUET]` — the result
    * export statement ([doris: fe/.../analysis/OutFileClause.java]): the
    * query writes distributed (one file per partition, never collected)
    * and the statement returns Doris's one-row summary (rows written). */
  private def selectIntoOutfile(sel: String, path: String,
      fmt: String): DataFrame = {
    val df = select(sel)
    fmt.toUpperCase match {
      case "CSV" => df.write.mode("overwrite")
        .option("header", "true").csv(path)
      case "PARQUET" => df.write.mode("overwrite").parquet(path)
      case other => sys.error(s"INTO OUTFILE: unsupported format $other")
    }
    val n = rowsWritten(path, fmt)
    import s.implicits._
    Seq((n, path)).toDF("rows_written", "path")
  }

  /** The rows an OUTFILE or EXPORT write left at `path`, read back from
    * the files: a header CSV, or parquet under its footer schema. */
  private def rowsWritten(path: String, fmt: String): Long =
    if (fmt.equalsIgnoreCase("PARQUET")) graft.Tables.parquetOnce(s, path).count()
    else s.read.option("header", "true").csv(path).count()

  private val ExportRe =
    """(?is)^EXPORT\s+TABLE\s+`?(\w+)`?\s*(?:PARTITION\s*\(\s*`?(\w+)`?\s*\)\s*)?TO\s+'([^']+)'\s*(?:FORMAT\s+AS\s+(\w+))?$""".r

  /** `EXPORT TABLE t [PARTITION (p)] TO 'path' [FORMAT AS CSV|PARQUET]` —
    * the table-level export job ([doris: fe/.../load/ExportJob.java]): the
    * visible merge-on-read rows (optionally one partition, pruned) write
    * DISTRIBUTED — one file per task, never collected — and the statement
    * returns Doris's one-row job summary. */
  private def exportTable(text: String): DataFrame = text match {
    case ExportRe(name, pname, path, fmt) =>
      val t = state(name)
      require(hasRowsets(t.dir),
        s"$name: nothing to export (empty table)")
      val part = Option(pname)
      part.foreach(p => require(partitionNames(t).contains(p),
        s"$name: unknown partition $p"))
      val df = visible(t, part)
      Option(fmt).getOrElse("CSV").toUpperCase match {
        case "CSV" => df.write.mode("overwrite")
          .option("header", "true").csv(path)
        case "PARQUET" => df.write.mode("overwrite").parquet(path)
        case other => sys.error(s"EXPORT: unsupported format $other")
      }
      val n = rowsWritten(path, Option(fmt).getOrElse("CSV"))
      import s.implicits._
      Seq((name, n, path)).toDF("table_name", "rows_exported", "path")
    case _ => sys.error(s"unparseable EXPORT: ${text.take(80)}")
  }

  /** `EXPLAIN <query>` → the optimized logical + physical plan, one line
    * per row (Doris returns its plan the same way over the wire). */
  private def explainStmt(text: String): DataFrame = {
    val q = """(?is)^EXPLAIN\s+(.*)$""".r.findFirstMatchIn(text.trim)
      .map(_.group(1)).getOrElse(sys.error(s"unparseable EXPLAIN: $text"))
    val df = select(q)
    import s.implicits._
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
      .linesIterator.toSeq.toDF("plan")
  }

  /** The query path (the query row, EXPLAIN, CTAS, OUTFILE). Only query
    * heads reach `spark.sql`: it runs commands eagerly, so `DROP TABLE t`
    * there would drop t's temp view, `CREATE TABLE ... USING` would write
    * a Spark-catalog table and `SHOW TABLES` would list the session
    * catalog, all past the statement table's privileges. */
  private def select(text: String): DataFrame = {
    if (!query.heads.exists(headed(headOf(text), _))) sys.error(
      s"not a query (SELECT/WITH/VALUES expected): ${text.take(80)}")
    text match {
      case IntoOutfileRe(sel, path, fmt)
          if text.toUpperCase.contains("INTO OUTFILE") =>
        selectIntoOutfile(sel, path, Option(fmt).getOrElse("CSV"))
      case _ => selectPlain(text)
    }
  }

  // FILE('path', 'format') table-valued function ([doris: fe/.../
  // tablefunction/ — the s3()/hdfs()/local() TVF family]): ad-hoc
  // DISTRIBUTED reads of files as a relation, no CREATE needed. Parquet
  // and JSON map by schema; CSV is headerless with Doris's c1..cN names.
  private val FileTvfRe =
    """(?is)\bFILE\s*\(\s*'([^']+)'\s*,\s*'(\w+)'\s*\)""".r
  private val tvfCounter = new java.util.concurrent.atomic.AtomicLong

  private def rewriteFileTvf(text: String): String =
    FileTvfRe.replaceAllIn(text, m => {
      val (path, fmt) = (m.group(1), m.group(2).toLowerCase)
      val df = fmt match {
        case "parquet" => s.read.parquet(path)
        case "json" => s.read.json(path)
        case "csv" =>
          val raw = s.read.csv(path)
          raw.toDF(raw.columns.indices.map(j => s"c${j + 1}"): _*)
        case other => sys.error(s"FILE(): unsupported format $other")
      }
      val v = s"__file_tvf_${tvfCounter.incrementAndGet()}"
      registerTemp(df, v)
      v
    })

  private def selectPlain(text: String): DataFrame = {
    // registration skip (guide §2.4 — remove duplicate passes): each
    // re-registration re-analyzes the table's view and every partition
    // view, so a select re-registers only the tables it names (directly,
    // through user views or as a partition view `t__part_p`; taken before
    // the PARTITION rewrite below) whose views are not provably current. They are current
    // when (a) no statement that could write THIS table ran since they
    // were stamped (its write mark, see viewsFresh — a write to another
    // table does not count) and (b) this instance still owns every
    // temp-view name it registered (viewOwners — another instance on the
    // shared session namespace may have taken them). Mutation paths
    // always re-register their table.
    val named = referencedTables(text, partViews = true)
    tables.synchronized(named.toSeq.flatMap(tables.get)).foreach { t =>
      if (!viewsFresh(t)) registerViews(t)
    }
    // User-view derivations must be as current as the table views this
    // select just validated: pre-skip, every select's registerViews call
    // SERIALIZED on refreshViewsLock, so a reader arriving during a
    // mutation's user-view re-derivation waited for it (and re-derived
    // itself) instead of resolving a stale view — the fuzz caught a raw
    // UNRESOLVED_COLUMN from exactly that lost wait. The epoch stamp
    // restores it: warm read-only statements skip (stamp current), any
    // statement after a mutation refreshes once — and, crucially, BLOCKS
    // on the lock behind an in-flight refresh. This stamp stays on the
    // global epoch, not a write mark: a user view can read any table.
    if (userViewsStamp.get != mutationEpoch.get) refreshUserViews()
    // Doris partition selection: FROM t PARTITION (p) → the partition-
    // restricted view (a partition-PRUNED scan, filtered before the merge
    // window — sound because the partition column is part of the key)
    val rewritten = tables.synchronized(tables.keys.toSeq).foldLeft(
      rewriteFileTvf(rewriteVarReads(text))) { (acc, name) =>
        (s"""(?is)\\b$name\\s+PARTITIONS?\\s*\\(\\s*`?(\\w+)`?\\s*\\)""").r
          .replaceAllIn(acc, m => s"${name}__part_${m.group(1)}")
    }
    val (pruned0, ngbfViews) = rewriteNgramLike(rewriteMatch(rewritten))
    val (pruned, bmixViews) = rewriteBitmapEq(pruned0)
    // the pruned-scan views only need to exist through ANALYSIS (the
    // returned DataFrame's resolved plan holds the file list directly);
    // dropping them immediately keeps the temp-view namespace free of
    // per-statement scratch and closes the cross-statement read window
    try DorisSqlDialect.sql(s, pruned)
    finally (ngbfViews ++ bmixViews).foreach(s.catalog.dropTempView)
  }

  /** Merge-on-read view of the current visible data, per key model; the
    * versioned delete predicates apply BEFORE the merge (a deleted old
    * version must not shadow-win; a post-delete reload must survive). The
    * rowsets are read through the def's read schema and the one
    * column-read rule ([[DorisDdl.readCol]]): no rowset is ever rewritten
    * for a light schema change, and building the view runs no Spark job. */
  private def visible(t: TableState, part: Option[String],
      keepPart: Boolean = false,
      // explicit rowset-file subset (NGRAM_BF/BITMAP file pruning): the
      // scan LISTS only these files — true storage skipping, not a row
      // filter
      files: Option[Seq[String]] = None)
      : DataFrame = {
    // one read of the def: a concurrent light ADD COLUMN swaps `t.def_`,
    // and a frame built from one def but projected with the next fails
    // analysis on the new column
    val d = t.def_
    var df = rowsets(t, d, files)
    // TEMPORARY partition rowsets (`_p=__tmp_*`) are staging data: never
    // visible until REPLACE PARTITION publishes them. The startsWith is a
    // partition-column predicate, so it prunes at planning (no temp file
    // is even listed into the scan).
    if (d.partCol.isDefined)
      df = df.filter(!col("_p").startsWith("__tmp_"))
    part.foreach(p => df = df.filter(col("_p") === p))
    df = DorisDdl.readCols(df, d.cols)
    df = graft.operators.KeyModels.applyDeletePredicates(
      df, t.synchronized(t.deletes.toSeq).map(x => (expr(x.compiled), x.ver)))
    val merged = d.keysType match {
      case "DUPLICATE" => df
      case "UNIQUE" =>
        // merge order: sequence column first (if declared — out-of-order
        // loads resolve by the LOGICAL order), version as tiebreak, then
        // within-load position (same-key rows in ONE batch: last wins, the
        // Doris MemTable replace order; a rowset without _pos reads NULL,
        // which desc ranks last). The winner's delete sign then decides
        // visibility (a stale delete marker loses the window and deletes
        // nothing).
        val ord = d.seqCol.map(sc => col(sc).desc).toSeq ++
          Seq(col("_ver").desc, col("_pos").desc)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(d.keyCols.map(col): _*).orderBy(ord: _*)
        df.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .filter(coalesce(col("_sign"), lit(0)) === 0)
      case "AGGREGATE" =>
        val aggs = d.cols.filter(_.agg.isDefined).map { c =>
          (c.agg.get match {
            case "SUM" => sum(col(c.name))
            case "MAX" => max(col(c.name))
            case "MIN" => min(col(c.name))
            case "REPLACE" => max_by(col(c.name), col("_ver"))
            // last NON-NULL by version: max_by skips rows whose ordering
            // value is null, so nulling the order where the value is null
            // makes older non-null values win over newer nulls
            case "REPLACE_IF_NOT_NULL" =>
              max_by(col(c.name), when(col(c.name).isNotNull, col("_ver")))
            // sketch columns: serialized-state merge, partial-aggregated
            // through the shuffle exactly like the agg_bitmap_*/hll keys
            case "BITMAP_UNION" =>
              graft.functions.NativeAggregates.bitmap_union_binary(col(c.name))
            case "HLL_UNION" => hll_union_agg(col(c.name))
            // AGG_STATE GENERIC: the state-union — algebraic, so the
            // merge is the same partial-aggregated shuffle as any sum
            case "GENERIC" => c.aggState.get._1 match {
              case "sum" | "count" => sum(col(c.name))
              case "min" => min(col(c.name))
              case "max" => max(col(c.name))
              case "avg" => struct(
                sum(col(c.name).getField("s")).as("s"),
                sum(col(c.name).getField("c")).as("c"))
            }
          }).cast(c.sparkType).as(c.name)
        }
        // _p is a function of the partition column, which non-DUPLICATE
        // tables must carry in their key — grouping by it too changes no
        // groups and lets callers keep the partition attribution
        val keys = d.keyCols.map(col) ++
          (if (keepPart && d.partCol.isDefined) Seq(col("_p")) else Nil)
        df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    }
    // VARIANT columns surface to queries as Spark VariantType: ONE
    // parse_json in the read projection (the merge/delete machinery above
    // ran on the stored text), so `variant_get(v, '$.path', type)` works
    // directly against the table view with no per-access re-parse
    val outCols = d.cols.map(c =>
      if (c.variant) parse_json(col(c.name)).as(c.name) else col(c.name)) ++
      (if (keepPart && d.partCol.isDefined) Seq(col("_p")) else Nil)
    merged.select(outCols: _*)
  }

  /** Registration-skip state. [[mutationEpoch]] advances on every
    * possibly-mutating statement (execute() entry), which records the new
    * value as the WRITE MARK of the one table it writes ([[tableMarks]])
    * or of every table ([[allTablesMark]]). A successful registerViews
    * stamps the table with the epoch captured at ITS start, and a table
    * whose stamp has reached its mark ([[writeMark]]) is current: a write
    * to another table leaves it alone, as a Doris load publishes only its
    * own table's version. Registrations of one table serialize on a
    * per-name lock so that of two racing passes the LAST one to publish
    * also READ the state last — without it, a reader's pass that
    * snapshotted pre-mutation state could land after the mutator's own
    * trailing pass and pin a stale view under a fresh stamp. */
  private val mutationEpoch = new java.util.concurrent.atomic.AtomicLong(0)
  private val tableMarks =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val allTablesMark = new java.util.concurrent.atomic.AtomicLong(0)
  private def writeMark(name: String): Long =
    math.max(tableMarks.getOrDefault(name, 0L), allTablesMark.get)
  private val tableViewStamp =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val registerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** `t`'s views are provably current: stamped no earlier than the last
    * statement that could write `t` and every registered temp-view name
    * still owned by this instance on the shared session namespace. Used
    * by [[selectPlain]] and [[showPartitions]] to skip re-registration. */
  private def viewsFresh(t: TableState): Boolean = {
    val name = t.def_.name
    val st = tableViewStamp.get(name)
    st != null && st.longValue >= writeMark(name) &&
      (viewOwners.get((s, name)) eq this) &&
      partitionNames(t).forall(p =>
        viewOwners.get((s, s"${name}__part_$p")) eq this)
  }

  /** Register the table's view and its partition views, DROP-AWARE (the
    * same race class as the r19 user-view orphan, generalized): a DROP
    * TABLE landing between a publish and its view re-registration would
    * otherwise leave live `t` / `t__part_*` temp views whose table no
    * longer exists in the catalog — serving dropped data with NO grant
    * scope (directRefs maps those names through `tables`). After
    * registering, re-check the catalog entry: vanished → drop exactly what
    * was just registered; replaced by a NEW TableState (drop + recreate) →
    * re-register from the live state so readers never stick on the dead
    * snapshot. A pass lists the rowset tree and analyzes each view; it
    * runs no Spark job (the def is the read schema, see visible). */
  private def registerViews(t: TableState): Unit = {
    val lock = registerLocks.computeIfAbsent(t.def_.name, _ => new Object)
    lock.synchronized {
      val stamp = mutationEpoch.get
      var cur = t
      var settled = false
      while (!settled) {
        // a DROP TABLE can delete the rowset tree mid-pass (file listing /
        // partition listing): that's the dropped case, not an error — the
        // names the pass DID register are retracted below either way
        val names =
          try doRegisterViews(cur)
          catch {
            case e: Exception =>
              if (tables.synchronized(tables.contains(cur.def_.name))) throw e
              Seq(cur.def_.name) ++ partitionNames(cur).map(p =>
                s"${cur.def_.name}__part_$p")
          }
        tables.synchronized(tables.get(cur.def_.name)) match {
          case None =>
            names.foreach(s.catalog.dropTempView)
            settled = true
          case Some(live) if !(live eq cur) => cur = live
          case Some(live) =>
            // partition-level drop-awareness: a DROP PARTITION landing
            // mid-pass (after this pass listed partitions, before it
            // registered them) must not leave that partition's view alive
            // from the stale listing — retract anything this pass
            // registered that the CURRENT state no longer declares
            val nowLive = (live.def_.name +: partitionNames(live)
              .map(p => s"${live.def_.name}__part_$p")).toSet
            (names.toSet -- nowLive).foreach(s.catalog.dropTempView)
            tableViewStamp.put(live.def_.name, stamp)
            settled = true
        }
      }
    }
    refreshUserViews()
  }

  /** One registration pass; returns every temp-view name registered so
    * [[registerViews]] can retract a stale pass exactly. */
  private def doRegisterViews(t: TableState): Seq[String] = {
    // a created-but-never-loaded (or emptied) table reads zero rows
    // through the read schema (never stale rows, never a not-found)
    val parts = partitionNames(t)
    registerTemp(visible(t, None), t.def_.name)
    parts.foreach(p => registerTemp(visible(t, Some(p)), s"${t.def_.name}__part_$p"))
    t.def_.name +: parts.map(p => s"${t.def_.name}__part_$p")
  }

  /** Declared partitions, or (AUTO mode) the materialized bucket dirs —
    * a directory listing, metadata-sized. */
  private def partitionNames(t: TableState): Seq[String] =
    if (t.def_.autoGran.isDefined)
      Option(new java.io.File(t.dir).list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("_p=")).map(_.stripPrefix("_p=")).sorted.toSeq
    else t.def_.parts.filterNot(_.dropped).map(_.name)

  // ------------------------------------------------------- views / drop

  private val viewDefs = mutable.LinkedHashMap[String, String]()

  /** Bumped under the `viewDefs` monitor on EVERY view-catalog mutation
    * (create/alter/drop). [[refreshUserViews]] snapshots the epoch with
    * the defs and re-snapshots when it moved mid-registration — the r19
    * race: DROP VIEW between a refresh's snapshot and its re-register
    * left a LIVE temp view with no `viewDefs` entry, i.e. no grant scope
    * (dropped-view data stayed readable, ungated). */
  private val viewEpoch = new java.util.concurrent.atomic.AtomicLong(0)

  private val CreateViewRe =
    """(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+`?(\w+)`?\s+AS\s+(SELECT\s+.*)$""".r

  /** Doris logical `CREATE VIEW v AS SELECT ...`: the TEXT is the catalog
    * object. The view is re-registered from its text after every DDL/DML
    * statement, so it always reads the CURRENT table state (a temp view
    * captures its plan at creation — replaying the text is what keeps the
    * Doris always-fresh view semantics). */
  private def createView(text: String): Unit = text match {
    case CreateViewRe(name, body) =>
      require(!tables.synchronized(tables.contains(name)),
        s"$name already names a table")
      viewDefs.synchronized { viewDefs(name) = body; viewEpoch.incrementAndGet() }
      refreshUserViews()
    case _ => sys.error(s"unparseable CREATE VIEW: ${text.take(80)}")
  }

  /** Re-register every user view from its text. A view whose base was
    * dropped is BROKEN, not poisonous (Doris: querying it errors "references
    * invalid table", every other statement still works): its temp view is
    * dropped so reads fail with a named not-found, but the TEXT stays in
    * the catalog — recreating the base heals the view on the next refresh,
    * exactly Doris's behavior. */
  private val refreshViewsLock = new Object
  /** Mutation epoch at which user views were last fully re-derived —
    * set to the epoch captured at refresh ENTRY (conservative: a bump
    * mid-refresh leaves the stamp behind, and the next select refreshes
    * again). selectPlain consults it to keep warm reads refresh-free
    * without losing the wait-for-in-flight-refresh semantics. */
  private val userViewsStamp = new java.util.concurrent.atomic.AtomicLong(-1L)
  private def refreshUserViews(): Unit = refreshViewsLock.synchronized {
    val epochAtEntry = mutationEpoch.get
    // Fixpoint over the registration order: a view over a view re-created
    // LATER in catalog order (drop v1, recreate v1 — it re-enters the
    // LinkedHashMap after its dependents) would otherwise stay broken for
    // one extra statement. Passes are bounded by the longest dependency
    // chain; each pass only retries what failed.
    //
    // Drop-aware (r19 race fix): the snapshot carries the [[viewEpoch]];
    // if a concurrent CREATE/ALTER/DROP VIEW moved it mid-registration,
    // re-snapshot and re-register, first dropping any temp view this
    // refresh registered from the stale snapshot whose def has vanished
    // (a DROP VIEW that landed between snapshot and re-register would
    // otherwise leave a live, scope-less view — the r19 `race_v` orphan).
    // Refreshes serialize on [[refreshViewsLock]], so the only writer a
    // stale registration can race is a catalog mutation, and those bump
    // the epoch under the `viewDefs` monitor.
    var prevNames = Set.empty[String]
    var stable = false
    while (!stable) {
      val (snapshot, epoch) =
        viewDefs.synchronized((viewDefs.toSeq, viewEpoch.get))
      (prevNames -- snapshot.map(_._1)).foreach(s.catalog.dropTempView)
      var pending = snapshot
      var progress = true
      while (pending.nonEmpty && progress) {
        val failed = pending.filter { case (name, body) =>
          try { registerTemp(DorisSqlDialect.sql(s, body), name); false }
          catch { case _: Exception => true }
        }
        progress = failed.size < pending.size
        pending = failed
      }
      pending.foreach { case (name, _) => s.catalog.dropTempView(name) }
      prevNames = snapshot.map(_._1).toSet
      stable = viewDefs.synchronized(viewEpoch.get == epoch)
    }
    userViewsStamp.set(epochAtEntry)
  }

  private val AlterViewRe =
    """(?is)^ALTER\s+VIEW\s+`?(\w+)`?\s+AS\s+(SELECT\s+.*)$""".r

  /** `ALTER VIEW v AS SELECT ...` — replace the view's TEXT (the catalog
    * object); readers see the new definition immediately. The new body is
    * ANALYZED before the catalog mutates: Doris validates the query and
    * rejects the ALTER, keeping the old definition — committing first and
    * letting the lenient refresh swallow the failure would silently destroy
    * a working view (the lenient path exists only for base-table drops). */
  private def alterView(text: String): Unit = text match {
    case AlterViewRe(name, body) =>
      require(viewDefs.synchronized(viewDefs.contains(name)),
        s"unknown view: $name")
      try DorisSqlDialect.sql(s, body)
      catch { case e: Exception =>
        sys.error(s"ALTER VIEW $name: invalid view definition: " +
          s"${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}")
      }
      viewDefs.synchronized { viewDefs(name) = body; viewEpoch.incrementAndGet() }
      refreshUserViews()
    case _ => sys.error(s"unparseable ALTER VIEW: ${text.take(80)}")
  }

  private val DropViewRe =
    """(?is)^DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?`?(\w+)`?$""".r

  /** `DROP VIEW [IF EXISTS] v` — a view name only (Doris rejects DROP VIEW
    * on a table even under IF EXISTS: the name resolves, to the wrong
    * object kind). */
  private def dropView(text: String): Unit = text match {
    case DropViewRe(ifEx, name) =>
      require(!tables.synchronized(tables.contains(name)),
        s"$name is a table, not a view (use DROP TABLE)")
      // def removal + epoch bump + temp-view drop are ONE atomic step
      // w.r.t. refreshUserViews' epoch check: a concurrent refresh either
      // snapshotted before this drop (sees the epoch move → re-snapshots
      // and drops its stale registration) or after (never re-registers).
      val existed = viewDefs.synchronized {
        viewDefs.remove(name) match {
          case Some(_) =>
            viewEpoch.incrementAndGet()
            s.catalog.dropTempView(name)
            true
          case None => false
        }
      }
      if (!existed) {
        // an ORPHANED engine temp view (its def vanished in the r19 race
        // class before this fix, or via any future window): DROP VIEW is
        // the sanctioned remediation — retract the scope-less temp view.
        // Scoped engine views (t__part_*, MVs) never take this path.
        if (ownsEngineView(name) && !mapsToScope(name) &&
          s.catalog.tableExists(name)) s.catalog.dropTempView(name)
        else require(ifEx != null, s"unknown view: $name")
      }
    case _ => sys.error(s"unparseable DROP VIEW: ${text.take(80)}")
  }

  private val ShowCreateViewRe =
    """(?is)^SHOW\s+CREATE\s+VIEW\s+`?(\w+)`?$""".r

  /** `SHOW CREATE VIEW v` → (view, create_view); the emitted text replayed
    * through execute() recreates the identical view (DdlSpec round-trip). */
  private def showCreateView(text: String): DataFrame = text match {
    case ShowCreateViewRe(name) =>
      val body = viewDefs.synchronized(viewDefs.get(name)).getOrElse(
        sys.error(s"unknown view: $name"))
      import s.implicits._
      // bare view name — the body keeps canonical refs (db-independent)
      Seq((name, s"CREATE VIEW `${splitDb(name)._2}` AS $body"))
        .toDF("view", "create_view")
    case _ => sys.error(s"unparseable SHOW CREATE VIEW: ${text.take(80)}")
  }

  private val DropTableRe = """(?is)^DROP\s+TABLE\s+`?(\w+)`?$""".r

  /** DROP TABLE: remove the catalog entry, its views, its rowset dir, and
    * every rollup/MV registered against it (a dropped base must stop being
    * served by the optimizer immediately). */
  private def dropTable(text: String): Unit = text match {
    case DropTableRe(name) =>
      val t = state(name)
      require(routines.synchronized(routines.values.toSeq)
        .forall(r => r.table != name || r.state == "STOPPED"),
        s"$name: stop its routine load jobs before DROP TABLE")
      val partViews = partitionNames(t) // capture before the wipe (AUTO)
      tables.synchronized { tables.remove(name) }
      s.catalog.dropTempView(name)
      partViews.foreach(p =>
        s.catalog.dropTempView(s"${name}__part_$p"))
      graft.plans.RollupRewrite.deregister(t.dir)
      // dependent async MTMVs die with their base
      mtmvs.synchronized {
        val dead = mtmvs.values.filter(_.table == name).map(_.name).toSeq
        dead.foreach { d => s.catalog.dropTempView(d); mtmvs.remove(d) }
      }
      graft.TempDirs.deleteTree(java.nio.file.Paths.get(t.dir))
    case _ => sys.error(s"unparseable DROP TABLE: ${text.take(80)}")
  }

  // ----------------------------------------------------- database stmts

  private val CreateDbRe =
    """(?is)^CREATE\s+DATABASE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?`?(\w+)`?$""".r
  private val DropDbRe =
    """(?is)^DROP\s+DATABASE\s+(?:(IF\s+EXISTS)\s+)?`?(\w+)`?(?:\s+(FORCE))?$""".r
  private val UseDbRe = """(?is)^USE\s+`?(\w+)`?$""".r

  private val CreateObjNameRe =
    ("""(?is)^CREATE\s+(?:OR\s+REPLACE\s+)?(?:TABLE|VIEW|""" +
      """(?:ASYNC\s+)?MATERIALIZED\s+VIEW)\s+(?:IF\s+NOT\s+EXISTS\s+)?""" +
      """`?(\w+)`?""").r

  /** A RAW (pre-qualification) creation target spelled `<db>__x` for an
    * existing database would silently REPARENT into that database via the
    * canonical `db__name` split — SHOW TABLES lists it under db,
    * `GRANT ON db.*` covers it, DROP DATABASE db FORCE drops it. Mirror
    * of [[createDatabase]]'s clash guard, in the other direction: reject
    * the spelling; `db.x` is the statement that means it. Runs on the raw
    * text BEFORE [[rewriteDbRefs]], which is the only legitimate producer
    * of canonical names. */
  private def guardReservedCreateName(raw: String): Unit =
    CreateObjNameRe.findFirstMatchIn(raw).map(_.group(1))
      .filter(_.contains("__")).foreach { n =>
        val d = n.substring(0, n.indexOf("__"))
        require(d == DefaultDb ||
          !databases.synchronized(databases.contains(d)),
          s"cannot create '$n': the name would reparent into database " +
            s"'$d' via the canonical db__name split — spell it " +
            s"$d.${n.substring(n.indexOf("__") + 2)}")
      }

  /** `CREATE DATABASE [IF NOT EXISTS] d` — driver metadata only. The name
    * may not contain "__" (canonical-split separator), and no existing
    * flat object may already spell `d__...` (the canonical split would
    * silently REPARENT it into the new database). */
  private def createDatabase(text: String): Unit = text match {
    case CreateDbRe(ifNot, name) =>
      require(!name.contains("__"), s"database name may not contain '__' " +
        s"(reserved for the canonical db__table spelling): $name")
      val clash = (tables.synchronized(tables.keys.toSeq) ++
        viewDefs.synchronized(viewDefs.keys.toSeq) ++
        mtmvs.synchronized(mtmvs.keys.toSeq)).find(_.startsWith(name + "__"))
      require(clash.isEmpty, s"cannot create database $name: existing " +
        s"object '${clash.get}' would become ambiguous")
      databases.synchronized {
        if (databases.contains(name))
          require(ifNot != null, s"database $name already exists")
        else databases += name
      }
    case _ => sys.error(s"unparseable CREATE DATABASE: ${text.take(80)}")
  }

  /** `DROP DATABASE [IF EXISTS] d [FORCE]` — without FORCE a non-empty
    * database REJECTS (the safety Doris puts behind the same keyword);
    * FORCE drops every table (routine-load jobs must be stopped, the
    * per-table drop enforces it), view and MTMV of the database. Dropping
    * the database in use resets the session to the default. */
  private def dropDatabase(text: String): Unit = text match {
    case DropDbRe(ifEx, name, force) =>
      require(name != DefaultDb, "cannot drop the default database")
      if (!databases.synchronized(databases.contains(name))) {
        require(ifEx != null, s"unknown database: $name")
        return
      }
      val dbTables = tables.synchronized(tables.keys.toSeq)
        .filter(splitDb(_)._1 == name)
      val dbViews = viewDefs.synchronized(viewDefs.keys.toSeq)
        .filter(splitDb(_)._1 == name)
      val dbMtmvs = mtmvs.synchronized(mtmvs.keys.toSeq)
        .filter(splitDb(_)._1 == name)
      require(force != null ||
        (dbTables.isEmpty && dbViews.isEmpty && dbMtmvs.isEmpty),
        s"database $name is not empty " +
          s"(${(dbTables ++ dbViews ++ dbMtmvs).size} objects) — " +
          s"use DROP DATABASE $name FORCE")
      // check the whole drop is legal BEFORE mutating anything: a running
      // routine-load job on any member table would otherwise abort the
      // FORCE midway, leaving the database half-dropped
      dbTables.foreach(tn =>
        require(routines.synchronized(routines.values.toSeq)
          .forall(r => r.table != tn || r.state == "STOPPED"),
          s"$name: stop routine load jobs on $tn before DROP DATABASE FORCE"))
      dbMtmvs.foreach(m => dropMv(s"DROP MATERIALIZED VIEW $m"))
      dbViews.foreach { v =>
        viewDefs.synchronized {
          viewDefs.remove(v)
          viewEpoch.incrementAndGet()
          s.catalog.dropTempView(v)
        }
      }
      dbTables.foreach(tn => dropTable(s"DROP TABLE $tn"))
      databases.synchronized { databases -= name }
      if (currentDb == name) currentDb = DefaultDb
    case _ => sys.error(s"unparseable DROP DATABASE: ${text.take(80)}")
  }

  /** `USE d` — switch the session's current database. */
  private def useDatabase(text: String): Unit = text match {
    case UseDbRe(name) =>
      require(databases.synchronized(databases.contains(name)),
        s"unknown database: $name")
      currentDb = name
    case _ => sys.error(s"unparseable USE: ${text.take(80)}")
  }

  /** `SHOW DATABASES` → one row per database, sorted. */
  private def showDatabases(): DataFrame = {
    import s.implicits._
    databases.synchronized(databases.toSeq).sorted.toDF("database_name")
  }

  // ------------------------------------------------- metadata statements

  /** `SHOW TABLES` → one row per CURRENT-database table (bare names),
    * creation order. */
  private def showTables(): DataFrame = {
    import s.implicits._
    tables.synchronized(tables.keys.toSeq)
      .map(splitDb).collect { case (d, bare) if d == currentDb => bare }
      .toDF("table_name")
  }

  private val DescRe = """(?is)^DESC(?:RIBE)?\s+`?(\w+)`?$""".r

  /** `DESC t` → MySQL-ish column metadata from the catalog (no data IO). */
  private def describe(text: String): DataFrame = text match {
    case DescRe(name) =>
      val d = state(name).def_
      import s.implicits._
      d.cols.map { c =>
        (c.name, c.sparkType.toLowerCase,
          if (d.keyCols.contains(c.name)) "true" else "false",
          c.agg.getOrElse(if (d.keysType == "AGGREGATE") "" else "NONE"),
          c.default.orNull)
      }.toDF("field", "type", "key", "aggregation", "default")
    case _ => sys.error(s"unparseable DESC: ${text.take(80)}")
  }

  private val ShowColumnsRe =
    """(?is)^SHOW\s+COLUMNS\s+FROM\s+`?(\w+)`?$""".r

  /** `SHOW COLUMNS FROM t` — the MySQL-ish alias of DESC. */
  private def showColumns(text: String): DataFrame = text match {
    case ShowColumnsRe(name) => describe(s"DESC $name")
    case _ => sys.error(s"unparseable SHOW COLUMNS: ${text.take(80)}")
  }

  /** Every table the current user holds SELECT_PRIV on (root: all) — the
    * unqualified SHOW LOAD / SHOW DATA listings filter by privilege, as
    * Doris's do. */
  private def readableTables: Seq[TableState] =
    tables.synchronized(tables.values.toSeq)
      .filter(t => hasPriv(currentUser, "SELECT_PRIV", t.def_.name))

  private val ShowLoadRe =
    """(?is)^SHOW\s+LOAD(?:\s+FROM\s+`?(\w+)`?)?$""".r

  /** `SHOW LOAD [FROM t]` → (table_name, label, version, state): the
    * published load history from driver metadata (every published load is
    * FINISHED here — failed loads never publish a version). */
  private def showLoad(text: String): DataFrame = text match {
    case ShowLoadRe(name) =>
      val targets = Option(name).map(n => Seq(state(n)))
        .getOrElse(readableTables)
      import s.implicits._
      targets.flatMap { t =>
        t.synchronized(t.loads.toSeq).map { case (ver, lbl) =>
          (t.def_.name, lbl.orNull, ver, "FINISHED")
        }
      }.toDF("table_name", "label", "version", "state")
    case _ => sys.error(s"unparseable SHOW LOAD: ${text.take(80)}")
  }

  /** `SHOW DYNAMIC PARTITION TABLES` ([doris: fe/.../analysis/
    * ShowDynamicPartitionStmt.java]): one row per dynamic-partition table
    * — the retention window, the forward buffer size, and how many empty
    * future buckets currently stand pre-created. Driver metadata plus one
    * directory listing per table; zero data IO. */
  private def showDynamicPartitionTables(): DataFrame = {
    import s.implicits._
    tables.synchronized(tables.values.toSeq)
      .filter(t => t.def_.retainStart.isDefined || t.def_.dynEnd.isDefined)
      .map { t =>
        val buffered = partitionNames(t).count(p => !partitionHasData(t, p))
        (t.def_.name, "true", t.def_.autoGran.getOrElse(""),
          t.def_.retainStart.map(_.toString).getOrElse(""),
          t.def_.dynEnd.map(_.toString).getOrElse(""),
          buffered.toLong, "NORMAL")
      }
      .toDF("table_name", "enable", "time_unit", "start", "end",
        "buffered_partitions", "state")
  }

  private val ShowDataRe =
    """(?is)^SHOW\s+DATA(?:\s+FROM\s+`?(\w+)`?)?$""".r

  /** `SHOW DATA [FROM t]` → (table_name, size_bytes, n_files): physical
    * rowset footprint from a driver file listing — zero data IO, the same
    * accounting Doris's FE serves from tablet metadata. */
  private def showData(text: String): DataFrame = text match {
    case ShowDataRe(name) =>
      val targets = Option(name).map(n => Seq(state(n)))
        .getOrElse(readableTables)
      import s.implicits._
      targets.map { t =>
        val files = Seq.newBuilder[java.nio.file.Path]
        DorisDdl.walkCommitted(t.dir) { f => files += f; true }
        // a file compacted away since the walk listed it counts 0 bytes
        val fs = files.result()
        (t.def_.name, fs.map(_.toFile.length()).sum, fs.size.toLong)
      }.toDF("table_name", "size_bytes", "n_files")
    case _ => sys.error(s"unparseable SHOW DATA: ${text.take(80)}")
  }

  private val ShowIndexRe =
    """(?is)^SHOW\s+INDEX(?:ES)?\s+FROM\s+`?(\w+)`?$""".r

  /** `SHOW INDEX FROM t` → (index_name, column_name, index_type): the
    * inverted indexes plus the bloom_filter_columns property surfaced the
    * way Doris lists both. Driver metadata, zero data IO. */
  private def showIndex(text: String): DataFrame = text match {
    case ShowIndexRe(name) =>
      val d = state(name).def_
      import s.implicits._
      (d.indexes.map(ix => (ix.name, ix.col, ix.kind)) ++
        d.bloomCols.map(c => (s"__bloom_$c", c, "BLOOM_FILTER")))
        .toDF("index_name", "column_name", "index_type")
    case _ => sys.error(s"unparseable SHOW INDEX: ${text.take(80)}")
  }

  // ------------------------------------------------------ column statistics

  private val AnalyzeRe = """(?is)^ANALYZE\s+TABLE\s+`?(\w+)`?$""".r
  private val ShowStatsRe = """(?is)^SHOW\s+COLUMN\s+STATS\s+`?(\w+)`?$""".r

  /** Is this a type column stats can fully describe (orderable + hashable)?
    * Complex types (ARRAY/MAP/STRUCT) and sketch binaries are skipped, as
    * Doris's stats job skips them. */
  private def statsable(c: ColDef): Boolean = {
    val t0 = c.sparkType.toUpperCase
    // VARIANT: documents have no ndv/min/max contract (Doris skips them)
    !c.variant && !Seq("ARRAY", "MAP", "STRUCT", "BINARY").exists(t0.startsWith)
  }

  /** `ANALYZE TABLE t` ([doris: fe/.../statistics/AnalysisManager.java]):
    * ONE aggregate scan computes every statsable column's (ndv, null_count,
    * min, max) plus the row count, stored as driver metadata for SHOW
    * COLUMN STATS (and, in Doris, the CBO). NDV is EXACT here where Doris's
    * stats job sketches it — exactness is what lets the DuckDB oracle
    * replay the statement. Returns the one-row job summary. */
  private def analyzeStmt(text: String): DataFrame = text match {
    case AnalyzeRe(name) =>
      val t = state(name)
      val d = t.def_
      val cols = d.cols.filter(statsable)
      // coalesce: zero rows can be visible (an empty table, or every row
      // removed by a versioned DELETE or delete-sign) — sum() over the
      // empty relation is null and getLong would NPE
      val aggs = Seq(count(lit(1)).as("__n")) ++ cols.zipWithIndex.flatMap {
        case (c, i) => Seq(
          countDistinct(col(c.name)).as(s"__ndv_$i"),
          coalesce(sum(when(col(c.name).isNull, 1L).otherwise(0L)), lit(0L))
            .as(s"__nul_$i"),
          min(col(c.name)).cast("string").as(s"__min_$i"),
          max(col(c.name)).cast("string").as(s"__max_$i"))
      }
      val r = visible(t, None).agg(aggs.head, aggs.tail: _*).head()
      val collected = (r.getLong(0), cols.zipWithIndex.map { case (c, i) =>
        (c.name, r.getLong(1 + i * 4), r.getLong(2 + i * 4),
          r.getString(3 + i * 4), r.getString(4 + i * 4))
      })
      t.synchronized { t.stats = Some(collected) }
      import s.implicits._
      Seq((name, cols.size.toLong, collected._1))
        .toDF("table_name", "columns_analyzed", "row_count")
    case _ => sys.error(s"unparseable ANALYZE: ${text.take(80)}")
  }

  /** `SHOW COLUMN STATS t` → (column_name, row_count, ndv, null_count,
    * min, max) from the last ANALYZE — driver metadata, zero data IO. */
  private def showColumnStats(text: String): DataFrame = text match {
    case ShowStatsRe(name) =>
      val t = state(name)
      val (n, rows) = t.synchronized(t.stats).getOrElse(
        sys.error(s"$name has no column stats; run ANALYZE TABLE $name"))
      import s.implicits._
      rows.map { case (c, ndv, nul, mn, mx) => (c, n, ndv, nul, mn, mx) }
        .toDF("column_name", "row_count", "ndv", "null_count", "min", "max")
    case _ => sys.error(s"unparseable SHOW COLUMN STATS: ${text.take(80)}")
  }

  private val ShowCreateRe =
    """(?is)^SHOW\s+CREATE\s+TABLE\s+`?(\w+)`?$""".r

  /** `SHOW CREATE TABLE t` → (table, create_table): the statement is
    * reconstructed from catalog metadata and ROUND-TRIPS — feeding the
    * emitted text back through execute() yields an identical table
    * definition (DdlSpec pins this). */
  private def showCreateTable(text: String): DataFrame = text match {
    case ShowCreateRe(name) =>
      val d = state(name).def_
      val colLines = (d.cols.map { c =>
        val gen = c.gen.map(g => s" AS ($g)").getOrElse("")
        val agg = c.agg.map(" " + _).getOrElse("") + c.autoInc.map(st =>
          if (st == 1L) " AUTO_INCREMENT" else s" AUTO_INCREMENT($st)")
          .getOrElse("")
        val dflt = c.default.map(v => s""" DEFAULT "$v"""").getOrElse("")
        val typ =
          if (c.variant) "VARIANT"
          else c.aggState match {
            case Some((fn, inner)) => s"AGG_STATE<$fn($inner)>"
            case None => c.sparkType
          }
        s"  `${c.name}` $typ$gen$agg$dflt"
      } ++ d.indexes.map(ix =>
        if (ix.kind == "NGRAM_BF")
          s"  INDEX ${ix.name} (`${ix.col}`) USING NGRAM_BF " +
            s"""PROPERTIES("gram_size" = "${ix.gramSize}", """ +
            s""""bf_size" = "${ix.bfSize}")"""
        else s"  INDEX ${ix.name} (`${ix.col}`) USING ${ix.kind}"))
        .mkString(",\n")
      val partClause = (d.autoGran, d.partCol) match {
        case (Some(g), Some(pc)) =>
          s"\nAUTO PARTITION BY RANGE (date_trunc(`$pc`, '$g')) ()"
        case (None, Some(pc)) if d.listPart =>
          val specs = d.parts.map(p =>
            s"  PARTITION ${p.name} VALUES IN (${
              p.inValues.get.map(v => s"'$v'").mkString(", ")})").mkString(",\n")
          s"\nPARTITION BY LIST(`$pc`) (\n$specs\n)"
        case (None, Some(pc)) =>
          // dropped partitions are omitted; the live partition after a hole
          // is emitted in fixed-range syntax, so replaying the text
          // reproduces the rejecting hole instead of merging the vacated
          // range into the next partition
          val specs = d.parts.zipWithIndex.collect {
            case (p, i) if !p.dropped =>
              val hi = p.bound.map(v => s"('$v')").getOrElse("(MAXVALUE)")
              val lower = p.lower.orElse(
                if (i > 0 && d.parts(i - 1).dropped) d.parts(i - 1).bound
                else None)
              lower match {
                case Some(lo) => s"  PARTITION ${p.name} VALUES [('$lo'), $hi)"
                case None => s"  PARTITION ${p.name} VALUES LESS THAN $hi"
              }
          }.mkString(",\n")
          s"\nPARTITION BY RANGE(`$pc`) (\n$specs\n)"
        case _ => ""
      }
      val propEntries =
        (if (d.bloomCols.isEmpty) Nil
         else Seq(s""""bloom_filter_columns" = "${d.bloomCols.mkString(",")}"""")) ++
        d.colocateWith.map(g => s""""colocate_with" = "$g"""").toSeq ++
        d.seqCol.map(sc => s""""function_column.sequence_col" = "$sc"""").toSeq ++
        d.retainStart.toSeq.flatMap(st => Seq(
          """"dynamic_partition.enable" = "true"""",
          s""""dynamic_partition.time_unit" = "${d.autoGran.get}"""",
          s""""dynamic_partition.start" = "$st"""") ++
          d.dynEnd.map(e => s""""dynamic_partition.end" = "$e""""))
      val propsClause =
        if (propEntries.isEmpty) ""
        else propEntries.mkString("\nPROPERTIES (", ", ", ")")
      // the BARE name: replaying the text under `USE db` re-qualifies
      // into the same database (emitting the canonical would double-
      // qualify on replay)
      val stmt =
        s"""CREATE TABLE `${splitDb(d.name)._2}` (
           |$colLines
           |) ENGINE=OLAP
           |${d.keysType} KEY(${d.keyCols.map(k => s"`$k`").mkString(", ")})$partClause
           |DISTRIBUTED BY ${
             if (d.randomDist) "RANDOM" else s"HASH(`${d.hashCol}`)"
           } BUCKETS ${
             if (d.autoBuckets) "AUTO" else d.buckets.toString
           }$propsClause""".stripMargin
      import s.implicits._
      Seq((splitDb(d.name)._2, stmt)).toDF("table", "create_table")
    case _ => sys.error(s"unparseable SHOW CREATE TABLE: ${text.take(80)}")
  }

  private def state(name: String): TableState =
    tables.synchronized(tables.getOrElse(name,
      sys.error(s"unknown table $name")))

  // --------------------------------------------------------------- parsing

  private def stripIdent(s0: String): String =
    s0.trim.stripPrefix("`").stripSuffix("`")

  /** `"key" = "value", ...` property list (quote-insensitive on both sides). */
  private def parseProps(text: String): Map[String, String] =
    topLevelSplit(text).flatMap { item =>
      """(?is)^\s*["']([^"']+)["']\s*=\s*["']([^"']*)["']\s*$""".r
        .findFirstMatchIn(item).map(m => m.group(1) -> m.group(2))
    }.toMap

  /** Find `re` (which must end at an opening paren) and return the text up
    * to its matching close paren. */
  private def clauseParen(text: String, re: String): Option[String] =
    re.r.findFirstMatchIn(text).map(m => untilMatchingParen(text.substring(m.end))._1)

  /** Text up to the paren matching an already-consumed '(' plus the
    * remainder after it. Quote-aware. */
  private def untilMatchingParen(text: String): (String, String) = {
    var depth = 1; var i = 0; var inQ = false
    while (i < text.length && depth > 0) {
      val c = text.charAt(i)
      if (inQ) { if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true
        // '[' opens a nesting level closed by ')' (fixed-range partition
        // syntax `[('lo'), ('hi'))`), so it counts like '('
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case _ =>
      }
      i += 1
    }
    require(depth == 0, s"unbalanced parens in: ${text.take(60)}")
    (text.substring(0, i - 1), text.substring(i))
  }

  /** Split at top-level commas (quote- and paren-aware; `angles` also
    * tracks `<...>` nesting — used ONLY where generic TYPES can appear,
    * i.e. column-definition lists, never expression lists where a bare
    * `<` is a comparison). Angle tracking applies only OUTSIDE parens:
    * generic type brackets sit at paren depth 0 (`MAP<K, V>`), while a
    * `<`/`>=` inside parens is a comparison in a generated-column
    * expression (`price DOUBLE AS (CASE WHEN x >= 1 ...)`). */
  private def topLevelSplit(text: String, angles: Boolean = false): Seq[String] = {
    val out = mutable.ArrayBuffer(new StringBuilder)
    var paren = 0; var angle = 0; var inQ = false
    text.foreach { c =>
      if (inQ) { out.last.append(c); if (c == '\'') inQ = false }
      else c match {
        case '\'' => inQ = true; out.last.append(c)
        // '[' nests like '(' (fixed-range partition specs, array literals);
        // the range syntax closes its '[' with ')', so ']' only closes a
        // bracket when one is actually open
        case '(' | '[' => paren += 1; out.last.append(c)
        case ')' | ']' => paren -= 1; out.last.append(c)
        case '<' if angles && paren == 0 => angle += 1; out.last.append(c)
        case '>' if angles && paren == 0 && angle > 0 =>
          angle -= 1; out.last.append(c)
        case ',' if paren == 0 && angle == 0 => out.append(new StringBuilder)
        case ch => out.last.append(ch)
      }
    }
    out.map(_.toString.trim).filter(_.nonEmpty).toSeq
  }

  // ------------------------------------------------------------ privileges
  // Doris's user/privilege model ([doris: fe/.../mysql/privilege/Auth.java],
  // GRANT/REVOKE in the FE grammar) in this instance's single namespace,
  // ROLE-BASED as in the FE (CREATE/DROP ROLE, GRANT ... TO ROLE,
  // GRANT 'role' TO user; effective = direct ∪ roles). Users are names
  // (the 'u'@'host' host part is accepted and
  // ignored — the embedded engine has no wire protocol, so login() below is
  // the stand-in for the MySQL connection's authenticated identity), scopes
  // are `*` or one managed table/view, and the privilege set is Doris's:
  // SELECT/LOAD/ALTER/CREATE/DROP/GRANT/ADMIN _PRIV. `root` exists from the
  // start and bypasses every check, as does ADMIN_PRIV ON *. Grants are
  // driver metadata only — zero cost on any data path, and the default
  // session (root) pays nothing anywhere. Spark-side temp views the caller
  // registered directly are NOT managed objects and are never gated.
  private val users = mutable.Set[String]("root")
  private val userGrants =
    mutable.Map[(String, String), mutable.Set[String]]()
  // Doris role-based ACL ([doris: fe/.../mysql/privilege/Role.java]): a
  // role is a named grant set; a user's EFFECTIVE privileges are their
  // direct grants ∪ every assigned role's grants. The two built-ins ship
  // with ADMIN_PRIV ON * ('operator' additionally holds NODE_PRIV in
  // Doris — node administration is env-excluded here) and cannot be
  // dropped or re-granted-into, matching FE behavior.
  private val builtinRoles = Set("admin", "operator")
  private val roles = mutable.Set[String]() ++ builtinRoles
  private val roleGrants =
    mutable.Map[(String, String), mutable.Set[String]](
      ("admin", "*") -> mutable.Set("ADMIN_PRIV"),
      ("operator", "*") -> mutable.Set("ADMIN_PRIV"))
  private val userRoles = mutable.Map[String, mutable.Set[String]]()
  private var currentUser = "root"

  private val allPrivs = Set("SELECT_PRIV", "LOAD_PRIV", "ALTER_PRIV",
    "CREATE_PRIV", "DROP_PRIV", "GRANT_PRIV", "ADMIN_PRIV")

  /** Switch the session identity (the embedded stand-in for a MySQL
    * connection login). Returns this for chaining. */
  def login(user: String): DorisDdl = {
    require(users.synchronized(users.contains(user)), s"unknown user: $user")
    currentUser = user
    this
  }

  /** Current session identity (for SHOW GRANTS default and tests). */
  def whoami: String = currentUser

  /** Effective check = direct grants ∪ assigned roles' grants (Doris
    * resolution order — there is no precedence, the union decides). */
  private def hasPriv(user: String, priv: String, obj: String): Boolean = {
    if (user == "root") return true
    val rs = userRoles.synchronized(
      userRoles.get(user).map(_.toSet).getOrElse(Set.empty))
    def eff(scope: String): Set[String] =
      userGrants.synchronized(
        userGrants.get((user, scope)).map(_.toSet).getOrElse(Set.empty)) ++
        roleGrants.synchronized(
          rs.flatMap(r => roleGrants.get((r, scope))
            .map(_.toSet).getOrElse(Set.empty)))
    def at(scope: String) = {
      val g = eff(scope)
      g.contains(priv) || (scope == "*" && g.contains("ADMIN_PRIV"))
    }
    // global, then the object's DATABASE scope (`db.*`), then the object
    at("*") || (obj != "*" &&
      (at(splitDb(obj)._1 + ".*") || at(obj)))
  }

  /** Managed objects (tables or views) the statement names DIRECTLY,
    * outside string literals — no view expansion: per Doris, querying a
    * view needs SELECT on the VIEW, not on its base tables. */
  private def directRefs(text: String): Set[String] = {
    val q = inLiteral(text)
    def hit(pat: String): Boolean =
      s"(?is)\\b$pat\\b".r.findAllMatchIn(text).exists(m => !q(m.start))
    // name-pattern → the privilege scope the reference READS. Tables and
    // user views are their own scope. A sync MV (served transparently in
    // Doris — no object-level grant exists for it) and an internal
    // partition view (`t__part_p`, the FROM t PARTITION(p) spelling)
    // serve the BASE table's rows, so referencing one requires the base
    // table's grant — otherwise a zero-grant user could read ungranted
    // data straight through the derived object's registered temp view.
    // An ASYNC MTMV is its OWN grantable object (Doris 2.1: querying a
    // materialized view directly needs SELECT_PRIV on the MV itself).
    val cands: Seq[(String, String)] =
      tables.synchronized(tables.values.toSeq).flatMap { t =>
        val n = t.def_.name
        Seq(n -> n, s"${n}__part_\\w+" -> n, s"${n}__ngbf\\w*" -> n,
          s"${n}__bmix\\w*" -> n) ++
          t.synchronized(t.mvs.toSeq).map(_.name -> n)
      } ++
        viewDefs.synchronized(viewDefs.keys.toSeq).map(v => v -> v) ++
        mtmvs.synchronized(mtmvs.keys.toSeq).map(m => m -> m)
    val scopes = cands.collect { case (pat, scope) if hit(pat) => scope }.toSet
    // Internal scratch views (file-TVF results, MTMV build sources) are
    // not grantable objects: a direct reference demands the superuser
    // scope rather than slipping past every check.
    if (hit("__(?:file_tvf|mtmv_src)_\\w+")) scopes + "*" else scopes
  }

  // ------------------------------------------------------ session variables
  // Doris session variables ([doris: fe/.../qe/SessionVariable.java] — the
  // ~500-knob surface every MySQL client and script touches): `SET name =
  // value`, `SHOW VARIABLES [LIKE 'pat']`, and `@@name` reads inside SELECT
  // text. This instance carries the Doris-flavored default set below with
  // per-variable type validation. Most knobs are session metadata (the
  // engine's real equivalents are Spark confs), but two are LIVE exactly
  // as in Doris/MySQL: `sql_select_limit` caps every top-level SELECT's
  // result, and `time_zone` pins each statement's datetime semantics
  // (scoped onto spark.sql.session.timeZone for the statement — see
  // withSessionTz). Variables are per-instance (per-connection in Doris
  // terms); GLOBAL is accepted and treated as SESSION — one instance IS
  // the scope.
  private val varDefaults: Map[String, String] = Map(
    "version_comment" -> "palospark",
    "sql_mode" -> "STRICT_TRANS_TABLES",
    "time_zone" -> "UTC",
    "exec_mem_limit" -> "2147483648",
    "query_timeout" -> "300",
    "batch_size" -> "4096",
    "parallel_fragment_exec_instance_num" -> "1",
    "enable_profile" -> "false",
    "sql_select_limit" -> Long.MaxValue.toString)
  private val intVars = Set("exec_mem_limit", "query_timeout", "batch_size",
    "parallel_fragment_exec_instance_num", "sql_select_limit")
  private val boolVars = Set("enable_profile")
  private val sessionVars = mutable.Map[String, String]() ++= varDefaults

  private val SetVarRe =
    """(?is)^SET\s+(?:SESSION\s+|GLOBAL\s+)?`?(\w+)`?\s*=\s*(.+)$""".r

  private def setVariable(text: String): Unit = text match {
    case SetVarRe(name0, raw0) =>
      val name = name0.toLowerCase
      require(varDefaults.contains(name), s"Unknown system variable '$name'")
      val raw = raw0.trim
      val value =
        if (raw.equalsIgnoreCase("DEFAULT")) varDefaults(name)
        else if (raw.startsWith("'") && raw.endsWith("'") && raw.length >= 2)
          raw.substring(1, raw.length - 1)
        else raw
      if (intVars(name))
        // all of this instance's integer variables are UNSIGNED in
        // MySQL/Doris (mem limits, timeouts, row caps): a negative
        // assignment errors rather than, e.g., turning sql_select_limit
        // into an every-SELECT-returns-zero-rows trap
        require(scala.util.Try(value.toLong).toOption.exists(_ >= 0L),
          s"variable '$name' requires a non-negative integer value, got: $value")
      if (boolVars(name))
        require(Set("true", "false", "0", "1")(value.toLowerCase),
          s"variable '$name' requires a boolean value, got: $value")
      if (name == "time_zone")
        require(scala.util.Try(java.time.ZoneId.of(value)).isSuccess,
          s"Unknown or incorrect time zone: '$value'")
      sessionVars.synchronized { sessionVars(name) = value }
    case _ => sys.error(s"unparseable SET: ${text.take(80)}")
  }

  private val ShowVariablesRe =
    """(?is)^SHOW\s+(?:SESSION\s+|GLOBAL\s+)?VARIABLES(?:\s+LIKE\s+'([^']*)')?$""".r

  private def showVariables(text: String): DataFrame = text match {
    case ShowVariablesRe(pat) =>
      val re = Option(pat).map(p =>
        ("(?is)^" + java.util.regex.Pattern.quote(p)
          .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q") + "$").r)
      import s.implicits._
      sessionVars.synchronized(sessionVars.toSeq)
        .filter { case (n, _) => re.forall(_.findFirstIn(n).isDefined) }
        .sortBy(_._1)
        .toDF("variable_name", "value")
    case _ => sys.error(s"unparseable SHOW VARIABLES: ${text.take(80)}")
  }

  /** Replace `@@name` (and `@@session.name`/`@@global.name`) outside string
    * literals with the variable's value — numerics/booleans bare, strings
    * as quoted literals — before the dialect sees the text. */
  private def rewriteVarReads(text: String): String = {
    val VarRead = """@@(?:(?:session|global)\.)?(\w+)""".r
    val q = inLiteral(text)
    VarRead.replaceAllIn(text, m =>
      if (q(m.start)) scala.util.matching.Regex.quoteReplacement(m.matched)
      else {
        val name = m.group(1).toLowerCase
        require(varDefaults.contains(name), s"Unknown system variable '$name'")
        val v = sessionVars.synchronized(sessionVars(name))
        val lit = if (intVars(name)) v
          else if (boolVars(name)) v
          else "'" + v.replace("'", "''") + "'"
        scala.util.matching.Regex.quoteReplacement(lit)
      })
  }

  private def applySelectLimit(df: DataFrame): DataFrame = {
    val n = sessionVars.synchronized(sessionVars("sql_select_limit")).toLong
    if (n >= Int.MaxValue) df else df.limit(math.max(n, 0L).toInt)
  }

  private val CreateUserRe =
    """(?is)^CREATE\s+USER\s+'(\w+)'(?:@'[^']*')?(?:\s+IDENTIFIED\s+BY\s+'[^']*')?(?:\s+DEFAULT\s+ROLE\s+'(\w+)')?$""".r
  private val DropUserRe = """(?is)^DROP\s+USER\s+'(\w+)'(?:@'[^']*')?$""".r
  private val CreateRoleRe = """(?is)^CREATE\s+ROLE\s+'?(\w+)'?$""".r
  private val DropRoleRe = """(?is)^DROP\s+ROLE\s+'?(\w+)'?$""".r
  // `GRANT privs ON scope TO ROLE 'r'` — grants land on the ROLE
  private val GrantToRoleRe =
    """(?is)^GRANT\s+(.+?)\s+ON\s+(\*(?:\.\*)?|`?\w+`?\.\*|`?\w+`?(?:\.`?\w+`?)?)\s+TO\s+ROLE\s+'?(\w+)'?$""".r
  private val RevokeFromRoleRe =
    """(?is)^REVOKE\s+(.+?)\s+ON\s+(\*(?:\.\*)?|`?\w+`?\.\*|`?\w+`?(?:\.`?\w+`?)?)\s+FROM\s+ROLE\s+'?(\w+)'?$""".r
  // `GRANT 'r1'[, 'r2'] TO 'user'` — role ASSIGNMENT (no ON clause)
  private val GrantRolesRe =
    """(?is)^GRANT\s+('\w+'(?:\s*,\s*'\w+')*)\s+TO\s+'(\w+)'(?:@'[^']*')?$""".r
  private val RevokeRolesRe =
    """(?is)^REVOKE\s+('\w+'(?:\s*,\s*'\w+')*)\s+FROM\s+'(\w+)'(?:@'[^']*')?$""".r
  private val GrantRe =
    """(?is)^GRANT\s+(.+?)\s+ON\s+(\*(?:\.\*)?|`?\w+`?\.\*|`?\w+`?(?:\.`?\w+`?)?)\s+TO\s+(?:USER\s+)?'(\w+)'(?:@'[^']*')?$""".r
  private val RevokeRe =
    """(?is)^REVOKE\s+(.+?)\s+ON\s+(\*(?:\.\*)?|`?\w+`?\.\*|`?\w+`?(?:\.`?\w+`?)?)\s+FROM\s+(?:USER\s+)?'(\w+)'(?:@'[^']*')?$""".r
  private val ShowGrantsRe =
    """(?is)^SHOW\s+GRANTS(?:\s+FOR\s+'(\w+)'(?:@'[^']*')?)?$""".r

  private def createUser(text: String): Unit = text match {
    case CreateUserRe(name, defaultRole) =>
      Option(defaultRole).foreach(r =>
        require(roles.synchronized(roles.contains(r)), s"unknown role: $r"))
      users.synchronized {
        require(!users.contains(name), s"user '$name' already exists")
        users += name
      }
      Option(defaultRole).foreach(r => userRoles.synchronized {
        userRoles.getOrElseUpdate(name, mutable.Set()) += r
      })
    case _ => sys.error(s"unparseable CREATE USER: ${text.take(80)}")
  }

  private def createRole(text: String): Unit = text match {
    case CreateRoleRe(name) => roles.synchronized {
      require(!roles.contains(name), s"role '$name' already exists")
      roles += name
    }
    case _ => sys.error(s"unparseable CREATE ROLE: ${text.take(80)}")
  }

  /** DROP ROLE revokes it everywhere: members lose the role's privileges
    * with the role (Doris semantics — the role IS the grant holder). */
  private def dropRole(text: String): Unit = text match {
    case DropRoleRe(name) =>
      require(!builtinRoles(name), s"cannot drop built-in role '$name'")
      roles.synchronized {
        require(roles.contains(name), s"unknown role: $name")
        roles -= name
      }
      roleGrants.synchronized {
        roleGrants.keys.filter(_._1 == name).toSeq.foreach(roleGrants.remove)
      }
      userRoles.synchronized(userRoles.values.foreach(_ -= name))
    case _ => sys.error(s"unparseable DROP ROLE: ${text.take(80)}")
  }

  private def dropUser(text: String): Unit = text match {
    case DropUserRe(name) =>
      require(name != "root", "cannot drop root")
      users.synchronized {
        require(users.contains(name), s"unknown user: $name")
        users -= name
      }
      userGrants.synchronized {
        userGrants.keys.filter(_._1 == name).toSeq
          .foreach(userGrants.remove)
      }
      userRoles.synchronized(userRoles.remove(name))
      if (currentUser == name) currentUser = "root"
    case _ => sys.error(s"unparseable DROP USER: ${text.take(80)}")
  }

  /** Parse `priv[, priv] ON scope`, validating names and the object.
    * Scopes are Doris's three levels ([doris: fe/.../mysql/privilege/
    * Auth.java] — GLOBAL / DATABASE / TABLE): `*` or `*.*` (global),
    * `db.*` (every object of db, stored as the literal `db.*` key), and
    * `[db.]tbl` (one managed object, stored canonical — an unqualified
    * name resolves against the CURRENT database first, flat default as
    * the fallback, same as every other object reference). ADMIN_PRIV is
    * grantable only ON *, per Doris. */
  private def parseGrant(privCsv: String, scope: String): (Set[String], String) = {
    val privs = privCsv.split(",").map(_.trim.toUpperCase).toSet
    val bad = privs -- allPrivs
    require(bad.isEmpty, s"unknown privilege(s): ${bad.toSeq.sorted.mkString(", ")}")
    val obj0 = scope.replace("`", "").trim
    val obj =
      if (obj0 == "*" || obj0 == "*.*") "*"
      else if (obj0.endsWith(".*")) {
        val d = obj0.stripSuffix(".*")
        require(databases.synchronized(databases.contains(d)),
          s"unknown database: $d")
        s"$d.*"
      } else if (obj0.contains(".")) {
        val Array(d, o) = obj0.split("\\.", 2)
        require(databases.synchronized(databases.contains(d)),
          s"unknown database: $d")
        canon(d, o)
      } else resolveRef(obj0)
    if (obj != "*" && !obj.endsWith(".*"))
      require(managed(obj), // tables, views AND MTMVs are grantable objects
        s"unknown table or view: $obj")
    require(!privs.contains("ADMIN_PRIV") || obj == "*",
      "ADMIN_PRIV is grantable only ON *")
    (privs, obj)
  }

  private def grantStmt(text: String): Unit = text match {
    case GrantToRoleRe(privCsv, scope, role) =>
      require(roles.synchronized(roles.contains(role)), s"unknown role: $role")
      require(!builtinRoles(role),
        s"cannot modify built-in role '$role'")
      val (privs, obj) = parseGrant(privCsv, scope)
      roleGrants.synchronized {
        roleGrants.getOrElseUpdate((role, obj), mutable.Set()) ++= privs
      }
    case GrantRolesRe(rolesCsv, user) =>
      require(users.synchronized(users.contains(user)), s"unknown user: $user")
      val rs = rolesCsv.split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
      rs.foreach(r => require(roles.synchronized(roles.contains(r)),
        s"unknown role: $r"))
      userRoles.synchronized {
        userRoles.getOrElseUpdate(user, mutable.Set()) ++= rs
      }
    case GrantRe(privCsv, scope, user) =>
      require(users.synchronized(users.contains(user)), s"unknown user: $user")
      val (privs, obj) = parseGrant(privCsv, scope)
      userGrants.synchronized {
        userGrants.getOrElseUpdate((user, obj), mutable.Set()) ++= privs
      }
    case _ => sys.error(s"unparseable GRANT: ${text.take(80)}")
  }

  private def revokeStmt(text: String): Unit = text match {
    case RevokeFromRoleRe(privCsv, scope, role) =>
      require(roles.synchronized(roles.contains(role)), s"unknown role: $role")
      require(!builtinRoles(role),
        s"cannot modify built-in role '$role'")
      val (privs, obj) = parseGrant(privCsv, scope)
      roleGrants.synchronized {
        roleGrants.get((role, obj)).foreach { g =>
          g --= privs
          if (g.isEmpty) roleGrants.remove((role, obj))
        }
      }
    case RevokeRolesRe(rolesCsv, user) =>
      require(users.synchronized(users.contains(user)), s"unknown user: $user")
      val rs = rolesCsv.split(",").map(_.trim.stripPrefix("'").stripSuffix("'"))
      userRoles.synchronized {
        userRoles.get(user).foreach(_ --= rs)
      }
    case RevokeRe(privCsv, scope, user) =>
      require(users.synchronized(users.contains(user)), s"unknown user: $user")
      val (privs, obj) = parseGrant(privCsv, scope)
      userGrants.synchronized {
        userGrants.get((user, obj)).foreach { g =>
          g --= privs
          if (g.isEmpty) userGrants.remove((user, obj))
        }
      }
    case _ => sys.error(s"unparseable REVOKE: ${text.take(80)}")
  }

  /** `SHOW ROLES` → (name, members csv, grants listing), sorted. */
  private def showRoles(): DataFrame = {
    import s.implicits._
    val rows = roles.synchronized(roles.toSeq).sorted.map { r =>
      val members = userRoles.synchronized(
        userRoles.collect { case (u, rs) if rs.contains(r) => u }.toSeq)
        .sorted.mkString(",")
      val grants = roleGrants.synchronized(
        roleGrants.collect { case ((`r`, scope), ps) =>
          s"$scope: ${ps.toSeq.sorted.mkString(",")}" }.toSeq)
        .sorted.mkString("; ")
      (r, members, grants)
    }
    rows.toDF("name", "users", "grants")
  }

  /** `SHOW GRANTS [FOR 'user']` → (user, scope, privs csv, sorted). root's
    * implicit superuser grant is synthesized so the listing is honest. */
  private def showGrants(text: String): DataFrame = text match {
    case ShowGrantsRe(forUser) =>
      val who = Option(forUser).getOrElse(currentUser)
      require(users.synchronized(users.contains(who)), s"unknown user: $who")
      import s.implicits._
      val rows =
        if (who == "root") Seq(("root", "*", "ADMIN_PRIV"))
        else userGrants.synchronized {
          userGrants.toSeq.collect { case ((u, scope), privs) if u == who =>
            (u, scope, privs.toSeq.sorted.mkString(","))
          }
        }.sortBy(r => (r._2, r._3))
      rows.toDF("user_identity", "scope", "privs")
    case _ => sys.error(s"unparseable SHOW GRANTS: ${text.take(80)}")
  }
}

object DorisDdl {
  /** Which DorisDdl instance last registered each engine temp view on a
    * session (registration-skip support; see selectPlain). Values are
    * compared by `eq` only. */
  private val viewOwners =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), AnyRef]()

  /** The schema every read of a table's rowset tree uses, fixed by the
    * writer (`rowset()`): each def column at `DataType.fromDDL(sparkType)`,
    * the type every load casts it to, under its current name and each
    * prior name (light RENAME leaves old rowsets' bytes there), then the
    * hidden `_sign` (UNIQUE), `_ver`, `_pos` and `_p` (partitioned). A
    * rowset lacking a field reads it as NULL; fields of dropped columns
    * are not read. */
  private[graft] def readSchema(d: TableDef)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val cols = d.cols.flatMap { c =>
      val t = DataType.fromDDL(c.sparkType)
      c.storedNames.map(StructField(_, t))
    }
    StructType(cols ++
      (if (d.keysType == "UNIQUE") Seq(StructField("_sign", IntegerType))
       else Nil) ++
      Seq(StructField("_ver", LongType), StructField("_pos", LongType)) ++
      d.partCol.map(_ => StructField("_p", StringType)))
  }

  /** The value a query reads for column `c` from a [[readSchema]] read —
    * the one column-read rule: the current name coalesced over its prior
    * names, and rows of rowsets that predate the column (`_ver <=
    * addedVer`, a light ADD COLUMN) read its DEFAULT, NULL without one,
    * whatever bytes they hold under its name (a dropped column's, when a
    * dropped name is re-added). An explicit NULL loaded after the ADD
    * persists, per Doris light schema change. None = the stored column
    * as it is: no priors, and a CREATE-time column (addedVer 0) predates
    * no rowset, as versions start at 1. */
  private[sql] def readCol(c: ColDef): Option[Column] =
    if (c.priors.isEmpty && c.addedVer == 0L) None
    else {
      val stored =
        if (c.priors.isEmpty) col(c.name) else coalesce(c.storedNames.map(col): _*)
      Some(if (c.addedVer == 0L) stored
        else when(col("_ver") <= c.addedVer,
          lit(c.default.orNull).cast(c.sparkType)).otherwise(stored))
    }

  /** `df` (a [[readSchema]] read) with every column `readCol` derives
    * replaced by its read value. */
  private[sql] def readCols(df: DataFrame, cols: Seq[ColDef]): DataFrame = {
    val derived = cols.flatMap(c => readCol(c).map(c.name -> _))
    if (derived.isEmpty) df else df.withColumns(derived.toMap)
  }

  /** Visit each committed rowset file under `dir` until `visit` returns
    * false: the `.parquet` files Spark's reader lists, so the walk never
    * descends into a `_`- or `.`-prefixed entry (a writer's in-flight
    * `_temporary` tree, `_SUCCESS`, the index sidecar dirs) except a
    * `_p=X` partition dir, whose name holds `=`. An entry that vanishes
    * mid-walk (a commit renaming its in-flight file away, a DROP deleting
    * the tree) is skipped, not thrown. */
  private[graft] def walkCommitted(dir: String)(
      visit: java.nio.file.Path => Boolean): Unit = {
    import java.nio.file.{FileVisitResult, NoSuchFileException, Path}
    import FileVisitResult.{CONTINUE, SKIP_SUBTREE, TERMINATE}
    val root = java.nio.file.Paths.get(dir)
    def hidden(p: Path): Boolean = {
      val n = p.getFileName.toString
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }
    def vanished(e: java.io.IOException): FileVisitResult =
      if (e == null || e.isInstanceOf[NoSuchFileException]) CONTINUE
      else throw e
    java.nio.file.Files.walkFileTree(root,
      new java.nio.file.SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path,
            a: java.nio.file.attribute.BasicFileAttributes) =
          if (d != root && hidden(d)) SKIP_SUBTREE else CONTINUE
        override def visitFile(f: Path,
            a: java.nio.file.attribute.BasicFileAttributes) =
          if (hidden(f) || !f.toString.endsWith(".parquet") || visit(f))
            CONTINUE
          else TERMINATE
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          vanished(e)
        override def postVisitDirectory(d: Path, e: java.io.IOException) =
          vanished(e)
      })
  }

  /** Content address of a rowset file's sidecar — in the companion so the
    * executor-side sidecar writer serializes without the session. */
  private[sql] def sha1hexStatic(v: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Publish one sidecar ATOMICALLY: write to a temp name, rename into
    * place. `fs.create` alone is not atomic — a concurrent reader (a
    * query lazily healing the same index, or racing the load-time build)
    * could consult a HALF-WRITTEN bitset whose missing bits read as
    * "needle absent" and wrongly prune a file that contains it. Readers
    * probe exact final names, so they only ever see complete bitsets; a
    * lost rename race means an identical-bytes sidecar already landed
    * (the build is deterministic per immutable rowset file) and the temp
    * is dropped. */
  /** BITMAP value-set sidecar encoding: count then writeUTF values, or
    * -1 = OVERFLOW (the file declared unprunable at build time). */
  private[sql] def encodeValueSet(vs: Seq[String], ndvCap: Int,
      lenCap: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    if (vs.size > ndvCap || vs.exists(_.length > lenCap)) out.writeInt(-1)
    else { out.writeInt(vs.size); vs.foreach(out.writeUTF) }
    out.flush()
    bos.toByteArray
  }

  /** None = OVERFLOW (never prune); Some(set) = exact distinct values. */
  private[sql] def decodeValueSet(bytes: Array[Byte]): Option[Set[String]] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    if (n < 0) None else Some((0 until n).map(_ => in.readUTF()).toSet)
  }

  private[sql] def writeSidecarAtomic(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dst.getParent,
      dst.getName + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
  }

  final case class ColDef(name: String, sparkType: String,
      agg: Option[String], default: Option[String],
      // the rowset version as of which the column exists: only rowsets
      // with _ver <= addedVer predate it and read back the DEFAULT; rows
      // loaded after a light ADD COLUMN keep explicit NULLs (Doris only
      // backfills pre-change rowsets, never later explicit writes)
      addedVer: Long = 0L,
      // former names after light RENAME COLUMN: old rowsets keep their
      // bytes under the old name; the read coalesces them (readCol)
      priors: Seq[String] = Nil,
      // GENERATED column (Doris 2.1 `col TYPE AS (expr)`): computed from
      // the other columns at LOAD time and stored — loads never supply it,
      // reads never recompute it
      gen: Option[String] = None,
      // VARIANT column (Doris 2.1 schemaless subcolumns): ingests JSON
      // text (validated at load), stored as text, surfaced to queries as
      // Spark VariantType via parse_json in the read projection — so
      // variant_get subcolumn access works directly on the table view
      variant: Boolean = false,
      // AGG_STATE<fn(inner)> GENERIC (Doris 2.1): (fn lowercase, inner
      // type text as declared). The column stores the aggregate's
      // ALGEBRAIC state (sum/count: running value; avg: (s,c) struct;
      // min/max: the extremum) loaded via the `_state` combinator, merged
      // by the AGGREGATE model with the state-union, finalized at query
      // time by `_merge`. agg carries "GENERIC" as the marker.
      aggState: Option[(String, String)] = None,
      // AUTO_INCREMENT [(start)] (Doris 2.1 [doris: fe/.../catalog/
      // Column.java — auto-increment]): Some(start) = rows that do not
      // supply the column (absent from the load, or NULL) get
      // driver-claimed contiguous id blocks at load time. Unique forever
      // (the claim counter persists per table and only moves forward);
      // a failed load burns its block — Doris also guarantees
      // uniqueness, not continuity.
      autoInc: Option[Long] = None) {
    /** Every name a rowset may hold this column's bytes under. */
    def storedNames: Seq[String] = name +: priors
  }
  // bound None = MAXVALUE; a dropped partition keeps its PartDef (marked)
  // so the vacated range keeps REJECTING loads — Doris rejects rows with
  // no covering partition, and a drop leaves a hole, not a merged range.
  // `lower` is the EXPLICIT lower bound of a fixed-range partition
  // (`VALUES [('lo'), ('hi'))`); None means the chain-implicit lower (the
  // previous partition's bound). SHOW CREATE TABLE emits fixed-range
  // syntax for the live partition after a hole, so the hole round-trips.
  // `inValues` Some = a LIST partition (`VALUES IN ('a','b')`): the
  // partition owns exactly that value set. A dropped LIST partition is
  // REMOVED outright (its values simply lose coverage and reject — no
  // neighbor can swallow them, and Doris allows re-adding them later),
  // unlike a RANGE drop which must keep a marked hole.
  final case class PartDef(name: String, bound: Option[String],
      dropped: Boolean = false, lower: Option[String] = None,
      inValues: Option[Seq[String]] = None)
  // CREATE INDEX ... USING INVERTED | NGRAM_BF: read-side text indexes.
  // INVERTED legalizes MATCH_ANY/MATCH_ALL on the column (Doris rejects
  // MATCH without one); NGRAM_BF (Doris 2.x n-gram bloom filter,
  // "gram_size"/"bf_size" properties) accelerates infix LIKE '%x%' via a
  // gram-hash narrow stage ahead of the exact verify.
  final case class IndexDef(name: String, col: String,
      kind: String = "INVERTED", gramSize: Int = 2, bfSize: Int = 256)
  final case class TableDef(name: String, cols: Seq[ColDef], keysType: String,
      keyCols: Seq[String], partCol: Option[String], parts: Seq[PartDef],
      hashCol: String, buckets: Int,
      // DISTRIBUTED BY RANDOM (DUPLICATE tables only): round-robin write
      // layout instead of key-hash tablets — Doris's recommended default
      // for append-only duplicate data since 2.0 (no skew from a hot
      // distribution key; merge models still require HASH). hashCol is ""
      // when set.
      randomDist: Boolean = false,
      // BUCKETS AUTO: bucket count derived per load from the data volume
      // instead of a declared constant (buckets is 0 when set)
      autoBuckets: Boolean = false,
      // AUTO PARTITION BY RANGE (date_trunc(col, 'gran')): partitions
      // materialize per granularity bucket as loads arrive (Doris 2.1)
      autoGran: Option[String] = None,
      // PROPERTIES("function_column.sequence_col" = "c"): UNIQUE-key
      // merge-on-read resolves by (sequence DESC, version DESC) instead of
      // version alone, so out-of-order loads keep the logically newest row
      seqCol: Option[String] = None,
      // dynamic_partition.start (negative): AUTO buckets more than |start|
      // periods behind the newest DATA bucket are dropped at load time
      // (retention)
      retainStart: Option[Int] = None,
      // dynamic_partition.end (positive): that many FUTURE empty buckets
      // are pre-created past the newest data bucket at load time — the
      // forward buffer Doris's dynamic-partition scheduler maintains, so
      // SHOW PARTITIONS surfaces tomorrow's partition before any row
      // lands in it
      dynEnd: Option[Int] = None,
      // inverted text indexes (CREATE-time INDEX items or CREATE INDEX /
      // ALTER TABLE ADD INDEX statements)
      indexes: Seq[IndexDef] = Nil,
      // PROPERTIES("bloom_filter_columns" = "c1,c2"): every rowset file
      // writes a parquet bloom filter for these columns, the skip index
      // Doris's property drives ([doris: fe/.../analysis/CreateTableStmt
      // .java] bloom_filter_columns)
      bloomCols: Seq[String] = Nil,
      // true = PARTITION BY LIST (parts carry inValues); false = RANGE.
      // Stored explicitly so the kind survives every partition being
      // dropped (a LIST table with zero live partitions still rejects all
      // loads and still takes VALUES IN on ADD PARTITION).
      listPart: Boolean = false,
      // PROPERTIES("colocate_with" = "group"): tablet co-location intent
      // ([doris: fe/.../catalog/ColocateTableIndex.java]). Every member of
      // a group must agree on bucket count and distribution-column type —
      // the invariant that makes a same-group equi-join on the
      // distribution key shuffle-free (the execution-side shape is the
      // bucketed join_colocate path; here the property is validated
      // metadata that round-trips SHOW CREATE).
      colocateWith: Option[String] = None,
      // names light DROP COLUMN left bytes under in older rowsets, with
      // the type they were loaded at: a rowset read matches columns by
      // name (Doris matches by column unique id), so a re-ADD of the name
      // must keep that type, and a RENAME onto it would read the dropped
      // bytes
      droppedCols: Map[String, String] = Map.empty)
  final case class MvDef(name: String, table: String, selectText: String,
      keys: Seq[String], columns: Map[(String, String), String])
  // routine-load job: the standing streaming query + its driver metadata
  final case class RoutineState(name: String, table: String,
      srcDir: String, fmt: String, ckpt: String) {
    var state: String = "RUNNING"
    var batches: Long = 0L
    var query: org.apache.spark.sql.streaming.StreamingQuery = _
  }
  // async MTMV: `lastFiles` is the per-partition rowset file-set snapshot
  // taken at the last refresh (the staleness "version"); `lastDeletes` the
  // versioned-delete list it absorbed; `lastPlan` the last incremental
  // recompute's physical plan (pruning is spec-asserted against it)
  /** Parse a `STARTS 'yyyy-MM-dd HH:mm:ss'` instant to epoch millis, in
    * `zone` — the SESSION time_zone, not a pinned UTC: Doris interprets
    * job start wall-clocks in the FE/session zone, and this engine honors
    * the `time_zone` variable for every other statement's datetime
    * semantics, so the schedule gate must agree with them. None when the
    * text doesn't parse (the value still round-trips through SHOW
    * CREATE — only the schedule gate ignores it). */
  private[sql] def parseStartsMs(v: String,
      zone: java.time.ZoneId = java.time.ZoneOffset.UTC): Option[Long] =
    scala.util.Try(java.time.LocalDateTime.parse(v.trim.replace(' ', 'T'))
      .atZone(zone).toInstant.toEpochMilli).toOption

  final case class MtmvState(name: String, table: String, pcol: String,
      selList: String, keys: Seq[String], dir: String,
      // REFRESH trigger: MANUAL (explicit statement), COMMIT (every base
      // publish), SCHEDULE (every n units [+ STARTS instant], honored at
      // statement entry)
      refreshMode: String = "MANUAL",
      schedule: Option[(Int, String, Option[String])] = None) {
    var lastFiles: Map[String, Set[String]] = Map.empty
    var lastDeletes: List[DeleteRec] = Nil
    var lastPlan: String = ""
    var lastRefreshMs: Long = 0L
  }
  /** One recorded versioned delete, stored STRUCTURALLY: the user
    * predicate text never carries engine-added `_p` conjuncts, so a
    * partition RENAME amends the name fields and can neither miss a
    * differently-spelled conjunct nor rewrite user literal text that
    * happens to contain one. `scope` Some(p) = issued as `DELETE ...
    * PARTITION (p)` (applies only inside p); `excluded` = partitions
    * REPLACE'd after this delete was recorded — the swapped-in rowset is
    * a new publish the delete must not touch. `compiled` is the read
    * filter KeyModels.applyDeletePredicates consumes. */
  final case class DeleteRec(pred: String, ver: Long,
      scope: Option[String] = None, excluded: Seq[String] = Nil) {
    def compiled: String =
      (scope.map(p => s"(_p = '$p')").toSeq ++
        excluded.map(p => s"(_p <> '$p')") :+ s"($pred)").mkString(" AND ")
  }

  final case class TableState(var def_ : TableDef, dir: String) {
    // serializes the whole claim-label → write-rowset → publish sequence
    // of one load (Doris's per-table publish lock): concurrent writers'
    // versions are allocated in publish order and a label is consumed by
    // exactly ONE successful load even under interleaving. Acquired
    // BEFORE (never inside) the metadata monitor below.
    val loadLock = new Object
    var nextVer: Long = 0L
    var mvVer: Long = 0L
    val deletes: mutable.ArrayBuffer[DeleteRec] = mutable.ArrayBuffer()
    val mvs: mutable.ArrayBuffer[MvDef] = mutable.ArrayBuffer()
    // consumed load labels (WITH LABEL dedup) + published load history
    // (version, label) — SHOW LOAD's source, driver metadata only
    val labels: mutable.Set[String] = mutable.Set()
    val loads: mutable.ArrayBuffer[(Long, Option[String])] = mutable.ArrayBuffer()
    // last ANALYZE TABLE result: (row_count, per-column (name, ndv,
    // null_count, min, max) as strings) — SHOW COLUMN STATS serves from it
    var stats: Option[(Long, Seq[(String, Long, Long, String, String)])] = None
    // TEMPORARY partitions (ALTER TABLE ... ADD TEMPORARY PARTITION): the
    // staging side of the atomic backfill swap. Defs here, data under
    // `_p=__tmp_<name>` in the table dir — excluded from every read until
    // REPLACE PARTITION publishes it
    val tempParts: mutable.LinkedHashMap[String, PartDef] = mutable.LinkedHashMap()
    // NGRAM_BF sidecar bitsets, keyed (paramDir, sha1(relpath)) — rowset
    // files are immutable, so entries never invalidate; dead files' entries
    // are just unreferenced
    val ngramCache: mutable.Map[(String, String), java.util.BitSet] =
      mutable.Map()
    // BITMAP index value sets, keyed (sidecar dir, sha1(relpath)); None = the
    // sidecar declared OVERFLOW at build (never prune). Immutable files,
    // so entries never invalidate.
    val bitmapCache: mutable.Map[(String, String), Option[Set[String]]] =
      mutable.Map()
  }
}
