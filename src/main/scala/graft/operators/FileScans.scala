package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-format scans beyond parquet (SURVEY.md §2.1): CSV and JSON readers —
  * the load/TVF surface of Doris (file scan nodes under
  * [doris: be/src/vec/exec/format/], `s3()`/`file()` TVFs). Data is staged
  * from the canonical parquet into the format under test once per source
  * version and session ([[graft.Artifacts.memo]]), so the DuckDB oracle
  * (which reads the parquet) checks the full write->read->query round trip.
  *
  * Scale notes: schemas are explicit (never inferSchema — inference is a
  * full extra pass at 100 TB); CSV/JSON scans parallelize by file splits
  * exactly like parquet, just without column pruning/stats — the engine
  * treats them as ingest formats, converting to parquet at load (KeyModels
  * sink), not as resident storage.
  */
object FileScans {

  private def ensureStaged(s: SparkSession, dir: String): (String, String, String) =
    graft.Artifacts.memo("formatsStaged", dir, s, s"$dir/orders.parquet") {
      val csv = graft.TempDirs.create("graft_csv")
      val json = graft.TempDirs.create("graft_json")
      val orc = graft.TempDirs.create("graft_orc")
      // Stage once, read many: coalesce to a handful of splits (the staged
      // copy is a few MB even at sf0.1 — 32 shards would be pure file-open
      // overhead) and run the three format writes concurrently; they are
      // independent jobs and Spark's scheduler interleaves them fine.
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
        .coalesce(4)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = Seq(
        Future(ord.write.mode("overwrite").option("header", "true").csv(csv)),
        Future(ord.write.mode("overwrite").json(json)),
        Future(ord.write.mode("overwrite").orc(orc)))
      writes.foreach(Await.result(_, Duration.Inf))
      (csv, json, orc)
    }

  /** Embedded-Derby JDBC database staged once per nation version and
    * session ([[graft.Artifacts.memo]]) — the federated / external-table
    * scan surface (Doris JDBC catalog,
    * [doris: be/src/vec/exec/vjdbc_connector.cpp]) exercised without any
    * external service: Derby ships in Spark's jars and runs in-JVM. The
    * nation table is written THROUGH Spark's distributed JDBC sink
    * (df.write.jdbc) and read back through the partitioned JDBC source, so
    * the key covers the full external round trip. VARCHAR column types are
    * forced at create (Derby's default CLOB mapping for StringType rejects
    * comparison predicates, which would break pushdown). */
  private[graft] def ensureJdbc(s: SparkSession, dir: String): String =
    graft.Artifacts.memo("jdbcStaged", dir, s, s"$dir/nation.parquet") {
      val db = graft.TempDirs.create("graft_derby") + "/db"
      val url = s"jdbc:derby:$db;create=true"
      Tables.nation(s, dir)
        .write.mode("overwrite")
        .option("createTableColumnTypes", "n_name VARCHAR(64)")
        .jdbc(url, "nation_jdbc", new java.util.Properties)
      s"jdbc:derby:$db"
    }

  /** Typed row for the Dataset[T] demo (top-level so Encoders derive). */
  final case class Ord(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
      o_totalprice: Double)

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderpriority", StringType)))

  def queries: Map[String, QueryDef] = Map(
    "scan_csv" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (csv, _, _) = ensureStaged(s, dir)
        s.read.schema(ordersSchema).option("header", "true").csv(csv)
          .filter($"o_totalprice" > 100000.0)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
          .orderBy($"o_orderstatus")
      },
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_totalprice > 100000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "scan_json" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, json, _) = ensureStaged(s, dir)
        s.read.schema(ordersSchema).json(json)
          .filter($"o_orderpriority".like("1-%"))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderpriority LIKE '1-%'
        |ORDER BY o_orderkey""".stripMargin),

    "scan_orc" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, _, orc) = ensureStaged(s, dir)
        s.read.schema(ordersSchema).orc(orc)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), round(avg($"o_totalprice"), 4).as("avg_price"))
          .orderBy($"o_orderpriority")
      },
      """SELECT o_orderpriority, count(*) AS n,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),

    // Federated JDBC scan (embedded Derby, staged via Spark's distributed
    // JDBC sink): PARTITIONED read — 4 parallel range queries on
    // n_nationkey, the shape a 1000-executor cluster uses against an
    // external RDBMS — with the filter pushed into the remote SQL
    // (PushedFilters on the JDBCRelation, plan-asserted in
    // RelationalSpec). Oracled against the same rows' parquet provenance,
    // so the compare covers the full write->external->read round trip.
    "scan_jdbc" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val url = ensureJdbc(s, dir)
        s.read
          .option("partitionColumn", "n_nationkey")
          .option("lowerBound", 0).option("upperBound", 25)
          .option("numPartitions", 4)
          .jdbc(url, "nation_jdbc", new java.util.Properties)
          .filter($"n_regionkey" < 3)
          .select($"n_nationkey", $"n_name", $"n_regionkey")
          .orderBy($"n_nationkey")
      },
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation WHERE n_regionkey < 3
        |ORDER BY n_nationkey""".stripMargin)
      // the external-DB load is a fixture: the timed key is the JDBC read
      .staged(ensureJdbc),

    // Typed Dataset path: case-class Encoder + typed filter/groupByKey — the
    // Dataset[T] API surface (SURVEY §1.2) over the same engine.
    "ds_typed_agg" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val ds = Tables.orders(s, dir)
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
          .as[Ord]
        // outputs are order-insensitive (count/max) so the arbitrary group
        // iteration order of mapGroups cannot leak float noise into the hash
        ds.filter(_.o_totalprice > 50000.0)
          .groupByKey(_.o_orderstatus)
          .mapGroups { (status, it) =>
            var n = 0L; var mx = Double.MinValue
            it.foreach { o => n += 1; if (o.o_totalprice > mx) mx = o.o_totalprice }
            (status, n, mx)
          }
          .toDF("o_orderstatus", "n", "max_price")
          .orderBy($"o_orderstatus")
      },
      """SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS max_price
        |FROM orders WHERE o_totalprice > 50000.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Error-tolerant ingest (Doris stream load max_filter_ratio
    // [doris: be/src/http/action/stream_load.cpp — tolerated bad rows]):
    // PERMISSIVE CSV parse routes malformed rows to a corrupt-record column
    // instead of failing the load; the load reports good/bad counts so the
    // caller can enforce its filter-ratio policy. Two deliberately bad rows
    // (non-numeric fields) are appended to the staged nation CSV.
    "scan_csv_permissive" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val staged = graft.TempDirs.create("graft_badcsv")
        Tables.nation(s, dir)
          .select(concat_ws(",", $"n_nationkey", $"n_name", $"n_regionkey").as("value"))
          .union(Seq("x,BROKEN_ROW,1", "9,BAD_REGION,zz").toDF("value"))
          .coalesce(1).write.mode("overwrite").text(staged)
        // NOTE (measured): CSV column pruning means _corrupt reflects only
        // the fields the query parses — an unreferenced bad column goes
        // undetected. A filter-ratio load check must therefore project EVERY
        // column (as here via sum_rk), or corrupt counts silently depend on
        // the projection.
        s.read
          .schema("k INT, name STRING, rk INT, _corrupt STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(staged)
          .agg(
            count(when($"_corrupt".isNull, 1)).as("n_good"),
            count($"_corrupt").as("n_bad"),
            sum(when($"_corrupt".isNull, $"k")).as("sum_k"),
            sum(when($"_corrupt".isNull, $"rk")).as("sum_rk"))
      },
      """SELECT count(*) AS n_good, CAST(2 AS BIGINT) AS n_bad,
        |  CAST(sum(n_nationkey) AS BIGINT) AS sum_k,
        |  CAST(sum(n_regionkey) AS BIGINT) AS sum_rk
        |FROM nation""".stripMargin),

    // LOAD-TIME TRANSFORM (Doris broker/stream load `COLUMNS (...) SET
    // (derived = expr) ... WHERE`, [doris: fe/.../load/loadv2/LoadJob.java]):
    // Doris loads are not raw copies — column mapping, derived-column SET
    // expressions, and a WHERE reject-filter run inside the load pipeline.
    // Spark spelling: the same read→select(exprs)→filter plan as a query,
    // codegen'd per-row over the CSV scan, so at 100 TB the transform costs
    // one pass with zero shuffles and writes land pre-shaped.
    "load_transform" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (csv, _, _) = ensureStaged(s, dir)
        s.read.schema(ordersSchema).option("header", "true").csv(csv)
          .filter($"o_totalprice" > 1000.0 && $"o_orderstatus".isin("F", "O"))
          .select(
            $"o_orderkey".as("id"),
            ($"o_custkey" % 16).as("cust_bucket"),
            substring($"o_orderpriority", 1, 1).as("priority_class"),
            round($"o_totalprice" * 100, 0).cast("bigint").as("total_cents"))
          .orderBy($"id")
      },
      """SELECT o_orderkey AS id,
        |  o_custkey % 16 AS cust_bucket,
        |  substr(o_orderpriority, 1, 1) AS priority_class,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS total_cents
        |FROM orders
        |WHERE o_totalprice > 1000.0 AND o_orderstatus IN ('F', 'O')
        |ORDER BY id""".stripMargin),

    // MULTI-CATALOG federated scan (Doris 2.x external catalogs,
    // [doris: fe/.../datasource/]): a second catalog registered purely via
    // session conf (sources/GraftCatalog — Spark's DSv2 CatalogPlugin, the
    // same API Iceberg/Delta/Hive connectors use), queried through
    // three-part identifiers and JOINED ACROSS CATALOGS with a
    // session-catalog view — the federation shape Doris's `SELECT … FROM
    // hive_prod.db.t JOIN local_t` serves. Pushdown/pruning through the
    // federated table is plan-asserted in CatalogSpec; at 100 TB the
    // federated side scans only the pushed-filter survivors, same as a
    // native scan.
    "scan_catalog" -> QueryDef(
      (s, dir) => {
        val cat = graft.sources.GraftCatalog.register(s, dir)
        graft.Tables.customer(s, dir).createOrReplaceTempView("cat_customer_v")
        s.sql(
          s"""SELECT c.c_mktsegment, count(*) AS n,
             |  round(sum(o.o_totalprice), 2) AS revenue
             |FROM $cat.main.orders o
             |JOIN cat_customer_v c ON o.o_custkey = c.c_custkey
             |WHERE o.o_orderstatus = 'F'
             |GROUP BY 1 ORDER BY 1""".stripMargin)
      },
      """SELECT c_mktsegment, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Schema catalog scan (Doris information_schema.columns
    // [doris: fe/.../catalog/InfoSchemaDb.java]): column metadata of
    // registered relations through spark.catalog. The key registers its OWN
    // two views so the result never depends on what else ran in the session;
    // the driver-side collect is catalog METADATA (a handful of rows by
    // construction), not table data.
    "meta_schema_scan" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.nation(s, dir).createOrReplaceTempView("graft_meta_nation")
        Tables.region(s, dir).createOrReplaceTempView("graft_meta_region")
        val cols = Seq("graft_meta_nation", "graft_meta_region").flatMap { t =>
          s.catalog.listColumns(t).collect().map(c => (t, c.name, c.dataType))
        }
        cols.toDF("table_name", "column_name", "data_type")
          .orderBy($"table_name", $"column_name")
      },
      """SELECT * FROM (VALUES
        |  ('graft_meta_nation', 'n_name', 'string'),
        |  ('graft_meta_nation', 'n_nationkey', 'int'),
        |  ('graft_meta_nation', 'n_regionkey', 'int'),
        |  ('graft_meta_region', 'r_name', 'string'),
        |  ('graft_meta_region', 'r_regionkey', 'int')
        |) AS t(table_name, column_name, data_type)
        |ORDER BY table_name, column_name""".stripMargin)
  )
}
