package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator module's QueryDef map. Each SURVEY.md §2 operator
  * lands here as one key with a DuckDB-oracle where SQL-expressible.
  */
object SparkEntry {
  /** All operator coverage entries, keyed per SURVEY.md §2. */
  def defs: Map[String, QueryDef] =
    operators.Relational.queries ++
      operators.Aggregates.queries ++
      operators.Joins.queries ++
      operators.Subqueries.queries ++
      operators.Windows.queries ++
      operators.Functions.queries ++
      operators.TableFunctions.queries ++
      operators.Sketches.queries ++
      operators.KeyModels.queries ++
      operators.LlmDedup.queries ++
      operators.LlmSimilarity.queries ++
      operators.LlmText.queries ++
      operators.Rollups.queries ++
      operators.MaterializedViews.queries ++
      operators.FileScans.queries ++
      operators.SqlDialect.queries ++
      operators.DdlStatements.queries ++
      streaming.Streaming.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    defs("q1_agg").build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, d) => k -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.collect { case (k, QueryDef(_, Some(sql), _)) => k -> sql }
}
