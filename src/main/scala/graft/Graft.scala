package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Library wiring — the two standard ways a user attaches this engine to a
  * Spark session.
  *
  *  1. Config-time (production clusters): set
  *     `spark.sql.extensions=graft.GraftExtensions` on the session builder /
  *     spark-submit conf. The extension injects the one rollup/MV-selection
  *     optimizer rule through Spark's public injection point, so every
  *     session built from that conf serves registered rollups and MVs with
  *     no code change. ([doris: fe/.../planner/MaterializedViewSelector.java]
  *     is wired into the planner the same transparently-on way: one selector
  *     picks among rollups and MVs.)
  *
  *  2. Runtime ([[Graft.install]]): for an already-running session (the
  *     Verify/Bench harness path, notebooks). Adds the same optimizer rule
  *     via `spark.experimental.extraOptimizations` plus every SQL-name
  *     registration the library ships (sketch/bitmap/event aggregates,
  *     scalar shims, codegen expressions). Idempotent.
  *
  * Both routes are equivalent for the optimizer rule: injected user rules
  * and extraOptimizations run in the optimizer's user-rules batch after the
  * main batches. The rule serves a registered def (one registry, see
  * [[plans.RollupRewrite.register]]) only while its bases are at the exact
  * version its build read ([[Freshness.version]]), and is a no-op while
  * the registry is empty, so installing the extension on sessions that
  * never use rollups costs nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(s => new plans.RollupRewrite.RollupRewriteRule(s))
  }
}

object Graft {
  /** The local session every main and the test suite run on: `local[cpus]`,
    * `cpus` shuffle partitions, UTC session time, no UI, WARN logging. It
    * builds the session only — no [[install]], which would change plans. */
  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Attach the optimizer rule and register every SQL-name function the
    * library ships on an already-running session. Idempotent. */
  def install(spark: SparkSession): Unit = {
    plans.RollupRewrite.install(spark)
    functions.NativeAggregates.register(spark)
    functions.BitmapFunctions.registerAll(spark)
    functions.SketchScalars.registerAll(spark)
    functions.CosineSim.register(spark)
    functions.TokenCount.register(spark)
  }
}
