package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 testdata generator (r10 verdict task 2): a structure-preserving ×10
  * replication of the driver's sf0.1 parquet, used for the sf0.1→sf1 scale
  * curve in BASELINE.md. The driver owns /root/testdata (read-only to us),
  * so the output lands under the repo (data/sf1, gitignored).
  *
  * Design constraints, in order:
  *  1. Same schemas byte-for-byte (loaders and every `queries` entry must
  *     run unmodified with SPARK_GRAFT_SF_DIR pointed here).
  *  2. Cardinality ratios scale the way TPC-H scales: fact tables and
  *     per-SF dims ×10 with FK consistency (key → key*10+r on BOTH sides of
  *     every join edge); region/nation stay fixed like TPC-H does, keeping
  *     the broadcast-dim property the join plans rely on.
  *  3. Work DENSITY stays constant. Naive replication makes every document
  *     appear 10× verbatim — exact-dup and near-dup pair counts explode
  *     ×100 and the jaccard/minhash keys measure a different problem than
  *     at sf0.1. Suffixing every token with its replica id preserves each
  *     replica's internal shingle structure exactly (within-replica Jaccard
  *     is invariant under the token bijection) while making cross-replica
  *     shingle overlap zero. Embeddings get a per-replica orthogonal map
  *     (cyclic coordinate shift + deterministic sign flips): within-replica
  *     dot products are exactly preserved (Q^T Q = I), cross-replica cosine
  *     becomes pseudo-random noise — so dup/neighbor density per document
  *     is flat across SF, which is what "10× the corpus" means in a real
  *     pipeline.
  *
  * Determinism: no RNG anywhere — replica id and column expressions only —
  * so the generated bytes are reproducible run-to-run (modulo parquet task
  * ordering, which no consumer depends on).
  */
object GenScale {
  val Replicas = 10

  /** Generator semantics version, bumped on any change that alters the
    * produced bytes' MEANING (not just their layout). v2 = the
    * composition-injectivity fix (unconditional _x suffix + non-identity
    * Q_0): pre-v2 corpora have a different dedup-pair density and are
    * semantically stale. The marker file written into each output dir lets
    * readers reject a stale corpus loudly instead of silently measuring
    * the wrong problem (the failure mode that motivated the r12 fix). */
  val Version = 2
  val MarkerFile = "_GENSCALE_VERSION"

  /** Assert `dir` was produced by THIS generator version. Driver-owned
    * dirs (under /root/testdata) are exempt — the driver generates those
    * and ships no marker. A repo-local scale dir with a missing marker is
    * a pre-v2 corpus and fails loudly. */
  def assertVersion(dir: String): Unit = {
    if (dir.startsWith("/root/testdata")) return
    val p = java.nio.file.Paths.get(dir, MarkerFile)
    require(java.nio.file.Files.exists(p),
      s"$dir has no $MarkerFile marker: regenerate it with graft.GenScale " +
        s"(pre-v$Version corpora are semantically stale — see GenScale doc)")
    val got = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim
    require(got == Version.toString,
      s"$dir was generated by GenScale v$got, this build expects v$Version: regenerate")
  }

  /** Stamp `dir` as carrying current-version corpus semantics. For dirs
    * whose tables are straight copies/derivations of current-version data
    * (e.g. test scratch dirs) — the marker asserts the BYTES' semantics,
    * not which process wrote them. */
  def stamp(dir: String): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, MarkerFile),
      (Version.toString + "\n").getBytes("UTF-8"))

  private def replicate(df: DataFrame, spark: SparkSession): DataFrame =
    df.crossJoin(broadcast(
      spark.range(Replicas.toLong).select(col("id").cast("int").as("r"))))

  /** key*10+r renumbering applied to every column in `keys` (FK edges must
    * list the same columns on both sides). */
  private def renumber(df: DataFrame, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) * Replicas + col("r")))

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "data/sf1"
    val spark = Graft.session()

    // composing (e.g. sf1→sf10)? the input must itself be current-version
    assertVersion(srcDir)

    def read(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")
    // The driver's testdata ships each table as ONE parquet FILE (not a
    // directory) and consumers depend on that shape — the streaming keys
    // symlink "$dir/events.parquet" into a file-source landing dir, which
    // silently delivers an empty stream if the path is a directory. Parquet
    // files are row-group-splittable, so a single file costs no read
    // parallelism; the single-threaded write is a one-time generation cost.
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .toArray.map(_.toString).find(_.endsWith(".parquet")).get
      val target = java.nio.file.Paths.get(s"$outDir/$name.parquet")
      java.nio.file.Files.deleteIfExists(target)
      java.nio.file.Files.move(java.nio.file.Paths.get(part), target)
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      println(s"[genscale] $name done")
    }

    // fixed dims: copy unchanged (TPC-H keeps region/nation constant per SF)
    for (t <- Seq("region", "nation")) write(read(t), t)

    // per-SF dims and facts: ×10 with consistent FK renumbering
    write(renumber(replicate(read("customer"), spark), Seq("c_custkey"))
      .drop("r"), "customer")
    write(renumber(replicate(read("supplier"), spark), Seq("s_suppkey"))
      .drop("r"), "supplier")
    write(renumber(replicate(read("part"), spark), Seq("p_partkey"))
      .drop("r"), "part")
    write(renumber(replicate(read("orders"), spark),
      Seq("o_orderkey", "o_custkey")).drop("r"), "orders")
    write(renumber(replicate(read("lineitem"), spark),
      Seq("l_orderkey", "l_partkey", "l_suppkey")).drop("r"), "lineitem")
    write(renumber(replicate(read("events"), spark),
      Seq("event_id", "user_id")).drop("r"), "events")

    // documents: token-bijective per-replica rename keeps within-replica
    // similarity structure identical and cross-replica overlap zero;
    // n_chars re-derived so the metadata column stays true of the text.
    // EVERY replica gets a suffix — r=0 included. An r=0 passthrough makes
    // the transform non-injective under COMPOSITION (sf0.1→sf1→sf10):
    // generation-1 replica 3 with generation-2 replica 0 and generation-1
    // replica 0 with generation-2 replica 3 both end at "…_x3", i.e.
    // IDENTICAL texts across generations — measured as 45 728 spurious
    // verbatim duplicates at sf10 (constant density predicts ~800), caught
    // by llm_dedup_containment's 29× pair growth in the r12 curve. With the
    // unconditional suffix the suffix sequence uniquely decodes the replica
    // path and cross-replica overlap is zero at every generation depth.
    val docs = renumber(replicate(read("documents"), spark), Seq("doc_id"))
      .withColumn("text",
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_x"), col("r"))), " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("r")
    write(docs, "documents")

    // embeddings: orthogonal per-replica transform Q_r = S_r · P_r where
    // P_r is a cyclic shift by 7r coordinates and S_r flips signs by a
    // deterministic hash — norms and within-replica dot products invariant.
    // Applied for EVERY replica (Q_0 = non-identity sign pattern S_0) for
    // the same composition-injectivity reason as the token suffix: an
    // identity Q_0 made (3,0) and (0,3) replica paths produce the SAME
    // vector across generations.
    val emb = renumber(replicate(read("embeddings"), spark), Seq("vec_id"))
      .withColumn("embedding", transform(
          sequence(lit(0), size(col("embedding")) - 1),
          i => (element_at(col("embedding"),
              pmod(i + col("r") * 7, size(col("embedding"))) + 1)
            * when(pmod(hash(col("r"), i), lit(2)) === 0, 1.0f).otherwise(-1.0f))
            .cast("float")))
      .drop("r")
    write(emb, "embeddings")

    // version marker: written AFTER all tables so a crashed run leaves an
    // (unmarked ⇒ rejected) dir rather than a marked partial one
    stamp(outDir)

    // sanity: counts are exactly ×10 (×1 for the fixed dims)
    for (t <- Tables.all) {
      val n = spark.read.parquet(s"$outDir/$t.parquet").count()
      val n0 = read(t).count()
      val want = if (t == "region" || t == "nation") n0 else n0 * Replicas
      require(n == want, s"$t: got $n want $want")
      println(s"[genscale] $t rows=$n ok")
    }
    spark.stop()
  }
}
