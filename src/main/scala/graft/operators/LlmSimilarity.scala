package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import graft.text.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY.md §2.11): cosine
  * scoring, brute-force top-k (baseline), and an IVF-style cell-probed top-k
  * (the scale path).
  *
  * Scale design:
  *  - cosine-to-centroid: centroids are a tiny aggregate, broadcast back —
  *    one narrow shuffle (the centroid agg), then map-side-only scoring.
  *  - brute-force kNN: queries × corpus via broadcast of the (small) query
  *    set; corpus side streams, TakeOrdered per query bounds memory at k.
  *    Correct baseline, O(|Q|·N) — fine for |Q| small, the oracle for recall.
  *  - IVF kNN: corpus pre-assigned to nearest coarse centroid (the "inverted
  *    file"); queries probe only their own cell. At 100 TB the cell
  *    assignment is a write-time partition column -> partition pruning turns
  *    a full scan into a 1/k-cells scan. nprobe>1 = OR over cells.
  * Centroid components are rounded to 6 dp before scoring on both engines so
  * partial-aggregation summation order can't leak into the compare.
  */
object LlmSimilarity {

  /** One k-means assignment step: corpus × broadcast k-row centroid set,
    * argmin by squared distance via a per-vector window. INTENTIONALLY a
    * broadcast-BNLJ (the non-equi "join" is against k rows, never
    * corpus×corpus) — exposed so LlmSpec can audit this interior plan
    * directly: the key materializes each iteration via localCheckpoint,
    * which hides the join shape from PlanAuditSpec's sweep (its documented
    * blind spot). */
  private[graft] def kmeansAssign(
      vecs: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def dist2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)
    // argmin as a HASH AGGREGATE, not a row_number window (r21, guide §2):
    // min over struct(d2, cid, e) compares d2 first, ties on cid — the
    // same argmin + tie-break the window's orderBy(d2, cid) gave (e is
    // constant within a vec_id group, so it never reaches the compare) —
    // but with map-side PARTIAL aggregation the k-way fan-out collapses
    // before the exchange and the per-partition sort disappears.
    vecs.crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("e"), col("c")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"), col("e"))).as("m"))
      .select(col("vec_id"), col("m.e").as("e"),
        col("m.cid").as("cid"), col("m.d2").as("d2"))
  }

  /** Product-quantization building blocks shared by llm_knn_pq and
    * llm_knn_ivfpq (M=8 subspaces × 16 codes; deterministic one-step
    * codebook from the vec_id%16 seed groups, 6-dp rounded — see the
    * llm_knn_pq key comment for the full design rationale):
    *  - sub:   exploded subvector view (vec_id, pos, m, spos, v)
    *  - cb:    codebook (m, j, spos, c)  [broadcast-sized: M×16×subD rows]
    *  - cnorm: per-code reconstruction norm² (m, j, nn)
    *  - codes: corpus encoding, argmin-d² code per (vec_id, m) — at 100 TB
    *           this is computed once at ingest and persisted (8 B/vector)
    *  - lut:   per-query ADC lookup tables (qid, m, j, dot)
    *  - qnorm: per-query norms (qid, qn) */
  private case class PqParts(
      sub: org.apache.spark.sql.DataFrame, cb: org.apache.spark.sql.DataFrame,
      cnorm: org.apache.spark.sql.DataFrame,
      codes: org.apache.spark.sql.DataFrame,
      lut: org.apache.spark.sql.DataFrame, qnorm: org.apache.spark.sql.DataFrame)

  // Standing artifacts (the llm_winnow/jaccard discipline): PQ codes and
  // the coarse-cell assignment are INGEST-TIME artifacts at 100 TB —
  // computed once when vectors land, persisted alongside them — so within a
  // session the keys that consume them (llm_knn_pq / llm_knn_ivf /
  // llm_knn_ivfpq) share one localCheckpointed build per sf dir instead of
  // re-deriving it.
  private def embSrc(dir: String): String = s"$dir/embeddings.parquet"

  private def pqParts(s: SparkSession, dir: String): PqParts =
    Artifacts.memo("pqParts", dir, s, embSrc(dir))(buildPqParts(s, dir))

  /** Per-vector coarse-cell ranking shared by llm_knn_ivf and llm_knn_ivfpq:
    * (vec_id, embedding, cell, sim, rn) — rn=1 is the storage cell, rn<=n
    * the probe set. localCheckpoint also breaks the self-join attribute
    * dedup trap documented at llm_knn_ivf. */
  private def cellRanked(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("cellRanked", dir, s, embSrc(dir)) {
      import s.implicits._
      val cents = broadcast(centroids(s, dir).withColumnRenamed("label", "cell"))
      Tables.embeddings(s, dir).crossJoin(cents)
        .select($"vec_id", $"embedding", $"cell",
          round(TextOps.cosine($"embedding", $"centroid"), 6).as("sim"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"sim".desc, $"cell".asc)))
        .localCheckpoint(true)
    }

  /** TRAINED-centroid coarse cells for llm_knn_ivf_trained: production IVF
    * trains its cells with k-means over the corpus rather than deriving
    * them from labels (which a raw 100 TB embedding table doesn't have).
    * Two deterministic Lloyd iterations over the in-repo k-means plan shape
    * (broadcast-centroid argmin — kmeansAssign's shape with the family's
    * 6-dp rounding discipline on both d² and the means, so every argmin and
    * the whole downstream probe/top-k replays exactly in DuckDB SQL).
    * Returns (vec_id, e, cid, d2, rn): rn=1 = storage cell, rn<=n = probe
    * order by distance. */
  private def trainedCellRanked(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("trainedCellRanked", dir, s, embSrc(dir)) {
      import s.implicits._
      val k = 4
      def d2r(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        round(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6)
      val vecs = Tables.embeddings(s, dir)
        .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
        .localCheckpoint(true)
      // seed from the first k vectors by id (the llm_kmeans discipline)
      var cents = vecs.orderBy($"vec_id").limit(k)
        .select((row_number().over(Window.orderBy($"vec_id")) - 1)
          .cast("int").as("cid"), $"e".as("c"))
      for (_ <- 1 to 2) {
        val assigned = vecs.crossJoin(broadcast(cents))
          .withColumn("d2", d2r($"e", $"c"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cid".asc)))
          .filter($"rn" === 1).select($"vec_id", $"e", $"cid")
        cents = assigned
          .select($"cid", posexplode($"e").as(Seq("pos", "v")))
          .groupBy($"cid", $"pos").agg(round(avg($"v"), 6).as("m"))
          .groupBy($"cid")
          .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
            x => x.getField("m")).as("c"))
      }
      vecs.crossJoin(broadcast(cents))
        .withColumn("d2", d2r($"e", $"c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"vec_id").orderBy($"d2".asc, $"cid".asc)))
        .select($"vec_id", $"e", $"cid", $"d2", $"rn")
        .localCheckpoint(true)
    }

  /** The `stage` of the llm_knn_* keys: force-build the ANN ingest-time
    * standing artifacts (PQ codebook/codes, label-centroid cell ranking,
    * trained cell ranking) so the keys time SERVING, not the one-time
    * ingest build. Cold paths (Verify, a fresh session) still build from
    * parquet. */
  private[graft] def stageAnnArtifacts(s: SparkSession, dir: String): Unit = {
    graft.functions.CosineSim.register(s) // cellRanked scores via cosine_sim
    pqParts(s, dir)
    cellRanked(s, dir)
    trainedCellRanked(s, dir)
  }

  private def buildPqParts(s: SparkSession, dir: String): PqParts = {
    import s.implicits._
    val M = 8
    val codesK = 16
    val emb = Tables.embeddings(s, dir)
    val subD = emb.select(size($"embedding")).head.getInt(0) / M
    val sub = emb.select($"vec_id",
        posexplode(transform($"embedding", _.cast("double")))
          .as(Seq("pos", "v")))
      .withColumn("m", ($"pos" / subD).cast("int"))
      .withColumn("spos", $"pos" % subD)
      .localCheckpoint(true)
    val cb = sub.withColumn("j", ($"vec_id" % codesK).cast("int"))
      .groupBy($"m", $"j", $"spos")
      .agg(round(avg($"v"), 6).as("c"))
      .localCheckpoint(true)
    val cnorm = cb.groupBy($"m", $"j").agg(sum($"c" * $"c").as("nn"))
    val codes = sub.filter($"vec_id" >= 5)
      .join(broadcast(cb), Seq("m", "spos"))
      .groupBy($"vec_id", $"m", $"j")
      .agg(round(sum(($"v" - $"c") * ($"v" - $"c")), 6).as("d2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"vec_id", $"m").orderBy($"d2".asc, $"j".asc)))
      .filter($"rn" === 1).select($"vec_id", $"m", $"j")
    val lut = sub.filter($"vec_id" < 5)
      .join(broadcast(cb), Seq("m", "spos"))
      .groupBy($"vec_id", $"m", $"j")
      .agg(sum($"v" * $"c").as("dot"))
      .withColumnRenamed("vec_id", "qid")
    val qnorm = sub.filter($"vec_id" < 5)
      .groupBy($"vec_id").agg(sqrt(sum($"v" * $"v")).as("qn"))
      .withColumnRenamed("vec_id", "qid")
    PqParts(sub, cb, cnorm, codes, lut, qnorm)
  }

  /** label centroids with components rounded for determinism: (label, c: array<double>) */
  private def centroids(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg(round(avg($"v"), 6).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => x.getField("c")).as("centroid"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — deterministic
    * driver-side math on the metadata-sized (dim×dim) covariance (the
    * kmeans-centroid precedent: the collect is O(dim²), never O(rows)).
    * Returns (eigenvalues desc, eigenvectors aligned to them, each returned
    * as the length-dim array of its components), every vector sign-fixed
    * (largest-|component| positive) so projections reproduce run to run. */
  private[graft] def jacobiEigen(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = m.length
    val a = m.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def off: Double = {
      var s = 0.0; var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      s
    }
    var sweep = 0
    while (sweep < 50 && off > 1e-18 * n * n) {
      for (p <- 0 until n - 1; q <- p + 1 until n
           if math.abs(a(p)(q)) > Double.MinPositiveValue) {
        val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
        val sgn = if (theta >= 0) 1.0 else -1.0
        val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1))
        val c = 1.0 / math.sqrt(t * t + 1)
        val sn = t * c
        var k = 0
        while (k < n) { // right-rotate columns p,q
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - sn * akq; a(k)(q) = sn * akp + c * akq
          k += 1
        }
        k = 0
        while (k < n) { // left-rotate rows p,q
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - sn * aqk; a(q)(k) = sn * apk + c * aqk
          k += 1
        }
        k = 0
        while (k < n) { // accumulate the rotation into V
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - sn * vkq; v(k)(q) = sn * vkp + c * vkq
          k += 1
        }
      }
      sweep += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val eig = order.map(i => a(i)(i)).toArray
    val vecs = order.map { i =>
      val col0 = Array.tabulate(n)(k => v(k)(i))
      val mx = col0.indices.maxBy(k => math.abs(col0(k)))
      if (col0(mx) < 0) col0.map(x => -x) else col0
    }.toArray
    (eig, vecs)
  }

  def queries: Map[String, QueryDef] = Map(
    // PCA EMBEDDING REDUCTION — the standard pre-ANN step (FAISS PCAMatrix):
    // project 64-d vectors onto the top-k=8 principal components before
    // indexing. Distribution of work follows the kmeans pattern exactly:
    // the covariance accumulates distributedly (per-row outer product via
    // HOFs, posexplode, ONE 4096-row-keyed shuffle with map-side partial
    // sums — at 100 TB this is the only pass over the data), the dim×dim
    // eigenproblem is metadata-sized driver math (cyclic Jacobi above), and
    // the projection is a map-only broadcast-literal dot product. The
    // DuckDB-replayable projection is the covariance SIDE of the math
    // (n, dim, trace = total variance); the eigensolver's guarantees are
    // MATHEMATICAL identities pinned as booleans (not statistical bounds,
    // so they cannot drift with data): eigenvalues sorted, eigenvectors
    // orthonormal to 1e-8, Σλ = trace, and — the identity that ties the
    // DISTRIBUTED projection back to the driver eigensolver — the mean
    // projected energy E|Vᵀ(x−μ)|² equals Σ of the top-k eigenvalues.
    // Honest data note: THIS corpus's embeddings are near-isotropic (top-8
    // components carry ~20% of variance, measured), so PCA here certifies
    // the mechanism, not an ANN win; on real anisotropic embedding spaces
    // the same plan is what makes the reduced index pay. The identities
    // pinned below hold for any data.
    "llm_embed_pca" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val k = 8
        val emb = Tables.embeddings(s, dir)
          .select($"vec_id", $"embedding".cast("array<double>").as("e"))
        // n, dim, the mean vector AND the second moment from ONE
        // pass/collect (dim rows) — sxx feeds the independent trace
        // cross-check below.
        val stats = emb.select(posexplode($"e").as(Seq("p", "x")))
          .groupBy($"p").agg(sum($"x").as("sx"), sum($"x" * $"x").as("sxx"),
            count(lit(1)).as("cnt"))
          .orderBy($"p").collect()
        val dim = stats.length
        val nVecs = stats(0).getAs[Long]("cnt")
        val mu = stats.map(r => r.getAs[Double]("sx") / nVecs)
        // Covariance via ONE distributed Gram pass — a deliberate RDD use
        // (same exception class as the native Expressions over interpreted
        // HOFs): the first spelling here was a per-row outer-product HOF
        // explode, correct and byte-flat but interpreted — N·dim² row-ops
        // measured 219 s at sf10 (200 k × 4096) where dense accumulation
        // does the identical math in seconds. r21 (guide §2.4 one-pass):
        // the earlier RowMatrix.computeCovariance cost TWO passes over the
        // vectors (column means, then the Gram treeAggregate); the raw
        // second-moment Gram here is one treeAggregate, and the mean comes
        // from the stats pass above. cov = G/n − μμᵀ is numerically safe
        // at these magnitudes (|x| ~ O(1), dim 64), and every output
        // column below is an integer or a tolerance boolean, so
        // accumulation-order float drift cannot flip the result. The
        // trace is still cross-checked against the INDEPENDENT per-column
        // SQL moment computation (tolerance boolean).
        val tri = dim * (dim + 1) / 2
        val gram = emb.select($"e").as[Array[Double]].rdd
          .treeAggregate(new Array[Double](tri))(
            seqOp = (acc, v) => {
              var idx = 0
              var i = 0
              while (i < dim) {
                val vi = v(i)
                var j = i
                while (j < dim) { acc(idx) += vi * v(j); j += 1; idx += 1 }
                i += 1
              }
              acc
            },
            combOp = (a, b) => {
              var i = 0
              while (i < tri) { a(i) += b(i); i += 1 }
              a
            })
        def triAt(i: Int, j: Int): Double = {
          val (lo, hi) = if (i <= j) (i, j) else (j, i)
          gram(lo * dim - lo * (lo - 1) / 2 + (hi - lo))
        }
        val cov = Array.tabulate(dim, dim)((i, j) =>
          triAt(i, j) / nVecs - mu(i) * mu(j))
        val (eig, vecs) = jacobiEigen(cov)
        val trace = (0 until dim).map(i => cov(i)(i)).sum
        // Independent trace from the per-column uncentered moments (the
        // same formula DuckDB's oracle uses). Comparing ROUNDED floats
        // across engines was fragile — BLAS accumulation order varies with
        // partitioning, so a 4-dp boundary value could flip between cpu
        // shapes; a relative-tolerance boolean (like orthonormal /
        // variance_conserved) is shape-stable and still a real
        // cross-check of the distributed Gram accumulation.
        val traceMoments = stats.map { r =>
          val sx = r.getAs[Double]("sx"); val sxx = r.getAs[Double]("sxx")
          sxx / nVecs - math.pow(sx / nVecs, 2)
        }.sum
        val traceOk = math.abs(trace - traceMoments) <
          1e-6 * math.max(1.0, traceMoments)
        // mathematical-identity pins (deterministic given the data)
        val eigsSorted = eig.sliding(2).forall(w => w(0) >= w(1) - 1e-10)
        val orthonormal = (0 until dim).forall { i =>
          (i until dim).forall { j =>
            val dot = (0 until dim).map(p => vecs(i)(p) * vecs(j)(p)).sum
            math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8
          }
        }
        val varConserved = math.abs(eig.sum - trace) < 1e-8 * math.max(1.0, trace)
        // distributed projection onto the top-k components — still a full
        // distributed pass over the vectors (that is the point of the
        // energy identity: it exercises the same executor-side projection
        // the reduced index would run), but imperative per-row math (r21):
        // the previous transform/zip_with/aggregate HOF chain ran the
        // lambda interpreter per element AND re-evaluated the centering
        // subexpression once per component (k×dim interpreted ops per row,
        // the TextOps.minhashBandsUdf rationale).
        val vkArr = vecs.take(k)
        val (eSum, eCnt) = emb.select($"e").as[Array[Double]].rdd
          .mapPartitions { it =>
            var sum = 0.0
            var n = 0L
            it.foreach { x =>
              var ki = 0
              while (ki < k) {
                val row = vkArr(ki)
                var d = 0.0
                var p = 0
                while (p < dim) { d += row(p) * (x(p) - mu(p)); p += 1 }
                sum += d * d
                ki += 1
              }
              n += 1
            }
            Iterator((sum, n))
          }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
        val projEnergy = eSum / eCnt
        val topkSum = eig.take(k).sum
        val energyOk = math.abs(projEnergy - topkSum) <
          1e-6 * math.max(1.0, topkSum)
        emb.sparkSession.range(1).select(
          lit(nVecs).as("n_vecs"),
          lit(dim.toLong).as("dim"),
          lit(traceOk).as("trace_ok"),
          lit(k).as("k"),
          lit(eigsSorted).as("eigs_sorted"),
          lit(orthonormal).as("orthonormal"),
          lit(varConserved).as("variance_conserved"),
          lit(energyOk).as("projection_energy_ok"))
      },
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |x AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |        generate_subscripts(embedding, 1) AS p FROM e),
        |st AS (SELECT p,
        |    sum(v * v) / (SELECT count(*) FROM e)
        |      - pow(sum(v) / (SELECT count(*) FROM e), 2) AS var_p
        |  FROM x GROUP BY p)
        |SELECT (SELECT count(*) FROM e) AS n_vecs,
        |  (SELECT CAST(max(len(embedding)) AS BIGINT) FROM e) AS dim,
        |  sum(var_p) > 0 AS trace_ok,
        |  8 AS k,
        |  TRUE AS eigs_sorted, TRUE AS orthonormal,
        |  TRUE AS variance_conserved, TRUE AS projection_energy_ok
        |FROM st""".stripMargin),

    // Cosine of every vector to its class centroid (broadcast join).
    // The displayed value is round(x + 1e-9, 4) on BOTH engines: Spark
    // rounds the shortest-decimal repr (BigDecimal HALF_UP) while DuckDB
    // rounds the binary double, so a value sitting ulp-close to a .xxxx5
    // boundary (the r11 sf1 residual: a by-construction-near-zero
    // cross-replica pair) legitimately rounds differently. The 1e-9 nudge
    // moves every boundary-straddling value decisively off the boundary in
    // both engines; the trailing +0.0 collapses DuckDB's signed -0.0 to
    // +0.0 (Spark's BigDecimal round never emits -0.0).
    "llm_cosine" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        Tables.embeddings(s, dir)
          .join(broadcast(centroids(s, dir)), Seq("label"))
          .select($"vec_id", $"label",
            round(TextOps.cosine($"embedding", $"centroid") + lit(1e-9), 4)
              .as("cos_to_centroid"))
          .orderBy($"vec_id")
      },
      """WITH el AS (SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |cent AS (SELECT label, pos, round(avg(v), 6) AS c
        |         FROM el GROUP BY 1, 2),
        |j AS (SELECT e.vec_id, e.label,
        |        sum(e.v * c.c) AS dot,
        |        sqrt(sum(e.v * e.v)) AS nv,
        |        sqrt(sum(c.c * c.c)) AS nc
        |      FROM el e JOIN cent c ON e.label = c.label AND e.pos = c.pos
        |      GROUP BY 1, 2)
        |SELECT vec_id, label,
        |  round(dot / (nv * nc) + 1e-9, 4) + 0.0 AS cos_to_centroid
        |FROM j ORDER BY vec_id""".stripMargin),

    // Brute-force cosine top-k: queries (vec_id < 5) against the corpus.
    "llm_knn" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter($"vec_id" < 5)
          .select($"vec_id".as("qid"), $"embedding".as("qvec"))
        val scored = emb.filter($"vec_id" >= 5)
          .crossJoin(broadcast(q))
          .select($"qid", $"vec_id".as("nid"),
            round(TextOps.cosine($"qvec", $"embedding"), 6).as("cos"))
        scored
          .withColumn("rank", row_number().over(
            Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)))
          .filter($"rank" <= 3)
          .select($"qid", $"rank", $"nid", round($"cos", 4).as("cos4"))
          .orderBy($"qid", $"rank")
      },
      """WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    round(sum(q.v * c.v) / (sqrt(sum(q.v * q.v)) * sqrt(sum(c.v * c.v))), 6) AS cos
        |  FROM el q JOIN el c ON q.pos = c.pos
        |  WHERE q.vec_id < 5 AND c.vec_id >= 5
        |  GROUP BY 1, 2),
        |ranked AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM pairs)
        |SELECT qid, rank, nid, round(cos, 4) AS cos4
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // IVF-style kNN: corpus bucketed by nearest label-centroid cell (the
    // inverted file); queries probe their top-3 cells (nprobe=3). Approximate
    // vs exact kNN (measured recall@3 = 9/15 on this testdata — the synthetic
    // embeddings carry almost no cluster structure (same-label mean cos
    // 0.0016 vs cross-label 0.0003), which bounds ANY coarse quantizer here;
    // on real clustered embeddings the same plan recalls >90%; recall floor
    // asserted in ScalaTest against llm_knn) — but fully DETERMINISTIC as an
    // algorithm: 6-dp-rounded sims + total (sim desc, cell asc)/(cos desc,
    // nid asc) tie-breaks, so the oracle replays the whole IVF pipeline
    // (centroids → cell ranking → probe join → top-k) in SQL and the result
    // hash-compares exactly.
    "llm_knn_ivf" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        // rank cells per vector: rn=1 is the storage cell, rn<=3 the probe set.
        // NOTE: deriving q and cand from one LAZY ranking DataFrame trips
        // Spark's self-join attribute dedup (the two rn filters share an
        // exprId and collapse — observed as queries probing only their rn=1
        // cell). The shared cellRanked artifact localCheckpoints the ranking
        // ONCE, which both breaks that trap and lets llm_knn_ivfpq reuse it.
        val ranked = cellRanked(s, dir)
        val q = ranked.filter($"vec_id" < 5 && $"rn" <= 3)
          .select($"vec_id".as("qid"), $"embedding".as("qvec"), $"cell")
        val cand = ranked.filter($"vec_id" >= 5 && $"rn" === 1)
          .select($"vec_id", $"embedding", $"cell")
        cand.join(broadcast(q), Seq("cell"))
          .select($"qid", $"vec_id".as("nid"),
            round(TextOps.cosine($"qvec", $"embedding"), 6).as("cos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)))
          .filter($"rank" <= 3)
          .select($"qid", $"rank", $"nid", round($"cos", 4).as("cos4"))
          .orderBy($"qid", $"rank")
      },
      """WITH el AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |cent AS (SELECT label AS cell, pos, round(avg(v), 6) AS c
        |         FROM el GROUP BY 1, 2),
        |sims AS (SELECT e.vec_id, ct.cell,
        |    round(sum(e.v * ct.c) / (sqrt(sum(e.v * e.v)) * sqrt(sum(ct.c * ct.c))), 6) AS sim
        |  FROM el e JOIN cent ct ON e.pos = ct.pos
        |  GROUP BY 1, 2),
        |ranked AS (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |  FROM sims),
        |q AS (SELECT vec_id AS qid, cell FROM ranked WHERE vec_id < 5 AND rn <= 3),
        |cand AS (SELECT vec_id, cell FROM ranked WHERE vec_id >= 5 AND rn = 1),
        |pairs AS (SELECT q.qid, c.vec_id AS nid,
        |    round(sum(qe.v * ce.v) / (sqrt(sum(qe.v * qe.v)) * sqrt(sum(ce.v * ce.v))), 6) AS cos
        |  FROM q JOIN cand c ON q.cell = c.cell
        |    JOIN el qe ON qe.vec_id = q.qid
        |    JOIN el ce ON ce.vec_id = c.vec_id AND ce.pos = qe.pos
        |  GROUP BY 1, 2),
        |rankedp AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM pairs)
        |SELECT qid, rank, nid, round(cos, 4) AS cos4
        |FROM rankedp WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
      .staged(stageAnnArtifacts),

    // TRAINED-centroid IVF kNN: same probe/serve pipeline as llm_knn_ivf
    // but the cells come from k-means TRAINING over the corpus (two
    // deterministic Lloyd iterations, trainedCellRanked) instead of data
    // labels — the production shape, since a raw embedding corpus has no
    // labels to derive cells from. Everything (seeding, both iterations'
    // argmins and means, probe ranking, final top-k) is 6-dp-rounded with
    // total tie-breaks, so the DuckDB oracle replays the ENTIRE training
    // run plus the search and hash-compares exactly. Recall vs brute for
    // BOTH cell sources is pinned in LlmSpec; on these near-isotropic
    // synthetic embeddings neither quantizer can beat chance by much (see
    // llm_knn_ivf note) — the key certifies the trained mechanism.
    "llm_knn_ivf_trained" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val ranked = trainedCellRanked(s, dir)
        val q = ranked.filter($"vec_id" < 5 && $"rn" <= 3)
          .select($"vec_id".as("qid"), $"e".as("qvec"), $"cid")
        val cand = ranked.filter($"vec_id" >= 5 && $"rn" === 1)
          .select($"vec_id", $"e", $"cid")
        cand.join(broadcast(q), Seq("cid"))
          .select($"qid", $"vec_id".as("nid"),
            round(TextOps.cosine($"qvec", $"e"), 6).as("cos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)))
          .filter($"rank" <= 3)
          .select($"qid", $"rank", $"nid", round($"cos", 4).as("cos4"))
          .orderBy($"qid", $"rank")
      },
      """WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |seed AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
        |         FROM (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 4)),
        |c0 AS (SELECT s.cid, e.pos, e.v AS m FROM seed s JOIN el e USING (vec_id)),
        |d0 AS (SELECT e.vec_id, c.cid,
        |    round(sum((e.v - c.m) * (e.v - c.m)), 6) AS d2
        |  FROM el e JOIN c0 c ON e.pos = c.pos GROUP BY 1, 2),
        |a0 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM d0) WHERE rn = 1),
        |c1 AS (SELECT a.cid, e.pos, round(avg(e.v), 6) AS m
        |  FROM a0 a JOIN el e USING (vec_id) GROUP BY 1, 2),
        |d1 AS (SELECT e.vec_id, c.cid,
        |    round(sum((e.v - c.m) * (e.v - c.m)), 6) AS d2
        |  FROM el e JOIN c1 c ON e.pos = c.pos GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM d1) WHERE rn = 1),
        |c2 AS (SELECT a.cid, e.pos, round(avg(e.v), 6) AS m
        |  FROM a1 a JOIN el e USING (vec_id) GROUP BY 1, 2),
        |df AS (SELECT e.vec_id, c.cid,
        |    round(sum((e.v - c.m) * (e.v - c.m)), 6) AS d2
        |  FROM el e JOIN c2 c ON e.pos = c.pos GROUP BY 1, 2),
        |rk AS (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |  FROM df),
        |q AS (SELECT vec_id AS qid, cid FROM rk WHERE vec_id < 5 AND rn <= 3),
        |cand AS (SELECT vec_id, cid FROM rk WHERE vec_id >= 5 AND rn = 1),
        |pairs AS (SELECT q.qid, c.vec_id AS nid,
        |    round(sum(qe.v * ce.v) / (sqrt(sum(qe.v * qe.v)) * sqrt(sum(ce.v * ce.v))), 6) AS cos
        |  FROM q JOIN cand c ON q.cid = c.cid
        |    JOIN el qe ON qe.vec_id = q.qid
        |    JOIN el ce ON ce.vec_id = c.vec_id AND ce.pos = qe.pos
        |  GROUP BY 1, 2),
        |rp AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM pairs)
        |SELECT qid, rank, nid, round(cos, 4) AS cos4
        |FROM rp WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
      .staged(stageAnnArtifacts),

    // PRODUCT-QUANTIZATION kNN (IVF-PQ's storage half — Jégou et al. 2011,
    // "Product Quantization for Nearest Neighbor Search"): each vector is
    // encoded as M=8 sub-codes (here 16 codes/subspace → 8 bytes/vector vs
    // 512 for float64×64 — the representation that lets a 100 TB embedding
    // corpus fit hot storage), queries score candidates via ADC lookup
    // tables (M adds per candidate, no raw-vector IO), and the top ADC
    // candidates are re-ranked EXACTLY on the raw vectors (the standard
    // two-stage ANN contract; recall floor vs brute force in LlmSpec).
    // The codebook is a deterministic one-step quantizer (per-subspace
    // centroid of the vec_id%16 seed groups, 6-dp rounded) rather than
    // iterated k-means, so the ENTIRE pipeline — codebook → codes → ADC →
    // re-rank — replays in DuckDB SQL and hash-compares exactly; the
    // synthetic embeddings' lack of cluster structure bounds quantizer
    // quality either way (see llm_knn_ivf note). Argmin/top-k orderings
    // are over 6-dp-rounded values with total tie-breaks, the
    // cross-engine determinism discipline of this family.
    "llm_knn_pq" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val emb = Tables.embeddings(s, dir)
        val pq = pqParts(s, dir)
        // ADC scan: approx cos = Σ_m lut[m][code_m] / (|q|·|reconstruction|)
        // — map-side over the codes, all lookup sides broadcast
        val adc = pq.codes
          .join(broadcast(pq.lut), Seq("m", "j"))
          .join(broadcast(pq.cnorm), Seq("m", "j"))
          .join(broadcast(pq.qnorm), Seq("qid"))
          .groupBy($"qid", $"vec_id")
          .agg(round(sum($"dot") / (first($"qn") * sqrt(sum($"nn"))), 6)
            .as("score"))
        val cand = adc.withColumn("crank", row_number().over(
            Window.partitionBy($"qid").orderBy($"score".desc, $"vec_id".asc)))
          .filter($"crank" <= 8).select($"qid", $"vec_id".as("nid"))
        // EXACT re-rank of the 8 ADC survivors per query on raw vectors
        val q = emb.filter($"vec_id" < 5)
          .select($"vec_id".as("qid"), $"embedding".as("qvec"))
        emb.select($"vec_id".as("nid"), $"embedding")
          .join(broadcast(cand.join(broadcast(q), Seq("qid"))), Seq("nid"))
          .select($"qid", $"nid",
            round(TextOps.cosine($"qvec", $"embedding"), 6).as("cos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)))
          .filter($"rank" <= 3)
          .select($"qid", $"rank", $"nid", round($"cos", 4).as("cos4"))
          .orderBy($"qid", $"rank")
      },
      """WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
        |    len(embedding) // 8 AS subd,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |sub AS (SELECT vec_id, pos // subd AS m, pos % subd AS spos, v FROM el),
        |cb AS (SELECT m, CAST(vec_id % 16 AS INT) AS j, spos, round(avg(v), 6) AS c
        |       FROM sub GROUP BY 1, 2, 3),
        |cnorm AS (SELECT m, j, sum(c * c) AS nn FROM cb GROUP BY 1, 2),
        |d2 AS (SELECT s.vec_id, cb.m, cb.j,
        |    round(sum((s.v - cb.c) * (s.v - cb.c)), 6) AS d2
        |  FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.spos
        |  WHERE s.vec_id >= 5
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, j FROM (
        |    SELECT vec_id, m, j,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
        |    FROM d2) WHERE rn = 1),
        |lut AS (SELECT s.vec_id AS qid, cb.m, cb.j, sum(s.v * cb.c) AS dot
        |  FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.spos
        |  WHERE s.vec_id < 5
        |  GROUP BY 1, 2, 3),
        |qnorm AS (SELECT vec_id AS qid, sqrt(sum(v * v)) AS qn
        |  FROM el WHERE vec_id < 5 GROUP BY 1),
        |adc AS (SELECT l.qid, co.vec_id AS nid,
        |    round(sum(l.dot) / (any_value(qn.qn) * sqrt(sum(cn.nn))), 6) AS score
        |  FROM codes co
        |    JOIN lut l ON l.m = co.m AND l.j = co.j
        |    JOIN cnorm cn ON cn.m = co.m AND cn.j = co.j
        |    JOIN qnorm qn ON qn.qid = l.qid
        |  GROUP BY 1, 2),
        |cand AS (SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS crank
        |    FROM adc) WHERE crank <= 8),
        |exact AS (SELECT c.qid, c.nid,
        |    round(sum(q.v * n.v) / (sqrt(sum(q.v * q.v)) * sqrt(sum(n.v * n.v))), 6) AS cos
        |  FROM cand c
        |    JOIN el q ON q.vec_id = c.qid
        |    JOIN el n ON n.vec_id = c.nid AND n.pos = q.pos
        |  GROUP BY 1, 2),
        |ranked AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM exact)
        |SELECT qid, rank, nid, round(cos, 4) AS cos4
        |FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
      .staged(stageAnnArtifacts),

    // IVF-PQ — the two halves composed (Jégou et al. 2011 §V: coarse
    // quantizer prunes WHICH vectors are scored, product codes decide HOW
    // cheaply): queries probe their top-2 coarse cells (nprobe=2, tighter
    // than llm_knn_ivf's 3 to make the pruning visible), the ADC scan runs
    // ONLY over codes whose storage cell is in the probe set (the IVF
    // gate — at 100 TB: partition pruning picks the cells, then M=8
    // byte-code adds per survivor, no raw-vector IO until re-rank), and
    // the top-8 ADC survivors re-rank exactly on raw vectors. This is the
    // full billion-scale ANN serving shape; both stages reuse the pinned
    // deterministic building blocks (6-dp rounds, total tie-breaks), so
    // the ENTIRE composition — cells → codes → gated ADC → re-rank —
    // replays in DuckDB and hash-compares exactly.
    "llm_knn_ivfpq" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val emb = Tables.embeddings(s, dir)
        // coarse quantizer: the SAME standing cell-ranking artifact
        // llm_knn_ivf serves from (shared localCheckpoint, see cellRanked)
        val ranked = cellRanked(s, dir)
        val probe = ranked.filter($"vec_id" < 5 && $"rn" <= 2)
          .select($"vec_id".as("qid"), $"cell")
        val storage = ranked.filter($"vec_id" >= 5 && $"rn" === 1)
          .select($"vec_id", $"cell")
        val pq = pqParts(s, dir)
        // IVF gate: a code row survives only if its vector's storage cell
        // is one of the query's probe cells (storage cell is unique per
        // vector, so no (qid,nid) duplication through the cell join)
        val gated = pq.codes.join(storage, Seq("vec_id"))
          .join(broadcast(probe), Seq("cell"))
        val adc = gated
          .join(broadcast(pq.lut), Seq("qid", "m", "j"))
          .join(broadcast(pq.cnorm), Seq("m", "j"))
          .join(broadcast(pq.qnorm), Seq("qid"))
          .groupBy($"qid", $"vec_id")
          .agg(round(sum($"dot") / (first($"qn") * sqrt(sum($"nn"))), 6)
            .as("score"))
        val cand = adc.withColumn("crank", row_number().over(
            Window.partitionBy($"qid").orderBy($"score".desc, $"vec_id".asc)))
          .filter($"crank" <= 8).select($"qid", $"vec_id".as("nid"))
        val q = emb.filter($"vec_id" < 5)
          .select($"vec_id".as("qid"), $"embedding".as("qvec"))
        emb.select($"vec_id".as("nid"), $"embedding")
          .join(broadcast(cand.join(broadcast(q), Seq("qid"))), Seq("nid"))
          .select($"qid", $"nid",
            round(TextOps.cosine($"qvec", $"embedding"), 6).as("cos"))
          .withColumn("rank", row_number().over(
            Window.partitionBy($"qid").orderBy($"cos".desc, $"nid".asc)))
          .filter($"rank" <= 3)
          .select($"qid", $"rank", $"nid", round($"cos", 4).as("cos4"))
          .orderBy($"qid", $"rank")
      },
      """WITH el AS (SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS pos,
        |    len(embedding) // 8 AS subd,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |cent AS (SELECT label AS cell, pos, round(avg(v), 6) AS c
        |         FROM el GROUP BY 1, 2),
        |sims AS (SELECT e.vec_id, ct.cell,
        |    round(sum(e.v * ct.c) / (sqrt(sum(e.v * e.v)) * sqrt(sum(ct.c * ct.c))), 6) AS sim
        |  FROM el e JOIN cent ct ON e.pos = ct.pos
        |  GROUP BY 1, 2),
        |rankedc AS (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |  FROM sims),
        |probe AS (SELECT vec_id AS qid, cell FROM rankedc WHERE vec_id < 5 AND rn <= 2),
        |storage AS (SELECT vec_id, cell FROM rankedc WHERE vec_id >= 5 AND rn = 1),
        |sub AS (SELECT vec_id, pos // subd AS m, pos % subd AS spos, v FROM el),
        |cb AS (SELECT m, CAST(vec_id % 16 AS INT) AS j, spos, round(avg(v), 6) AS c
        |       FROM sub GROUP BY 1, 2, 3),
        |cnorm AS (SELECT m, j, sum(c * c) AS nn FROM cb GROUP BY 1, 2),
        |d2 AS (SELECT s.vec_id, cb.m, cb.j,
        |    round(sum((s.v - cb.c) * (s.v - cb.c)), 6) AS d2
        |  FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.spos
        |  WHERE s.vec_id >= 5
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, j FROM (
        |    SELECT vec_id, m, j,
        |      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2 ASC, j ASC) AS rn
        |    FROM d2) WHERE rn = 1),
        |lut AS (SELECT s.vec_id AS qid, cb.m, cb.j, sum(s.v * cb.c) AS dot
        |  FROM sub s JOIN cb ON s.m = cb.m AND s.spos = cb.spos
        |  WHERE s.vec_id < 5
        |  GROUP BY 1, 2, 3),
        |qnorm AS (SELECT vec_id AS qid, sqrt(sum(v * v)) AS qn
        |  FROM el WHERE vec_id < 5 GROUP BY 1),
        |adc AS (SELECT p.qid, co.vec_id AS nid,
        |    round(sum(l.dot) / (any_value(qn.qn) * sqrt(sum(cn.nn))), 6) AS score
        |  FROM storage st
        |    JOIN probe p ON p.cell = st.cell
        |    JOIN codes co ON co.vec_id = st.vec_id
        |    JOIN lut l ON l.qid = p.qid AND l.m = co.m AND l.j = co.j
        |    JOIN cnorm cn ON cn.m = co.m AND cn.j = co.j
        |    JOIN qnorm qn ON qn.qid = p.qid
        |  GROUP BY 1, 2),
        |cand AS (SELECT qid, nid FROM (
        |    SELECT qid, nid,
        |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid ASC) AS crank
        |    FROM adc) WHERE crank <= 8),
        |exact AS (SELECT c.qid, c.nid,
        |    round(sum(q.v * n.v) / (sqrt(sum(q.v * q.v)) * sqrt(sum(n.v * n.v))), 6) AS cos
        |  FROM cand c
        |    JOIN el q ON q.vec_id = c.qid
        |    JOIN el n ON n.vec_id = c.nid AND n.pos = q.pos
        |  GROUP BY 1, 2),
        |rankedp AS (SELECT qid, nid, cos,
        |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
        |  FROM exact)
        |SELECT qid, rank, nid, round(cos, 4) AS cos4
        |FROM rankedp WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
      .staged(stageAnnArtifacts),

    // K-MEANS over embeddings (Lloyd's algorithm) — the clustering pass a
    // curation pipeline runs to diversify/balance training data (and the
    // generalization of the IVF coarse quantizer above). Iterative
    // DataFrame compute in the nearDupComponents mold: per iteration, the
    // k centroids (tiny) BROADCAST against the corpus for an argmin
    // assignment (row_number over a k-row partition per vector — no
    // pairwise shuffle of the corpus), then one posexplode+groupBy
    // (cid,pos) shuffle for the update step; localCheckpoint cuts lineage
    // per round, and the per-iteration inertia probe is the standard
    // iterative-algorithm control loop. Centroid components round to 6 dp
    // (the llm_cosine determinism contract) so shuffle-order summation
    // can't leak into assignments. Numeric outputs are engine-internal
    // floats, so the oracle pins the LLOYD INVARIANT instead: inertia is
    // non-increasing across iterations (each half-step minimizes the
    // objective — a real algorithmic guarantee, tolerance 1e-9 for fp),
    // every vector stays assigned (n_vecs replays in DuckDB), and all k
    // clusters are populated on this corpus.
    "llm_kmeans" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val k = 4
        val iters = 3
        val vecs = Tables.embeddings(s, dir)
          .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
          .localCheckpoint(true)
        def assign(cents: org.apache.spark.sql.DataFrame) =
          kmeansAssign(vecs, cents).localCheckpoint(true)
        // seed from the first k rows BY ORDER, not by assuming ids 0..k-1
        // exist (a 1-based or filtered embeddings fixture would otherwise
        // silently start with < k centroids and only surface later as an
        // opaque all_k_used=false mismatch)
        var cents = vecs.orderBy($"vec_id").limit(k)
          .select((row_number().over(Window.orderBy($"vec_id")) - 1)
            .cast("int").as("cid"), $"e".as("c"))
        var assigned = assign(cents)
        // r21 (guide §5 driver round-trips): the monotonicity probe only
        // needs the inertias AT THE END — each iteration's sum(d2) is a
        // 1-row aggregate over the already-checkpointed assignment, so
        // defer them and collect ALL of them in ONE action instead of one
        // driver-synchronized .head() per iteration (the control loop
        // itself never branches on the value)
        val inertiaAggs = scala.collection.mutable.ArrayBuffer(
          assigned.agg(sum($"d2").as("inertia")))
        for (_ <- 1 to iters) {
          cents = assigned
            .select($"cid", posexplode($"e").as(Seq("pos", "v")))
            .groupBy($"cid", $"pos").agg(round(avg($"v"), 6).as("m"))
            .groupBy($"cid")
            .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
              x => x.getField("m")).as("c"))
          assigned = assign(cents)
          inertiaAggs += assigned.agg(sum($"d2").as("inertia"))
        }
        val inertias = inertiaAggs.zipWithIndex
          .map { case (df, i) => df.select(lit(i).as("it"), $"inertia") }
          .reduce(_.unionAll(_))
          .orderBy($"it").select($"inertia").as[Double].collect().toSeq
        val monotone = inertias.iterator.sliding(2).forall {
          case Seq(a, b) => b <= a * (1 + 1e-9)
          case _ => true
        }
        assigned.agg(
          count(lit(1)).as("n_vecs"),
          (countDistinct($"cid") === k).as("all_k_used"))
          .withColumn("inertia_monotone", lit(monotone))
      },
      """SELECT count(*) AS n_vecs, true AS all_k_used,
        |  true AS inertia_monotone
        |FROM embeddings""".stripMargin),

    // INT8 embedding quantization — the storage path for a 100 TB embedding
    // table (4× smaller than float32, 8× than float64; ANN probes read the
    // int8 vectors and rescore survivors at full precision). Per-vector
    // symmetric scheme: scale = max|v|/127, q_i = round(v_i/scale) — pure
    // codegen'd higher-order functions, no UDF, no shuffle. The key emits
    // per-vector scale + reconstruction cosine (how much fidelity int8
    // keeps), all deterministic double math the oracle replays exactly.
    "llm_embed_quantize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir)
          .withColumn("sc", expr(
            "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
              "(m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0"))
          .withColumn("q", expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / sc) AS INT))"))
          .withColumn("r", expr("transform(q, x -> CAST(x AS DOUBLE) * sc)"))
          .select($"vec_id", round($"sc", 6).as("scale"),
            round(expr(
              "aggregate(zip_with(embedding, r, (a, b) -> CAST(a AS DOUBLE) * b), " +
                "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / " +
              "(sqrt(aggregate(embedding, CAST(0.0 AS DOUBLE), " +
                "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * " +
              " sqrt(aggregate(r, CAST(0.0 AS DOUBLE), " +
                "(acc, x) -> acc + x * x)))"), 4).as("recon_cos"))
          .orderBy($"vec_id")
      },
      """WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |sc AS (SELECT vec_id, max(abs(v)) / 127.0 AS sc FROM el GROUP BY 1),
        |r AS (SELECT el.vec_id, el.pos, el.v,
        |        round(el.v / sc.sc) * sc.sc AS rv
        |      FROM el JOIN sc ON el.vec_id = sc.vec_id),
        |agg AS (SELECT vec_id,
        |    sum(v * rv) / (sqrt(sum(v * v)) * sqrt(sum(rv * rv))) AS c
        |  FROM r GROUP BY 1)
        |SELECT a.vec_id, round(s.sc, 6) AS scale, round(a.c, 4) AS recon_cos
        |FROM agg a JOIN sc s ON a.vec_id = s.vec_id
        |ORDER BY a.vec_id""".stripMargin),

    // Embedding-cosine near-duplicate pairs — the exact verification stage
    // of a production near-dup pipeline, FED BY THE BLOCKING: candidate
    // pairs come from the SemDeDup coarse cells (an equi-join on the cell
    // id over the whole table — never a crossJoin, never a bounded slice),
    // and the cosine verify runs only inside each cell. Pairwise cost is
    // Σ|cell|², the shape that survives 100 TB; cross-cell near-dups are
    // out of the candidate set by design (the SemDeDup trade, recall
    // measured in LlmSpec). Threshold 0.4 because the synthetic
    // embeddings' max pair cosine is ~0.51 (0.95 would be vacuously
    // empty).
    "llm_embed_neardup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val cells = cellRanked(s, dir).filter($"rn" === 1)
          .select($"vec_id", $"embedding", $"cell")
        cells.as("a").join(cells.as("b"),
            $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
          .select($"a.vec_id".as("i"), $"b.vec_id".as("j"),
            round(TextOps.cosine($"a.embedding", $"b.embedding"), 4).as("cos"))
          .filter($"cos" >= 0.4)
          .orderBy($"i", $"j")
      },
      // replay: the same label-centroid cell assignment, then pair cosines
      // within shared cells only. list_dot_product (DuckDB 1.0) keeps the
      // vectors as lists through the pair join — the unnest-join spelling
      // of the same math explodes pairs ×64 positions and ground for
      // core-HOURS at sf1's 20k vectors; this form replays in seconds
      // (verified equal at sf0.01 and sf1, 24 309 pairs).
      """WITH el AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |cent AS (SELECT label AS cell, pos, round(avg(v), 6) AS c
        |         FROM el GROUP BY 1, 2),
        |centl AS (SELECT cell, list(c ORDER BY pos) AS cv FROM cent GROUP BY 1),
        |ed AS (SELECT vec_id, list(v ORDER BY pos) AS ev FROM el GROUP BY 1),
        |sims AS (SELECT e.vec_id, ct.cell,
        |    round(list_dot_product(e.ev, ct.cv) /
        |      (sqrt(list_dot_product(e.ev, e.ev)) *
        |       sqrt(list_dot_product(ct.cv, ct.cv))), 6) AS sim
        |  FROM ed e CROSS JOIN centl ct),
        |cl AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |    FROM sims) WHERE rn = 1),
        |pairs AS (SELECT ca.vec_id AS i, cb.vec_id AS j,
        |    round(list_dot_product(ea.ev, eb.ev) /
        |      (sqrt(list_dot_product(ea.ev, ea.ev)) *
        |       sqrt(list_dot_product(eb.ev, eb.ev))), 4) AS cos
        |  FROM cl ca JOIN cl cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
        |    JOIN ed ea ON ea.vec_id = ca.vec_id
        |    JOIN ed eb ON eb.vec_id = cb.vec_id)
        |SELECT i, j, cos FROM pairs WHERE cos >= 0.4 ORDER BY i, j""".stripMargin),

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023 "SemDeDup: Data-efficient
    // learning at web-scale through semantic deduplication"): cluster the
    // embeddings, then deduplicate ONLY within clusters — the cluster
    // blocking is what makes semantic dedup tractable at 100 TB (pairwise
    // cost collapses from N² to Σ|cell|², and each cell's verify is an
    // equi-join on the cell id, not a crossJoin). Policy here: within a
    // cell a vector is dropped if a SMALLER-id vector sits at cosine ≥ 0.4
    // (min-id survivor — deterministic; the paper keeps the
    // farthest-from-centroid instead, an orthogonal choice). Cells are the
    // standing coarse-cell artifact (cellRanked); the vec_id < 500 slice
    // keeps the 64-dim pairwise oracle replayable in SQL (llm_embed_neardup
    // runs the same cell-blocked verify UNsliced). Recall vs unblocked
    // brute force is measured in
    // LlmSpec (blocking misses cross-cell dups by design — the documented
    // SemDeDup trade).
    "llm_semdedup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val cells = cellRanked(s, dir)
          .filter($"rn" === 1 && $"vec_id" < 500)
          .select($"vec_id", $"embedding", $"cell")
        val dropped = cells.as("a").join(cells.as("b"),
            $"a.cell" === $"b.cell" && $"b.vec_id" < $"a.vec_id")
          .filter(round(TextOps.cosine($"a.embedding", $"b.embedding"), 4) >= 0.4)
          .select($"a.cell".as("cell"), $"a.vec_id".as("vec_id"))
          .distinct()
        cells.select($"cell", $"vec_id")
          .join(dropped.withColumn("dropped", lit(1)), Seq("cell", "vec_id"), "left")
          .groupBy($"cell")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when($"dropped" === 1, 1L).otherwise(0L)).as("n_dropped"),
            coalesce(sum(when($"dropped" === 1, $"vec_id")), lit(0L))
              .as("sum_dropped_ids"))
          .orderBy($"cell")
      },
      """WITH el AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |cent AS (SELECT label AS cell, pos, round(avg(v), 6) AS c
        |         FROM el GROUP BY 1, 2),
        |sims AS (SELECT e.vec_id, ct.cell,
        |    round(sum(e.v * ct.c) / (sqrt(sum(e.v * e.v)) * sqrt(sum(ct.c * ct.c))), 6) AS sim
        |  FROM el e JOIN cent ct ON e.pos = ct.pos
        |  GROUP BY 1, 2),
        |cl AS (SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell,
        |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |    FROM sims) WHERE rn = 1 AND vec_id < 500),
        |pairs AS (SELECT ca.vec_id AS i, ca.cell,
        |    round(sum(ea.v * eb.v) / (sqrt(sum(ea.v * ea.v)) * sqrt(sum(eb.v * eb.v))), 4) AS cos
        |  FROM cl ca JOIN cl cb ON ca.cell = cb.cell AND cb.vec_id < ca.vec_id
        |    JOIN el ea ON ea.vec_id = ca.vec_id
        |    JOIN el eb ON eb.vec_id = cb.vec_id AND eb.pos = ea.pos
        |  GROUP BY ca.vec_id, cb.vec_id, ca.cell),
        |dropped AS (SELECT DISTINCT cell, i AS vec_id FROM pairs WHERE cos >= 0.4)
        |SELECT cl.cell, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(coalesce(sum(CASE WHEN d.vec_id IS NOT NULL THEN cl.vec_id END), 0)
        |    AS BIGINT) AS sum_dropped_ids
        |FROM cl LEFT JOIN dropped d ON d.cell = cl.cell AND d.vec_id = cl.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // SemDeDup MULTI-PROBE variant: the rn=1 blocking above misses a
    // near-dup pair whose members land in different cells. Multi-probe
    // (the IVF nprobe idea applied to the PAIRING stage) assigns each
    // vector to its top-2 cells for candidate generation only — a pair is
    // compared if ANY probe cell is shared — while storage/accounting
    // stays rn=1 (each vector is still owned by exactly one home cell, so
    // the 100 TB storage bill is unchanged). Cost: candidate pairs grow
    // from Σ|cell|² to Σ|probe-set|² ≈ 4× — still nothing like N².
    // LlmSpec pins the recall ordering: multiprobe drops ⊇ single-probe
    // drops, and both stay within the brute-force universe.
    "llm_semdedup_multiprobe" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val ranked = cellRanked(s, dir).filter($"vec_id" < 500)
        val probes = ranked.filter($"rn" <= 2)
          .select($"vec_id", $"embedding", $"cell")
        val home = ranked.filter($"rn" === 1).select($"vec_id", $"cell")
        val dropped = probes.as("a").join(probes.as("b"),
            $"a.cell" === $"b.cell" && $"b.vec_id" < $"a.vec_id")
          .filter(round(TextOps.cosine($"a.embedding", $"b.embedding"), 4) >= 0.4)
          .select($"a.vec_id".as("vec_id"))
          .distinct()
        home
          .join(dropped.withColumn("dropped", lit(1)), Seq("vec_id"), "left")
          .groupBy($"cell")
          .agg(count(lit(1)).as("n_vecs"),
            sum(when($"dropped" === 1, 1L).otherwise(0L)).as("n_dropped"),
            coalesce(sum(when($"dropped" === 1, $"vec_id")), lit(0L))
              .as("sum_dropped_ids"))
          .orderBy($"cell")
      },
      """WITH el AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
        |    CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |cent AS (SELECT label AS cell, pos, round(avg(v), 6) AS c
        |         FROM el GROUP BY 1, 2),
        |sims AS (SELECT e.vec_id, ct.cell,
        |    round(sum(e.v * ct.c) / (sqrt(sum(e.v * e.v)) * sqrt(sum(ct.c * ct.c))), 6) AS sim
        |  FROM el e JOIN cent ct ON e.pos = ct.pos
        |  GROUP BY 1, 2),
        |rankedc AS (SELECT vec_id, cell,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
        |  FROM sims WHERE vec_id < 500),
        |probe AS (SELECT vec_id, cell FROM rankedc WHERE rn <= 2),
        |home AS (SELECT vec_id, cell FROM rankedc WHERE rn = 1),
        |pairs AS (SELECT ca.vec_id AS i,
        |    round(sum(ea.v * eb.v) / (sqrt(sum(ea.v * ea.v)) * sqrt(sum(eb.v * eb.v))), 4) AS cos
        |  FROM probe ca JOIN probe cb ON ca.cell = cb.cell AND cb.vec_id < ca.vec_id
        |    JOIN el ea ON ea.vec_id = ca.vec_id
        |    JOIN el eb ON eb.vec_id = cb.vec_id AND eb.pos = ea.pos
        |  GROUP BY ca.vec_id, cb.vec_id, ca.cell),
        |dropped AS (SELECT DISTINCT i AS vec_id FROM pairs WHERE cos >= 0.4)
        |SELECT h.cell, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  CAST(coalesce(sum(CASE WHEN d.vec_id IS NOT NULL THEN h.vec_id END), 0)
        |    AS BIGINT) AS sum_dropped_ids
        |FROM home h LEFT JOIN dropped d ON d.vec_id = h.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // HYBRID RETRIEVAL with Reciprocal Rank Fusion (Cormack et al. 2009,
    // the standard way RAG stacks combine a lexical and a dense ranker
    // without score calibration). Query = document 0 (its top-3 tf tokens
    // for the lexical side, its embedding for the dense side); corpus =
    // id >= 5 in both spaces. Each ranker produces its own top-30 list —
    // lexical is the llm_bm25 Okapi scorer (df/dl/avgdl standing artifacts
    // over the corpus, 3-row query table broadcast into the tf stream),
    // dense is the brute-force cosine the llm_knn family serves (at 100 TB
    // the IVF probe replaces it; the fusion stage is identical) — and RRF
    // fuses them as Σ 1/(60+rank) over a FULL OUTER join of the two lists:
    // the corpus is never touched again after each ranker's own top-k cut.
    // Ranks are integers computed from rounded scores under total
    // (score, id) orders, and the fused score is one fixed-shape expression
    // over two exact integer ranks — both engines compute bit-identical
    // doubles, so ordering is deterministic; + 1e-9 display nudge per the
    // llm_cosine convention.
    "llm_rrf_fusion" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.CosineSim.register(s)
        val tf = LlmText.termStats(s, dir)
        // lexical: BM25 of corpus docs vs doc 0's top-3 tokens
        val ctf = tf.filter($"doc_id" >= 5)
        val q = tf.filter($"doc_id" === 0)
          .orderBy($"tf".desc, $"tok".asc).limit(3).select($"tok")
        val dl = ctf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
        val df = ctf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
          avg($"dl").as("avgdl"))
        val lex = ctf.join(broadcast(q), "tok")
          .join(df, "tok").join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("w",
            log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
              ($"tf" * 2.2) /
              ($"tf" + (lit(0.25) + $"dl" / $"avgdl" * 0.75) * 1.2))
          .groupBy($"doc_id").agg(round(sum($"w"), 4).as("bm25"))
          .withColumn("r_lex", row_number().over(
            Window.orderBy($"bm25".desc, $"doc_id")))
          .filter($"r_lex" <= 30)
          .select($"doc_id".as("id"), $"r_lex")
        // dense: cosine of corpus vectors vs vector 0
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter($"vec_id" === 0)
          .select($"embedding".as("qvec"))
        val dense = emb.filter($"vec_id" >= 5)
          .crossJoin(broadcast(qv))
          .select($"vec_id",
            round(TextOps.cosine($"qvec", $"embedding"), 6).as("cos"))
          .withColumn("r_dense", row_number().over(
            Window.orderBy($"cos".desc, $"vec_id")))
          .filter($"r_dense" <= 30)
          .select($"vec_id".as("id"), $"r_dense")
        lex.join(dense, Seq("id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + $"r_lex"), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + $"r_dense"), lit(0.0)))
          .orderBy($"rrf".desc, $"id")
          .limit(15)
          .select($"id", $"r_lex", $"r_dense",
            round($"rrf" + lit(1e-9), 6).as("rrf6"))
      },
      """WITH tl AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |            FROM documents),
        |tfa AS (SELECT doc_id, tok, count(*) AS tf FROM tl GROUP BY 1, 2),
        |ctf AS (SELECT * FROM tfa WHERE doc_id >= 5),
        |q AS (SELECT tok FROM tfa WHERE doc_id = 0
        |      ORDER BY tf DESC, tok LIMIT 3),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM ctf GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM ctf GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        |      FROM dl),
        |bm AS (SELECT doc_id,
        |         round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |           (tf * 2.2) / (tf + (0.25 + dl / avgdl * 0.75) * 1.2)), 4)
        |           AS bm25
        |       FROM ctf JOIN q USING (tok) JOIN df USING (tok)
        |         JOIN dl USING (doc_id) CROSS JOIN s
        |       GROUP BY 1),
        |lex AS (SELECT doc_id AS id, r_lex FROM (
        |          SELECT doc_id, row_number() OVER
        |            (ORDER BY bm25 DESC, doc_id) AS r_lex FROM bm)
        |        WHERE r_lex <= 30),
        |el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
        |         CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |cs AS (SELECT c.vec_id,
        |         round(sum(q.v * c.v) /
        |           (sqrt(sum(q.v * q.v)) * sqrt(sum(c.v * c.v))), 6) AS cos
        |       FROM el q JOIN el c ON q.pos = c.pos
        |       WHERE q.vec_id = 0 AND c.vec_id >= 5 GROUP BY 1),
        |dense AS (SELECT vec_id AS id, r_dense FROM (
        |            SELECT vec_id, row_number() OVER
        |              (ORDER BY cos DESC, vec_id) AS r_dense FROM cs)
        |          WHERE r_dense <= 30),
        |fused AS (SELECT coalesce(lex.id, dense.id) AS id, r_lex, r_dense,
        |            coalesce(CAST(1.0 AS DOUBLE) / (60 + r_lex), 0.0) +
        |              coalesce(CAST(1.0 AS DOUBLE) / (60 + r_dense), 0.0) AS rrf
        |          FROM lex FULL OUTER JOIN dense ON lex.id = dense.id)
        |SELECT id, r_lex, r_dense, round(rrf + 1e-9, 6) AS rrf6
        |FROM fused ORDER BY rrf DESC, id LIMIT 15""".stripMargin)
  )
}
