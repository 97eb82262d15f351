package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import graft.text.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2.11):
  * exact, exact-Jaccard via inverted shingle index, MinHash-LSH, SimHash.
  *
  * Scale design (the part that must survive 100 TB):
  *  - exact dedup: one hash-shuffle on sha256(text) — O(rows), no pairs.
  *  - jaccard: inverted index on 3-token shingles. Join fan-out is
  *    sum(n_s^2) over shingle posting lists — shingles are selective
  *    (measured 2.8M candidate rows for 5k docs at sf0.1), unlike raw tokens
  *    whose posting lists would explode. The density chooser switches to
  *    prefix filtering (only each doc's rarest shingles join) in the sparse
  *    df≈1-2 regime real corpora live in — exercised under bench timing by
  *    llm_dedup_jaccard_prefix (5-token shingles, avg df ≈ 1.05 at sf0.1).
  *  - MinHash-LSH: signature is 16 mins of seeded xxhash64 (per-row, no
  *    shuffle), banded 4×4; candidates = self-join on (band, key) — only
  *    near-dups collide, so the join output is O(true pairs), the property
  *    that makes MinHash the 100 TB path.
  *  - SimHash: 64-bit signature per doc; candidate pairs via 4×16-bit chunk
  *    equality (pigeonhole: hamming<=3 guarantees a matching chunk), then
  *    exact hamming filter. Join on chunk values only — no n² scan.
  */
object LlmDedup {

  import org.apache.spark.sql.{DataFrame, expressions}

  /** Exploded shingle view carrying each doc's distinct-shingle COUNT on
    * every row: (doc_id, n, s). `n` rides along from the UDF's array size so
    * no downstream consumer ever needs a separate per-doc size aggregation
    * or a pairs×sizes join — r20 optimization (guide §2.4 "remove shuffles
    * outright"): the old shape aggregated a corpus-proportional `sizes`
    * table and sort-merge-joined it back TWICE per variant (pinned merge for
    * spill-safety after the r19 2 GiB probe); carrying 4 bytes per exploded
    * row deletes those joins — and their 100 TB spill-risk surface — from
    * the plan entirely. The count is emitted INSIDE each exploded element
    * (shinglesWithNUdf) so the UDF runs exactly once per row. */
  private def shingleDocs(s: SparkSession, dir: String, w: Int = 3): DataFrame = {
    import s.implicits._
    // one UDF evaluation per row: the (n, s) pairs come out of the UDF
    // itself — the earlier size(arr) + explode(arr) spelling re-ran the
    // shingle UDF twice per doc (CollapseProject inlines deterministic
    // exprs into every consumer)
    Tables.documents(s, dir)
      .select($"doc_id", explode(TextOps.shinglesWithNUdf(w)($"text")).as("z"))
      // 128-bit md5 interning (r21, guide §2.3 shuffle fewer bytes): every
      // downstream consumer joins/groups/sorts on the shingle only as an
      // OPAQUE key — the text never reaches any output — so ship 16 bytes
      // instead of the ~20-40-byte shingle string through the dfreq join,
      // the posting self-join and the candidate re-count. Same trick (and
      // same collision argument) as the substring span digests: an md5
      // collision would change a count and fail the string-grouped DuckDB
      // oracle loudly. Binary sort order is consistent across docs, which
      // is all the prefix lemma's tie-break needs. Native md5/unhex
      // expressions, map-side, inside the existing projection.
      .select($"doc_id", $"z._1".as("n"), unhex(md5($"z._2")).as("s"))
  }

  /** One-shot inverted-index Jaccard pairs: self-join every posting list.
    * Candidate fan-out is Σ n_s² over posting lists — optimal when lists are
    * short-but-dense (small vocabulary), quadratic when one shingle is a
    * stop-phrase. */
  private[graft] def jaccardPairsOneShot(
      s: SparkSession, dir: String, t: Double): DataFrame =
    oneShotFrom(s, shingleDocs(s, dir), t)

  private def oneShotFrom(s: SparkSession, docs: DataFrame, t: Double): DataFrame = {
    import s.implicits._
    // Set sizes ride the exploded rows (see shingleDocs): the aggregate is
    // max(n) — n is functionally determined by doc_id (max = the value;
    // `first` would be order-nondeterministic) — so the old corpus-
    // proportional sizes table and its two merge-pinned joins are gone.
    docs.as("a").join(docs.as("b"), Seq("s"))
      .filter($"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .agg(count(lit(1)).as("common"),
        max($"a.n").as("na"), max($"b.n").as("nb"))
      .select($"i", $"j",
        round($"common" / ($"na" + $"nb" - $"common"), 3).as("jaccard"))
      .filter($"jaccard" >= t)
      .orderBy($"i", $"j")
  }

  /** Prefix-filtered Jaccard pairs — the 100 TB-safe variant. Lossless
    * lemma: order each doc's shingles by ascending global df (ties by
    * shingle); if jaccard(A,B) >= t then |A∩B| >= ceil(t·|A|), so A's first
    * |A| - ceil(t·|A|) + 1 shingles (its "prefix") must intersect B's — and
    * symmetrically — hence every qualifying pair collides on a PREFIX
    * shingle of both docs. Candidate join touches only prefixes (rare
    * shingles → short posting lists, bounded fan-out even with stop-phrase
    * skew); the exact intersection is then re-counted for candidates only. */
  private[graft] def jaccardPairsPrefix(
      s: SparkSession, dir: String, t: Double): DataFrame =
    prefixFrom(s, shingleDocs(s, dir), t)

  private def prefixFrom(s: SparkSession, docs: DataFrame, t: Double): DataFrame = {
    import s.implicits._
    // `dfreq` (one row per distinct shingle — the corpus VOCABULARY) scales
    // with the corpus: its join is pinned to sort-merge. At test scale AQE's
    // measured sizes look broadcastable, but the broadcast build dies
    // under memory pressure (the 2 GiB spill probe found exactly this)
    // and at 100 TB a vocabulary broadcast is impossible. Only `cand`
    // (output-proportional, bounded by the prefix lemma) may broadcast.
    // The old per-doc `sizes` table and its THREE merge joins (prefix rank
    // filter + the two final jaccard joins) are gone — set sizes ride the
    // exploded rows as `n` (see shingleDocs), r20 guide §2.4.
    val dfreq = docs.groupBy($"s").agg(count(lit(1)).as("df"))
    val pref = docs.join(dfreq.hint("merge"), "s")
      .withColumn("rn", row_number().over(
        expressions.Window.partitionBy($"doc_id").orderBy($"df".asc, $"s".asc)))
      .filter($"rn" <= $"n" - ceil($"n" * t) + 1)
      .select($"doc_id", $"s")
    // the prefix set itself is corpus-proportional (≈ (1-t)·|shingles| +
    // one per doc), and `cand` is output-proportional — still unbounded
    // at 100 TB. Every join below stays sort-merge: fully spill-capable
    // at any heap, no broadcast build to die under pressure.
    val cand = pref.as("a").join(pref.as("b").hint("merge"), Seq("s"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .distinct()
    cand
      .join(docs.as("da").hint("merge"), $"i" === $"da.doc_id")
      .join(docs.as("db").hint("merge"),
        $"j" === $"db.doc_id" && $"da.s" === $"db.s")
      .groupBy($"i", $"j").agg(count(lit(1)).as("common"),
        max($"da.n").as("na"), max($"db.n").as("nb"))
      .select($"i", $"j",
        round($"common" / ($"na" + $"nb" - $"common"), 3).as("jaccard"))
      .filter($"jaccard" >= t)
      .orderBy($"i", $"j")
  }

  /** Density-based plan choice. avg(df) is a planning statistic (one tiny
    * scalar, same role as ANALYZE stats feeding a cost-based rule — not data
    * movement): real corpora sit at df≈1-2 where prefix filtering is the
    * provably-bounded plan; this synthetic corpus's 60-word vocabulary gives
    * df≈10+, where the one-shot join was measured 3× faster (3.2 s vs 10 s,
    * sf0.1). Both return identical pair sets (LlmSpec asserts). */
  /** The qualifying-pair table is a materialized intermediate SHARED by its
    * consumers (the pair report and the component clustering), computed once
    * per (dir, threshold) — in production it's a persisted table feeding
    * both jobs; recomputing the shingle join per consumer is the
    * anti-pattern. The result is tiny (O(near-dup pairs)), so the
    * checkpoint is a few KB. */
  private[graft] def jaccardPairsAuto(
      s: SparkSession, dir: String, t: Double, w: Int = 3): DataFrame =
    Artifacts.memo("jaccardPairsAuto", (dir, t, w), s, docsSrc(dir)) {
      import s.implicits._
      // tokenize ONCE: the checkpointed shingle table feeds both the density
      // statistic and the chosen join, so the chooser costs one cheap
      // aggregate, not a second explode pass. (At cluster scale the same idea
      // is a persisted shingle table / cache, not a driver-local checkpoint.)
      // r20 NOTE (measured, rejected): repartition($"s") before the
      // checkpoint — hoping consumers (self-join, dfreq, density stat)
      // would reuse the partitioning per guide §2.4 — REGRESSED
      // (shuffle_read 34→47 MB, CPU +27%): a localCheckpoint's LogicalRDD
      // does not advertise outputPartitioning to EnsureRequirements here,
      // so every consumer re-exchanged anyway and the repartition was a
      // pure extra shuffle. Kept scan-partitioned.
      val docs = shingleDocs(s, dir, w).localCheckpoint(true)
      val avgDf = docs.groupBy($"s").agg(count(lit(1)).as("df"))
        .agg(avg($"df")).as[Double].head()
      (if (avgDf <= 4.0) prefixFrom(s, docs, t)
        else oneShotFrom(s, docs, t)).localCheckpoint(true)
    }

  private def docsSrc(dir: String): String = s"$dir/documents.parquet"

  /** Checkpointed span-digest tables for llm_dedup_substring(_clip), served
    * as standing artifacts (ADVICE r20: the eager localCheckpoint(true)
    * inside every QueryDef build re-materialized executor-memory blocks
    * on each invocation in a long-lived session with nothing to free
    * them). Two variants — the detection key needs the per-doc distinct
    * span SET, the clip key needs POSITIONAL (i0, h) rows — so each caches
    * separately. */
  private def spanTable(
      s: SparkSession, dir: String, w: Int, positional: Boolean): DataFrame =
    Artifacts.memo("spanTable", (dir, w, positional), s, docsSrc(dir)) {
      import s.implicits._
      (if (positional)
        Tables.documents(s, dir).select($"doc_id",
          posexplode(TextOps.spanHashesUdf(w)($"text")).as(Seq("i0", "h")))
      else
        Tables.documents(s, dir).select($"doc_id",
          explode(TextOps.spanHashSetUdf(w)($"text")).as("h")))
        .localCheckpoint(true)
    }

  /** MinHash-LSH candidate pairs: 16 seeded-xxhash64 mins per doc banded
    * 4×4 (per-row, no shuffle); the self-join on (band, key) collides only
    * near-dups, so output is O(true pairs) — the 100 TB property. Shared by
    * the llm_dedup_minhash key and the LlmSpec recall subset test. */
  private[graft] def minhashCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // served from the shared banded-signature checkpoint (r21): the
    // banding pass (shinglesUdf + 16 seeded hashes per doc) ran once per
    // CONSUMER before — llm_dedup_minhash, stream_dedup_index's batch
    // reference, and the LlmSpec subset each paid it; the checkpointed
    // table is O(docs×4) rows, the jaccard pair-table economics. The
    // aliased self-join over one checkpointed table is the oneShotFrom
    // pattern (safe — no differently-filtered shared branches).
    val sigs = bandSigsCached(s, dir)
    sigs.as("a").join(sigs.as("b"), Seq("band", "key"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .distinct()
  }

  /** SimHash blocking-stage candidate pairs: 4×16-bit chunk equality over
    * the 64-bit signatures. No hamming filter here — this is the raw
    * candidate stage whose pigeonhole losslessness (every ham<=3 pair
    * shares a chunk) the llm_dedup_simhash key pins against the
    * hamming-verified truth pairs. Shared with LlmSpec. */
  private[graft] def simhashCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = Tables.documents(s, dir)
      .select($"doc_id", TextOps.simhashUdf(TextOps.tokens($"text")).as("sig"))
    val chunkArr = array((0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned($"sig", c * 16).bitwiseAND(lit(0xffffL)).as("ckey"))): _*)
    val chunks = sigs.select($"doc_id", explode(chunkArr).as("c"))
      .select($"doc_id", $"c.chunk".as("chunk"), $"c.ckey".as("ckey"))
    chunks.as("a").join(chunks.as("b"), Seq("chunk", "ckey"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("i"), $"b.doc_id".as("j"))
      .distinct()
  }

  /** Incremental SimHash candidates: the delta batch (doc_id % 10 == 0)
    * chunk-joined against the standing corpus' persisted chunk-bucket index
    * plus itself — the SimHash mirror of [[minhashIncrCandidates]].
    * Signatures are per-row, so this equals the full-corpus candidate set
    * restricted to delta-touching pairs (asserted in LlmSpec). */
  private[graft] def simhashIncrCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def chunks(pred: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val sigs = Tables.documents(s, dir)
        .filter(pred($"doc_id"))
        .select($"doc_id", TextOps.simhashUdf(TextOps.tokens($"text")).as("sig"))
      val chunkArr = array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned($"sig", c * 16).bitwiseAND(lit(0xffffL)).as("ckey"))): _*)
      sigs.select($"doc_id", explode(chunkArr).as("c"))
        .select($"doc_id", $"c.chunk".as("chunk"), $"c.ckey".as("ckey"))
    }
    val index = chunks(id => id % 10 =!= 0)
    val delta = chunks(id => id % 10 === 0)
    val cross = index.as("c").join(broadcast(delta.as("d")), Seq("chunk", "ckey"))
      .select(least($"c.doc_id", $"d.doc_id").as("i"),
        greatest($"c.doc_id", $"d.doc_id").as("j"))
    val intra = delta.as("a")
      .join(broadcast(chunks(id => id % 10 === 0).as("b")), Seq("chunk", "ckey"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("i"), $"b.doc_id".as("j"))
    cross.union(intra).distinct()
  }

  /** Per-doc banded MinHash signatures (band, key) — one fresh read per
    * call, so two calls give independent plans (fresh exprIds; avoids the
    * self-join filter-collapse hazard documented at llm_knn_ivf).
    * [[minhashIncrCandidates]] keeps building from THIS (fresh plans) for
    * exactly that reason — its index/delta branches are differently
    * filtered; un-filtered consumers use [[bandSigsCached]]. */
  private[graft] def bandSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        posexplode(TextOps.minhashBandsUdf(4, 4)(TextOps.shinglesUdf(3)($"text")))
          .as(Seq("band", "key")))
  }

  /** The banded-signature table as a CHECKPOINTED standing artifact: at
    * 100 TB the band index is the persisted table every MinHash pipeline
    * keeps; here it is materialized once (O(docs×4) rows of three longs)
    * inside the first timed consumer and served to the rest
    * (llm_dedup_minhash's candidates, stream_dedup_index's batch
    * reference). r21, guide §2.4. */
  private[graft] def bandSigsCached(s: SparkSession, dir: String): DataFrame =
    Artifacts.memo("bandSigsCached", dir, s, docsSrc(dir)) {
      bandSigs(s, dir).localCheckpoint(true)
    }

  /** Incremental MinHash candidates: the delta batch (doc_id % 10 == 0)
    * against the standing corpus' PERSISTED band-bucket index plus itself —
    * never re-pairing the corpus with itself. Because signatures are
    * per-row (independent of corpus composition), this equals the
    * full-corpus candidate set restricted to pairs involving a delta doc
    * (asserted in LlmSpec). Cost: O(|delta| + index lookup); the delta side
    * is broadcast. This is the shape a daily 100 TB ingest runs: corpus
    * bands are a persisted table, only the delta is hashed fresh. */
  private[graft] def minhashIncrCandidates(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val index = bandSigs(s, dir).filter($"doc_id" % 10 =!= 0)
    val delta = bandSigs(s, dir).filter($"doc_id" % 10 === 0)
    val cross = index.as("c").join(broadcast(delta.as("d")), Seq("band", "key"))
      .select(least($"c.doc_id", $"d.doc_id").as("i"),
        greatest($"c.doc_id", $"d.doc_id").as("j"))
    val intra = delta.as("a")
      .join(broadcast(bandSigs(s, dir).filter($"doc_id" % 10 === 0).as("b")),
        Seq("band", "key"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("i"), $"b.doc_id".as("j"))
    cross.union(intra).distinct()
  }

  /** Per-node component labels for the jaccard>=t near-dup graph:
    * (id, comp) where comp = min doc_id reachable. Pregel-style min-label
    * propagation; see llm_dedup_groups for the scale rationale. */
  private[graft] def nearDupComponents(
      s: SparkSession, dir: String, t: Double): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val qp = jaccardPairsAuto(s, dir, t).select($"i", $"j")
    val edges = qp.union(qp.select($"j".as("i"), $"i".as("j")))
      .localCheckpoint(true)
    var labels = edges.select($"i".as("id")).distinct()
      .select($"id", $"id".as("comp"))
      .localCheckpoint(true)
    var converged = false
    var iters = 0
    while (!converged && iters < 20) {
      val nbrMin = edges.join(labels, $"j" === $"id")
        .groupBy($"i").agg(min($"comp").as("nbr"))
      val next = labels.join(nbrMin, $"id" === $"i", "left")
        .select($"id", least($"comp", coalesce($"nbr", $"comp")).as("comp"))
        .localCheckpoint(true)
      converged = next.as("n")
        .join(labels.as("o"), "id")
        .filter($"n.comp" =!= $"o.comp")
        .isEmpty
      labels = next
      iters += 1
    }
    // label propagation converges in O(log(diameter)) rounds on near-dup
    // graphs (components are dense clusters of mutual near-copies, diameter
    // a few hops); 20 rounds is far past that. If it ever ISN'T converged,
    // the labels are wrong group ids — fail loudly rather than hand back a
    // plausible-looking wrong answer (ADVICE r3).
    if (!converged)
      throw new IllegalStateException(
        s"nearDupComponents: min-label propagation not converged after $iters rounds " +
          "(component diameter > 20? inspect the candidate-pair graph)")
    labels
  }

  /** TWO-PHASE BLOOM incremental dedup, full frame including the raw
    * `n_false_pos` (= bloom-positives that phase 2 disconfirmed). The
    * llm_dedup_bloom key selects only the exactly-replayable counts for the
    * DuckDB oracle; LlmSpec asserts the FP bound on this frame directly.
    * See the key's comment for the phase structure and scale rationale. */
  private[graft] def bloomDedup(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val baseH = Tables.documents(s, dir)
      .filter($"doc_id" % 10 =!= 0)
      .select(sha2($"text", 256).as("h")).distinct()
    // capacity derives from the actual base size (floored at 100k so
    // tiny SFs keep the production-shaped sketch): a fixed 100k would
    // overload at sf >= ~2 and inflate the effective fpp past the 5x
    // margin LlmSpec pins
    val baseRows = Tables.documents(s, dir)
      .filter($"doc_id" % 10 =!= 0).count()
    val bloom = Tables.documents(s, dir)
      .filter($"doc_id" % 10 =!= 0)
      .select(sha2($"text", 256).as("h"))
      .stat.bloomFilter("h", math.max(100000L, baseRows), 0.01)
    val bcBloom = s.sparkContext.broadcast(bloom)
    val bloomPos = udf((h: String) => bcBloom.value.mightContainString(h))
    val delta = Tables.documents(s, dir)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", sha2($"text", 256).as("h"))
      .withColumn("bloom_pos", bloomPos($"h"))
    // phase 2: ONLY bloom-positives reach the exact index join (in
    // production the pos/neg split is one pass over a cached/persisted
    // delta; here the two filters re-read the tiny delta scan)
    val confirmed = delta.filter($"bloom_pos")
      .join(baseH.withColumn("in_base", lit(1)), Seq("h"), "left")
      .select($"doc_id", coalesce($"in_base", lit(0)).as("in_base"),
        lit(1L).as("bp"))
    val negatives = delta.filter(!$"bloom_pos")
      .select($"doc_id", lit(0).as("in_base"), lit(0L).as("bp"))
    confirmed.unionByName(negatives).agg(
      count(lit(1)).as("n_delta"),
      sum($"in_base").cast("long").as("n_dup_vs_base"),
      sum(when($"in_base" === 0, 1L).otherwise(0L)).as("n_new"),
      (sum($"bp") - sum($"in_base")).cast("long").as("n_false_pos"))
  }

  def queries: Map[String, QueryDef] = Map(
    // Exact dedup over content hash: corpus-level stats + per-group merge.
    "llm_dedup_exact" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .groupBy(sha2($"text", 256).as("h"))
          .agg(count(lit(1)).as("n"), min($"doc_id").as("keep_id"))
          .agg(
            count(lit(1)).as("n_distinct_texts"),
            sum($"n").as("n_docs"),
            sum(when($"n" > 1, $"n" - 1).otherwise(0L)).as("n_removed"),
            count(when($"n" > 1, 1)).as("n_dup_groups"))
      },
      """SELECT count(*) AS n_distinct_texts,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  count(CASE WHEN n > 1 THEN 1 END) AS n_dup_groups
        |FROM (SELECT sha256(text) AS h, count(*) AS n, min(doc_id) AS keep_id
        |      FROM documents GROUP BY 1) g""".stripMargin),

    // INCREMENTAL exact dedup — the production shape for a continuous
    // crawl: the new batch (doc_id % 10 == 0 plays the delta) dedups
    // against the standing corpus' content-hash index plus itself, without
    // ever re-scanning the corpus text. Corpus side collapses to distinct
    // hashes (at 100 TB this is the persisted fingerprint index, orders
    // smaller than the corpus); the delta broadcast/shuffle-joins it and
    // resolves intra-delta ties by min doc_id. Cost scales with
    // |delta| + |index|, not |corpus| — re-running full-corpus dedup per
    // crawl is the anti-pattern. Branches built from independent reads
    // (fresh exprIds) to avoid Spark's self-join filter-collapse hazard.
    "llm_dedup_incremental" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val baseH = Tables.documents(s, dir)
          .filter($"doc_id" % 10 =!= 0)
          .select(sha2($"text", 256).as("h")).distinct()
        val delta = Tables.documents(s, dir)
          .filter($"doc_id" % 10 === 0)
          .select($"doc_id", sha2($"text", 256).as("h"))
        val w = expressions.Window.partitionBy($"h").orderBy($"doc_id")
        delta
          .join(baseH.withColumn("in_base", lit(1)), Seq("h"), "left")
          .withColumn("rn", row_number().over(w))
          .agg(
            count(lit(1)).as("n_delta"),
            sum(when($"in_base" === 1, 1L).otherwise(0L)).as("n_dup_vs_base"),
            sum(when($"in_base".isNull && $"rn" > 1, 1L).otherwise(0L))
              .as("n_intra_dup"),
            sum(when($"in_base".isNull && $"rn" === 1, 1L).otherwise(0L))
              .as("n_new_unique"))
      },
      """WITH base AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0),
        |d AS (SELECT doc_id, text IN (SELECT text FROM base) AS in_base,
        |        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |      FROM documents WHERE doc_id % 10 = 0)
        |SELECT count(*) AS n_delta,
        |  CAST(sum(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_base,
        |  CAST(sum(CASE WHEN NOT in_base AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_intra_dup,
        |  CAST(sum(CASE WHEN NOT in_base AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new_unique
        |FROM d""".stripMargin),

    // TWO-PHASE BLOOM incremental dedup — the shape for when even the
    // fingerprint INDEX is too big to join the whole delta against (multi-PB
    // corpus, index in the hundreds of GB): phase 1 probes every delta row
    // against a ~KB-MB Bloom sketch of the index (map-only, broadcast —
    // no shuffle of anything), phase 2 exact-joins ONLY the Bloom-positive
    // survivors to confirm. Bloom has no false negatives, so bloom-negative
    // rows are definitively new without touching the index; the join cost
    // scales with |true dups| + |false positives| ≈ |true dups| at fpp=1%,
    // not |delta|. The fp_rate_ok bound (FPs ≤ max(1, 5% of true negatives),
    // 5× margin over the configured 1% fpp) pins the sketch sizing; exact
    // dup/new counts are DuckDB-replayable, so the oracle hash covers the
    // phase-2 confirmation too. Spark's stat.bloomFilter builds the sketch
    // distributed (treeAggregate) and ships the merged bits to the driver —
    // the same control-flow pattern as the kmeans centroid collect.
    "llm_dedup_bloom" -> QueryDef(
      // the key's oracled result carries ONLY the exactly-replayable counts;
      // the Bloom-statistical n_false_pos is computed by bloomDedup below
      // and bound-asserted in LlmSpec (FPs <= max(1, 5% of true negatives)).
      // A `true AS fp_rate_ok` pin here would turn a sketch-sizing drift on
      // a new SF/corpus (or a Spark bloom-hash change) into a misleading
      // CORRECTNESS failure (ADVICE r10); the counts still route through the
      // two-phase bloom path, so a false NEGATIVE — the property Bloom
      // actually guarantees — still breaks the hash.
      (s, dir) => bloomDedup(s, dir)
        .select(col("n_delta"), col("n_dup_vs_base"), col("n_new")),
      """WITH base AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0),
        |d AS (SELECT doc_id, text IN (SELECT text FROM base) AS in_base
        |      FROM documents WHERE doc_id % 10 = 0)
        |SELECT count(*) AS n_delta,
        |  CAST(sum(CASE WHEN in_base THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_base,
        |  CAST(sum(CASE WHEN NOT in_base THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM d""".stripMargin),

    // Exact n-gram (3-token shingle) Jaccard >= 0.6 pairs via inverted index,
    // with the plan chosen by posting-list density (see jaccardPairsAuto):
    // dense corpus -> one-shot inverted join; sparse (the real-corpus / 100 TB
    // regime) -> prefix filtering. Both variants are provably the same pair
    // set (asserted in LlmSpec), so the oracle is shared.
    // Prefix-filtered Jaccard in its NATIVE regime: 5-token shingles give
    // avg df ≈ 1.05 on this corpus at sf0.1 (measured; 3-token shingles sit
    // at df ≈ 9.6 there, which is why llm_dedup_jaccard's chooser takes the
    // one-shot join) — the sparse posting-list geometry real web corpora
    // have, where the density chooser picks the prefix plan and its bounded
    // fan-out actually runs under bench timing instead of only in the
    // LlmSpec equivalence proof. Same pair semantics, wider shingle.
    "llm_dedup_jaccard_prefix" -> QueryDef(
      (s, dir) => jaccardPairsAuto(s, dir, 0.6, w = 5),
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 5
        |         THEN list_transform(generate_series(1, len(tl) - 4),
        |              i -> array_to_string(tl[i:i+4], ' '))
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |FROM pairs p JOIN sz x ON p.i = x.doc_id JOIN sz y ON p.j = y.doc_id
        |WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.6
        |ORDER BY i, j""".stripMargin),

    // DUPLICATE-CLUSTER RESOLUTION — the step AFTER candidate generation in
    // every production dedup: the near-dup pair graph is resolved into
    // CONNECTED COMPONENTS and one canonical representative (min doc_id)
    // is kept per cluster; everything else is dropped. Spark-first CC:
    // iterative neighbor-min label propagation over the edge list — each
    // round is ONE shuffle join + aggregate, labels localCheckpointed so
    // lineage stays flat, and the round count is bounded by the cluster
    // DIAMETER, which for real dup clusters (near-cliques from a
    // similarity threshold) is 1-3 — not by corpus size. At 100 TB the
    // state is one (vertex, label) pair per DUPLICATED doc (the pair graph
    // is orders of magnitude smaller than the corpus), exactly the
    // GraphX/GraphFrames CC shape without the dependency. The oracle
    // recomputes the same pair set and closes it transitively with a
    // recursive CTE — a propagation bug (a missed hop, a dropped
    // singleton) diverges from the closure.
    "llm_dedup_cluster" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val edges = jaccardPairsAuto(s, dir, 0.6).select($"i", $"j")
        val und = edges
          .union(edges.select($"j".as("i"), $"i".as("j")))
          .localCheckpoint() // iterated over: pin it once
        var labels = und.select($"i".as("v")).distinct
          .withColumn("lbl", $"v").localCheckpoint()
        var changed = 1L
        while (changed > 0) {
          val prop = und.join(labels, und("j") === labels("v"))
            .groupBy(und("i").as("pv")).agg(min($"lbl").as("nlbl"))
          val next = labels.join(prop, labels("v") === prop("pv"), "left")
            .select($"v", $"lbl",
              least($"lbl", coalesce($"nlbl", $"lbl")).as("lbl2"))
            .localCheckpoint()
          changed = next.filter($"lbl2" < $"lbl").count()
          labels = next.select($"v", $"lbl2".as("lbl"))
        }
        Tables.documents(s, dir).select($"doc_id")
          .join(labels, $"doc_id" === $"v", "left")
          .select($"doc_id",
            coalesce($"lbl", $"doc_id").as("cluster_rep"),
            (coalesce($"lbl", $"doc_id") === $"doc_id").as("kept"))
          .orderBy($"doc_id")
      },
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |p AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |      FROM ds a JOIN ds b USING (s)
        |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pr AS (SELECT i, j
        |       FROM p JOIN sz x ON p.i = x.doc_id JOIN sz y ON p.j = y.doc_id
        |       WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.6),
        |e AS (SELECT i, j FROM pr UNION SELECT j, i FROM pr),
        |reach(a, b) AS (
        |  SELECT i, j FROM e
        |  UNION
        |  SELECT r.a, e.j FROM reach r JOIN e ON r.b = e.i),
        |rep AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
        |        FROM reach GROUP BY a)
        |SELECT d.doc_id,
        |  coalesce(rep.cluster_rep, d.doc_id) AS cluster_rep,
        |  coalesce(rep.cluster_rep, d.doc_id) = d.doc_id AS kept
        |FROM documents d LEFT JOIN rep USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "llm_dedup_jaccard" -> QueryDef(
      (s, dir) => jaccardPairsAuto(s, dir, 0.6),
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |FROM pairs p JOIN sz x ON p.i = x.doc_id JOIN sz y ON p.j = y.doc_id
        |WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.6
        |ORDER BY i, j""".stripMargin),

    // ASYMMETRIC CONTAINMENT pairs: C(A,B) = |A∩B| / |A| over 5-token
    // shingles — the measure that catches a short document quoted inside a
    // long one, which symmetric Jaccard structurally misses (common/(na+nb
    // −common) shrinks as the long side grows while common/na stays 1.0).
    // Production pipelines (RefinedWeb-class) drop the CONTAINED side; this
    // key reports both directions so that policy is a filter on the result.
    // One-shot inverted join is the right plan here by the same density
    // argument as llm_dedup_jaccard_prefix (w=5 ⇒ avg df ≈ 1.05, postings
    // ≈1): candidate fan-out is O(true overlaps). In a high-df regime the
    // prefix-filter lemma still applies one-sided (A's rarest |A|−⌈t·|A|⌉+1
    // shingles must hit B when C(A,B) ≥ t).
    "llm_dedup_containment" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // set sizes ride the exploded rows (shingleDocs `n`): no separate
        // sizes aggregation, no pairs×sizes joins — r20 guide §2.4
        val docs = shingleDocs(s, dir, 5)
        docs.as("a").join(docs.as("b"), Seq("s"))
          .filter($"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("i"), $"b.doc_id".as("j"))
          .agg(count(lit(1)).as("common"),
            max($"a.n").as("na"), max($"b.n").as("nb"))
          .select($"i", $"j",
            round($"common" / $"na" + lit(1e-9), 3).as("c_ij"),
            round($"common" / $"nb" + lit(1e-9), 3).as("c_ji"))
          .filter($"c_ij" >= 0.8 || $"c_ji" >= 0.8)
          .orderBy($"i", $"j")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 5
        |         THEN list_transform(generate_series(1, len(tl) - 4),
        |              i -> array_to_string(tl[i:i+4], ' '))
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |p AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |      FROM ds a JOIN ds b USING (s)
        |      WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT i, j, round(common * 1.0 / x.n + 1e-9, 3) AS c_ij,
        |  round(common * 1.0 / y.n + 1e-9, 3) AS c_ji
        |FROM p JOIN sz x ON p.i = x.doc_id JOIN sz y ON p.j = y.doc_id
        |WHERE round(common * 1.0 / x.n + 1e-9, 3) >= 0.8
        |   OR round(common * 1.0 / y.n + 1e-9, 3) >= 0.8
        |ORDER BY i, j""".stripMargin),

    // EXACT SUBSTRING-DUPLICATION detection (Lee et al. 2021, "Deduplicating
    // Training Data Makes Language Models Better"): find fixed-width token
    // spans (w=15 words — the corpus-scaled analogue of the paper's 50 BPE
    // tokens) that occur verbatim in more than one document, and report each
    // affected document's duplicated-span fraction. The paper builds a
    // corpus-wide suffix array; for a FIXED span width the same answer falls
    // out of a rolling-window explode + hash-bucketed group-by — the
    // Spark-first spelling: one shuffle partitioned by span, partial
    // map-side distinct, never a doc×doc comparison. The shuffle key is the
    // 128-bit md5 of the span — ~16 bytes shipped instead of the ~90-byte
    // span text (measured 30 MB → 13 MB shuffle at sf0.1), the same
    // hash-not-text trick the paper's implementation uses; md5 collisions
    // are negligible at any corpus size, and a collision would change a
    // count and fail the string-grouped DuckDB oracle LOUDLY, not silently.
    "llm_dedup_substring" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = 15
        // r20 optimization (guide §1.2/§2.4): the old declarative spelling
        // (explode(transform(sequence(...))) + md5 + frame-level distinct)
        // cost (a) an interpreted HOF lambda per span, (b) a full exchange
        // on (doc_id, h) just to dedup within-doc repeats, and (c) — because
        // `spans` feeds both the dup detection AND the join-back — Spark
        // re-executed the whole scan+explode+md5 subtree TWICE. Now: one
        // imperative UDF pass emits the per-doc distinct span digests
        // (dedup moved into the row, exchange gone), and the tiny exploded
        // result (|distinct spans| ≈ 16 B + ids per row) is
        // localCheckpointed so both consumers read the materialized rows —
        // one scan, one span pass. At 100 TB the checkpoint is the persisted
        // span-fingerprint table every substring-dedup pipeline keeps.
        // Same short-doc convention as the jaccard shingles: a doc with
        // fewer than w tokens contributes its whole text as one span.
        // Served from the version+session-guarded spanTable cache (ADVICE
        // r20) so repeated builds in one session reuse the checkpoint.
        val spans = spanTable(s, dir, w, positional = false)
        val dup = spans.groupBy($"h")
          .agg(count(lit(1)).as("ndocs")).filter($"ndocs" > 1)
        spans.join(dup, Seq("h"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            count($"ndocs").as("n_dup_spans"))
          .filter($"n_dup_spans" > 0)
          .select($"doc_id", $"n_spans", $"n_dup_spans",
            round($"n_dup_spans" / $"n_spans" + lit(1e-9), 3)
              .as("dup_frac"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sp AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 15
        |         THEN list_transform(generate_series(1, len(tl) - 14),
        |              i -> array_to_string(tl[i:i+14], ' '))
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sp),
        |dup AS (SELECT s FROM ds GROUP BY s HAVING count(*) > 1),
        |pd AS (SELECT doc_id, count(*) AS n_spans,
        |         CAST(sum(CASE WHEN dup.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
        |       FROM ds LEFT JOIN dup ON ds.s = dup.s GROUP BY 1)
        |SELECT doc_id, n_spans, n_dup_spans,
        |  round(n_dup_spans * 1.0 / n_spans + 1e-9, 3) AS dup_frac
        |FROM pd WHERE n_dup_spans > 0 ORDER BY doc_id""".stripMargin),

    // The REMOVAL half of Lee et al. 2021: rewrite each affected document
    // with every token covered by a cross-document duplicated span clipped
    // out (the paper deletes the repeated substring from all but one
    // occurrence; the common production variant implemented here drops every
    // covered token — deterministic, order-independent, and exactly what the
    // oracle can replay). Plan: the same hash-bucketed dup-span detection,
    // then dup span-START sets flow BACK to their documents (collect_set per
    // doc — bounded by spans-per-doc, never corpus-wide), and the rewrite is
    // a pure per-row HOF chain: filter positions not covered by any dup
    // start, rebuild the text. The rewritten text leaves the executor only
    // as an md5 — at 100 TB the clean text is WRITTEN, not collected, and
    // the oracle compares fingerprints. Cover test p <= i0+14 is universal:
    // a short doc's whole-text span has i0=0 and every p <= len-1 <= 13.
    "llm_dedup_substring_clip" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = 15
        val t = TextOps.tokens($"text")
        val base = Tables.documents(s, dir).select($"doc_id", t.as("toks"))
        // r20: positional span digests from the imperative UDF (index =
        // span start), checkpointed once — the old declarative HOF chain
        // re-ran interpreted per span AND re-executed for each of the two
        // consumers below (dup detection, start-set join-back). See
        // llm_dedup_substring for the full rationale; cached via
        // spanTable (ADVICE r20).
        val spans = spanTable(s, dir, w, positional = true)
        val dup = spans.select($"doc_id", $"h").distinct()
          .groupBy($"h").agg(count(lit(1)).as("nd"))
          .filter($"nd" > 1).select($"h")
        val starts = spans.join(dup, Seq("h"))
          .groupBy($"doc_id").agg(collect_set($"i0").as("starts"))
        val kept = filter(sequence(lit(0), size($"toks") - 1),
          p => !exists($"starts", i => i <= p && p <= i + (w - 1)))
        base.join(starts, Seq("doc_id"))
          .select($"doc_id", size($"toks").cast("long").as("n_before"),
            kept.as("kp"), $"toks")
          .select($"doc_id", $"n_before",
            size($"kp").cast("long").as("n_after"),
            md5(array_join(
              transform($"kp", p => element_at($"toks", p + 1)), " "))
              .as("clean_md5"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sp AS (SELECT doc_id, tl, unnest(CASE WHEN len(tl) >= 15
        |         THEN generate_series(0, len(tl) - 15) ELSE [0] END) AS i0 FROM t),
        |sps AS (SELECT doc_id, i0, array_to_string(tl[i0+1:i0+15], ' ') AS s FROM sp),
        |dup AS (SELECT s FROM (SELECT DISTINCT doc_id, s FROM sps) GROUP BY s HAVING count(*) > 1),
        |cov AS (SELECT DISTINCT sps.doc_id, i0 FROM sps JOIN dup USING (s)),
        |aff AS (SELECT DISTINCT doc_id FROM cov),
        |pos AS (SELECT doc_id, tl, unnest(generate_series(0, len(tl) - 1)) AS p FROM t JOIN aff USING (doc_id)),
        |covp AS (SELECT DISTINCT pos.doc_id, pos.p AS p FROM pos
        |         JOIN cov ON pos.doc_id = cov.doc_id
        |           AND cov.i0 <= pos.p AND pos.p <= cov.i0 + 14),
        |keep AS (SELECT pos.doc_id, pos.p AS p, tl[pos.p+1] AS tok FROM pos
        |         LEFT JOIN covp ON pos.doc_id = covp.doc_id AND pos.p = covp.p
        |         WHERE covp.p IS NULL),
        |cl AS (SELECT doc_id, array_to_string(list(tok ORDER BY p), ' ') AS clean,
        |         count(*) AS n_after FROM keep GROUP BY 1)
        |SELECT t.doc_id, CAST(len(tl) AS BIGINT) AS n_before,
        |  CAST(COALESCE(n_after, 0) AS BIGINT) AS n_after,
        |  md5(COALESCE(clean, '')) AS clean_md5
        |FROM t JOIN aff USING (doc_id) LEFT JOIN cl ON t.doc_id = cl.doc_id
        |ORDER BY t.doc_id""".stripMargin),

    // MinHash-LSH candidate stage (16 hashes, 4 bands x 4 rows), oracled via
    // a deterministic projection: per jaccard threshold, n_truth = exact
    // near-dup pairs (DuckDB replays this side) and recall_ok = the
    // CONTRACT bound the banding scheme actually promises — caught >=
    // floor((1-(1-t^4)^4)·n_truth), the worst-case per-pair collision
    // probability at similarity exactly t. Pinning n_caught = n_truth was
    // overclaiming: banding recall is probabilistic by design, and at sf1
    // it legitimately read 2 488/2 490 (the r11/r12 sweep residual). The
    // bound boolean is deterministic given the fixed seeds and holds with
    // huge margin (observed miss rate ~0.1% vs the 1.4% the contract
    // allows at t=0.9), so the sweep reads clean at every SF while a
    // seed/banding/shingle regression still breaks the hash; the raw
    // candidate list and the exact miss count stay pinned in LlmSpec.
    "llm_dedup_minhash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // Truth side is a pure FILTER of the t=0.6 pair table that
        // llm_dedup_jaccard / llm_dedup_groups already compute and cache
        // (jaccard >= 0.9 ⟹ >= 0.6): a cached-table filter, not a second
        // shingle self-join. At 100 TB the exact side is a persisted pair
        // table; recomputing it per consumer is the anti-pattern.
        val truth = jaccardPairsAuto(s, dir, 0.6)
          .filter($"jaccard" >= 0.9).select($"i", $"j", $"jaccard")
        val cands = minhashCandidates(s, dir).withColumn("c", lit(1))
        val marked = truth.join(cands, Seq("i", "j"), "left")
        val th = Seq(0.9, 0.95).toDF("threshold")
        th.join(marked, marked("jaccard") >= th("threshold"), "left")
          .groupBy($"threshold")
          .agg(count($"i").as("n_truth"), count($"c").as("n_caught"))
          .select($"threshold", $"n_truth",
            ($"n_caught" >= floor((lit(1.0) -
              pow(lit(1.0) - pow($"threshold", 4.0), 4.0)) * $"n_truth"))
              .as("recall_ok"))
          .orderBy($"threshold")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |      FROM pairs pr JOIN sz x ON pr.i = x.doc_id
        |                    JOIN sz y ON pr.j = y.doc_id
        |      WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.9),
        |th AS (SELECT CAST(x AS DOUBLE) AS threshold
        |       FROM (VALUES (0.90), (0.95)) v(x))
        |SELECT threshold, count(p.i) AS n_truth, TRUE AS recall_ok
        |FROM th LEFT JOIN p ON p.jaccard >= th.threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin),

    // INCREMENTAL MinHash — the daily-ingest near-dup shape: the delta
    // batch (doc_id % 10 == 0) is hashed fresh and joined against the
    // standing corpus' PERSISTED band-bucket index (plus itself), never
    // re-pairing the corpus with itself. Because MinHash signatures are
    // per-row (independent of corpus composition), the incremental
    // candidate set EQUALS the full-corpus candidate set restricted to
    // pairs involving a delta doc — asserted exactly in LlmSpec. Oracled
    // by the same recall projection as llm_dedup_minhash, restricted to
    // delta-touching truth pairs: n_caught = n_truth per threshold, so a
    // regression in the index-join path that drops even one near-dup pair
    // involving new data breaks the driver hash.
    "llm_dedup_minhash_incr" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val truth = jaccardPairsAuto(s, dir, 0.6)
          .filter($"jaccard" >= 0.9)
          .filter($"i" % 10 === 0 || $"j" % 10 === 0)
          .select($"i", $"j", $"jaccard")
        val cands = minhashIncrCandidates(s, dir).withColumn("c", lit(1))
        val marked = truth.join(cands, Seq("i", "j"), "left")
        val th = Seq(0.9, 0.95).toDF("threshold")
        th.join(marked, marked("jaccard") >= th("threshold"), "left")
          .groupBy($"threshold")
          .agg(count($"i").as("n_truth"), count($"c").as("n_caught"))
          .select($"threshold", $"n_truth",
            ($"n_caught" >= floor((lit(1.0) -
              pow(lit(1.0) - pow($"threshold", 4.0), 4.0)) * $"n_truth"))
              .as("recall_ok"))
          .orderBy($"threshold")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |      FROM pairs pr JOIN sz x ON pr.i = x.doc_id
        |                    JOIN sz y ON pr.j = y.doc_id
        |      WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.9
        |        AND (pr.i % 10 = 0 OR pr.j % 10 = 0)),
        |th AS (SELECT CAST(x AS DOUBLE) AS threshold
        |       FROM (VALUES (0.90), (0.95)) v(x))
        |SELECT threshold, count(p.i) AS n_truth, TRUE AS recall_ok
        |FROM th LEFT JOIN p ON p.jaccard >= th.threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin),

    // SimHash candidate stage: 64-bit signature, 4x16-bit chunk blocking,
    // exact hamming <= 3 verification. The signature bits are
    // engine-internal, but the BLOCKING stage has a DuckDB-pinnable
    // property — the pigeonhole guarantee: any pair within hamming <= 3
    // differs in at most 3 of the 4 chunks, so at least one 16-bit chunk
    // matches exactly and the chunk-equality join MUST surface the pair.
    // The key replays that proof over the cached exact truth pairs
    // (jaccard >= 0.9, shared with the minhash keys): hamming-verify each
    // truth pair directly from the signatures, then assert the blocking
    // join surfaced every ham<=3 one (blocking_lossless). n_truth is
    // DuckDB-replayable, so a shingle/tokenizer/truth regression breaks
    // the hash too; a blocking bug (wrong chunk math, dropped bucket)
    // flips the boolean. Raw candidate pairs stay covered in LlmSpec.
    "llm_dedup_simhash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val truth = jaccardPairsAuto(s, dir, 0.6)
          .filter($"jaccard" >= 0.9).select($"i", $"j", $"jaccard")
        val sigs = Tables.documents(s, dir)
          .select($"doc_id", TextOps.simhashUdf(TextOps.tokens($"text")).as("sig"))
        val withHam = truth
          .join(sigs.as("x"), $"i" === $"x.doc_id")
          .join(sigs.as("y"), $"j" === $"y.doc_id")
          .select($"i", $"j", $"jaccard",
            TextOps.hamming($"x.sig", $"y.sig").as("ham"))
        val cands = simhashCandidates(s, dir).withColumn("c", lit(1))
        val marked = withHam.join(cands, Seq("i", "j"), "left")
        val th = Seq(0.9, 0.95).toDF("threshold")
        th.join(marked, marked("jaccard") >= th("threshold"), "left")
          .groupBy($"threshold")
          .agg(
            count($"i").as("n_truth"),
            (count(when($"ham" <= 3 && $"c".isNull, 1)) === 0)
              .as("blocking_lossless"))
          .orderBy($"threshold")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |      FROM pairs pr JOIN sz x ON pr.i = x.doc_id
        |                    JOIN sz y ON pr.j = y.doc_id
        |      WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.9),
        |th AS (SELECT CAST(x AS DOUBLE) AS threshold
        |       FROM (VALUES (0.90), (0.95)) v(x))
        |SELECT threshold, count(p.i) AS n_truth, true AS blocking_lossless
        |FROM th LEFT JOIN p ON p.jaccard >= th.threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin),

    // INCREMENTAL SimHash — the daily-ingest shape for the simhash path:
    // delta batch hashed fresh, chunk-joined against the standing corpus'
    // persisted chunk-bucket index plus itself, never re-pairing the
    // corpus with itself. Oracled like llm_dedup_simhash: over the
    // delta-touching truth pairs (cached exact table), every pair within
    // hamming<=3 must be surfaced by the incremental blocking join —
    // the pigeonhole guarantee is corpus-independent, so it holds for the
    // delta-vs-index join exactly as for the full self-join.
    "llm_dedup_simhash_incr" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val truth = jaccardPairsAuto(s, dir, 0.6)
          .filter($"jaccard" >= 0.9)
          .filter($"i" % 10 === 0 || $"j" % 10 === 0)
          .select($"i", $"j", $"jaccard")
        val sigs = Tables.documents(s, dir)
          .select($"doc_id", TextOps.simhashUdf(TextOps.tokens($"text")).as("sig"))
        val withHam = truth
          .join(sigs.as("x"), $"i" === $"x.doc_id")
          .join(sigs.as("y"), $"j" === $"y.doc_id")
          .select($"i", $"j", $"jaccard",
            TextOps.hamming($"x.sig", $"y.sig").as("ham"))
        val cands = simhashIncrCandidates(s, dir).withColumn("c", lit(1))
        val marked = withHam.join(cands, Seq("i", "j"), "left")
        val th = Seq(0.9, 0.95).toDF("threshold")
        th.join(marked, marked("jaccard") >= th("threshold"), "left")
          .groupBy($"threshold")
          .agg(
            count($"i").as("n_truth"),
            (count(when($"ham" <= 3 && $"c".isNull, 1)) === 0)
              .as("blocking_lossless"))
          .orderBy($"threshold")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |p AS (SELECT i, j, round(common * 1.0 / (x.n + y.n - common), 3) AS jaccard
        |      FROM pairs pr JOIN sz x ON pr.i = x.doc_id
        |                    JOIN sz y ON pr.j = y.doc_id
        |      WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.9
        |        AND (pr.i % 10 = 0 OR pr.j % 10 = 0)),
        |th AS (SELECT CAST(x AS DOUBLE) AS threshold
        |       FROM (VALUES (0.90), (0.95)) v(x))
        |SELECT threshold, count(p.i) AS n_truth, true AS blocking_lossless
        |FROM th LEFT JOIN p ON p.jaccard >= th.threshold
        |GROUP BY threshold ORDER BY threshold""".stripMargin),

    // Near-dup CLUSTERING: connected components over the jaccard>=0.6 pair
    // graph — the step a real dedup pipeline needs after pair-finding (keep
    // one canonical doc per cluster, not per pair: pairs (a,b),(b,c) must
    // collapse to ONE group {a,b,c}). Pregel-style min-label propagation on
    // DataFrames: each iteration is one join+groupBy shuffle on doc_id;
    // iterations = component diameter (near-dup clusters are tiny/star-
    // shaped, so 2-4 rounds in practice, hard cap 20). localCheckpoint per
    // round cuts lineage so plans don't grow with iterations; the
    // convergence probe is a per-round driver boolean (the standard
    // iterative-algorithm control loop, not data movement). Oracled via a
    // DuckDB recursive CTE computing min-reachable-id per node.
    "llm_dedup_groups" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        nearDupComponents(s, dir, 0.6)
          .groupBy($"comp".as("group_id"))
          .agg(count(lit(1)).as("n_docs"), max($"id").as("max_doc"))
          .orderBy($"group_id")
      },
      """WITH RECURSIVE
        |t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 3
        |         THEN list_transform(generate_series(1, len(tl) - 2),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ds AS (SELECT DISTINCT doc_id, s FROM sh),
        |sz AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1),
        |pairs AS (SELECT a.doc_id i, b.doc_id j, count(*) common
        |          FROM ds a JOIN ds b USING (s)
        |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |qp AS (SELECT i, j
        |       FROM pairs p JOIN sz x ON p.i = x.doc_id JOIN sz y ON p.j = y.doc_id
        |       WHERE round(common * 1.0 / (x.n + y.n - common), 3) >= 0.6),
        |e AS (SELECT i, j FROM qp UNION SELECT j, i FROM qp),
        |reach(id, r) AS (
        |  SELECT i AS id, i AS r FROM e
        |  UNION
        |  SELECT e.i, reach.r FROM e JOIN reach ON reach.id = e.j),
        |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
        |SELECT comp AS group_id, count(*) AS n_docs, max(id) AS max_doc
        |FROM comp GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
