package graft.operators

import graft.{Artifacts, QueryDef, Tables}
import graft.text.TextOps
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text analysis + multimodal plumbing for training-data pipelines
  * (SURVEY.md §2.11): tokenize/stats, quality scoring, language ID, keyword
  * match, token counting, fingerprinting, binary-column decode stubs.
  *
  * Scale notes: all per-document work is narrow (no shuffle); langid builds a
  * tiny per-language profile (one agg) and broadcasts it; the multimodal
  * decode runs as mapPartitions over batches — the Scala analogue of
  * mapInPandas: per-partition batch processing with an explicit schema, which
  * is where a real image/audio decoder would run on executors.
  */
object LlmText {

  private val stopwords = Seq("a", "the")

  /** The source every corpus artifact below is stamped against. */
  private def docsSrc(dir: String): String = s"$dir/documents.parquet"

  /** Language profile (top-20 tokens per lang) as a STANDING ARTIFACT.
    * The profile costs a full corpus token explode + shuffle + per-lang
    * window, yet yields 5 rows that change only when the corpus does — at
    * 100 TB rebuilding it per query is a daily corpus-wide shuffle for a
    * static tiny artifact. The checkpoint is 5 rows, so the cache costs
    * nothing to hold. */
  private[graft] def langProfile(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("langProfile", dir, s, docsSrc(dir)) {
      import s.implicits._
      val tok = Tables.documents(s, dir)
        .select($"lang", explode(TextOps.tokenSet($"text")).as("tok"))
      tok.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"lang").orderBy($"c".desc, $"tok".asc)))
        .filter($"rn" <= 20)
        .groupBy($"lang").agg(collect_list($"tok").as("ptoks"))
        .select($"lang".as("plang"), $"ptoks")
        .localCheckpoint(true)
    }

  /** The data-derived phrase query shared by the MATCH_PHRASE family
    * (exact / prefix / edge): the corpus's most frequent true bigram as a
    * 1-row (ph: array<string>) DataFrame. Query DERIVATION is an offline
    * step at scale — a real deployment matches a user-given phrase against
    * the index — so the three keys share one corpus shingle pass instead
    * of re-deriving it each. */
  private[graft] def topBigram(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("topBigram", dir, s, docsSrc(dir)) {
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(TextOps.shinglesUdf(2)($"text")).as("bg"))
        // sub-2-token docs emit their whole text as a pseudo-shingle; a
        // phrase query must be a true bigram (see llm_match_phrase note)
        .filter(size(split($"bg", " ")) === 2)
        .groupBy($"bg").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"bg").limit(1)
        .select(split($"bg", " ").as("ph"))
        .localCheckpoint(true)
    }

  /** Corpus term-frequency table (doc_id, tok, tf) — the standing artifact
    * of the lexical-scoring family: llm_tfidf and llm_bm25 both consume it,
    * and their df (rows per tok) and dl (sum(tf) per doc) tables DERIVE
    * from it, so one checkpointed build replaces what was five separate
    * corpus explodes across the two keys. NOTE this caches the AGGREGATED
    * pair table (~tokens/doc_len smaller than the raw token stream) — the
    * measured anti-pattern was caching the exploded stream itself, which
    * broke whole-stage codegen for cheap recomputes; the post-shuffle
    * aggregate is the right materialization grain. */
  private[graft] def termStats(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("termStats", dir, s, docsSrc(dir)) {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
    }

  /** Per-document interpolated bigram LM score (the CCNet/KenLM-flavored
    * perplexity signal) — shared by llm_bigram_logprob (raw scores) and
    * llm_perplexity_bucket (per-language tercile partition). Returns
    * (doc_id, n_bigrams, logprob) with logprob rounded at 4 dp; see the
    * llm_bigram_logprob key comment for the plan-shape rationale.
    * CHECKPOINTED standing artifact (doc-count rows): both consumers
    * otherwise pay the full bigram explode + three token joins each — at
    * 100 TB the LM score table persists with the corpus and every filter
    * stage reads it. */
  private[graft] def bigramDocScore(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("bigramDocScore", dir, s, docsSrc(dir)) {
      bigramDocScoreBuild(s, dir).localCheckpoint(true)
    }

  /** Adjacent token pairs of a doc, one imperative pass — replaces the old
    * posexplode + lead-over-(doc_id ORDER BY pos) window spelling, whose
    * sort exchange ran TWICE (the bigram stream fed both the c2 count and
    * the scoring join with no checkpoint in between). Bigrams are a pure
    * per-row function of the token array, so no shuffle is needed at all
    * (r20, guide §2.4); same (w1, w2) multiset and order. */
  private[graft] val bigramsUdf = udf { text: String =>
    // -1 keeps trailing empty tokens, matching Spark's split in c1 below
    // and the oracle's string_split (TextOps.shinglesUdf rationale)
    val toks = text.toLowerCase.split("\\s+", -1)
    Array.tabulate(math.max(toks.length - 1, 0))(i => (toks(i), toks(i + 1)))
  }

  private def bigramDocScoreBuild(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // r20 restructure (guide §1.2/§2.4): the old build re-executed the
    // tokenize+explode subtree ~5× (c1, tot, and the window-sorted bigram
    // stream twice) and paid two window sort exchanges. Now: the bigram
    // stream is map-only (bigramsUdf) and checkpointed once for its two
    // consumers; c1 is checkpointed (vocabulary-sized standing stat, the
    // termStats economics) and reused for both token joins AND the corpus
    // total (tot = Σ c1.c — saves a third scan). Two document scans total.
    val bg = Tables.documents(s, dir)
      .select($"doc_id", explode(bigramsUdf($"text")).as("b"))
      .select($"doc_id", $"b._1".as("w1"), $"b._2".as("w2"))
      .localCheckpoint(true)
    val c1 = Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"w".as("cw")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val c2 = bg.groupBy($"w1".as("aw1"), $"w2".as("aw2"))
      .agg(count(lit(1)).as("c2"))
    val tot = c1.agg(sum($"c").as("n_total"))
    bg.join(c2, $"w1" === $"aw1" && $"w2" === $"aw2")
      .join(c1.toDF("j1", "ca"), $"w1" === $"j1")
      .join(c1.toDF("j2", "cb"), $"w2" === $"j2")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(lit(0.8) * $"c2".cast("double") / $"ca" +
          lit(0.2) * $"cb".cast("double") / $"n_total")), 4).as("logprob"))
  }

  /** Winnowing fingerprint build shared by llm_winnow / llm_winnow_pairs:
    * (doc_id, n_grams, fps) — k=4-token gram hashes and the w=5 window-min
    * selection. CHECKPOINTED, and not optional: downstream of a Generate,
    * Catalyst inlines the nested grams-HOF into the fps lambda and the
    * interpreted expression re-evaluates the whole gram array per window —
    * measured 203 s for a bare explode of this column at sf0.1 vs 0.9 s
    * for the same compute aggregated, an O(n²) md5 blow-up the checkpoint
    * (≈16 longs/doc) removes entirely. */
  private[graft] def winnowFps(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Artifacts.memo("winnowFps", dir, s, docsSrc(dir)) {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .withColumn("grams", expr(
          "transform(sequence(1, greatest(size(toks) - 3, 1)), i -> " +
            "cast(conv(substr(md5(array_join(slice(toks, i, 4), ' ')), " +
            "1, 8), 16, 10) as bigint))"))
        .select($"doc_id", size($"grams").as("n_grams"), expr(
          "array_distinct(transform(sequence(1, greatest(size(grams) - 4, 1)), " +
            "j -> array_min(slice(grams, j, 5))))").as("fps"))
        .localCheckpoint(true)
    }

  def queries: Map[String, QueryDef] = Map(
    // Tokenization + basic text stats (also exercises metadata filters).
    "llm_tokenize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TextOps.tokens($"text")
        Tables.documents(s, dir)
          .select($"doc_id", $"lang", $"source",
            size(t).as("n_tokens"),
            size(array_distinct(t)).as("n_distinct"),
            length($"text").as("n_chars_actual"),
            round(length($"text").cast("double") / size(t), 4).as("chars_per_token"))
          .filter($"lang".isin("es", "de", "zh"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id, lang, source,
        |  len(string_split(lower(text), ' ')) AS n_tokens,
        |  len(list_distinct(string_split(lower(text), ' '))) AS n_distinct,
        |  length(text) AS n_chars_actual,
        |  round(length(text) * 1.0 / len(string_split(lower(text), ' ')), 4) AS chars_per_token
        |FROM documents WHERE lang IN ('es', 'de', 'zh')
        |ORDER BY doc_id""".stripMargin),

    // Unigram log-probability quality score (the CCNet/KenLM-perplexity
    // idea with a unigram model, fully oracle-replayable): score(doc) =
    // avg over tokens of ln(count(tok)/N) = avg(ln c) − ln N. Low scores
    // flag gibberish/rare-token junk; high scores flag stopword soup —
    // both tails get cut in real pipelines. The unigram table is a
    // corpus-wide standing artifact at 100 TB (rebuilt with the corpus,
    // like the langid profile); the scoring pass is one tok-join against
    // it plus a per-doc aggregate, and the 1-row corpus total attaches to
    // the per-DOC aggregates (broadcast crossJoin of aggregated rows ×
    // 1 row — the llm_decontaminate pattern), never to the token stream.
    "llm_unigram_logprob" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // everything derives from the shared termStats checkpoint (the
        // lexical family's standing artifact): the unigram model c(tok) is
        // sum(tf) per tok, the corpus total is sum(tf), and the per-doc
        // average over token INSTANCES folds to sum(tf·ln c)/sum(tf) — so
        // the key re-explodes the corpus zero times (it used to pay three
        // explodes; the raw token stream itself is never worth caching)
        val tf = termStats(s, dir)
        val uni = tf.groupBy($"tok").agg(sum($"tf").as("c"))
        val totalN = tf.agg(sum($"tf").as("n_total"))
        tf.join(uni, "tok")
          .groupBy($"doc_id")
          .agg((sum($"tf" * log($"c")) / sum($"tf")).as("alc"),
            sum($"tf").as("n_toks"))
          .join(Tables.documents(s, dir).select($"doc_id", $"source"), "doc_id")
          .crossJoin(broadcast(totalN))
          .select($"doc_id", $"source", $"n_toks",
            round($"alc" - log($"n_total"), 4).as("logprob"))
          .orderBy($"doc_id")
      },
      """WITH toks AS (SELECT doc_id, source,
        |                unnest(string_split(lower(text), ' ')) AS tok
        |              FROM documents),
        |uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT doc_id, source, count(*) AS n_toks,
        |  round(avg(ln(c)) - (SELECT ln(n) FROM tot), 4) AS logprob
        |FROM toks JOIN uni USING (tok)
        |GROUP BY doc_id, source ORDER BY doc_id""".stripMargin)
      .staged(termStats),

    // Interpolated BIGRAM log-probability — the KenLM-flavored upgrade of
    // the unigram score (CCNet filters on n-gram LM perplexity; the bigram
    // form keeps the same distributed plan shape at any order):
    // score(doc) = avg over bigram instances of
    // ln(0.8·c2(w1,w2)/c1(w1) + 0.2·c1(w2)/N) — the interpolation keeps
    // docs with corpus-unseen continuations finite, which is what makes
    // the score a usable filter threshold. Plan shape (r20, see
    // bigramDocScoreBuild): bigrams come from the map-only bigramsUdf
    // (one imperative pass per row — no posexplode, no per-doc window
    // sort), the bigram stream and the vocabulary-sized c1 table are each
    // checkpointed once for their consumers, the corpus total derives
    // from c1 (Σc — no third document scan), and scoring is three hash
    // joins on token keys plus one per-doc aggregate with the 1-row
    // corpus total broadcast map-side.
    "llm_bigram_logprob" -> QueryDef(
      (s, dir) => bigramDocScore(s, dir)
        .orderBy(org.apache.spark.sql.functions.col("doc_id")),
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |ti AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |p AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i])) AS w1,
        |        unnest(list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i+1])) AS w2
        |      FROM t WHERE len(toks) >= 2),
        |c1 AS (SELECT w, count(*) AS c FROM ti GROUP BY 1),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM p GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n FROM ti)
        |SELECT p.doc_id, count(*) AS n_bigrams,
        |  round(avg(ln(0.8 * CAST(c2.c AS DOUBLE) / ca.c
        |    + 0.2 * CAST(cb.c AS DOUBLE) / (SELECT n FROM tot))), 4) AS logprob
        |FROM p
        |JOIN c2 ON c2.w1 = p.w1 AND c2.w2 = p.w2
        |JOIN c1 ca ON ca.w = p.w1
        |JOIN c1 cb ON cb.w = p.w2
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin)
      .staged(bigramDocScore),

    // CCNet PERPLEXITY BUCKETING (Wenzek et al. 2020): partition each
    // language's documents into head/middle/tail terciles by LM score —
    // the curation step real pretraining corpora apply right after
    // language ID (train on head+middle, sample or drop tail). Scoring is
    // the shared bigramDocScore artifact; the bucket assignment is one
    // ntile(3) window PARTITIONED BY LANGUAGE, so at 100 TB the sort is
    // per-language-partition (never global) and composes with the same
    // doc-count-sized rows every per-doc scorer emits. Determinism: ntile
    // runs over the (logprob 4dp desc, doc_id) total order — the 4 dp
    // rounding is the proven llm_bigram_logprob contract, so both engines
    // see identical orderings and identical tercile cut points. Docs
    // shorter than 2 tokens carry no bigram signal and are out of scope
    // (inner join), matching the scorer key.
    "llm_perplexity_bucket" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val scored = bigramDocScore(s, dir)
          .join(Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id")
        scored
          .withColumn("bucket", ntile(3).over(
            Window.partitionBy($"lang").orderBy($"logprob".desc, $"doc_id")))
          .groupBy($"lang", $"bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum($"doc_id").as("sum_doc_ids"),
            min($"logprob").as("min_logprob"),
            max($"logprob").as("max_logprob"))
          .select($"lang", $"bucket",
            when($"bucket" === 1, "head").when($"bucket" === 2, "middle")
              .otherwise("tail").as("tier"),
            $"n_docs", $"sum_doc_ids", $"min_logprob", $"max_logprob")
          .orderBy($"lang", $"bucket")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents),
        |ti AS (SELECT doc_id, unnest(toks) AS w FROM t),
        |p AS (SELECT doc_id,
        |        unnest(list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i])) AS w1,
        |        unnest(list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i+1])) AS w2
        |      FROM t WHERE len(toks) >= 2),
        |c1 AS (SELECT w, count(*) AS c FROM ti GROUP BY 1),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM p GROUP BY 1, 2),
        |tot AS (SELECT count(*) AS n FROM ti),
        |lp AS (SELECT p.doc_id,
        |         round(avg(ln(0.8 * CAST(c2.c AS DOUBLE) / ca.c
        |           + 0.2 * CAST(cb.c AS DOUBLE) / (SELECT n FROM tot))), 4)
        |           AS logprob
        |       FROM p
        |       JOIN c2 ON c2.w1 = p.w1 AND c2.w2 = p.w2
        |       JOIN c1 ca ON ca.w = p.w1
        |       JOIN c1 cb ON cb.w = p.w2
        |       GROUP BY p.doc_id),
        |bk AS (SELECT d.lang, lp.doc_id, lp.logprob,
        |         ntile(3) OVER (PARTITION BY d.lang
        |           ORDER BY lp.logprob DESC, lp.doc_id) AS bucket
        |       FROM lp JOIN documents d USING (doc_id))
        |SELECT lang, bucket,
        |  CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS tier,
        |  count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids,
        |  min(logprob) AS min_logprob, max(logprob) AS max_logprob
        |FROM bk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .staged(bigramDocScore),

    // TF-IDF top terms per document — the classic corpus-relevance signal
    // (keyword extraction, near-dup triage, topic labeling). score(d, t) =
    // tf(d,t) * ln(N / df(t)). Same standing-artifact economics as the
    // unigram model: at 100 TB the df table persists with the corpus and
    // the scoring pass is one token join + a per-doc WindowGroupLimit
    // (row_number <= k pushes the top-k INTO the sort, never a full
    // per-doc rank materialization). The rank ties only between terms with
    // identical (tf, df) — identical doubles on both engines — and the tok
    // tiebreak makes the k-boundary deterministic, so the DuckDB QUALIFY
    // replay slices identically.
    "llm_tfidf" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val tf = termStats(s, dir)
        // df falls out of tf (rows per tok = docs containing tok) — no
        // second explode, no distinct shuffle over the raw token stream
        val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
        tf.join(df, "tok")
          .crossJoin(broadcast(n))
          .withColumn("score", $"tf" * log($"n_docs".cast("double") / $"df"))
          .withColumn("rk", row_number().over(
            Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok")))
          .filter($"rk" <= 3)
          .select($"doc_id", $"tok", round($"score", 4).as("score"))
          .orderBy($"doc_id", $"tok")
      },
      """WITH tl AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |            FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tl GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tl GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, tok, round(score, 4) AS score FROM (
        |  SELECT doc_id, tok, tf * ln(n_docs * 1.0 / df) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |  QUALIFY row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, tok) <= 3) t
        |ORDER BY doc_id, tok""".stripMargin)
      .staged(termStats),

    // WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    // algorithm): hash every k=4-token gram, slide a w=5 window over the
    // hash sequence, keep each window's minimum — the selected set carries
    // a GUARANTEE MinHash can't give: any two documents sharing a
    // contiguous run of >= w+k-1 = 8 tokens share at least one
    // fingerprint (spec-pinned), with density ~2/(w+1) of the grams.
    // (Classic winnowing breaks min-ties rightmost to thin the selection
    // further; plain min keeps the guarantee and stays HOF-expressible.)
    // Pure per-row codegen HOFs — a map-only pass at any corpus size; the
    // cross-engine hash is the md5-hex-prefix idiom llm_split uses.
    "llm_winnow" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        winnowFps(s, dir)
          .select($"doc_id", $"n_grams",
            size($"fps").as("n_fps"),
            array_min($"fps").as("fp_min"),
            array_max($"fps").as("fp_max"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(generate_series(1, greatest(len(toks) - 3, 1)),
        |          i -> CAST(concat('0x',
        |            substr(md5(array_to_string(toks[i : i+3], ' ')), 1, 8))
        |            AS BIGINT)) grams
        |      FROM t),
        |f AS (SELECT doc_id, grams,
        |        list_distinct(list_transform(
        |          generate_series(1, greatest(len(grams) - 4, 1)),
        |          j -> list_min(grams[j : j+4]))) fps
        |      FROM g)
        |SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
        |  CAST(len(fps) AS INT) AS n_fps,
        |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM f ORDER BY doc_id""".stripMargin)
      .staged(winnowFps),

    // Winnow-blocked candidate pairs — the dedup application of the
    // fingerprints: explode each doc's selection, self-join on the
    // fingerprint value, distinct (i < j). By the winnowing guarantee the
    // candidate set CONTAINS every pair sharing an 8+-token run (no
    // misses, unlike LSH's probabilistic recall); cost is O(colliding
    // pairs) through one fingerprint-bucket shuffle — the same blocked
    // shape as the minhash band join, never corpus × corpus.
    "llm_winnow_pairs" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val e = winnowFps(s, dir)
          .select($"doc_id", explode($"fps").as("fp"))
        e.toDF("i", "fp")
          .join(e.toDF("j", "fp2"), $"fp" === $"fp2" && $"i" < $"j")
          .select($"i", $"j").distinct()
          .orderBy($"i", $"j")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(generate_series(1, greatest(len(toks) - 3, 1)),
        |          i -> CAST(concat('0x',
        |            substr(md5(array_to_string(toks[i : i+3], ' ')), 1, 8))
        |            AS BIGINT)) grams
        |      FROM t),
        |e AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        generate_series(1, greatest(len(grams) - 4, 1)),
        |        j -> list_min(grams[j : j+4])))) fp
        |      FROM g)
        |SELECT a.doc_id AS i, b.doc_id AS j
        |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .staged(winnowFps),

    // RAG-style document chunking — fixed token windows (64) with stride 48
    // (16-token overlap), the standard retrieval-corpus preparation step.
    // One transform-over-sequence builds every chunk's slice lazily and
    // posexplode fans them out in a single GenerateExec: per-row codegen,
    // zero shuffles before the output sort, so at 100 TB chunking is a
    // map-only pass whose output row count is corpus_tokens/stride. The
    // short final chunk is kept (slice clamps), matching what a retrieval
    // index wants — dropping tails would lose document endings.
    "llm_chunk" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .filter($"doc_id" < 60)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .select($"doc_id", posexplode(expr(
            "transform(sequence(0, cast(ceil(size(toks)/48.0) as int) - 1)," +
              " i -> slice(toks, i*48 + 1, 64))")).as(Seq("chunk_idx", "ctoks")))
          .select($"doc_id", $"chunk_idx",
            size($"ctoks").as("chunk_tokens"),
            array_join($"ctoks", " ").as("chunk"))
          .orderBy($"doc_id", $"chunk_idx")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
        |           FROM documents WHERE doc_id < 60),
        |c AS (SELECT doc_id, toks,
        |        unnest(generate_series(0, CAST(ceil(len(toks)/48.0) AS INT) - 1))
        |          AS chunk_idx
        |      FROM t)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64]) AS INT)
        |    AS chunk_tokens,
        |  array_to_string(toks[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ')
        |    AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // BM25 retrieval scoring (Robertson/Okapi, k1=1.2 b=0.75, the +1 idf
    // variant) — the standard lexical ranker a retrieval corpus serves.
    // The query is data-derived (top-3 tokens by document frequency,
    // deterministic per dataset) so the key replays at any SF. Shape at
    // 100 TB: tf/dl/df are the same standing artifacts the tfidf key
    // maintains; the query-term table is 3 rows BROADCAST into the tf
    // stream, so scoring is one map-side join + a per-doc aggregate —
    // the corpus never shuffles for a query. Every matching doc is
    // emitted ordered by doc_id (the top-k cut composes with sort_topk);
    // n_terms_hit pins the join fan-in alongside the float score.
    "llm_bm25" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val tf = termStats(s, dir)
        val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
        val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val q = df.orderBy($"df".desc, $"tok").limit(3)
        val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
          avg($"dl").as("avgdl"))
        tf.join(broadcast(q), "tok")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("w",
            log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
              ($"tf" * 2.2) /
              ($"tf" + (lit(0.25) + $"dl" / $"avgdl" * 0.75) * 1.2))
          .groupBy($"doc_id")
          .agg(round(sum($"w"), 4).as("bm25"),
            count(lit(1)).as("n_terms_hit"))
          .orderBy($"doc_id")
      },
      """WITH tl AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |            FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tl GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tl GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 3),
        |s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
        |      FROM dl)
        |SELECT doc_id,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
        |    (tf * 2.2) / (tf + (0.25 + dl / avgdl * 0.75) * 1.2)), 4) AS bm25,
        |  count(*) AS n_terms_hit
        |FROM tf JOIN q USING (tok) JOIN dl USING (doc_id) CROSS JOIN s
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .staged(termStats),

    // Quality scoring: length/stopword/repetition signals -> one score.
    "llm_quality" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TextOps.tokens($"text")
        val nTok = size(t).cast("double")
        val nStop = size(filter(t, x => x.isin(stopwords: _*))).cast("double")
        val nDist = size(array_distinct(t)).cast("double")
        // round(x + 1e-9, 4): same boundary-stabilizing nudge as llm_cosine
        // (Spark decimal-repr HALF_UP vs DuckDB binary round diverged by
        // 1 ulp on one sf1 row, 0.5963 vs 0.5962); all inputs here are
        // positive rationals so no signed-zero guard is needed
        Tables.documents(s, dir)
          .select($"doc_id",
            round(nStop / nTok + lit(1e-9), 4).as("stopword_ratio"),
            round(nDist / nTok + lit(1e-9), 4).as("distinct_ratio"),
            round(nTok / 100.0 + lit(1e-9), 4).as("len_signal"),
            round(
              least(nTok / 100.0, lit(1.0)) * 0.3
                + (lit(1.0) - nStop / nTok) * 0.2
                + (nDist / nTok) * 0.5 + lit(1e-9), 4).as("quality"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(tl) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(tl, x -> x IN ('a', 'the'))) AS DOUBLE) AS n_stop,
        |    CAST(len(list_distinct(tl)) AS DOUBLE) AS n_dist
        |  FROM t)
        |SELECT doc_id,
        |  round(n_stop / n_tok + 1e-9, 4) AS stopword_ratio,
        |  round(n_dist / n_tok + 1e-9, 4) AS distinct_ratio,
        |  round(n_tok / 100.0 + 1e-9, 4) AS len_signal,
        |  round(least(n_tok / 100.0, 1.0) * 0.3
        |        + (1.0 - n_stop / n_tok) * 0.2
        |        + (n_dist / n_tok) * 0.5 + 1e-9, 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin),

    // GOPHER QUALITY RULES (Rae et al. 2021, Appendix A — the canonical
    // public heuristic filter set for web-scale pretraining corpora), the
    // document-level subset expressible over this corpus: word-count bounds
    // [50, 100k], mean word length in [3, 10] chars, symbol-to-word ratio
    // ('#' and '...') <= 0.1, >= 80% of words containing an alphabetic
    // character, and >= 2 distinct stopwords present (the paper's "stop
    // word" guard against keyword-stuffing pages). Every predicate is
    // spelled over INTEGER comparisons (3*n <= chars <= 10*n instead of a
    // float mean; 5*alpha >= 4*n instead of a 0.8 ratio) so the flags are
    // bit-exact across engines with no round() boundary hazard — the
    // llm_cosine/llm_quality 1-ulp lesson applied at design time. Per-row
    // map-only work, no shuffle: the filter column costs nothing at 100 TB.
    "llm_gopher_rules" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TextOps.tokens($"text")
        val nWords = size(t).cast("long")
        val sumChars = aggregate(transform(t, x => length(x)),
          lit(0), (a, x) => a + x).cast("long")
        val nAlpha = size(filter(t, x => x.rlike("[a-z]"))).cast("long")
        val nHash = (length($"text") -
          length(replace($"text", lit("#"), lit("")))).cast("long")
        val nEllipsis = ((length($"text") -
          length(replace($"text", lit("..."), lit("")))) / 3).cast("long")
        val stops = Seq("a", "the", "be", "to", "of", "and", "that",
          "have", "with")
        val stopHits = stops.map(w =>
          when(array_contains(t, w), 1L).otherwise(0L)).reduce(_ + _)
        Tables.documents(s, dir)
          .select($"doc_id", nWords.as("n_words"),
            nWords.between(50L, 100000L).as("r_word_count"),
            (lit(3L) * nWords <= sumChars &&
              sumChars <= lit(10L) * nWords).as("r_mean_word_len"),
            (lit(10L) * (nHash + nEllipsis) <= nWords).as("r_symbol_ratio"),
            (lit(5L) * nAlpha >= lit(4L) * nWords).as("r_alpha_words"),
            (stopHits >= 2L).as("r_stopwords"))
          .withColumn("keep", $"r_word_count" && $"r_mean_word_len" &&
            $"r_symbol_ratio" && $"r_alpha_words" && $"r_stopwords")
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') tl FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(tl) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(tl, x -> len(x))) AS BIGINT) AS sum_chars,
        |    CAST(len(list_filter(tl, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ellipsis,
        |    (CASE WHEN list_contains(tl, 'a') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'the') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'be') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'to') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'of') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'and') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'that') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'have') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(tl, 'with') THEN 1 ELSE 0 END) AS stop_hits
        |  FROM t)
        |SELECT doc_id, n_words,
        |  n_words BETWEEN 50 AND 100000 AS r_word_count,
        |  3 * n_words <= sum_chars AND sum_chars <= 10 * n_words AS r_mean_word_len,
        |  10 * (n_hash + n_ellipsis) <= n_words AS r_symbol_ratio,
        |  5 * n_alpha >= 4 * n_words AS r_alpha_words,
        |  stop_hits >= 2 AS r_stopwords,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words)
        |    AND (10 * (n_hash + n_ellipsis) <= n_words)
        |    AND (5 * n_alpha >= 4 * n_words)
        |    AND (stop_hits >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),

    // Language ID: data-derived n-gram/token profiles (top-20 tokens per
    // lang), broadcast back, argmax overlap. Reports per-lang accuracy.
    // Scoring is per-row set intersection against the 5-row broadcast
    // profile — NOT a token-level join: scoring touches |docs|×|langs|
    // rows instead of |tokens|×|profile| join rows (recorded bench runs:
    // 7.5 s pre-rewrite -> 2.5 s, sf0.1; identical answers because
    // tokenSet is distinct, so |set ∩ profile| == the join-count it
    // replaces). The profile itself is a standing artifact (langProfile
    // above) — the treatment a production pipeline gives it — so
    // steady-state runs pay only the map-only scoring pass.
    "llm_langid" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val profile = langProfile(s, dir)
        val scored = docs
          .select($"doc_id", $"lang", TextOps.tokenSet($"text").as("toks"))
          .crossJoin(broadcast(profile))
          .select($"doc_id", $"lang", $"plang",
            size(array_intersect($"toks", $"ptoks")).as("overlap"))
          .filter($"overlap" > 0)
          .withColumn("rn", row_number().over(
            Window.partitionBy($"doc_id").orderBy($"overlap".desc, $"plang".asc)))
          .filter($"rn" === 1)
        scored.groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(($"plang" === $"lang").cast("long")).as("n_predicted_self"))
          .orderBy($"lang")
      },
      """WITH tok AS (SELECT doc_id, lang, unnest(list_distinct(string_split(lower(text), ' '))) tok
        |  FROM documents),
        |prof AS (SELECT lang AS plang, tok FROM (
        |    SELECT lang, tok, count(*) c,
        |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok ASC) rn
        |    FROM tok GROUP BY lang, tok) p
        |  WHERE rn <= 20),
        |scored AS (SELECT doc_id, lang, plang, count(*) overlap
        |  FROM tok JOIN prof USING (tok) GROUP BY 1, 2, 3),
        |best AS (SELECT doc_id, lang, plang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, plang ASC) rn
        |  FROM scored)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN plang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_predicted_self
        |FROM best WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin)
      .staged(langProfile),

    // Inverted keyword match: MATCH_ANY / MATCH_ALL over the token index.
    "llm_match" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = TextOps.tokenSet($"text")
        Tables.documents(s, dir)
          .select($"doc_id", t.as("toks"))
          .select($"doc_id",
            array_contains($"toks", "spark").cast("int").as("has_spark"),
            arrays_overlap($"toks", array(lit("spark"), lit("flink"))).cast("int").as("match_any"),
            (array_contains($"toks", "spark") && array_contains($"toks", "join"))
              .cast("int").as("match_all"))
          .filter($"match_any" === 1)
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |  CAST(list_contains(tl, 'spark') AS INTEGER) AS has_spark,
        |  CAST(list_contains(tl, 'spark') OR list_contains(tl, 'flink') AS INTEGER) AS match_any,
        |  CAST(list_contains(tl, 'spark') AND list_contains(tl, 'join') AS INTEGER) AS match_all
        |FROM (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) tl FROM documents) t
        |WHERE list_contains(tl, 'spark') OR list_contains(tl, 'flink')
        |ORDER BY doc_id""".stripMargin),

    // MATCH_PHRASE (Doris 2.x inverted index, [doris: be/src/olap/rowset/
    // segment_v2/inverted_index_reader.cpp]): ordered token ADJACENCY, the
    // semantics MATCH_ALL can't express (both words present ≠ the phrase).
    // The phrase is data-derived (the bigram in the most docs — the
    // llm_bm25 data-derived-query pattern, so the key replays at any SF),
    // built by the single-pass shingle UDF (the interpreted nested-HOF
    // spelling measured 2× slower — same class as the llm_repetition
    // finding), and broadcast as one row. The probe mirrors how a real
    // inverted index serves MATCH_PHRASE at 100 TB: the index first
    // narrows to docs containing BOTH tokens (codegen'd array_contains =
    // llm_match's shape), and only those candidates pay the positional
    // adjacency check.
    "llm_match_phrase" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // shared standing query artifact (see topBigram): without the
        // true-bigram guard there, a degenerate corpus would leave ph with
        // one element (the probe would throw where the oracle degrades to
        // empty)
        val top = topBigram(s, dir)
        // single-pass imperative adjacency probe: the declarative exists-
        // over-positions spelling re-evaluates the inlined split per
        // position (interpreted lambda — measured no faster than the
        // nested-HOF bigram build it replaced), while this UDF walks the
        // token array once; array_contains (codegen) narrows first
        val phraseHit = udf((toks: Seq[String], ph: Seq[String]) =>
          toks.length >= 2 && toks.indices.init.exists(i =>
            toks(i) == ph.head && toks(i + 1) == ph(1)))
        Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .crossJoin(broadcast(top))
          .filter(array_contains($"toks", expr("element_at(ph, 1)")) &&
            array_contains($"toks", expr("element_at(ph, 2)")))
          .filter(phraseHit($"toks", $"ph"))
          .select($"doc_id", size($"toks").as("n_tokens"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) >= 2
        |        THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1]))
        |        ELSE [array_to_string(toks, ' ')] END) bg
        |      FROM t),
        |q AS (SELECT string_split(bg, ' ') ph FROM (
        |        SELECT bg, count(*) n FROM b
        |        WHERE len(string_split(bg, ' ')) = 2
        |        GROUP BY 1 ORDER BY n DESC, bg LIMIT 1))
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens
        |FROM t CROSS JOIN q
        |WHERE list_contains(toks, ph[1]) AND list_contains(toks, ph[2])
        |  AND len(list_filter(generate_series(1, len(toks) - 1),
        |        i -> toks[i] = ph[1] AND toks[i+1] = ph[2])) > 0
        |ORDER BY doc_id""".stripMargin),

    // MATCH_PHRASE_PREFIX with slop<=1 — the as-you-type phrase predicate
    // (Doris match_phrase_prefix [doris: be/src/olap/rowset/segment_v2/
    // inverted_index_reader.cpp]): first word exact, TRAILING word matched
    // by prefix ("machine lea" hits "machine learning"), and one optional
    // intervening token (slop 1). Same post-index verify shape as
    // llm_match_phrase: codegen'd candidate narrowing first
    // (array_contains on the exact word + an exists-HOF prefix probe —
    // both whole-stage codegen over the token array), then only the
    // narrowed candidates pay the single-pass positional UDF. At 100 TB
    // the narrowing is the inverted-index lookup and the verify touches
    // O(candidate) rows, never the corpus.
    "llm_match_phrase_prefix" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val top = topBigram(s, dir)
          .select(expr("element_at(ph, 1)").as("w1"),
            expr("substring(element_at(ph, 2), 1, 3)").as("p2"))
        val prefixHit = udf((toks: Seq[String], w1: String, p2: String) =>
          toks.length >= 2 && toks.indices.init.exists(i =>
            toks(i) == w1 && (toks(i + 1).startsWith(p2) ||
              (i + 2 < toks.length && toks(i + 2).startsWith(p2)))))
        Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .crossJoin(broadcast(top))
          .filter(array_contains($"toks", $"w1") &&
            exists($"toks", t => t.startsWith($"p2")))
          .filter(prefixHit($"toks", $"w1", $"p2"))
          .select($"doc_id", size($"toks").as("n_tokens"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) >= 2
        |        THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1]))
        |        ELSE [array_to_string(toks, ' ')] END) bg
        |      FROM t),
        |q AS (SELECT ph[1] AS w1, ph[2][1:3] AS p2 FROM (
        |        SELECT string_split(bg, ' ') ph FROM (
        |          SELECT bg, count(*) n FROM b
        |          WHERE len(string_split(bg, ' ')) = 2
        |          GROUP BY 1 ORDER BY n DESC, bg LIMIT 1)))
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens
        |FROM t CROSS JOIN q
        |WHERE list_contains(toks, w1)
        |  AND len(list_filter(generate_series(1, len(toks) - 1),
        |        i -> toks[i] = w1 AND (starts_with(toks[i+1], p2)
        |          OR (i + 2 <= len(toks) AND starts_with(toks[i+2], p2))))) > 0
        |ORDER BY doc_id""".stripMargin),

    // MATCH_PHRASE_EDGE — the third Doris inverted-index phrase variant
    // ([doris: be/src/olap/rowset/segment_v2/inverted_index_reader.cpp],
    // match_phrase_edge in 2.x): the LEADING word matches by SUFFIX and the
    // TRAILING word by PREFIX ("ine lea" hits "machine learning") — the
    // mid-phrase-as-you-type predicate, completing the family
    // (llm_match_phrase = exact adjacency, _prefix = trailing prefix,
    // _edge = both edges open). Query is data-derived like its siblings
    // (suffix-3 of word 1 + prefix-3 of word 2 of the top bigram). Same
    // post-index verify shape: candidate narrowing by two codegen'd
    // exists-HOFs over the token array (at 100 TB this is the edge-ngram
    // index lookup — Doris builds exactly such an edge n-gram dictionary),
    // and only narrowed candidates pay the single-pass adjacency UDF.
    "llm_match_phrase_edge" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val top = topBigram(s, dir)
          .select(
            expr("substring(element_at(ph, 1), " +
              "-least(3, length(element_at(ph, 1))))").as("s1"),
            expr("substring(element_at(ph, 2), 1, 3)").as("p2"))
        val edgeHit = udf((toks: Seq[String], s1: String, p2: String) =>
          toks.length >= 2 && toks.indices.init.exists(i =>
            toks(i).endsWith(s1) && toks(i + 1).startsWith(p2)))
        Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .crossJoin(broadcast(top))
          .filter(exists($"toks", t => t.endsWith($"s1")) &&
            exists($"toks", t => t.startsWith($"p2")))
          .filter(edgeHit($"toks", $"s1", $"p2"))
          .select($"doc_id", size($"toks").as("n_tokens"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |b AS (SELECT unnest(CASE WHEN len(toks) >= 2
        |        THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i+1]))
        |        ELSE [array_to_string(toks, ' ')] END) bg
        |      FROM t),
        |q AS (SELECT ph[1][-least(3, length(ph[1])):] AS s1, ph[2][1:3] AS p2
        |      FROM (
        |        SELECT string_split(bg, ' ') ph FROM (
        |          SELECT bg, count(*) n FROM b
        |          WHERE len(string_split(bg, ' ')) = 2
        |          GROUP BY 1 ORDER BY n DESC, bg LIMIT 1)))
        |SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens
        |FROM t CROSS JOIN q
        |WHERE len(list_filter(generate_series(1, len(toks) - 1),
        |        i -> ends_with(toks[i], s1) AND starts_with(toks[i+1], p2))) > 0
        |ORDER BY doc_id""".stripMargin),

    // MATCH_REGEXP (Doris 2.x inverted index) — regex matching served FROM
    // the index, not by scanning every token: extract a literal PREFIX from
    // the (anchored) pattern and narrow to docs owning a token with that
    // prefix first — exactly how Lucene/Doris run regex queries against the
    // term dictionary (determinize, walk the literal prefix range) — then
    // only candidates pay the per-token regex verify. Query is data-derived
    // (most frequent pure-alpha token ≥ 6 chars → pattern
    // ^<first3>[a-z]*<last char>$, alpha-only so no metacharacter can leak
    // into the pattern); the prefix probe is a codegen'd exists-HOF, the
    // verify a non-foldable regexp_like (pattern arrives as a column from
    // the 1-row broadcast). Both engines anchor-and-search with the same
    // semantics, so the key hash-compares at any SF.
    "llm_match_regexp" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val top = Tables.documents(s, dir)
          .select(explode(TextOps.tokenSet($"text")).as("tok"))
          .filter($"tok".rlike("^[a-z]{6,}$"))
          .groupBy($"tok").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"tok").limit(1)
          .select(substring($"tok", 1, 3).as("p3"),
            concat(lit("^"), substring($"tok", 1, 3), lit("[a-z]*"),
              substring($"tok", -1, 1), lit("$")).as("rx"))
        Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .crossJoin(broadcast(top))
          .filter(exists($"toks", t => t.startsWith($"p3")))
          .withColumn("n_match",
            size(expr("filter(toks, t -> regexp_like(t, rx))")))
          .filter($"n_match" > 0)
          .select($"doc_id", $"n_match", size($"toks").as("n_tokens"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |tok AS (SELECT unnest(list_distinct(toks)) tok FROM t),
        |q AS (SELECT tok[1:3] AS p3,
        |        '^' || tok[1:3] || '[a-z]*' || tok[length(tok):] || '$' AS rx
        |      FROM (SELECT tok, count(*) n FROM tok
        |            WHERE regexp_matches(tok, '^[a-z]{6,}$')
        |            GROUP BY 1 ORDER BY n DESC, tok LIMIT 1))
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> regexp_matches(x, rx))) AS INT) AS n_match,
        |  CAST(len(toks) AS INT) AS n_tokens
        |FROM t CROSS JOIN q
        |WHERE len(list_filter(toks, x -> regexp_matches(x, rx))) > 0
        |ORDER BY doc_id""".stripMargin),

    // Token counting: whitespace split, the zero-allocation codegen'd
    // TokenCount expression, BPE-ish regex pieces, chars/4 heuristic.
    "llm_token_count" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.TokenCount.register(s)
        Tables.documents(s, dir)
          .select($"doc_id",
            size(split($"text", "\\s+")).as("ws_tokens"),
            graft.functions.TokenCount.token_count($"text").as("tc_tokens"),
            size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)")).as("bpe_ish_tokens"),
            ceil(length($"text") / 4.0).cast("long").as("chars_div4"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS tc_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_ish_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS chars_div4
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Sequence/context packing — the pretraining step that assembles docs
    // into fixed token-budget contexts (2048 here). Greedy sequential
    // packing per language shard: running token total ordered by doc_id,
    // context id = floor((cum - own) / budget), so docs are never split and
    // assignment is deterministic. One window shuffle per shard; at 100 TB
    // the shard key is (lang, hash-bucket) so no single ordered window spans
    // the corpus.
    "llm_context_pack" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.TokenCount.register(s)
        val toks = Tables.documents(s, dir)
          .select($"doc_id", $"lang",
            graft.functions.TokenCount.token_count($"text").as("n_tok"))
        toks
          .withColumn("cum", sum($"n_tok").over(
            Window.partitionBy($"lang").orderBy($"doc_id")))
          .withColumn("ctx_id", floor(($"cum" - $"n_tok") / 2048).cast("long"))
          .groupBy($"lang", $"ctx_id")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("ctx_tokens"),
            min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
          .orderBy($"lang", $"ctx_id")
      },
      """SELECT lang, ctx_id, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS ctx_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM (SELECT doc_id, lang, n_tok,
        |    CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                - n_tok) / 2048) AS BIGINT) AS ctx_id
        |  FROM (SELECT doc_id, lang,
        |      len(string_split_regex(trim(text), '\s+')) AS n_tok
        |    FROM documents) t) p
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // End-to-end curation pipeline — the composition proof: exact dedup
    // (keep lowest doc_id per content hash) -> quality gate (token-count
    // band) -> deterministic md5 sample (50%) -> context packing (2048
    // tokens, per lang), reported as per-language funnel counts. Every
    // stage is one of this engine's operators chained as plain DataFrame
    // transforms; total shuffles: content-hash window + lang window + final
    // groupBy — nothing quadratic, nothing driver-side.
    "llm_pipeline_e2e" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        graft.functions.TokenCount.register(s)
        val staged = Tables.documents(s, dir)
          .withColumn("dup_rn", row_number().over(
            Window.partitionBy(sha2($"text", 256)).orderBy($"doc_id")))
          .withColumn("n_tok",
            graft.functions.TokenCount.token_count($"text"))
          .withColumn("is_kept", ($"dup_rn" === 1).cast("int"))
          .withColumn("passes_q",
            ($"dup_rn" === 1 && $"n_tok".between(5, 1000)).cast("int"))
          .withColumn("sampled",
            ($"passes_q" === 1 &&
              conv(substring(md5($"text"), 1, 4), 16, 10).cast("long") % 100 < 50)
              .cast("int"))
        val counts = staged.groupBy($"lang")
          .agg(count(lit(1)).as("n_in"),
            sum($"is_kept").as("n_dedup"),
            sum($"passes_q").as("n_quality"),
            sum($"sampled").as("n_sampled"))
        val packed = staged.filter($"sampled" === 1)
          .withColumn("cum", sum($"n_tok").over(
            Window.partitionBy($"lang").orderBy($"doc_id")))
          .withColumn("ctx_id", floor(($"cum" - $"n_tok") / 2048).cast("long"))
          .groupBy($"lang")
          .agg(countDistinct($"ctx_id").as("n_contexts"),
            sum($"n_tok").as("total_tokens"))
        counts.join(packed, Seq("lang"), "left")
          .orderBy($"lang")
      },
      """WITH staged AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS dup_rn,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tok,
        |    CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 AS h
        |  FROM documents),
        |flags AS (
        |  SELECT lang, doc_id, n_tok,
        |    CASE WHEN dup_rn = 1 THEN 1 ELSE 0 END AS is_kept,
        |    CASE WHEN dup_rn = 1 AND n_tok BETWEEN 5 AND 1000 THEN 1 ELSE 0 END AS passes_q,
        |    CASE WHEN dup_rn = 1 AND n_tok BETWEEN 5 AND 1000 AND h < 50 THEN 1 ELSE 0 END AS sampled
        |  FROM staged),
        |counts AS (
        |  SELECT lang, count(*) AS n_in,
        |    CAST(sum(is_kept) AS BIGINT) AS n_dedup,
        |    CAST(sum(passes_q) AS BIGINT) AS n_quality,
        |    CAST(sum(sampled) AS BIGINT) AS n_sampled
        |  FROM flags GROUP BY 1),
        |packed AS (
        |  SELECT lang,
        |    count(DISTINCT CAST(floor((cum - n_tok) / 2048) AS BIGINT)) AS n_contexts,
        |    CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |  FROM (SELECT lang, n_tok,
        |      sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM flags WHERE sampled = 1) t
        |  GROUP BY 1)
        |SELECT c.lang, n_in, n_dedup, n_quality, n_sampled, n_contexts, total_tokens
        |FROM counts c LEFT JOIN packed p ON c.lang = p.lang
        |ORDER BY c.lang""".stripMargin),

    // Document fingerprinting: content hash over the normalized token set
    // (order-insensitive) + first-8-hex prefix bucketing.
    "llm_fingerprint" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val fp = md5(array_join(array_sort(TextOps.tokenSet($"text")), " "))
        Tables.documents(s, dir)
          .select($"doc_id", fp.as("fingerprint"),
            substring(fp, 1, 4).as("bucket"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fingerprint,
        |  substring(md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')), 1, 4) AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Multimodal decode: opaque binary column + typed metadata with a REAL
    // fixed-format decode in the batch stage. Each doc gets a genuine
    // 24-bit BMP blob (valid 54-byte header, BOTTOM-UP pixel rows, 4-byte
    // row padding — the format quirks that break naive parsers), built
    // deterministically from doc_id at fixture time; the decoder is a
    // from-scratch BMP parser running per-partition over the binary column
    // (mapPartitions with an explicit schema — exactly where a library
    // decoder / mapInPandas batch would execute at 100 TB, with the
    // library handle amortized across the partition). The ORACLE cannot
    // decode BMP, so it replays the generator's formulas instead: if the
    // decoder mis-handles the header layout, the padding, or the
    // bottom-up row order (topleft pins that one specifically), the
    // decoded metadata diverges from the replay and the hash breaks.
    "llm_multimodal" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val makeBmp = udf { (docId: Long) =>
          val w = 4 + (docId % 13).toInt
          val h = 3 + (docId % 7).toInt
          val rowBytes = (3 * w + 3) & ~3
          val size = 54 + rowBytes * h
          val b = java.nio.ByteBuffer.allocate(size)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.put('B'.toByte).put('M'.toByte).putInt(size)
            .putInt(0).putInt(54) // reserved, pixel-data offset
          b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
            .putInt(0).putInt(rowBytes * h) // BI_RGB, image size
            .putInt(2835).putInt(2835).putInt(0).putInt(0)
          var yFile = 0
          while (yFile < h) {
            val y = h - 1 - yFile // file rows are bottom-up
            var x = 0
            while (x < w) {
              val v = ((docId + 7 * x + 13 * y) % 256).toByte
              b.put(v).put(v).put(v)
              x += 1
            }
            var pad = 3 * w
            while (pad < rowBytes) { b.put(0.toByte); pad += 1 }
            yFile += 1
          }
          b.array()
        }
        val withBlob = Tables.documents(s, dir)
          .select($"doc_id", makeBmp($"doc_id").as("blob"))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("width", IntegerType),
          StructField("height", IntegerType),
          StructField("bpp", IntegerType),
          StructField("n_bytes", IntegerType),
          StructField("mean_px", DoubleType),
          StructField("topleft", IntegerType)))
        val decoded = withBlob.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val b = java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            require(bytes(0) == 'B' && bytes(1) == 'M', s"doc $id: not a BMP")
            val offset = b.getInt(10)
            val w = b.getInt(18)
            val h = b.getInt(22)
            val bpp = b.getShort(28).toInt
            require(bpp == 24 && b.getInt(30) == 0,
              s"doc $id: unsupported BMP variant")
            val rowBytes = (3 * w + 3) & ~3
            // mean over PIXEL bytes only (row padding must be skipped) and
            // the image-coordinate (0,0) pixel (stored in the LAST file
            // row — bottom-up order must be honored to find it)
            var sum = 0L
            var yFile = 0
            while (yFile < h) {
              var i = offset + yFile * rowBytes
              val end = i + 3 * w
              while (i < end) { sum += bytes(i) & 0xff; i += 1 }
              yFile += 1
            }
            val topleft = bytes(offset + (h - 1) * rowBytes) & 0xff
            val mean = math.round(
              sum.toDouble / (3L * w * h) * 10000.0) / 10000.0
            Row(id, w, h, bpp, bytes.length, mean, topleft)
          }
        }
        s.createDataFrame(decoded, outSchema).orderBy($"doc_id")
      },
      // the generator's formulas, replayed: w = 4 + id%13, h = 3 + id%7,
      // pixel v(x,y) = (id + 7x + 13y) % 256 in all three channels, file
      // size = 54 + padded-row-bytes × h, topleft = v(0,0) = id % 256
      """WITH d AS (SELECT doc_id,
        |    CAST(4 + doc_id % 13 AS INTEGER) AS width,
        |    CAST(3 + doc_id % 7 AS INTEGER) AS height
        |  FROM documents),
        |m AS (SELECT doc_id, round(list_sum(flatten(
        |    list_transform(generate_series(0, width - 1), x ->
        |      list_transform(generate_series(0, height - 1), y ->
        |        (doc_id + 7 * x + 13 * y) % 256)))) * 1.0
        |    / (width * height), 4) AS mean_px
        |  FROM d)
        |SELECT d.doc_id, width, height, 24 AS bpp,
        |  CAST(54 + ((3 * width + 3) // 4) * 4 * height AS INTEGER) AS n_bytes,
        |  m.mean_px,
        |  CAST(doc_id % 256 AS INTEGER) AS topleft
        |FROM d JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Multimodal AUDIO decode — the second real fixed-format parser beside
    // the BMP key: each doc gets a genuine 16-bit PCM mono WAV blob (RIFF
    // container, fmt chunk walked by id — not assumed at a fixed offset —
    // word-aligned chunk sizes, little-endian samples), built
    // deterministically from doc_id; the decoder is a from-scratch RIFF
    // chunk walker + PCM reader running per-partition over the binary
    // column, emitting the features an audio-curation pipeline computes
    // (duration, RMS energy, zero-crossing count, peak). The oracle can't
    // parse WAV, so it replays the generator's sample formula — a decoder
    // that misreads the header layout, chunk alignment, or sample
    // endianness diverges from the replay.
    "llm_multimodal_audio" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val rate = 8000
        val makeWav = udf { (docId: Long) =>
          val n = 64 + (docId % 50).toInt
          val b = java.nio.ByteBuffer.allocate(44 + 2 * n)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
          b.put("fmt ".getBytes).putInt(16)
            .putShort(1).putShort(1) // PCM, mono
            .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
          b.put("data".getBytes).putInt(2 * n)
          var i = 0
          while (i < n) {
            b.putShort((((docId * 31 + i * 97) % 2003) - 1001).toShort)
            i += 1
          }
          b.array()
        }
        val withBlob = Tables.documents(s, dir)
          .select($"doc_id", makeWav($"doc_id").as("blob"))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType),
          StructField("n_samples", IntegerType),
          StructField("sample_rate", IntegerType),
          StructField("n_bytes", IntegerType),
          StructField("duration_ms", DoubleType),
          StructField("rms", DoubleType),
          StructField("zero_cross", IntegerType),
          StructField("peak", IntegerType)))
        val decoded = withBlob.rdd.mapPartitions { it =>
          it.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val b = java.nio.ByteBuffer.wrap(bytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            require(new String(bytes, 0, 4, "US-ASCII") == "RIFF" &&
              new String(bytes, 8, 4, "US-ASCII") == "WAVE",
              s"doc $id: not a WAV")
            // walk the chunk list — fmt /data may sit anywhere after WAVE
            var pos = 12
            var sr = -1; var bits = -1; var dataOff = -1; var dataLen = -1
            while (pos + 8 <= bytes.length && (dataOff < 0 || sr < 0)) {
              val cid = new String(bytes, pos, 4, "US-ASCII")
              val sz = b.getInt(pos + 4)
              cid match {
                case "fmt " =>
                  require(b.getShort(pos + 8) == 1 && b.getShort(pos + 10) == 1,
                    s"doc $id: unsupported WAV variant")
                  sr = b.getInt(pos + 12)
                  bits = b.getShort(pos + 22).toInt
                case "data" => dataOff = pos + 8; dataLen = sz
                case _ => ()
              }
              pos += 8 + sz + (sz & 1) // chunks are word-aligned
            }
            require(sr > 0 && bits == 16 && dataOff > 0,
              s"doc $id: missing fmt/data chunk")
            val n = dataLen / 2
            var sum2 = 0.0; var zc = 0; var peak = 0
            var prevNonNeg = true
            var i = 0
            while (i < n) {
              val v = b.getShort(dataOff + 2 * i).toInt
              sum2 += v.toDouble * v
              val nonNeg = v >= 0
              if (i > 0 && nonNeg != prevNonNeg) zc += 1
              prevNonNeg = nonNeg
              if (math.abs(v) > peak) peak = math.abs(v)
              i += 1
            }
            val rms = math.round(math.sqrt(sum2 / n) * 10000.0) / 10000.0
            val durMs = math.round(n * 1000.0 / sr * 10000.0) / 10000.0
            Row(id, n, sr, bytes.length, durMs, rms, zc, peak)
          }
        }
        s.createDataFrame(decoded, outSchema).orderBy($"doc_id")
      },
      // generator replay: n = 64 + id%50, s(i) = (id*31 + i*97) % 2003 - 1001
      """WITH d AS (SELECT doc_id,
        |    CAST(64 + doc_id % 50 AS INTEGER) AS n_samples,
        |    list_transform(generate_series(0, CAST(63 + doc_id % 50 AS INTEGER)),
        |      i -> (doc_id * 31 + i * 97) % 2003 - 1001) AS smp
        |  FROM documents)
        |SELECT doc_id, n_samples, 8000 AS sample_rate,
        |  CAST(44 + 2 * n_samples AS INTEGER) AS n_bytes,
        |  round(n_samples * 1000.0 / 8000, 4) AS duration_ms,
        |  round(sqrt(list_sum(list_transform(smp, x -> x * x * 1.0)) / n_samples), 4) AS rms,
        |  CAST(list_sum(list_transform(generate_series(2, n_samples),
        |    i -> CASE WHEN (smp[i] >= 0) <> (smp[i - 1] >= 0) THEN 1 ELSE 0 END)) AS INTEGER) AS zero_cross,
        |  CAST(list_max(list_transform(smp, x -> abs(x))) AS INTEGER) AS peak
        |FROM d ORDER BY doc_id""".stripMargin),

    // PII scrubbing — the redaction pass every training-data pipeline runs
    // before the corpus ships. Synthetic PII (email, US-style phone, 16-digit
    // card) is injected deterministically per doc, then masked with chained
    // regexp_replace (codegen'd, one narrow pass; patterns kept to RE2-safe
    // character classes so Spark's Java regex and the oracle's RE2 agree).
    "llm_pii_mask" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val dirty = concat($"text",
          lit(" contact user"), $"doc_id", lit("@example.com or +1-555-01"),
          lpad(($"doc_id" % 100).cast("string"), 2, "0"),
          lit(" card 4111222233334444"))
        val masked =
          regexp_replace(
            regexp_replace(
              regexp_replace(dirty,
                "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+", "<EMAIL>"),
              "\\+1-[0-9]{3}-[0-9]{4}", "<PHONE>"),
            "[0-9]{16}", "<CARD>")
        Tables.documents(s, dir)
          .select($"doc_id", masked.as("clean"))
          .select($"doc_id",
            (length($"clean") - length(regexp_replace($"clean", "<EMAIL>", "")))
              .divide(7).cast("int").as("n_emails"),
            (length($"clean") - length(regexp_replace($"clean", "<PHONE>", "")))
              .divide(7).cast("int").as("n_phones"),
            (length($"clean") - length(regexp_replace($"clean", "<CARD>", "")))
              .divide(6).cast("int").as("n_cards"),
            substring($"clean", -40, 40).as("tail40"))
          .orderBy($"doc_id")
      },
      """SELECT doc_id,
        |  CAST((length(clean) - length(replace(clean, '<EMAIL>', ''))) / 7 AS INTEGER) AS n_emails,
        |  CAST((length(clean) - length(replace(clean, '<PHONE>', ''))) / 7 AS INTEGER) AS n_phones,
        |  CAST((length(clean) - length(replace(clean, '<CARD>', ''))) / 6 AS INTEGER) AS n_cards,
        |  substr(clean, -40, 40) AS tail40
        |FROM (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(
        |      text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@example.com or +1-555-01'
        |           || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |           || ' card 4111222233334444',
        |      '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
        |      '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{16}', '<CARD>', 'g') AS clean
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // Corpus n-gram statistics (top-20 bigrams): the vocabulary/frequency
    // profile step of corpus analysis. One explode + one groupBy shuffle;
    // total order with bigram tiebreak.
    "llm_ngram_stats" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select(explode(TextOps.shinglesUdf(2)($"text")).as("bigram"))
          .groupBy($"bigram")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"n_docs".desc, $"bigram")
          .limit(20)
      },
      """SELECT s AS bigram, count(*) AS n_docs
        |FROM (SELECT doc_id, unnest(CASE WHEN len(tl) >= 2
        |        THEN list_distinct(list_transform(generate_series(1, len(tl) - 1),
        |             i -> tl[i] || ' ' || tl[i+1]))
        |        ELSE [array_to_string(tl, ' ')] END) s
        |      FROM (SELECT doc_id, string_split(lower(text), ' ') tl
        |            FROM documents) t) sh
        |GROUP BY 1 ORDER BY n_docs DESC, bigram LIMIT 20""".stripMargin),

    // Gopher-style REPETITION signals — the other half of quality
    // filtering (llm_quality covers length/stopword/lexical-diversity):
    // the fraction of duplicated tokens / 2-grams / 3-grams inside each
    // document, the signals repetition-heavy boilerplate and
    // degenerate-generation text trip. Per-row only (no shuffle until the
    // final top-k sort), so at 100 TB this is a map-only pass like the
    // rest of the scoring family. ALL four signals come from ONE
    // imperative UDF pass (one tokenize, shared token array) — the
    // measured choice documented at TextOps.minhashBandsUdf: the HOF
    // spelling re-inlines the tokenizer into every projection
    // (interpreted, 3.5 s at sf0.1) vs 0.3 s for the single pass. Short
    // docs (< n tokens) have one n-gram by convention -> fraction 0.
    "llm_repetition" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val rep = udf { text: String =>
          val toks = text.toLowerCase.split("\\s+")
          def r4(x: Double) =
            BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          def gramFrac(w: Int): Double =
            if (toks.length < w) 0.0
            else {
              val total = toks.length - w + 1
              val seen = new java.util.HashSet[String](total * 2)
              var i = 0
              while (i < total) {
                seen.add(toks.slice(i, i + w).mkString(" ")); i += 1
              }
              r4(1.0 - seen.size.toDouble / total)
            }
          (toks.length.toLong,
            r4(1.0 - toks.distinct.length.toDouble / toks.length),
            gramFrac(2), gramFrac(3))
        }
        Tables.documents(s, dir)
          .select($"doc_id", rep($"text").as("r"))
          .select($"doc_id",
            $"r._1".as("n_tokens"),
            $"r._2".as("dup_token_frac"),
            $"r._3".as("dup_2gram_frac"),
            $"r._4".as("dup_3gram_frac"))
          .orderBy($"dup_3gram_frac".desc, $"doc_id")
          .limit(25)
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |m AS (SELECT doc_id, len(tl) AS n_tokens,
        |    round(1.0 - CAST(len(list_distinct(tl)) AS DOUBLE) / len(tl), 4)
        |      AS dup_token_frac,
        |    round(1.0 - CAST(len(list_distinct(CASE WHEN len(tl) >= 2
        |        THEN list_transform(generate_series(1, len(tl) - 1),
        |             i -> tl[i] || ' ' || tl[i+1])
        |        ELSE [array_to_string(tl, ' ')] END)) AS DOUBLE)
        |      / greatest(len(tl) - 1, 1), 4) AS dup_2gram_frac,
        |    round(1.0 - CAST(len(list_distinct(CASE WHEN len(tl) >= 3
        |        THEN list_transform(generate_series(1, len(tl) - 2),
        |             i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
        |        ELSE [array_to_string(tl, ' ')] END)) AS DOUBLE)
        |      / greatest(len(tl) - 2, 1), 4) AS dup_3gram_frac
        |  FROM t)
        |SELECT doc_id, n_tokens, dup_token_frac, dup_2gram_frac, dup_3gram_frac
        |FROM m ORDER BY dup_3gram_frac DESC, doc_id LIMIT 25""".stripMargin),

    // Train/eval DECONTAMINATION — the pre-training hygiene pass: find
    // training documents sharing any 8-token shingle with the eval set
    // (doc_id % 20 == 0 plays the held-out benchmark) so they can be
    // dropped before training. Scale shape: the eval shingle index is tiny
    // (benchmarks are KBs-MBs, the corpus is TBs) and BROADCASTS, so the
    // 100 TB training side streams map-only — per-row shingle explode,
    // broadcast semi-join, one count — no shuffle of the corpus and no
    // pairing. left_semi keeps each train doc once regardless of how many
    // shingles collide. n-gram width 8 is the common decontamination
    // setting scaled to this corpus' short synthetic docs (production uses
    // 10-13-gram exact overlap); docs shorter than 8 tokens fall back to
    // whole-text match (TextOps.shinglesUdf semantics, mirrored in the
    // oracle's CASE).
    "llm_decontaminate" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = 8
        val evalSh = Tables.documents(s, dir)
          .filter($"doc_id" % 20 === 0)
          .select(explode(TextOps.shinglesUdf(w)($"text")).as("sh"))
          .distinct()
        val train = Tables.documents(s, dir).filter($"doc_id" % 20 =!= 0)
        val contaminated = train
          .select($"doc_id", explode(TextOps.shinglesUdf(w)($"text")).as("sh"))
          .join(broadcast(evalSh), Seq("sh"), "left_semi")
          .select($"doc_id").distinct()
        val evalCount = Tables.documents(s, dir)
          .filter($"doc_id" % 20 === 0)
          .agg(count(lit(1)).as("n_eval"))
        train
          .join(contaminated.withColumn("bad", lit(1)), Seq("doc_id"), "left")
          .agg(
            count(lit(1)).as("n_train"),
            sum(when($"bad" === 1, 1L).otherwise(0L)).as("n_contaminated"),
            sum(when($"bad".isNull, 1L).otherwise(0L)).as("n_clean"))
          .crossJoin(evalCount) // 1x1 rows
          .select($"n_train", $"n_eval", $"n_contaminated", $"n_clean")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') tl FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(tl) >= 8
        |         THEN list_distinct(list_transform(generate_series(1, len(tl) - 7),
        |              i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2] || ' ' ||
        |                   tl[i+3] || ' ' || tl[i+4] || ' ' || tl[i+5] || ' ' ||
        |                   tl[i+6] || ' ' || tl[i+7]))
        |         ELSE [array_to_string(tl, ' ')] END) s FROM t),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |bad AS (SELECT DISTINCT doc_id FROM sh
        |        WHERE doc_id % 20 <> 0 AND s IN (SELECT s FROM ev))
        |SELECT
        |  (SELECT count(*) FROM documents WHERE doc_id % 20 <> 0) AS n_train,
        |  (SELECT count(*) FROM documents WHERE doc_id % 20 = 0) AS n_eval,
        |  (SELECT count(*) FROM bad) AS n_contaminated,
        |  (SELECT count(*) FROM documents WHERE doc_id % 20 <> 0)
        |    - (SELECT count(*) FROM bad) AS n_clean""".stripMargin),

    // Training-data curation sampling, two composable stages:
    //  1. deterministic content-hash Bernoulli sample (md5(text) -> 30%):
    //     reproducible across runs/engines/cluster sizes, unlike rand() —
    //     the property a 100 TB curation run needs for auditability; and
    //  2. stratified cap: per (lang, source) stratum keep the top-50 docs by
    //     length (quality proxy), doc_id tiebreak — one window over the
    //     SAMPLED minority, not the full corpus.
    // Narrow ops + one window shuffle on (lang, source); no driver state.
    "llm_sample" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val h = conv(substring(md5($"text"), 1, 4), 16, 10).cast("long")
        val kept = Tables.documents(s, dir)
          .filter(h % 100 < 30)
          .withColumn("rn", row_number().over(
            Window.partitionBy($"lang", $"source")
              .orderBy($"n_chars".desc, $"doc_id")))
          .filter($"rn" <= 50)
        kept.groupBy($"lang", $"source")
          .agg(count(lit(1)).as("n_kept"),
            sum($"n_chars").as("sum_chars"),
            min($"doc_id").as("min_doc"),
            max($"doc_id").as("max_doc"))
          .orderBy($"lang", $"source")
      },
      """SELECT lang, source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM (SELECT *, row_number() OVER (PARTITION BY lang, source
        |        ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents
        |      WHERE CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 < 30) t
        |WHERE rn <= 50
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Deterministic train/val/test split (80/10/10): bucket =
    // md5(doc_id:salt) first 16 bits mod 100. Keyed on the STABLE doc id —
    // not text or rand() — so the assignment is reproducible across runs,
    // engines, and cluster sizes, and a re-crawled doc with edited text
    // keeps its split (no train/test leakage through near-identical
    // revisions landing in different splits). Pure per-row codegen'd
    // expressions; the only shuffle is the report's groupBy. Result =
    // stratification report per (split, lang).
    "llm_split" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val bucket = conv(substring(
          md5(concat($"doc_id".cast("string"), lit(":42"))), 1, 4), 16, 10)
          .cast("long") % 100
        val split = when(bucket < 80, "train")
          .when(bucket < 90, "val").otherwise("test")
        Tables.documents(s, dir)
          .select(split.as("split"), $"lang", $"n_chars")
          .groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .orderBy($"split", $"lang")
      },
      """SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (SELECT lang, n_chars,
        |        CAST(concat('0x', substr(md5(doc_id || ':42'), 1, 4)) AS INTEGER)
        |          % 100 AS bucket
        |      FROM documents) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Temperature-based DOMAIN BALANCING — the data-mixing step a
    // pretraining pipeline runs so a few giant sources don't drown the
    // rest: per-domain quota ∝ count^τ with τ=0.5 (the sqrt-sampling rule
    // popularized by multilingual pretraining — mBERT/XLM-R exponent-
    // smoothed sampling), selection within a domain by quality proxy
    // (n_chars desc, doc_id tiebreak — the llm_sample discipline).
    // ONE window shuffle on source computes both the domain size and the
    // rank (count + row_number share the partition); quota = ceil(sqrt(n)).
    // At 100 TB the skew-safe spelling splits this: the per-domain counts
    // are a tiny pre-aggregate broadcast back, and each scan partition
    // pre-prunes to its LOCAL top-quota before the global window — the
    // two-phase TopN-per-key trick that caps what a hot domain ships into
    // the shuffle at quota×partitions rows instead of its full row count.
    // Output pins the selection itself (sum of kept doc_ids), not just
    // the counts.
    "llm_domain_balance" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"source")
        val ranked = Tables.documents(s, dir)
          .withColumn("n_total", count(lit(1)).over(w))
          .withColumn("rn", row_number().over(
            w.orderBy($"n_chars".desc, $"doc_id")))
        ranked.filter($"rn" <= ceil(sqrt($"n_total")))
          .groupBy($"source")
          .agg(first($"n_total").as("n_total"),
            ceil(sqrt(first($"n_total"))).cast("long").as("quota"),
            count(lit(1)).as("n_kept"),
            sum($"doc_id").as("sum_kept_ids"),
            sum($"n_chars").as("sum_kept_chars"))
          .orderBy($"source")
      },
      """WITH ranked AS (SELECT source, doc_id, n_chars,
        |    count(*) OVER (PARTITION BY source) AS n_total,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, CAST(any_value(n_total) AS BIGINT) AS n_total,
        |  CAST(ceil(sqrt(any_value(n_total))) AS BIGINT) AS quota,
        |  count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_kept_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_kept_chars
        |FROM ranked WHERE rn <= ceil(sqrt(n_total))
        |GROUP BY source ORDER BY source""".stripMargin),

    // PARAGRAPH-granularity exact dedup (the Dolma/RefinedWeb pass that
    // drops repeated boilerplate blocks WITHIN surviving documents rather
    // than whole docs). This corpus has no paragraph marks, so the unit is
    // the fixed 16-token block (the fallback real pipelines use on
    // unstructured text); a block is a duplicate if the same token string
    // occurred EARLIER in the corpus (global first-occurrence by
    // (doc_id, block_idx) — deterministic). One explode + one hash shuffle
    // on the block text; at 100 TB the block table is the unit of exact
    // dedup exactly as documents are for llm_dedup_exact, and the same
    // two-phase Bloom upgrade applies unchanged.
    "llm_dedup_paragraph" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val chunks = Tables.documents(s, dir)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
          .select($"doc_id", posexplode(expr(
            "transform(sequence(0, cast(ceil(size(toks) / 16.0) as int) - 1)," +
              " i -> array_join(slice(toks, i * 16 + 1, 16), ' '))"))
            .as(Seq("block_idx", "block")))
        chunks
          .withColumn("rn", row_number().over(
            Window.partitionBy($"block").orderBy($"doc_id", $"block_idx")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_blocks"),
            sum(($"rn" > 1).cast("long")).as("n_dup_blocks"))
          .orderBy($"doc_id")
      },
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') toks
        |           FROM documents),
        |ch AS (SELECT doc_id,
        |    generate_subscripts(chs, 1) - 1 AS block_idx,
        |    unnest(chs) AS block
        |  FROM (SELECT doc_id,
        |      list_transform(generate_series(1, CAST(ceil(len(toks) / 16.0) AS INT)),
        |        i -> array_to_string(toks[(i - 1) * 16 + 1 : i * 16], ' ')) AS chs
        |    FROM t)),
        |ranked AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY block ORDER BY doc_id, block_idx) AS rn
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_blocks
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin),

    // TOKEN-BUDGET mixture assembly — the curriculum step after
    // llm_domain_balance: each source contributes its best documents
    // (quality order = n_chars desc, doc_id tiebreak) until the source's
    // token budget (2000 whitespace tokens) is filled; a doc is taken only
    // if it FITS entirely (cumulative total stays within budget — the
    // monotone-prefix property makes the selection a window filter, one
    // shuffle on source). Output pins the selection (id checksum), not
    // just the counts.
    "llm_token_budget_mix" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val toks = Tables.documents(s, dir)
          .select($"source", $"doc_id", $"n_chars",
            size(split($"text", "\\s+")).cast("long").as("t"))
        toks
          .withColumn("cum", sum($"t").over(
            Window.partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")))
          .filter($"cum" <= 2000)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"t").as("sum_tokens"),
            sum($"doc_id").as("sum_ids"))
          .orderBy($"source")
      },
      """WITH t AS (SELECT source, doc_id, n_chars,
        |    len(string_split_regex(text, '\s+')) AS t FROM documents),
        |c AS (SELECT source, doc_id, t,
        |    sum(t) OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS sum_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM c WHERE cum <= 2000
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // BPE TOKENIZER TRAINING (Sennrich et al. 2016, the byte-pair-encoding
    // merge loop every open tokenizer uses). The scale shape is the
    // standard one: the corpus is touched ONCE (token → word-TYPE counts,
    // one shuffle); every merge iteration then runs over the vocabulary-
    // sized type table only — pair counting is an explode + groupBy over
    // word types weighted by corpus frequency, so 100 TB of text and 100 GB
    // of text cost the same per iteration after the first count. The
    // per-iteration argmax is a limit(1).collect() of ONE row (metadata,
    // like PCA's dim-row stats); the merge application is a codegen
    // aggregate-HOF left fold over each word's symbol list, localCheckpoint
    // per round to cut the 6-deep lineage (the dedup-clustering precedent).
    // The fold (never re-merging the symbol it just produced) is exactly
    // greedy left-to-right BPE — equivalence to a reference implementation
    // is property-tested in LlmSpec. Output = the learned merge table
    // (rank, pair, merged symbol, weighted pair count): all strings and
    // integers, so the oracle — which replays the same fold in DuckDB via
    // list_reduce on '|'-joined symbols (corpus tokens are [a-z0-9], so '|'
    // is free as a separator) — hash-compares exactly, no float anywhere.
    // This key TIMES THE TRAINING LOOP on every run (bpeTrainRun,
    // uncached): the iteration IS the demonstrated operator, so it is
    // never staged into warm-up — only the consumer keys (encode,
    // fertility) serve the cached standing artifact (ADVICE r20).
    "llm_bpe_train" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        bpeTrainRun(s, dir).merges
          .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
          .orderBy($"merge_rank")
      },
      bpeOracleSql),

    // BPE ENCODE — the second half of the tokenizer loop: apply the learned
    // merge table to the corpus and report each document's subtoken count
    // (the number every token-budget / context-packing step downstream
    // consumes). The trained vocabulary is word-type-level, so encoding is
    // a BROADCAST join of the corpus token stream against the final
    // word→symbol-count map (vocabulary-sized standing artifact — the same
    // economics as the tfidf df table) plus one per-doc aggregate; the
    // corpus is never re-folded per document. n_chars_ws (chars + the
    // end-of-word marker) pins the compression direction: merges can only
    // shrink symbol counts, asserted in LlmSpec. All-integer output.
    "llm_bpe_encode" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val vocab = bpeLearned(s, dir).words
          .select($"word", size($"syms").cast("long").as("n_syms"))
        Tables.documents(s, dir)
          .select($"doc_id", explode(TextOps.tokens($"text")).as("word"))
          .join(broadcast(vocab), "word")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_syms").as("n_subtokens"),
            (sum(length($"word")) + count(lit(1))).as("n_sym0"))
          .orderBy($"doc_id")
      },
      bpeEncodeOracleSql)
      .staged(bpeLearned),

    // TOKENIZER FERTILITY BY LANGUAGE — subtokens per word under the
    // trained BPE vocabulary, the standard multilingual tokenizer-eval
    // metric (reported for every multilingual tokenizer since XLM-R: a
    // language with higher fertility pays more sequence length per word,
    // which skews token budgets and training mix). Same economics as
    // llm_bpe_encode: the cached model's word→symbol-count map broadcasts
    // into the corpus token stream, then one per-language aggregate — at
    // 100 TB the only corpus-scale work is the token scan. The ratio is
    // two exact BIGINTs divided as doubles on both engines (+1e-9 nudge,
    // llm_cosine convention).
    "llm_bpe_fertility" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val vocab = bpeLearned(s, dir).words
          .select($"word", size($"syms").cast("long").as("n_syms"))
        Tables.documents(s, dir)
          .select($"doc_id", $"lang",
            explode(TextOps.tokens($"text")).as("word"))
          .join(broadcast(vocab), "word")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_syms").as("n_subtokens"),
            round(sum($"n_syms").cast("double") / count(lit(1)) + lit(1e-9), 4)
              .as("fertility"))
          .orderBy($"lang")
      },
      s"""$bpeOracleCtes
         |SELECT d.lang, count(*) AS n_words,
         |  CAST(sum(len(w.syms)) AS BIGINT) AS n_subtokens,
         |  round(CAST(sum(len(w.syms)) AS DOUBLE) / count(*) + 1e-9, 4)
         |    AS fertility
         |FROM tl JOIN w$bpeMerges w ON w.word = tl.tok
         |  JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin)
      .staged(bpeLearned),

    // DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    // select raw-corpus documents whose unigram distribution looks like a
    // TARGET domain (here lang='en') by per-document importance weight
    // w(d) = Σ_tok tf_d(tok)·(ln p_target(tok) − ln p_raw(tok)), add-1
    // smoothed over the raw vocabulary. The paper hashes n-grams into a
    // fixed bucket count to bound the feature table; exact token buckets
    // are strictly more accurate and keep the same plan — at 100 TB the
    // bucket column would be xxhash64(tok) % 2^18 with nothing else
    // changing. Shape: the log-ratio table is a standing artifact the size
    // of the vocabulary (built from the same termStats checkpoint tfidf
    // and bm25 share), BROADCAST into the tf stream — the corpus never
    // shuffles except the one per-doc aggregate. The per-token log-ratio is
    // snapped to INTEGER MICRO-UNITS at the 31-row table (the integer-units
    // rule applied at design time), so every per-doc weight is an exact
    // BIGINT dot product — order-independent on both engines — and the
    // top-k selection (TakeOrdered, the sort_topk shape) is fully
    // deterministic under the (weight desc, doc_id) total order.
    "llm_dsir" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val tf = termStats(s, dir)
        val isTgt = Tables.documents(s, dir)
          .select($"doc_id", ($"lang" === "en").as("tgt"))
        val perTok = tf.join(isTgt, "doc_id")
          .groupBy($"tok")
          .agg(sum($"tf").as("cr"),
            sum(when($"tgt", $"tf").otherwise(0L)).as("ct"))
        val stats = perTok.agg(sum($"cr").as("nr"), sum($"ct").as("nt"),
          count(lit(1)).as("v"))
        val lam = perTok.crossJoin(broadcast(stats))
          .select($"tok",
            round(
              (log(($"ct" + 1.0) / ($"nt" + $"v")) -
                log(($"cr" + 1.0) / ($"nr" + $"v"))) * 1e6 + lit(1e-9))
              .cast("long").as("lam"))
        val sel = tf.join(broadcast(lam), "tok")
          .groupBy($"doc_id")
          .agg(sum($"tf" * $"lam").as("weight_micro"))
          .orderBy($"weight_micro".desc, $"doc_id")
          .limit(60)
        sel.withColumn("rank", row_number().over(
            Window.orderBy($"weight_micro".desc, $"doc_id")))
          .select($"rank", $"doc_id", $"weight_micro")
          .orderBy($"rank")
      },
      """WITH tl AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        |            FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tl GROUP BY 1, 2),
        |pt AS (SELECT tok, sum(tf) AS cr,
        |         sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS ct
        |       FROM tf JOIN documents USING (doc_id) GROUP BY 1),
        |st AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM pt),
        |lam AS (SELECT tok, CAST(round(
        |          (ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v)))
        |            * 1000000 + 1e-9, 0) AS BIGINT) AS lam
        |        FROM pt CROSS JOIN st),
        |w AS (SELECT doc_id, CAST(sum(tf * lam) AS BIGINT) AS weight_micro
        |      FROM tf JOIN lam USING (tok) GROUP BY 1)
        |SELECT row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS rank,
        |  doc_id, weight_micro
        |FROM w ORDER BY weight_micro DESC, doc_id LIMIT 60""".stripMargin)
  )

  /** Merge count for llm_bpe_train — shared by the Spark loop and the
    * unrolled DuckDB oracle below. */
  private val bpeMerges = 6

  /** Trained-BPE state: the merge table plus the post-merge word-type
    * table (word, cnt, syms). Both are vocabulary-sized. */
  private[graft] case class BpeModel(
      merges: Seq[(Int, String, String, String, Long)],
      words: org.apache.spark.sql.DataFrame)

  /** Serve the BPE training loop's model for a corpus dir — the standing
    * tokenizer artifact llm_bpe_encode and llm_bpe_fertility consume. */
  private[graft] def bpeLearned(s: SparkSession, dir: String): BpeModel =
    Artifacts.memo("bpeLearned", dir, s, docsSrc(dir))(bpeTrainRun(s, dir))

  /** The training loop itself, UNCACHED — llm_bpe_train calls this
    * directly so the trainer key always times the build it demonstrates
    * (ADVICE r20: staging the trainer hollowed the key out; only the
    * consumers encode/fertility serve the standing artifact). */
  private[graft] def bpeTrainRun(s: SparkSession, dir: String): BpeModel = {
    import s.implicits._
    var w = Tables.documents(s, dir)
      .select(explode(TextOps.tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
      .select($"word", $"cnt",
        expr("concat(filter(split(word, ''), ch -> ch <> '')," +
          " array('</w>'))").as("syms"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Int, String, String, String, Long)]
    for (i <- 1 to bpeMerges) {
      val best = w
        .select($"cnt", explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " j -> struct(element_at(syms, j) as a," +
            " element_at(syms, j + 1) as b))")).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"cnt").as("c"))
        .orderBy($"c".desc, $"a".asc, $"b".asc)
        .limit(1).collect()(0)
      val (a, b, c) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((i, a, b, a + b, c))
      w = w.select($"word", $"cnt", expr(bpeFoldExpr(a, b)).as("syms"))
        .localCheckpoint(true)
    }
    BpeModel(merges.result(), w)
  }

  /** One BPE merge application as a Spark SQL aggregate-HOF left fold:
    * append each symbol, except that a symbol equal to `b` arriving while
    * the accumulator's LAST symbol is exactly `a` replaces that last symbol
    * with the merged `ab`. A just-merged symbol can never re-match (ab ≠ a
    * since b is non-empty), which makes the fold exactly greedy
    * left-to-right BPE (LlmSpec property-tests this against a reference).
    * Symbols are corpus-token chars plus '</w>' — no quotes — but guard the
    * splice anyway. */
  private[graft] def bpeFoldExpr(a: String, b: String): String = {
    require(!a.contains("'") && !b.contains("'"), s"unsafe BPE symbol: $a $b")
    val m = a + b
    s"""aggregate(syms, cast(array() as array<string>),
       |  (acc, x) -> CASE
       |    WHEN size(acc) > 0 AND element_at(acc, -1) = '$a' AND x = '$b'
       |    THEN concat(slice(acc, 1, size(acc) - 1), array('$m'))
       |    ELSE concat(acc, array(x)) END)""".stripMargin
  }

  /** DuckDB replay of the BPE training loop, unrolled `bpeMerges` times:
    * the same fold runs as list_reduce over a '|'-joined accumulator string
    * (symbols are [a-z0-9] + '</w>' — '|' cannot occur), re-split per
    * round. Each iteration: adjacent-pair explode → weighted count →
    * (count desc, lhs, rhs) argmax → fold. All integers and strings.
    * Shared WITH-prefix for both BPE oracles. */
  private def bpeOracleCtes: String = {
    def iter(i: Int): String = {
      val p = s"w${i - 1}"
      s"""p$i AS (SELECT syms[j] AS a, syms[j + 1] AS b, sum(cnt) AS c
         |  FROM (SELECT cnt, syms,
         |          unnest(generate_series(1, len(syms) - 1)) AS j FROM $p)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT a, b, a || b AS m, c FROM p$i
         |        ORDER BY c DESC, a, b LIMIT 1),
         |w$i AS (SELECT word, cnt, string_split(list_reduce(syms, (acc, x) ->
         |    CASE WHEN x = b$i.b AND (acc = b$i.a
         |           OR (length(acc) > length(b$i.a)
         |               AND substr(acc, length(acc) - length(b$i.a) + 1) = b$i.a
         |               AND substr(acc, length(acc) - length(b$i.a), 1) = '|'))
         |      THEN substr(acc, 1, length(acc) - length(b$i.a)) || b$i.a || b$i.b
         |      ELSE acc || '|' || x END), '|') AS syms
         |  FROM $p CROSS JOIN b$i)""".stripMargin
    }
    s"""WITH tl AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
       |            FROM documents),
       |w0 AS (SELECT tok AS word, count(*) AS cnt,
       |         list_append(string_split(tok, ''), '</w>') AS syms
       |       FROM tl GROUP BY 1, 3),
       |${(1 to bpeMerges).map(iter).mkString(",\n")}""".stripMargin
  }

  private def bpeOracleSql: String = {
    val rows = (1 to bpeMerges).map { i =>
      s"SELECT $i AS merge_rank, a AS lhs, b AS rhs, m AS merged," +
        s" CAST(c AS BIGINT) AS pair_count FROM b$i"
    }
    s"""$bpeOracleCtes
       |SELECT merge_rank, lhs, rhs, merged, pair_count FROM (
       |${rows.mkString(" UNION ALL\n")}
       |) ORDER BY merge_rank""".stripMargin
  }

  private def bpeEncodeOracleSql: String =
    s"""$bpeOracleCtes
       |SELECT tl.doc_id, count(*) AS n_words,
       |  CAST(sum(len(w.syms)) AS BIGINT) AS n_subtokens,
       |  CAST(sum(length(tl.tok)) + count(*) AS BIGINT) AS n_sym0
       |FROM tl JOIN w$bpeMerges w ON w.word = tl.tok
       |GROUP BY 1 ORDER BY 1""".stripMargin
}
