package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.{SessionMemo, SharedRel}
import graft.sources.Tables
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.HashExpressions.{polyHash, polyHashSql}

/** Text-analysis operators over the `documents` corpus (SURVEY.md §2).
  *
  * All token/ratio math stays in integer counts and exact int→double
  * divisions so results are engine-stable without rounding. Everything
  * is `functions._` column math (codegen'd) — no UDFs — so a 100 TB
  * corpus scan stays a single whole-stage-codegen pass with map-side
  * partial aggregation where grouping occurs.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** English-ish stopword list used for quality scoring. */
  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  private def words: Column = split(col("text"), " ")

  /** Token counting three ways: whitespace tokens, regex word tokens,
    * and a BPE-ish estimate (chars/4 — the ~4-chars-per-token rule of
    * thumb for BPE vocabularies).
    */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(words).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+")).cast("long").as("re_tokens"),
      ceil(col("n_chars") / 4.0).cast("long").as("bpe_est_tokens"))
      .orderBy(col("doc_id"))

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
      |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_est_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The per-document quality features every quality face reads:
    * `doc_id`, the face's `meta` columns (in the face's order),
    * `n_punct`, and the token pass's `n_tokens` and `n_stop`.
    *
    * Token/stopword counts run as explode → grouped conditional
    * aggregation (codegen'd `isin` over literal stopwords) instead of
    * an interpreted `filter(words, λ)` lambda, which dominated the
    * runtime at sf0.1.
    */
  private def qualityFeatures(s: SparkSession, dir: String,
      meta: Seq[Column] = Seq(col("n_chars"))): DataFrame = {
    val perDoc = docs(s, dir).select((col("doc_id") +: meta :+
      regexp_count(col("text"), lit("[^a-z0-9 ]")).as("n_punct")): _*)
    val toks = docs(s, dir)
      .select(col("doc_id"), explode(words).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("w").isInCollection(stopwords), 1L).otherwise(0L)).as("n_stop"))
    perDoc.join(toks, "doc_id")
  }

  // The quality formulas over those features, exact rational
  // arithmetic (int counts divided as doubles): the rule gate's score
  // and the distilled linear classifier's logit.
  private val stopRatio: Column = col("n_stop") * 1.0 / col("n_tokens")
  private val punctRatio: Column = col("n_punct") * 1.0 / col("n_chars")
  private val lenSat: Column = least(lit(1.0), col("n_tokens") / 64.0)
  private val qualityScore: Column =
    (lit(1.0) - stopRatio) * (lit(1.0) - punctRatio) * lenSat
  private val logit: Column = lit(-2.0) + stopRatio * 4.0 - punctRatio * 8.0 + lenSat * 2.0

  /** DuckDB twin of [[qualityFeatures]] (`meta` are SQL select items). */
  private def qualityFeaturesSql(meta: String*): String = {
    val stops = stopwords.map(w => s"'$w'").mkString(", ")
    s"""SELECT doc_id, ${meta.map(_ + ", ").mkString}
       |    len(list_filter(string_split(text, ' '), w -> w IN ($stops))) AS n_stop,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct, n_chars
       |  FROM documents""".stripMargin
  }
  private val stopRatioSql = "n_stop * 1.0 / n_tokens"
  private val punctRatioSql = "n_punct * 1.0 / n_chars"
  private val lenSatSql = "least(1.0, n_tokens / 64.0)"
  private val qualityScoreSql = s"(1.0 - $stopRatioSql) * (1.0 - $punctRatioSql) * $lenSatSql"
  private val logitSql = s"-2.0 + $stopRatioSql * 4.0 - $punctRatioSql * 8.0 + $lenSatSql * 2.0"

  /** Quality scoring: length, average word length, stopword ratio,
    * punctuation ratio, and a composite score — all exact rational
    * arithmetic (int counts divided as doubles).
    */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    qualityFeatures(s, dir)
      .select(
        col("doc_id"), col("n_chars"),
        col("n_tokens").as("n_tokens"),
        ((col("n_chars") - (col("n_tokens") - 1)) * 1.0 / col("n_tokens")).as("avg_word_len"),
        stopRatio.as("stopword_ratio"),
        punctRatio.as("punct_ratio"),
        qualityScore.as("quality_score"))
      .orderBy(col("doc_id"))

  /** The SHARED quality feature table — [[textQuality]] memoized per
    * (session, corpus signature) as a stable checkpoint. ~15 faces
    * across Curate/Dedup/Maintain/Multimodal consume the quality gate
    * as an input relation, and each was re-running the explode →
    * group → join feature pass on an identical corpus; in production
    * the quality table is computed once per corpus snapshot and
    * persisted (the fasttext-quality-score column every curation
    * stage reads), which is exactly the train-once contract the
    * codebook/IVF/verified-pairs memos follow. The REGISTERED
    * `text_quality` face keeps calling [[textQuality]] directly, so
    * its bench cell still measures the computation.
    */
  private[operators] def textQualityShared(s: SparkSession, dir: String): DataFrame =
    SharedRel(s, "textQuality|" + dir, docsSig(s, dir)) {
      textQuality(s, dir)
    }

  /** DuckDB twin of [[textQuality]]'s rows, unordered. */
  private val qualityRowsSql: String =
    s"""SELECT doc_id, n_chars, n_tokens,
       |  (n_chars - (n_tokens - 1)) * 1.0 / n_tokens AS avg_word_len,
       |  $stopRatioSql AS stopword_ratio,
       |  $punctRatioSql AS punct_ratio,
       |  $qualityScoreSql AS quality_score
       |FROM (${qualityFeaturesSql()})""".stripMargin

  val textQualitySql: String = s"$qualityRowsSql\nORDER BY doc_id"

  /** The quality CTE `q` — [[textQualitySql]]'s rows — that every
    * oracle gating on `quality_score` reads, so the replicas cannot
    * drift from the formula.
    */
  private[operators] val qualityCte: String = s"q AS ($qualityRowsSql)"

  /** Language-ID by stopword-hit heuristic: count hits from per-language
    * stopword lists, pick the argmax (ties broken by fixed priority).
    * Rows-only check — the synthetic corpus is English-vocabulary
    * regardless of its `lang` label; the ScalaTest spec asserts the
    * heuristic on crafted sentences per language.
    */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val lists: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "to", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
      "es" -> Seq("el", "la", "los", "y", "es", "que"),
      "fr" -> Seq("le", "la", "les", "et", "est", "que"))
    // One explode pass + one codegen'd conditional-sum lane per
    // language (mirror of textQuality's shape) — the per-language
    // `filter(words, λ)` formulation evaluated an interpreted lambda
    // per word per language (SURVEY §8's pitfall). split() always
    // yields ≥1 token, so the inner join back is lossless.
    val hitAggs = lists.map { case (lang, ws) =>
      sum(when(col("w").isInCollection(ws), 1L).otherwise(0L)).as(s"h_$lang")
    }
    val hits = docs(s, dir)
      .select(col("doc_id"), explode(words).as("w"))
      .groupBy(col("doc_id"))
      .agg(hitAggs.head, hitAggs.tail: _*)
    val best = lists.map { case (lang, _) => col(s"h_$lang") }
      .reduce((a, b) => greatest(a, b))
    val pred = lists.foldRight(lit("und")) { case ((lang, _), other) =>
      when(col(s"h_$lang") === best && col(s"h_$lang") > 0, lang).otherwise(other)
    }
    docs(s, dir).select(col("doc_id"), col("lang"))
      .join(hits, "doc_id")
      .select(col("doc_id"), col("lang"),
        pred.as("pred_lang"),
        (pred === col("lang")).as("label_match"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide top-50 word bigrams with deterministic tiebreak. The
    * explode → count is a classic map-side-combinable aggregation;
    * top-k happens on the (small) distinct-bigram aggregate.
    */
  /** Exploded word-bigram occurrences, one row per adjacent pair —
    * the typed-flatMap generator textNgrams and the shuffle-budget
    * planner share (one definition of the bigram unit, so the two
    * faces can never disagree on what a bigram is).
    *
    * Typed flatMap (mirror of Dedup.exploded): the
    * zip_with(slice, slice) + explode formulation pairs an interpreted
    * lambda with an explode-over-computed-array — both SURVEY §8
    * pitfalls. One narrow JVM pass; split(" ", -1) matches Spark
    * split()/DuckDB string_split empty-token semantics.
    */
  private[graft] def bigramOccurrences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("text")).as[String]
      .flatMap { t =>
        val ws = t.split(" ", -1)
        (0 until ws.length - 1).iterator.map(i => ws(i) + " " + ws(i + 1))
      }
      .toDF("bigram")
  }

  def textNgrams(s: SparkSession, dir: String): DataFrame = {
    bigramOccurrences(s, dir)
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(50)
  }

  val textNgramsSql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM w)
      |SELECT bigram, count(*) AS cnt FROM b
      |GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 50""".stripMargin

  /** Rolling polynomial fingerprint, poly_hash mod 10^9+7 (exact in
    * long arithmetic), computed by the native codegen'd
    * [[graft.functions.StringPolyHash]] — the whole query is one
    * WholeStageCodegen span over the scan (the r1 typed map paid an
    * encoder round-trip; the interpreted higher-order `aggregate`
    * before it was ~10× slower). The spec asserts known fingerprints.
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    val fp = polyHash(col("text"), 1000000007L)
    docs(s, dir)
      .select(col("doc_id"), fp.as("fingerprint"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------- repetition
  /** Repetition quality signal (the duplicate-shingle pressure a
    * Gopher-style repetition filter keys on): per doc, total vs
    * DISTINCT word trigrams and the duplicate ratio. High rep_ratio
    * marks boilerplate/templated text a curation pass down-weights.
    * Shingle emission is the sanctioned typed flatMap (SURVEY §8: the
    * declarative explode-over-computed-array re-evaluates the
    * generator per output row); the counts aggregate map-side. The
    * ratio is exact int arithmetic divided once — engine-stable.
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // distinct-count over the 31-bit polyHash shingle id, not the ~20-B
    // string: the distinct aggregation shuffles (doc_id, id) pairs, and
    // at corpus scale the key bytes are the cost. Hash collisions
    // (P ≈ n²/2³¹ within a doc) under-count identically in the oracle,
    // which replays the same hash.
    val tri = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = t.split(" ", -1)
        (0 until math.max(ws.length - 2, 0)).iterator
          .map(i => (id, graft.functions.MinHashKernel.polyHash(
            ws(i) + " " + ws(i + 1) + " " + ws(i + 2))))
      }.toDF("doc_id", "ng")
    val agg = tri.groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), countDistinct(col("ng")).as("n_distinct"))
    docs(s, dir).select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_shingles") > 0,
          (col("n_shingles") - col("n_distinct")) * 1.0 / col("n_shingles"))
          .otherwise(0.0))
      .orderBy(col("doc_id"))
  }

  val textRepetitionSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |t AS (SELECT doc_id, list_transform(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
      |  ng -> ${polyHashSql("ng", 2147483647L)}) AS ngs FROM w)
      |SELECT doc_id, CAST(len(ngs) AS BIGINT) AS n_shingles,
      |  CAST(len(list_distinct(ngs)) AS BIGINT) AS n_distinct,
      |  CASE WHEN len(ngs) > 0 THEN (len(ngs) - len(list_distinct(ngs))) * 1.0 / len(ngs) ELSE 0.0 END AS rep_ratio
      |FROM t ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- tf-idf
  /** Top-3 characteristic terms per doc by a RATIONAL tf-idf
    * (tf · N / df — exact integer product, one IEEE division): log-free
    * on purpose, because ln implementations differ across engines in
    * the last ulp while exact-int division is bit-stable. df derives
    * from the tf aggregate (every tf row IS a distinct (doc, term)
    * pair), so the corpus is tokenized ONCE and exchange reuse shares
    * the one (doc_id, term) shuffle between both consumers; the
    * doc-count joins in as a broadcast single row, never a driver
    * round trip.
    */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs(s, dir).select(col("doc_id"), explode(words).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", (col("tf") * col("n_docs")) / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val textTfidfSql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |  CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank FROM sc)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf, rank
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ----------------------------------------------------- boilerplate
  /** Corpus-level boilerplate detection (the C4 "repeated lines"
    * filter re-expressed for a line-less corpus): a word-trigram that
    * appears in ≥ max(5, 1% of docs) distinct documents is boilerplate
    * (header/footer/template text in a real crawl); each document
    * reports how many of its distinct trigrams are boilerplate and the
    * contaminated fraction in exact ppm.
    *
    * == Scale design ==
    * Rides [[Dedup.exploded]]'s typed-flatMap shingle view (the 45×
    * explode-over-computed-array trap, SURVEY §8) and joins on the 8-B
    * polyHash shingle id, not the ~20-B gram string. The doc-frequency
    * table and the boilerplate set are gram-cardinality relations: at
    * 100 TB the boilerplate set is NOT broadcastable by construction
    * (every ≥5-doc gram qualifies), so the hit join carries a
    * `shuffle_hash` hint pinning it to a shuffled hash join on the
    * integer key at EVERY scale (plan-asserted in PlanShapeSpec —
    * without the hint Spark would broadcast the tiny test-SF set and
    * the claimed plan property would only appear in production); the
    * per-doc counts then fold map-side. The 1-row corpus total
    * broadcasts.
    */
  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val g = Dedup.exploded(s, dir) // (doc_id, n, hg) — distinct trigram hashes
    val tot = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val dfreq = g.groupBy(col("hg")).agg(count(lit(1)).as("df"))
    val boiler = dfreq.crossJoin(broadcast(tot))
      .filter(col("df") >= greatest(lit(5L), expr("n_docs div 100")))
      .select(col("hg"), lit(1).as("hit"))
    val per = g.join(boiler.hint("shuffle_hash"), Seq("hg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
    docs(s, dir).select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_ppm", when(col("n_grams") === 0, lit(0L))
        .otherwise(expr("(n_boiler * 1000000) div n_grams")))
      .orderBy(col("doc_id"))
  }

  /** Oracle: same shingle→polyHash CTEs as the dedup family, then
    * doc-frequency threshold and per-doc boilerplate counts.
    */
  val textBoilerplateSql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id,
      |  ${polyHashSql("ng", 2147483647L)} AS hg
      |  FROM g),
      |tot AS (SELECT count(*) AS n_docs FROM documents),
      |dfreq AS (SELECT hg, count(*) AS df FROM gh GROUP BY hg),
      |b AS (SELECT hg FROM dfreq, tot WHERE df >= greatest(5, n_docs // 100)),
      |per AS (SELECT gh.doc_id, count(*) AS n_grams, count(b.hg) AS n_boiler
      |  FROM gh LEFT JOIN b USING (hg) GROUP BY gh.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(per.n_grams, CAST(0 AS BIGINT)) AS n_grams,
      |  COALESCE(per.n_boiler, CAST(0 AS BIGINT)) AS n_boiler,
      |  CASE WHEN COALESCE(per.n_grams, 0) = 0 THEN CAST(0 AS BIGINT)
      |       ELSE (per.n_boiler * 1000000) // per.n_grams END AS boiler_ppm
      |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------------- vocabulary
  /** Tokenizer-style vocabulary construction: one row per distinct
    * token with occurrence/document frequencies, ids assigned by
    * (frequency desc, token) rank offset by 256 reserved specials, and
    * the cumulative corpus-coverage curve in exact integer ppm — the
    * table a word-level tokenizer trains down to, and the curve that
    * picks the vocab-size cutoff.
    *
    * == Scale design ==
    * The corpus scan reduces map-side onto vocabulary-bounded keys
    * (natural-language vocabularies grow ~O(corpus^0.5), Heaps' law),
    * so the shuffle carries |vocab| rows; the id-assignment window
    * orders only that relation. A production cap (top-K before id
    * assignment) keeps the emitted table broadcastable for the encode
    * join — [[tokenizeIds]] relies on exactly that.
    */
  def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val g = docs(s, dir)
      .select(col("doc_id"), explode(words).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("token"))
    val run = byFreq.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val total = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    g.select(col("token"), col("n_occ"), col("n_docs"),
        (row_number().over(byFreq).cast("long") + 255L).as("vocab_id"),
        sum(col("n_occ")).over(run).as("cum_occ"),
        sum(col("n_occ")).over(total).as("tot_occ"))
      .withColumn("cum_ppm", expr("(cum_occ * 1000000) div tot_occ"))
      .select(col("vocab_id"), col("token"), col("n_occ"), col("n_docs"),
        col("cum_ppm"))
      .orderBy(col("vocab_id"))
  }

  private val vocabCte: String =
    """vocab AS (
      |  SELECT token, n_occ, n_docs,
      |    CAST(row_number() OVER (ORDER BY n_occ DESC, token) AS BIGINT) + 255 AS vocab_id,
      |    (CAST(sum(n_occ) OVER (ORDER BY n_occ DESC, token
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) * 1000000)
      |      // CAST(sum(n_occ) OVER () AS BIGINT) AS cum_ppm
      |  FROM (SELECT token, count(*) AS n_occ, count(DISTINCT doc_id) AS n_docs
      |        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |              FROM documents)
      |        GROUP BY token))""".stripMargin

  val vocabBuildSql: String =
    s"""WITH $vocabCte
       |SELECT vocab_id, token, CAST(n_occ AS BIGINT) AS n_occ,
       |  CAST(n_docs AS BIGINT) AS n_docs, cum_ppm
       |FROM vocab ORDER BY vocab_id""".stripMargin

  // ---------------------------------------------------- vocab drift
  /** Vocabulary stability under corpus growth (r18 — the retrain
    * question [[vocabBuild]] leaves open: its Scaladoc prescribes a
    * production top-K cap before id assignment, and every consumer
    * keyed by `vocab_id` — embedding tables, [[tokenizeIds]]'s encode
    * join — silently corrupts if ids move between corpus versions).
    * The delta batch (doc_id ≡ 0 mod 10, the family's convention)
    * grows the corpus; this face trains the SAME capped top-512
    * frequency vocab on the before and after corpora — over the PHRASE
    * (adjacent-word-bigram) unit, whose space is open enough that the
    * cap BINDS (the word unit saturates on this corpus; a binding cap
    * is where production vocab churn actually lives: entries fall off
    * the boundary without ever leaving the corpus) — and reads the
    * drift per doubling-rank bucket of the after vocab: tokens, `n_new`
    * (absent from the before vocab — an embedding row with no history),
    * `n_same_id` (byte-identical id), `churn_ppm`, and the mean
    * absolute id shift of survivors in exact milli units. The shape is
    * the lesson: the HEAD is stable and the TAIL churns (Zipf heads
    * saturate first), so id-keyed artifacts survive growth only with
    * versioned vocabs or head-only caps. Constants carry the whole-
    * vocab `overlap_ppm` — the retrain trigger a production tokenizer
    * pipeline monitors.
    *
    * == Scale design ==
    * ONE corpus scan folds map-side onto the Heaps-law-bounded
    * (token, occ_before, occ_after) relation, checkpointed; both rank
    * windows ride that bounded relation (the documented single-
    * partition bounded case, [[vocabBuild]]'s own shape); the bucket
    * ledger is O(log K).
    */
  def vocabDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    import org.apache.spark.sql.expressions.Window
    val K = 512L
    val g = docs(s, dir)
      .withColumn("d", (pmod(col("doc_id"), lit(10)) === 0).cast("long"))
      .select(col("d"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("d"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .as("token"))
      .groupBy(col("token"))
      .agg(sum(lit(1L) - col("d")).as("occ_b"), count(lit(1)).as("occ_a"))
      .stableCheckpoint()
    val wB = Window.orderBy(col("occ_b").desc, col("token"))
    val before = g.filter(col("occ_b") > 0)
      .withColumn("rank_b", row_number().over(wB).cast("long"))
      .filter(col("rank_b") <= lit(K))
      .select(col("token"), (col("rank_b") + 255L).as("id_b"))
    val wA = Window.orderBy(col("occ_a").desc, col("token"))
    val after = g
      .withColumn("rank_a", row_number().over(wA).cast("long"))
      .filter(col("rank_a") <= lit(K))
      .select(col("token"), col("rank_a"), (col("rank_a") + 255L).as("id_a"))
    val j = after.join(before, Seq("token"), "left_outer")
      .select((length(bin(col("rank_a"))) - 1).cast("long").as("bucket"),
        col("id_a"), col("id_b"))
    val tot = j.agg(count(lit(1)).as("vocab_total"),
      sum(col("id_b").isNotNull.cast("long")).as("survivors_total"))
      .withColumn("overlap_ppm",
        expr("1000000 * survivors_total div greatest(vocab_total, 1)"))
    j.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("id_b").isNull.cast("long")).as("n_new"),
        sum((col("id_a") === col("id_b")).cast("long")).as("n_same_id"),
        sum(when(col("id_b").isNotNull, abs(col("id_a") - col("id_b")))
          .otherwise(0L)).as("shift_sum"),
        sum(col("id_b").isNotNull.cast("long")).as("n_survivors"))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").as("rank_lo"),
        col("n_tokens"), col("n_new"), col("n_same_id"),
        expr("1000000 * n_new div n_tokens").as("churn_ppm"),
        expr("CASE WHEN n_survivors = 0 THEN 0 " +
          "ELSE 1000 * shift_sum div n_survivors END").as("mean_shift_milli"))
      .crossJoin(broadcast(tot))
      .orderBy(col("bucket"))
  }

  /** DuckDB twin: the same two-leg occurrence fold, both capped rank
    * windows, the doubling-bucket drift ledger. */
  val vocabDriftSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT token,
      |    CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS occ_b,
      |    count(*) AS occ_a
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS token
      |        FROM w WHERE len(ws) >= 2)
      |  GROUP BY token),
      |bef AS (SELECT token, CAST(row_number() OVER (ORDER BY occ_b DESC, token) AS BIGINT) + 255 AS id_b
      |  FROM g WHERE occ_b > 0
      |  QUALIFY row_number() OVER (ORDER BY occ_b DESC, token) <= 512),
      |aft AS (SELECT token, CAST(row_number() OVER (ORDER BY occ_a DESC, token) AS BIGINT) AS rank_a
      |  FROM g
      |  QUALIFY row_number() OVER (ORDER BY occ_a DESC, token) <= 512),
      |j AS (SELECT CAST(length(bin(rank_a)) - 1 AS BIGINT) AS bucket,
      |    rank_a + 255 AS id_a, bef.id_b
      |  FROM aft LEFT JOIN bef USING (token)),
      |t AS (SELECT count(*) AS vocab_total,
      |    CAST(sum(CASE WHEN id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS survivors_total
      |  FROM j),
      |t2 AS (SELECT *, 1000000 * survivors_total // greatest(vocab_total, 1) AS overlap_ppm FROM t)
      |SELECT bucket,
      |  CAST(1 AS BIGINT) << CAST(bucket AS INT) AS rank_lo,
      |  count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN id_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN id_a = id_b THEN 1 ELSE 0 END) AS BIGINT) AS n_same_id,
      |  1000000 * CAST(sum(CASE WHEN id_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS churn_ppm,
      |  CASE WHEN sum(CASE WHEN id_b IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 0
      |    ELSE 1000 * CAST(sum(CASE WHEN id_b IS NOT NULL THEN abs(id_a - id_b) ELSE 0 END) AS BIGINT)
      |      // CAST(sum(CASE WHEN id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) END AS mean_shift_milli,
      |  vocab_total, survivors_total, overlap_ppm
      |FROM j CROSS JOIN t2
      |GROUP BY bucket, vocab_total, survivors_total, overlap_ppm
      |ORDER BY bucket""".stripMargin

  /** Zipf rank-frequency decay table (r14 wave 25 — the
    * justify-the-model audit behind every Heaps/Zipf assumption this
    * engine quotes: the BPE trainer's Heaps-law vocab bound, the
    * surprisal LM, the ccnet reference counts): words ranked by
    * (count DESC, token), dealt into doubling-rank buckets
    * b = ⌊log₂ rank⌋ by binary-digit counting, each bucket reporting
    * its word count, occurrence mass, mean occurrences in exact milli
    * units, and `decay_ppm` — the bucket-over-bucket mean-frequency
    * ratio in exact ppm via DECIMAL/HUGEINT cross-multiplication. A
    * Zipf corpus with exponent s shows decay ≈ 2^−s per bucket
    * (s = 1 → 500000 ppm); the table is where that exponent is READ,
    * not assumed.
    *
    * == Scale design ==
    * ONE corpus scan folds map-side onto the Heaps-law (token, count)
    * vocab relation; the rank window rides that bounded relation (the
    * documented bounded-relation single-partition case, exactly
    * [[vocabBuild]]'s), and everything after runs on O(log vocab)
    * bucket rows.
    */
  def textZipfFit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = docs(s, dir).select(explode(words).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
    val byFreq = Window.orderBy(col("n_occ").desc, col("token"))
    val b = g.withColumn("r", row_number().over(byFreq).cast("long"))
      .select((length(bin(col("r"))) - 1).cast("long").as("bucket"), col("n_occ"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_occ")).as("occ_mass"))
    val w = Window.orderBy(col("bucket"))
    b.withColumn("prev_mass", lag(col("occ_mass"), 1).over(w))
      .withColumn("prev_words", lag(col("n_words"), 1).over(w))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").as("rank_lo"),
        col("n_words"), col("occ_mass"),
        expr("1000 * occ_mass div n_words").as("mean_occ_milli"),
        expr("CASE WHEN prev_mass IS NULL THEN NULL ELSE " +
          "CAST((CAST(occ_mass AS DECIMAL(38,0)) * prev_words * 1000000)" +
          " div (CAST(prev_mass AS DECIMAL(38,0)) * n_words) AS BIGINT) END")
          .as("decay_ppm"))
      .orderBy(col("bucket"))
  }

  /** DuckDB twin: same rank, same binary-digit bucket, HUGEINT ratio. */
  val textZipfFitSql: String =
    """WITH g AS (SELECT token, count(*) AS n_occ
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token),
      |r AS (SELECT n_occ,
      |    row_number() OVER (ORDER BY n_occ DESC, token) AS r FROM g),
      |b AS (SELECT length(bin(r)) - 1 AS bucket, count(*) AS n_words,
      |    CAST(sum(n_occ) AS BIGINT) AS occ_mass
      |  FROM r GROUP BY 1),
      |l AS (SELECT *, lag(occ_mass) OVER (ORDER BY bucket) AS prev_mass,
      |    lag(n_words) OVER (ORDER BY bucket) AS prev_words FROM b)
      |SELECT bucket,
      |  CAST(1 AS BIGINT) << CAST(bucket AS INT) AS rank_lo,
      |  CAST(n_words AS BIGINT) AS n_words, occ_mass,
      |  1000 * occ_mass // n_words AS mean_occ_milli,
      |  CASE WHEN prev_mass IS NULL THEN NULL ELSE
      |    CAST((CAST(occ_mass AS HUGEINT) * prev_words * 1000000)
      |      // (CAST(prev_mass AS HUGEINT) * n_words) AS BIGINT) END AS decay_ppm
      |FROM l ORDER BY bucket""".stripMargin

  /** Corpus → token-id encoding against [[vocabBuild]]'s table: one row
    * per (doc, position) with the assigned id — the serialize-to-ids
    * stage before packing ([[Curate.packSequential]] consumes exactly
    * this shape's token accounting). Ids outside the 65 792-entry cap
    * (256 specials + top 65 536) map to UNK = 0.
    *
    * == Scale design ==
    * The vocab is capped ⇒ broadcastable BY CONSTRUCTION; encoding is
    * a broadcast hash join inside the corpus scan — no shuffle of the
    * corpus at any scale. (The id table is built once per corpus and
    * reused; rebuilding it here keeps the query self-contained.)
    */
  def tokenizeIds(s: SparkSession, dir: String): DataFrame = {
    val vocab = vocabBuild(s, dir)
      .filter(col("vocab_id") < 256L + 65536L)
      .select(col("token"), col("vocab_id"))
    docs(s, dir)
      .select(col("doc_id"), posexplode(words).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("vocab_id"), lit(0L)).as("vid"))
      .orderBy(col("doc_id"), col("pos"))
  }

  val tokenizeIdsSql: String =
    s"""WITH $vocabCte,
       |t AS (SELECT doc_id,
       |    unnest(range(1, len(string_split(text, ' ')) + 1)) - 1 AS pos,
       |    unnest(string_split(text, ' ')) AS token
       |  FROM documents)
       |SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
       |  coalesce(v.vocab_id, 0) AS vid
       |FROM t LEFT JOIN (SELECT * FROM vocab WHERE vocab_id < 65792) v
       |  USING (token)
       |ORDER BY doc_id, pos""".stripMargin

  // ------------------------------------------------ quality classifier
  /** Model-based quality filtering: a distilled LINEAR classifier over
    * the [[textQuality]] features (the fasttext-quality-model pattern —
    * train offline, deploy the weights as column arithmetic). The logit
    * is a 4-term IEEE expression over exact rational features, so both
    * engines agree bitwise; emitted in integer micro-units with the
    * keep decision. No UDF, no model runtime — the "model" runs inside
    * whole-stage codegen at scan speed, which is the only way a
    * learned filter keeps up with a 100 TB scan.
    */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    qualityFeatures(s, dir)
      .select(col("doc_id"),
        floor(logit * 1e6 + 0.5).cast("long").as("logit_micro"),
        (logit > 0).cast("long").as("keep"))
      .orderBy(col("doc_id"))

  val qualityClassifierSql: String =
    s"""WITH l AS (SELECT doc_id, $logitSql AS logit
       |  FROM (${qualityFeaturesSql()}))
       |SELECT doc_id, CAST(floor(logit * 1e6 + 0.5) AS BIGINT) AS logit_micro,
       |  CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM l ORDER BY doc_id""".stripMargin

  /** Per-source student-vs-teacher confusion (r14 wave 28 — the SLICE
    * audit the global evaluation trio lacks: [[mlAuc]] /
    * [[mlPrCurve]] / [[mlCalibration]] score the distilled classifier
    * against the gate over the whole corpus, but a model that is fine
    * on average and broken on one provenance ships a biased filter):
    * per source, the full 2×2 confusion of the student's `logit > 0`
    * against the teacher's `quality_score ≥ 0.5`, agreement in exact
    * ppm, and the two disagreement queues separately (n_fp = student
    * keeps what the teacher drops, n_fn = student drops what the
    * teacher keeps — the review queue [[qualityVote]]'s pattern table
    * aggregates globally, here broken out by provenance). Both
    * verdicts are computed from ONE shared feature pass (the
    * [[mlCalibration]] discipline — the faces cannot drift).
    *
    * == Scale design ==
    * One corpus scan (the explode → grouped conditional-sum feature
    * shape every gate face uses) plus the doc-keyed source join;
    * the confusion folds map-side onto O(sources) keys.
    */
  def mlEvalSlices(s: SparkSession, dir: String): DataFrame =
    qualityFeatures(s, dir, Seq(col("source"), col("n_chars")))
      .select(col("source"), (qualityScore >= 0.5).cast("long").as("t"),
        (logit > 0).cast("long").as("p"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t") * col("p")).as("n_tp"),
        sum((lit(1L) - col("t")) * col("p")).as("n_fp"),
        sum(col("t") * (lit(1L) - col("p"))).as("n_fn"),
        sum((lit(1L) - col("t")) * (lit(1L) - col("p"))).as("n_tn"))
      .select(col("source"), col("n_docs"), col("n_tp"), col("n_fp"),
        col("n_fn"), col("n_tn"),
        expr("1000000 * (n_tp + n_tn) div n_docs").as("agree_ppm"))
      .orderBy(col("source"))

  /** DuckDB twin: the same shared features, both verdicts inline. */
  val mlEvalSlicesSql: String =
    s"""WITH v AS (SELECT source,
       |    CASE WHEN $qualityScoreSql >= 0.5 THEN 1 ELSE 0 END AS t,
       |    CASE WHEN $logitSql > 0 THEN 1 ELSE 0 END AS p
       |  FROM (${qualityFeaturesSql("source")}))
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(t * p) AS BIGINT) AS n_tp,
       |  CAST(sum((1 - t) * p) AS BIGINT) AS n_fp,
       |  CAST(sum(t * (1 - p)) AS BIGINT) AS n_fn,
       |  CAST(sum((1 - t) * (1 - p)) AS BIGINT) AS n_tn,
       |  1000000 * CAST(sum(t * p) + sum((1 - t) * (1 - p)) AS BIGINT)
       |    // count(*) AS agree_ppm
       |FROM v GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------ quality ensemble
  /** Quality-ensemble disagreement ledger (r14 wave 19) — the table a
    * curation owner reviews before trusting ANY single filter: every
    * doc voted on by the four registered quality gates (the production
    * rule-gate `quality_score ≥ 0.5`, the distilled classifier's
    * `logit > 0`, the langid label agreement, and the Gopher-style
    * repetition cut staged exactly as 5·(shingles − distinct) ≤
    * shingles), folded to one row per 4-bit agreement pattern with
    * exact-ppm share and the majority (≥3) verdict. The off-diagonal
    * patterns ARE the review queue: docs the teacher keeps but the
    * student drops (ml_auc's documented stopword-axis disagreement
    * shows up here as a pattern, not an anecdote). Gate and classifier
    * reuse ONE shared feature pass (the ml_calibration move), langid
    * and repetition are the registered faces' own formulas — the spec
    * pins the ledger to the composition of all four registered keys.
    *
    * == Scale design ==
    * Three corpus passes (shared features, langid hits, shingle
    * counts — the dedup_recall_eval multi-face precedent), each the
    * audited explode → map-side-combinable agg shape; the vote fold
    * lands on ≤16 pattern keys.
    */
  def qualityVote(s: SparkSession, dir: String): DataFrame = {
    val gates12 = qualityFeatures(s, dir)
      .select(col("doc_id"),
        (qualityScore >= 0.5).cast("long").as("g_gate"),
        (logit > 0).cast("long").as("g_clf"))
    val gLang = textLangid(s, dir)
      .select(col("doc_id"), col("label_match").cast("long").as("g_lang"))
    val gRep = textRepetition(s, dir)
      .select(col("doc_id"),
        (lit(5L) * (col("n_shingles") - col("n_distinct")) <= col("n_shingles"))
          .cast("long").as("g_rep"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_total"))
    gates12.join(gLang, "doc_id").join(gRep, "doc_id")
      .groupBy(col("g_gate"), col("g_clf"), col("g_lang"), col("g_rep"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(n))
      .select(col("g_gate"), col("g_clf"), col("g_lang"), col("g_rep"),
        col("n_docs"), expr("(1000000 * n_docs) div n_total").as("share_ppm"),
        (col("g_gate") + col("g_clf") + col("g_lang") + col("g_rep") >= 3L)
          .cast("long").as("majority_keep"))
      .orderBy(col("g_gate").desc, col("g_clf").desc,
        col("g_lang").desc, col("g_rep").desc)
  }

  /** DuckDB twin: the four gates' own registered formulas recombined
    * over shared CTEs, same pattern fold. */
  val qualityVoteSql: String =
    s"""WITH g12 AS (SELECT doc_id,
       |    CASE WHEN $qualityScoreSql >= 0.5 THEN 1 ELSE 0 END AS g_gate,
       |    CASE WHEN $logitSql > 0 THEN 1 ELSE 0 END AS g_clf
       |  FROM (${qualityFeaturesSql()})),
       |t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
       |h AS (SELECT doc_id, lang,
       |  len(list_filter(ws, w -> w IN ('the','a','and','of','to','is'))) AS h_en,
       |  len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht'))) AS h_de,
       |  len(list_filter(ws, w -> w IN ('el','la','los','y','es','que'))) AS h_es,
       |  len(list_filter(ws, w -> w IN ('le','la','les','et','est','que'))) AS h_fr
       |  FROM t),
       |lg AS (SELECT doc_id,
       |  CASE WHEN (CASE WHEN h_en = greatest(h_en,h_de,h_es,h_fr) AND h_en > 0 THEN 'en'
       |       WHEN h_de = greatest(h_en,h_de,h_es,h_fr) AND h_de > 0 THEN 'de'
       |       WHEN h_es = greatest(h_en,h_de,h_es,h_fr) AND h_es > 0 THEN 'es'
       |       WHEN h_fr = greatest(h_en,h_de,h_es,h_fr) AND h_fr > 0 THEN 'fr'
       |       ELSE 'und' END) = lang THEN 1 ELSE 0 END AS g_lang
       |  FROM h),
       |sw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |ng AS (SELECT doc_id, list_transform(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
       |  s -> ${polyHashSql("s", 2147483647L)}) AS ngs FROM sw),
       |rp AS (SELECT doc_id,
       |  CASE WHEN 5 * (len(ngs) - len(list_distinct(ngs))) <= len(ngs)
       |    THEN 1 ELSE 0 END AS g_rep
       |  FROM ng),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
       |SELECT CAST(g_gate AS BIGINT) AS g_gate, CAST(g_clf AS BIGINT) AS g_clf,
       |  CAST(g_lang AS BIGINT) AS g_lang, CAST(g_rep AS BIGINT) AS g_rep,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  (1000000 * CAST(count(*) AS BIGINT)) // max(tot.n_total) AS share_ppm,
       |  CAST(CASE WHEN g_gate + g_clf + g_lang + g_rep >= 3 THEN 1 ELSE 0 END AS BIGINT) AS majority_keep
       |FROM g12 JOIN lg USING (doc_id) JOIN rp USING (doc_id) CROSS JOIN tot
       |GROUP BY g_gate, g_clf, g_lang, g_rep
       |ORDER BY g_gate DESC, g_clf DESC, g_lang DESC, g_rep DESC""".stripMargin

  // ---------------------------------------------------- calibration
  /** Calibration report for [[qualityClassifier]] against the gate it
    * distills ([[textQuality]]'s production `quality_score ≥ 0.5` cut,
    * the pipeline_curate policy) — the reliability table read before a
    * distilled filter replaces its teacher: logit axis in half-logit
    * buckets, per bucket the doc count, mean logit (micro-units), gate
    * passes, and the empirical pass rate in exact ppm. If the
    * classifier is calibrated, pass rate climbs monotonically with the
    * bucket and the operating threshold is wherever it crosses the
    * target precision. ONE feature pass computes BOTH faces (they
    * share the same stopword/punct/length features), so the report
    * cannot drift from either production key.
    *
    * Integer discipline: buckets and means are computed on the SHIFTED
    * non-negative micro-logit (`+16e6`, below any reachable logit's
    * magnitude) so integer division is floor division in both engines
    * — Spark `div` truncates toward zero while DuckDB `//` floors, and
    * they only agree on non-negatives.
    *
    * == Scale design ==
    * The feature pass is [[textQuality]]'s audited shape (explode →
    * grouped conditional agg, all codegen'd); the fold lands on ≤ ~30
    * half-logit buckets — map-side combinable onto an O(1) ledger.
    */
  /** The classifier SCORE relation every eval face folds: per doc the
    * teacher logit in exact micro units (lm = floor(logit·10⁶ + ½))
    * and the gate label. One corpus feature pass — mlAuc /
    * mlCalibration / mlPrCurve each inlined it verbatim; extracting it
    * lets the model card read the scored table once (the production
    * shape: scores are written once per model version, evals read the
    * table) while the registered faces keep computing it fresh.
    */
  private[operators] def classifierScoredRel(s: SparkSession, dir: String): DataFrame =
    qualityFeatures(s, dir)
      .select(col("doc_id"),
        floor(logit * 1e6 + 0.5).cast("long").as("lm"),
        (qualityScore >= 0.5).cast("long").as("pass"))

  /** The gate features in exact milli-units beside the gate's pass
    * bit, stacked to one (feature, v) row per feature — the
    * decision-stump input of [[mlFeatureImportance]] and
    * [[mlLearningCurve]]; `keys` ride along in front.
    */
  private def stackedMilli(features: DataFrame, keys: String*): DataFrame =
    features
      .select(keys.map(col) ++ Seq(
        expr("n_stop * 1000 div n_tokens").as("stop_m"),
        expr("n_punct * 1000 div n_chars").as("punct_m"),
        least(lit(1000L), expr("n_tokens * 1000 div 64")).as("len_m"),
        (qualityScore >= 0.5).cast("long").as("pass")): _*)
      .selectExpr(keys ++ Seq("stack(3, 'len_sat', len_m, 'punct_ratio', punct_m, " +
        "'stopword_ratio', stop_m) AS (feature, v)", "pass"): _*)

  /** DuckDB twin of [[stackedMilli]] over the features CTE `f`: the
    * CTEs `x` (milli features) and `st` (stacked). */
  private def stackedMilliSql(keys: String*): String = {
    val k = keys.map(_ + ", ").mkString
    s"""x AS (SELECT $k
       |    CAST(n_stop AS BIGINT) * 1000 // n_tokens AS stop_m,
       |    CAST(n_punct AS BIGINT) * 1000 // n_chars AS punct_m,
       |    least(1000, CAST(n_tokens AS BIGINT) * 1000 // 64) AS len_m,
       |    CASE WHEN $qualityScoreSql >= 0.5 THEN 1 ELSE 0 END AS pass
       |  FROM f),
       |st AS (SELECT $k'len_sat' AS feature, len_m AS v, pass FROM x
       |  UNION ALL SELECT $k'punct_ratio', punct_m, pass FROM x
       |  UNION ALL SELECT $k'stopword_ratio', stop_m, pass FROM x)""".stripMargin
  }

  /** DuckDB twin of [[classifierScoredRel]]. */
  private val classifierScoredSql: String =
    s"""SELECT doc_id, CAST(floor(($logitSql) * 1e6 + 0.5) AS BIGINT) AS lm,
       |    CASE WHEN $qualityScoreSql >= 0.5 THEN 1 ELSE 0 END AS pass
       |  FROM (${qualityFeaturesSql()})""".stripMargin

  private def classifierScoredShared(s: SparkSession, dir: String): DataFrame =
    SharedRel(s, "classifierScored|" + dir, docsSig(s, dir)) {
      classifierScoredRel(s, dir)
    }

  def mlCalibration(s: SparkSession, dir: String): DataFrame =
    mlCalibrationFrom(classifierScoredRel(s, dir))

  private def mlCalibrationFrom(scored: DataFrame): DataFrame = {
    scored
      .select((col("lm") + 16000000L).as("lm_shift"), col("pass"))
      .groupBy(expr("lm_shift div 500000").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("lm_shift")).as("slm"),
        sum(col("pass")).as("n_pass"))
      .select(col("bucket"), col("n_docs"),
        (expr("slm div n_docs") - 16000000L).as("mean_logit_micro"),
        col("n_pass"),
        expr("n_pass * 1000000 div n_docs").as("pass_ppm"))
      .orderBy(col("bucket"))
  }

  val mlCalibrationSql: String =
    s"""WITH x AS (SELECT lm + 16000000 AS lm_shift, pass
       |  FROM ($classifierScoredSql))
       |SELECT lm_shift // 500000 AS bucket, count(*) AS n_docs,
       |  CAST(sum(lm_shift) // count(*) AS BIGINT) - 16000000 AS mean_logit_micro,
       |  CAST(sum(pass) AS BIGINT) AS n_pass,
       |  (CAST(sum(pass) AS BIGINT) * 1000000) // count(*) AS pass_ppm
       |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------------- AUC
  /** Exact Mann-Whitney AUC of [[qualityClassifier]] against the gate
    * it distills (r14 wave 14) — DISCRIMINATION, the second half of
    * classifier evaluation beside [[mlCalibration]]'s reliability
    * table (a filter can be perfectly calibrated and useless, or
    * sharply discriminating and miscalibrated — production gates need
    * both numbers): AUC = P(logit_pos > logit_neg) + ½P(tie), computed
    * tie-EXACTLY in doubled integer units — U₂ = Σ over distinct
    * logits g of pos_g·(2·negs_below(g) + neg_g), AUC_ppm = U₂·10⁶
    * div (2·n_pos·n_neg) — no rank floats, no tie approximation, both
    * engines bit-agree. Products ride DECIMAL(38,0)/HUGEINT (U₂ is
    * O(N²)).
    *
    * == Scale design ==
    * One feature pass folds to the O(distinct logits) grid; the
    * negs-below prefix runs as the [[Curate.corpusTokenBudget]]
    * two-phase — intra-bucket windows partitioned by the ~30
    * half-logit buckets (parallel) plus an O(30) broadcast bucket
    * prefix — never a single global sort over the grid.
    */
  def mlAuc(s: SparkSession, dir: String): DataFrame =
    mlAucFrom(classifierScoredRel(s, dir))

  private def mlAucFrom(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored
      .select(col("lm"), col("pass"))
      .groupBy(col("lm"))
      .agg(sum(col("pass")).as("pos"), sum(lit(1L) - col("pass")).as("neg"))
      .withColumn("bucket", expr("(lm + 16000000) div 500000"))
    val intra = Window.partitionBy(col("bucket")).orderBy(col("lm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bktNeg = g.groupBy(col("bucket")).agg(sum(col("neg")).as("bn"))
    val over = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bktNeg
      .withColumn("bp", coalesce(sum(col("bn")).over(over), lit(0L)))
      .select(col("bucket"), col("bp"))
    g.withColumn("nin", coalesce(sum(col("neg")).over(intra), lit(0L)))
      .join(broadcast(prefixes), "bucket")
      .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
        sum(expr("cast(pos as decimal(38,0)) * (2 * (bp + nin) + neg)")).as("u2d"))
      .select(col("n_pos"), col("n_neg"),
        col("u2d").cast("decimal(38,0)").cast("long").as("u2"),
        expr("cast(u2d * 1000000 div (2 * cast(n_pos as decimal(38,0)) * n_neg) as bigint)")
          .as("auc_ppm"))
  }

  val mlAucSql: String =
    s"""WITH x AS ($classifierScoredSql),
       |g AS (SELECT lm, CAST(sum(pass) AS BIGINT) AS pos,
       |    CAST(sum(1 - pass) AS BIGINT) AS neg
       |  FROM x GROUP BY lm),
       |c AS (SELECT *, coalesce(CAST(sum(neg) OVER (ORDER BY lm
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cnb
       |  FROM g)
       |SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       |  CAST(sum(neg) AS BIGINT) AS n_neg,
       |  CAST(sum(CAST(pos AS HUGEINT) * (2 * cnb + neg)) AS BIGINT) AS u2,
       |  CAST(sum(CAST(pos AS HUGEINT) * (2 * cnb + neg)) * 1000000
       |    // (2 * CAST(sum(pos) AS HUGEINT) * CAST(sum(neg) AS BIGINT)) AS BIGINT) AS auc_ppm
       |FROM c""".stripMargin

  // ---------------------------------------------------- PR curve
  /** Precision-recall operating table for [[qualityClassifier]]
    * against the gate (r14 wave 14) — the third face of classifier
    * evaluation: [[mlCalibration]] says whether the scores mean what
    * they claim, [[mlAuc]] whether they separate at all, this one
    * says WHICH threshold to ship: for every half-logit bucket
    * threshold, predicted positives, true positives, and exact-ppm
    * precision / recall / F1 (F1 staged integer-exactly as
    * 2·tp·10⁶ div (2·tp + fp + fn) — no float harmonic mean). The
    * production decision — "filter at score ≥ X" — is a row lookup
    * in this table.
    *
    * == Scale design ==
    * The shared feature pass folds onto the O(30) bucket histogram;
    * the reverse-cumulative windows and every metric run on that
    * ledger ([[Curate.corpusQualityCurve]]'s reverse-cumulative
    * move) — no per-threshold corpus pass.
    */
  def mlPrCurve(s: SparkSession, dir: String): DataFrame =
    mlPrCurveFrom(classifierScoredRel(s, dir))

  private def mlPrCurveFrom(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = scored
      .select(expr("(lm + 16000000) div 500000").as("bucket"), col("pass"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"), sum(col("pass")).as("bp"))
    val rev = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("pp", sum(col("bn")).over(rev))
      .withColumn("tp", sum(col("bp")).over(rev))
      .withColumn("pos", sum(col("bp")).over(wAll))
      .select(col("bucket").as("thr_bucket"),
        col("pp").as("n_predicted_pos"), col("tp"),
        expr("tp * 1000000 div pp").as("precision_ppm"),
        expr("tp * 1000000 div pos").as("recall_ppm"),
        expr("2 * tp * 1000000 div (pp + pos)").as("f1_ppm"))
      .orderBy(col("thr_bucket"))
  }

  val mlPrCurveSql: String =
    s"""WITH x AS (SELECT (lm + 16000000) // 500000 AS bucket, pass
       |  FROM ($classifierScoredSql)),
       |h AS (SELECT bucket, count(*) AS bn, CAST(sum(pass) AS BIGINT) AS bp
       |  FROM x GROUP BY 1),
       |c AS (SELECT *,
       |    CAST(sum(bn) OVER (ORDER BY bucket DESC) AS BIGINT) AS pp,
       |    CAST(sum(bp) OVER (ORDER BY bucket DESC) AS BIGINT) AS tp,
       |    CAST(sum(bp) OVER () AS BIGINT) AS pos
       |  FROM h)
       |SELECT bucket AS thr_bucket, pp AS n_predicted_pos, tp,
       |  tp * 1000000 // pp AS precision_ppm,
       |  tp * 1000000 // pos AS recall_ppm,
       |  2 * tp * 1000000 // (pp + pos) AS f1_ppm
       |FROM c ORDER BY thr_bucket""".stripMargin

  // -------------------------------------------- feature importance
  /** Single-split gini importance for the quality-gate features (r14
    * wave 10) — the model-debug face beside [[mlCalibration]]: for
    * each feature (stopword ratio, punct ratio, length saturation,
    * each quantized to exact milli-units) and each decile threshold,
    * the exact-ppm gini impurity reduction of splitting the corpus
    * there against the production 0.5 gate — the table that says
    * WHICH feature carries the gate and where its decision boundary
    * lives (a decision-stump sweep, the first split of any tree
    * ensemble). Squares ride DECIMAL(38,0)/HUGEINT so per-side counts
    * up to ~1e12 docs cannot silently wrap ([[Analytics]] ab-lift
    * discipline); empty split sides are excluded by contract (the
    * split does not exist).
    *
    * == Scale design ==
    * ONE stacked feature pass (the dq_drift move: 3 rows per doc,
    * map-side combinable) folds the corpus onto the O(3 × 10)
    * (feature, milli-decile) histogram; thresholds, prefix sums, and
    * gini arithmetic all run on that bounded grid — no per-threshold
    * corpus pass, no corpus-sized shuffle beyond the fold.
    */
  def mlFeatureImportance(s: SparkSession, dir: String): DataFrame = {
    val hist = stackedMilli(qualityFeatures(s, dir))
      .groupBy(col("feature"), least(lit(9L), expr("v div 100")).as("bucket"))
      .agg(count(lit(1)).as("bn"), sum(col("pass")).as("bp"))
    val tot = hist.groupBy(col("feature"))
      .agg(sum(col("bn")).as("tn"), sum(col("bp")).as("tp"))
    val thr = s.range(1, 10).select(col("id").as("t"))
    def giniPpm(n: String, p: String): String =
      s"1000000 - (cast($p as decimal(38,0)) * $p + " +
        s"cast($n - $p as decimal(38,0)) * ($n - $p)) * 1000000 div " +
        s"(cast($n as decimal(38,0)) * $n)"
    hist.crossJoin(broadcast(thr)).filter(col("bucket") < col("t"))
      .groupBy(col("feature"), col("t"))
      .agg(sum(col("bn")).as("ln"), sum(col("bp")).as("lp"))
      .join(broadcast(tot), "feature")
      .filter(col("tn") - col("ln") >= 1)
      .withColumn("rn", col("tn") - col("ln"))
      .withColumn("rp", col("tp") - col("lp"))
      .withColumn("gl", expr(giniPpm("ln", "lp")))
      .withColumn("gr", expr(giniPpm("rn", "rp")))
      .withColumn("gp", expr(giniPpm("tn", "tp")))
      .select(col("feature"), (col("t") * 100).as("thr_milli"),
        col("ln").as("n_left"), col("rn").as("n_right"),
        (col("gp") - expr("(cast(ln as decimal(38,0)) * gl + " +
          "cast(rn as decimal(38,0)) * gr) div tn")).as("gini_drop_ppm"))
      .orderBy(col("feature"), col("thr_milli"))
  }

  val mlFeatureImportanceSql: String = {
    def gini(n: String, p: String): String =
      s"1000000 - CAST((CAST($p AS HUGEINT) * $p + " +
        s"CAST($n - $p AS HUGEINT) * ($n - $p)) * 1000000 // " +
        s"(CAST($n AS HUGEINT) * $n) AS BIGINT)"
    s"""WITH f AS (${qualityFeaturesSql()}),
       |${stackedMilliSql()},
       |hist AS (SELECT feature, least(9, v // 100) AS bucket,
       |    count(*) AS bn, CAST(sum(pass) AS BIGINT) AS bp
       |  FROM st GROUP BY 1, 2),
       |tot AS (SELECT feature, CAST(sum(bn) AS BIGINT) AS tn,
       |    CAST(sum(bp) AS BIGINT) AS tp FROM hist GROUP BY 1),
       |sp AS (SELECT feature, t, CAST(sum(bn) AS BIGINT) AS ln,
       |    CAST(sum(bp) AS BIGINT) AS lp
       |  FROM hist CROSS JOIN (SELECT unnest(range(1, 10)) AS t) th
       |  WHERE bucket < t GROUP BY 1, 2),
       |g AS (SELECT feature, t, ln, tn - ln AS rn, lp, tp - lp AS rp, tn, tp
       |  FROM sp JOIN tot USING (feature) WHERE tn - ln >= 1)
       |SELECT feature, t * 100 AS thr_milli, ln AS n_left, rn AS n_right,
       |  ${gini("tn", "tp")}
       |    - CAST((CAST(ln AS HUGEINT) * (${gini("ln", "lp")})
       |        + CAST(rn AS HUGEINT) * (${gini("rn", "rp")})) // tn AS BIGINT)
       |  AS gini_drop_ppm
       |FROM g ORDER BY feature, thr_milli""".stripMargin
  }

  // ------------------------------------------------------ collocations
  /** PMI collocation mining (r14 wave 10) — the corpus-level phrase
    * report behind [[textSurprisalBigram]]'s per-doc transition score:
    * the top-20 adjacent word pairs by pointwise mutual information in
    * exact integer bits, ⌊log₂(T·c(xy))⌋ − ⌊log₂(c(x)·c(y))⌋ (the
    * binary-digit-counting skeleton of log₂ P(xy)/(P(x)P(y)), float-log
    * free), with a ≥5 pair-count support floor — the phrase inventory
    * that seeds tokenizer vocabularies and collocation-aware quality
    * checks. Rank is total-ordered (bits desc, count desc, words), so
    * the top-20 is engine-identical. Products stay in int64 up to
    * ~3·10⁹ tokens; past that the bit-length moves to the DECIMAL
    * digit-count form ([[mlFeatureImportance]]'s promotion).
    *
    * == Scale design ==
    * Two corpus-flat map-side folds (pair counts, unigram counts) onto
    * vocab- and vocab²-bounded relations; everything after — support
    * filter, PMI arithmetic, top-k — runs on the bounded pair relation
    * with the 1-row total broadcast; top-20 is TakeOrdered, never a
    * global sort.
    */
  def textCollocations(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir)
      .select(words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("b.w1"), col("b.w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    val u = docs(s, dir).select(explode(words).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val t = u.agg(sum(col("c")).as("t"))
    val scored = bc
      .join(u.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(u.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(t))
      .select(col("w1"), col("w2"), col("n_pair"),
        (length(bin(col("t") * col("n_pair"))) -
          length(bin(col("c1") * col("c2")))).cast("long").as("pmi_bits"))
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col("pmi_bits").desc, col("n_pair").desc, col("w1"), col("w2"))
    scored.orderBy(ord: _*).limit(20)
      .withColumn("rnk", row_number().over(Window.orderBy(ord: _*)))
      .select(col("rnk").cast("long").as("rnk"), col("w1"), col("w2"),
        col("n_pair"), col("pmi_bits"))
      .orderBy(col("rnk"))
  }

  val textCollocationsSql: String =
    """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
      |  FROM w, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS n_pair FROM bg
      |  GROUP BY 1, 2 HAVING count(*) >= 5),
      |occ AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |u AS (SELECT tok, count(*) AS c FROM occ GROUP BY 1),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM u),
      |sc AS (SELECT w1, w2, n_pair,
      |    CAST(length(bin(tt.t * n_pair)) - length(bin(u1.c * u2.c)) AS BIGINT) AS pmi_bits
      |  FROM bc JOIN u u1 ON u1.tok = w1 JOIN u u2 ON u2.tok = w2 CROSS JOIN tt)
      |SELECT row_number() OVER (ORDER BY pmi_bits DESC, n_pair DESC, w1, w2) AS rnk,
      |  w1, w2, n_pair, pmi_bits
      |FROM sc ORDER BY pmi_bits DESC, n_pair DESC, w1, w2 LIMIT 20""".stripMargin

  // ---------------------------------------------------------- surprisal
  /** Unigram-LM surprisal scoring in EXACT integer "bits": each token
    * occurrence contributes ⌊log₂ T⌋ − ⌊log₂ c(w)⌋ (corpus total over
    * this token's corpus count — high for rare tokens, 0 for the single
    * most common case), and a document's score is the sum. This is the
    * integer skeleton of cross-entropy scoring used to rank documents
    * by "unusualness" for curation — computed WITHOUT a float log:
    * ⌊log₂ n⌋ = len(bin(n)) − 1 on both engines, so every value is a
    * bit-identical bigint (float log implementations differ across
    * libms; binary-digit counting cannot).
    *
    * == Scale design ==
    * Two corpus-sized relations: token occurrences and the
    * occurrence⋈count join keyed on the token. That join is the classic
    * skew shape (stopwords are hot keys) — at scale AQE's skew-join
    * split owns it, and the degenerate hottest tokens could ride a
    * broadcast top-K side-path; the aggregate back to doc_id is
    * map-side combinable. The 1-row corpus total broadcasts.
    */
  def textSurprisal(s: SparkSession, dir: String): DataFrame = {
    val occ = docs(s, dir).select(col("doc_id"), explode(words).as("w"))
    val cnts = occ.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("t"))
    occ.join(cnts, "w")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        (length(bin(col("t"))) - length(bin(col("cnt")))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_tokens"), col("total_bits"),
        expr("total_bits * 1000 div n_tokens").as("bits_per_token_milli"))
      .orderBy(col("doc_id"))
  }

  val textSurprisalSql: String =
    """WITH occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS cnt FROM occ GROUP BY 1),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
      |b AS (SELECT occ.doc_id,
      |    CAST(length(bin(t.t)) - length(bin(c.cnt)) AS BIGINT) AS bits
      |  FROM occ JOIN c ON occ.tok = c.tok CROSS JOIN t)
      |SELECT doc_id, count(*) AS n_tokens,
      |  CAST(sum(bits) AS BIGINT) AS total_bits,
      |  (CAST(sum(bits) AS BIGINT) * 1000) // count(*) AS bits_per_token_milli
      |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Bigram-LM surprisal — the conditional twin of [[textSurprisal]]:
    * each adjacent token pair contributes
    * ⌊log₂ c(w₁·)⌋ − ⌊log₂ c(w₁,w₂)⌋ bits (the integer skeleton of
    * −log₂ P(w₂|w₁), with c(w₁·) the count of bigrams starting w₁ —
    * the proper conditional denominator). Documents whose TRANSITIONS
    * are unusual score high even when every individual word is common
    * — the signal the unigram face cannot see, and the next rung on
    * the cross-entropy curation ladder. Same float-log-free
    * binary-digit counting, so every value is a bit-identical bigint.
    *
    * == Scale design ==
    * One corpus scan explodes to bigram occurrences; the pair-count
    * relation is vocab²-bounded (Heaps-law squared, still ≪ corpus)
    * and the left-context counts DERIVE from it (one more tiny agg,
    * no second corpus pass). The occurrence⋈count join is the same
    * hot-key skew shape as the unigram face — AQE skew-split owns it
    * at scale; the doc rollup is map-side combinable.
    */
  def textSurprisalBigram(s: SparkSession, dir: String): DataFrame = {
    // materialize the token array ONCE before the pair lambda — an
    // inline split(text) inside transform() re-splits the whole text
    // per element (no CSE through lambda scope), turning tokenization
    // quadratic in document length (measured ~4x on the bench corpus)
    val bg = docs(s, dir)
      .select(col("doc_id"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt2"))
    val lc = bc.groupBy(col("w1")).agg(sum(col("cnt2")).as("cnt1"))
    bg.join(bc, Seq("w1", "w2")).join(lc, Seq("w1"))
      .select(col("doc_id"),
        (length(bin(col("cnt1"))) - length(bin(col("cnt2")))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        expr("total_bits * 1000 div n_bigrams").as("bits_per_bigram_milli"))
      .orderBy(col("doc_id"))
  }

  val textSurprisalBigramSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM w, unnest(range(1, len(ws))) t(i) WHERE len(ws) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS cnt2 FROM bg GROUP BY 1, 2),
      |lc AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM bc GROUP BY 1),
      |b AS (SELECT bg.doc_id,
      |    CAST(length(bin(lc.cnt1)) - length(bin(bc.cnt2)) AS BIGINT) AS bits
      |  FROM bg JOIN bc USING (w1, w2) JOIN lc USING (w1))
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(bits) AS BIGINT) AS total_bits,
      |  (CAST(sum(bits) AS BIGINT) * 1000) // count(*) AS bits_per_bigram_milli
      |FROM b GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CCNet-style per-language perplexity buckets (Wenzek et al. 2020 —
    * the public web-corpus curation recipe): score every document by
    * its cross-entropy under a unigram LM trained ONLY on the
    * quality-gated reference slice (quality_score ≥ 0.5, the
    * registered curation gate — the stand-in for CCNet's Wikipedia
    * reference), then deal each LANGUAGE's documents into
    * head(1)/middle(2)/tail(3) terciles by (bits/token, doc_id) rank.
    * The emitted table is the filter decision surface: per
    * (lang, bucket) doc count, token mass, and the exact
    * milli-bits/token band edges. OOV tokens (absent from the
    * reference vocabulary) cost ⌊log₂ T⌋+1 bits — one more than the
    * rarest in-vocabulary token, the integer-bits escape code. Same
    * float-log-free binary-digit counting as [[textSurprisal]], so
    * every value is a bit-identical bigint cross-engine.
    *
    * == Scale design ==
    * Two corpus scans by contract (one trains the reference counts,
    * one scores — CCNet's own shape); the reference-count relation is
    * vocab-bounded (Heaps-law ≪ corpus) and joins occurrence-side.
    * The per-language tercile is [[Analytics.globalRowPos]]'s
    * range-partitioned two-phase rank (languages rank in parallel
    * across slices — NOT a per-language single-task sort) with the
    * bucket dealt arithmetically ([[Analytics.ntileAt]]); the final
    * rollup lands on O(langs × 3) rows.
    */
  def textCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val gate = textQualityShared(s, dir)
      .filter(col("quality_score") >= 0.5).select(col("doc_id"))
    val refOcc = docs(s, dir).join(gate, "doc_id")
      .select(explode(words).as("w"))
    val rc = refOcc.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val rt = rc.agg(sum(col("cnt")).as("t"))
    val occ = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(words).as("w"))
    val scored = occ.join(rc, Seq("w"), "left_outer")
      .crossJoin(broadcast(rt))
      .select(col("doc_id"), col("lang"),
        when(col("cnt").isNull, length(bin(col("t"))))
          .otherwise(length(bin(col("t"))) - length(bin(col("cnt"))))
          .cast("long").as("bits"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .withColumn("bpt_milli", expr("total_bits * 1000 div n_tokens"))
    Analytics.globalRowPos(scored, Seq("lang"),
        Seq(col("bpt_milli"), col("doc_id")), "__pos", "__n")
      .withColumn("bucket", Analytics.ntileAt("__pos", "__n", 3).cast("long"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("bpt_milli")).as("min_bpt_milli"),
        max(col("bpt_milli")).as("max_bpt_milli"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** DuckDB twin: the gate reads the shared [[qualityCte]]; the
    * tercile uses native ntile(3) with the same
    * (bpt, doc_id) deal order [[Analytics.ntileAt]] reconstructs.
    */
  val textCcnetBucketsSql: String =
    s"""WITH $qualityCte,
       |ref AS (SELECT unnest(string_split(d.text, ' ')) AS w
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id
       |  WHERE q.quality_score >= 0.5),
       |rc AS (SELECT w, count(*) AS cnt FROM ref GROUP BY 1),
       |rt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM rc),
       |occ AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |b AS (SELECT occ.doc_id, occ.lang,
       |    CASE WHEN rc.w IS NULL THEN CAST(length(bin(rt.t)) AS BIGINT)
       |         ELSE CAST(length(bin(rt.t)) - length(bin(rc.cnt)) AS BIGINT)
       |    END AS bits
       |  FROM occ LEFT JOIN rc ON occ.w = rc.w CROSS JOIN rt),
       |d AS (SELECT doc_id, lang, count(*) AS n_tokens,
       |    CAST(sum(bits) AS BIGINT) AS total_bits,
       |    (CAST(sum(bits) AS BIGINT) * 1000) // count(*) AS bpt_milli
       |  FROM b GROUP BY 1, 2),
       |k AS (SELECT lang, n_tokens, bpt_milli,
       |    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY bpt_milli, doc_id) AS BIGINT) AS bucket
       |  FROM d)
       |SELECT lang, bucket, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  min(bpt_milli) AS min_bpt_milli, max(bpt_milli) AS max_bpt_milli
       |FROM k GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  /** Classifier-evaluation harness over the language-ID face — the
    * confusion accounting every model gate reports: per class (union
    * of true labels and predictions, `und` included), the true count,
    * predicted count, true positives, and exact integer-ppm precision
    * and recall. Registering the measurement makes the evaluation
    * itself oracle-checked — the ann_recall_eval / dedup_recall_eval
    * pattern applied to a classifier.
    *
    * == Scale design ==
    * Rides [[textLangid]]'s one scan; the three class rollups are
    * O(classes) map-side-combinable aggs full-outer-merged on the
    * class key. At 100 TB the eval is scan + O(classes) state.
    */
  def mlEvalLangid(s: SparkSession, dir: String): DataFrame = {
    val lg = textLangid(s, dir).select(col("lang"), col("pred_lang"))
    val byTrue = lg.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("n_true"))
    val byPred = lg.groupBy(col("pred_lang").as("cls")).agg(count(lit(1)).as("n_pred"))
    val tp = lg.filter(col("lang") === col("pred_lang"))
      .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("tp"))
    byTrue.join(byPred, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left_outer")
      .select(col("cls"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
        expr("1000000 * tp div greatest(n_pred, 1)").as("precision_ppm"),
        expr("1000000 * tp div greatest(n_true, 1)").as("recall_ppm"))
      .orderBy(col("cls"))
  }

  /** DuckDB twin: the langid oracle inlined as a derived table, same
    * three rollups full-outer-merged. */
  lazy val mlEvalLangidSql: String =
    s"""WITH lg AS (SELECT lang, pred_lang FROM ($textLangidSql)),
       |bt AS (SELECT lang AS cls, count(*) AS n_true FROM lg GROUP BY 1),
       |bp AS (SELECT pred_lang AS cls, count(*) AS n_pred FROM lg GROUP BY 1),
       |tpc AS (SELECT lang AS cls, count(*) AS tp FROM lg WHERE lang = pred_lang GROUP BY 1),
       |m AS (SELECT cls,
       |    COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred,
       |    COALESCE(tp, 0) AS tp
       |  FROM bt FULL OUTER JOIN bp USING (cls) LEFT JOIN tpc USING (cls))
       |SELECT cls, CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
       |  1000000 * tp // greatest(n_pred, 1) AS precision_ppm,
       |  1000000 * tp // greatest(n_true, 1) AS recall_ppm
       |FROM m ORDER BY cls""".stripMargin

  // ------------------------------------------------------ feature hashing
  /** The hashing trick: every token lands in one of 1024 feature
    * buckets via the codegen'd poly_hash, with a hash-derived ±1 sign
    * (the Weinberger signed variant — collisions cancel in expectation
    * instead of biasing upward). Emits the sparse (doc, idx, value)
    * triplets a linear model or sketch consumer trains on — no
    * vocabulary pass, no fit state, fixed dimensionality at any corpus
    * size; exact integer counts so the feature matrix is
    * engine-reproducible bit-for-bit.
    *
    * == Scale design ==
    * One scan → explode → two-phase groupBy on (doc, idx): map-side
    * combine absorbs token multiplicity; output is bounded by
    * docs × 1024, independent of token volume. The fixed feature space
    * is the point of the trick — state never grows with the vocabulary.
    */
  def mlFeatureHash(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .select(col("doc_id"), explode(words).as("w"))
      .select(col("doc_id"), polyHash(col("w"), 2147483647L).as("h"))
      .select(col("doc_id"), (col("h") % 1024).as("feature_idx"),
        (lit(1L) - shiftright(col("h"), 10) % 2 * 2).as("sgn"))
      .groupBy(col("doc_id"), col("feature_idx"))
      .agg(sum(col("sgn")).as("value"))
      .filter(col("value") =!= 0)
      .orderBy(col("doc_id"), col("feature_idx"))
  }

  val mlFeatureHashSql: String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |h AS (SELECT doc_id,
      |    ${polyHashSql("w", 2147483647L)} AS h
      |  FROM w),
      |f AS (SELECT doc_id, h % 1024 AS feature_idx,
      |    1 - ((h // 1024) % 2) * 2 AS sgn FROM h)
      |SELECT doc_id, feature_idx, CAST(sum(sgn) AS BIGINT) AS value
      |FROM f GROUP BY 1, 2 HAVING sum(sgn) <> 0
      |ORDER BY doc_id, feature_idx""".stripMargin

  // ---------------------------------------------------- BPE training
  /** Fixed merge budget shared by the Spark trainer, its DuckDB
    * unrolled replay, and the spec's in-memory model. */
  private val BPE_MERGES = 16

  /** Iterative BPE merge training — the operator that turns a word
    * frequency table into a subword tokenizer (Sennrich et al. 2016,
    * the algorithm GPT-2/RoBERTa-class vocabularies are trained
    * with). Words split into characters plus a `</w>` end-of-word
    * marker; each round counts ALL adjacent symbol pairs weighted by
    * word frequency, merges the most frequent pair everywhere
    * (greedy left-to-right, ties broken by (left, right) string
    * order), and repeats for [[BPE_MERGES]] fixed rounds. Output is
    * the trained merge table — rank, pair, merged symbol, and the
    * pair's frequency at merge time.
    *
    * Symbol sequences ride in ONE delimited string per word:
    * `⎵sym⎵⎵sym⎵…` (every symbol wrapped in single spaces — legal
    * because words are whitespace-split, so no symbol can contain a
    * space). Applying a merge is then a literal
    * `replace(seq, " l  r ", " lr ")`: left-to-right non-overlapping
    * replacement IS the greedy BPE merge, and the wrapping makes a
    * cross-boundary false match impossible (a match's interior `⎵⎵`
    * must align to a symbol boundary, so `l` and `r` are always
    * complete symbols). The driver trainer, the Spark replay faces and
    * the DuckDB oracle all share these semantics, which is what lets
    * the oracle replay training bit-for-bit as [[BPE_MERGES]] unrolled
    * CTE rounds.
    *
    * == Scale design ==
    * The corpus is scanned ONCE (map-side-combined word counts onto
    * Heaps-law vocabulary keys — the [[vocabBuild]] shuffle shape) and
    * the (word, freq, seq) vocab is collected once; every training
    * round then runs on the driver over that dictionary, exactly how
    * production BPE trainers work at corpus scale — the corpus
    * contributes frequencies, the loop runs on the dictionary. One
    * retrain is one job, whatever the budget. The driver holds
    * vocab rows × (word + seq bytes) — see SCALING.md.
    */
  /** Trained-model memo (train-once model artifact, like the ANN
    * codebooks): the ranked merges and the corpus alphabet, validated
    * against the documents table's file signature, so a regenerated
    * corpus retrains (and releases the stale model) instead of
    * serving it.
    */
  private val bpeMerges =
    new SessionMemo[(Seq[(Long, String, String, String, Long)], Seq[String])]

  /** The documents table's file signature — what every tokenizer and
    * quality artifact derives from. */
  private[operators] def docsSig(s: SparkSession, dir: String): String =
    SessionMemo.corpusSig(s, dir, "documents")

  /** The word vocab as (w, freq, seq) with seq in the delimited-string
    * symbol representation (see [[tokenizeBpe]]). */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame = {
    val seq0 = concat(lit(" "),
      array_join(concat(split(col("w"), ""), array(lit("</w>"))), "  "),
      lit(" "))
    docs(s, dir)
      .select(explode(words).as("w")).filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), seq0.as("seq"))
  }

  /** One merge applied to a delimited symbol string (see
    * [[tokenizeBpe]]): the literal replace of ` l  r ` by ` lr `. */
  private def merged(seq: Column, l: String, r: String): Column =
    call_function("replace", seq, lit(s" $l  $r "), lit(s" $l$r "))

  /** `seq` after every trained BPE merge, replayed in rank order. */
  private def replayed(seq: Column, merges: Seq[(Long, String, String, String, Long)]): Column =
    merges.foldLeft(seq) { case (c, (_, l, r, _, _)) => merged(c, l, r) }

  /** Spark's string order (`UTF8String.compareTo`: unsigned UTF-8
    * bytes, i.e. code point order). It differs from `String`'s UTF-16
    * order on supplementary characters, so the driver trainers break
    * ties with it to pick the winner Spark's and DuckDB's ORDER BY pick.
    */
  private val sparkOrder: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** The symbols of a delimited `seq`, as Spark's
    * `split(trim(seq), "  ")` reads them: `trim` strips U+0020 only
    * (`String.trim` strips every char ≤ U+0020) and split keeps
    * trailing empty strings (limit −1). */
  private def symbols(seq: String): Array[String] = {
    var a = 0
    var b = seq.length
    while (a < b && seq.charAt(a) == ' ') a += 1
    while (b > a && seq.charAt(b - 1) == ' ') b -= 1
    seq.substring(a, b).split("  ", -1)
  }

  /** (l, r) → the frequency of each adjacent symbol pair over the
    * (symbols, freq) vocab rows. */
  private def adjacentPairs(rows: Seq[(Array[String], Long)]): Map[(String, String), Long] = {
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    for ((syms, f) <- rows; i <- 0 until syms.length - 1) {
      val p = syms(i) -> syms(i + 1)
      cnt(p) = cnt.getOrElse(p, 0L) + f
    }
    cnt.toMap
  }

  /** Collected word vocab memo, validated against the documents
    * table's file signature: the BPE, WordPiece and unigram trainers
    * all read it, so a corpus signature costs one vocab collect however
    * many of them retrain. */
  private val wordVocabs = new SessionMemo[Seq[(String, Long, String)]]

  /** The collected (w, freq, seq) vocab of [[bpeVocab]] — the one job a
    * tokenizer training runs, shared by the three trainers. */
  private def collectedVocab(s: SparkSession, dir: String): Seq[(String, Long, String)] =
    wordVocabs(s, "wordVocab|" + dir, docsSig(s, dir)) {
      import s.implicits._
      bpeVocab(s, dir).as[(String, Long, String)].collect().toSeq
    }

  /** The merge-training loop shared by the BPE and WordPiece trainers,
    * run on the driver: up to `budget` rounds over the collected
    * [[bpeVocab]] rows. Each round `winner` reads the vocab's
    * (symbols, freq) rows and picks the round's winning pair (l, r)
    * plus its scores `T` — none once every word is one symbol — and
    * the merge rewrites every `seq`. Returns (rank, l, r, lr, scores)
    * per round.
    */
  private def trainedMerges[T](vocab: Seq[(String, Long, String)], budget: Int)
      (winner: Seq[(Array[String], Long)] => Option[(String, String, T)])
      : Seq[(Long, String, String, String, T)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, T)]
    var cur = vocab.map { case (_, f, seq) => (seq, f) }
    var exhausted = false
    while (merges.size < budget && !exhausted)
      winner(cur.map { case (seq, f) => (symbols(seq), f) }) match {
        case Some((l, r, t)) =>
          merges += ((merges.size + 1L, l, r, l + r, t))
          cur = cur.map { case (seq, f) => (seq.replace(s" $l  $r ", s" $l$r "), f) }
        case None => exhausted = true // vocab fully merged before the budget
      }
    merges.toSeq
  }

  /** Run (or reuse) the merge training; returns the ranked merge list
    * and the corpus alphabet (the vocab's initial symbols but `</w>`,
    * in [[sparkOrder]]). Training is one vocab collect, then
    * [[BPE_MERGES]] driver rounds: the most frequent pair wins, ties
    * broken by (l, r).
    */
  private[graft] def trainedBpe(s: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], Seq[String]) =
    bpeMerges(s, "bpeMerges|" + dir, docsSig(s, dir)) {
      val vocab = collectedVocab(s, dir)
      val pairOrder = Ordering.Tuple3(Ordering.Long, sparkOrder, sparkOrder)
      val merges = trainedMerges(vocab, BPE_MERGES) { rows =>
        adjacentPairs(rows).minByOption { case ((l, r), c) => (-c, l, r) }(pairOrder)
          .map { case ((l, r), cnt) => (l, r, cnt) }
      }
      val alphabet = vocab.flatMap(v => symbols(v._3)).distinct
        .filter(_ != "</w>").sorted(sparkOrder)
      (merges, alphabet)
    }

  private def trainedBpeMerges(s: SparkSession, dir: String): Seq[(Long, String, String, String, Long)] =
    trainedBpe(s, dir)._1

  def tokenizeBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedBpeMerges(s, dir)
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_freq")
      .orderBy(col("rank"))
  }

  /** The trained tokenizer APPLIED: every vocab word's final subword
    * segmentation after replaying the ranked merges in order — the
    * segment table an encoder joins the corpus against (the same
    * broadcast-encode shape as [[tokenizeIds]], but subword). Replay
    * is the same chained literal replace as training, so segmentation
    * semantics are greedy-by-merge-rank exactly like the trainer; the
    * oracle reads the training chain's FINAL vocab state, which is
    * this table by construction.
    *
    * == Scale design ==
    * One corpus scan for the Heaps-law word counts, then the merge
    * replay is [[BPE_MERGES]] narrow column rewrites over the vocab
    * relation — no shuffle after the count; the emitted table is
    * capped-vocab-sized, broadcastable to any encode join.
    */
  /** The trained segment TABLE as a once-per-corpus artifact — in
    * production this is the published tokenizer file every encoder
    * loads, not something re-derived per query: nine consumer faces
    * (the id/coverage/compare/overlap/fertility/roundtrip encoders and
    * the Curate token-budget ledgers) each re-ran the vocab scan +
    * merge replay. The REGISTERED `tokenize_bpe_segments` face keeps
    * computing it fresh.
    */
  private[operators] def bpeSegmentsShared(s: SparkSession, dir: String): DataFrame =
    SharedRel(s, "bpeSegments|" + dir, docsSig(s, dir)) {
      tokenizeBpeSegments(s, dir)
    }

  def tokenizeBpeSegments(s: SparkSession, dir: String): DataFrame = {
    val seqFinal = replayed(col("seq"), trainedBpeMerges(s, dir))
    bpeVocab(s, dir)
      .select(col("w").as("word"), col("freq"),
        split(trim(seqFinal), "  ").as("syms"))
      .select(col("word"), col("freq"),
        size(col("syms")).cast("long").as("n_syms"),
        array_join(col("syms"), " ").as("segmented"))
      .orderBy(col("word"))
  }

  /** DuckDB twin: training unrolled — per round, a pair-count CTE, a
    * LIMIT 1 winner, and the delimited-string replace; MATERIALIZED
    * because each round references the previous twice (winner +
    * rewrite) and inlining would make the chain exponential.
    */
  /** The unrolled training chain (word column rides along so the final
    * state doubles as the segment table). */
  private val bpeTrainCtes: Seq[String] =
    trainCtes("w", "p", "b", BPE_MERGES) { k =>
      Seq(s"b$k AS (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1)")
    }

  /** SQL twin of [[merged]]: `seq` with the merge of the `l`, `r`
    * columns applied. */
  private def mergedSql(seq: String): String =
    s"replace($seq, ' ' || l || '  ' || r || ' ', ' ' || l || r || ' ')"

  /** SQL twin of [[trainedMerges]], unrolled: state `<v>0` is the
    * [[bpeVocab]] (word, freq, seq), and round k adds the pair counts
    * `<p>k` (l, r, cnt) of state `<v>k-1`, the round's `winner(k)` CTEs
    * — the last of them is the one-row winner `<b>k` — and state `<v>k`,
    * the previous state with the winning merge applied.
    */
  private def trainCtes(v: String, p: String, b: String, budget: Int)
      (winner: Int => Seq[String]): Seq[String] =
    s"""${v}0 AS MATERIALIZED (
       |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
       |         ' ' || array_to_string(list_append(string_split(w, ''), '</w>'), '  ') || ' ' AS seq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w)""".stripMargin +:
      (1 to budget).flatMap { k =>
        s"""$p$k AS MATERIALIZED (
           |  SELECT s[i] AS l, s[i+1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT string_split(trim(seq), '  ') AS s, freq FROM $v${k - 1}),
           |       unnest(range(1, len(s))) t(i)
           |  GROUP BY 1, 2)""".stripMargin +: winner(k) :+
          s"""$v$k AS MATERIALIZED (
             |  SELECT word, freq, ${mergedSql("seq")} AS seq
             |  FROM $v${k - 1} CROSS JOIN $b$k)""".stripMargin
      }

  val tokenizeBpeSql: String = {
    val sel = (1 to BPE_MERGES).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, l AS left_sym, r AS right_sym, l || r AS merged, cnt AS pair_freq FROM b$k")
      .mkString("\nUNION ALL\n")
    "WITH " + bpeTrainCtes.mkString(",\n") + "\n" + sel + "\nORDER BY rank"
  }

  /** DuckDB twin of the applied tokenizer: the training chain's final
    * vocab state, split back into symbols. */
  val tokenizeBpeSegmentsSql: String =
    "WITH " + bpeTrainCtes.mkString(",\n") + s"""
      |SELECT word, freq, CAST(len(syms) AS BIGINT) AS n_syms,
      |  array_to_string(syms, ' ') AS segmented
      |FROM (SELECT word, freq, string_split(trim(seq), '  ') AS syms FROM w$BPE_MERGES)
      |ORDER BY word""".stripMargin

  /** Corpus → SUBWORD-id encoding — the full BPE tokenizer output an
    * LLM pipeline feeds to training (train → segment → encode): each
    * document's words replaced by their trained segmentations, every
    * subword assigned a dense frequency-ranked id (256 specials
    * reserved, the [[vocabBuild]] id convention), one row per
    * (doc, subword position). Positions are GLOBAL within the doc: a
    * per-doc running offset of segment lengths places each word's
    * subwords after all preceding words'.
    *
    * == Scale design ==
    * The segment table and the subword vocab are both capped-vocab-
    * sized ⇒ broadcast by construction; the corpus scan joins against
    * them map-side (the [[tokenizeIds]] shape, subword edition). The
    * only corpus-keyed operator is the per-doc offset window —
    * partitioned on doc_id (high-cardinality, P-way parallel at any
    * scale), one shuffle of the thin (doc, word, len) relation.
    */
  def tokenizeBpeIds(s: SparkSession, dir: String): DataFrame = {
    val segs = bpeSegmentsShared(s, dir)
      .select(col("word"), col("freq"), split(col("segmented"), " ").as("syms"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("sym"))
    val symVocab = segs
      .select(explode(col("syms")).as("sym"), col("freq"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("n_occ"))
      .select(col("sym"), (row_number().over(byFreq).cast("long") + 255L).as("sym_id"))
    val toks = docs(s, dir)
      .select(col("doc_id"), posexplode(words).as(Seq("wpos", "word")))
    val wdoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("wpos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks.join(broadcast(segs.select(col("word"), col("syms"))), "word")
      .withColumn("base", coalesce(sum(size(col("syms"))).over(wdoc), lit(0)).cast("long"))
      .select(col("doc_id"), col("base"), posexplode(col("syms")).as(Seq("sp", "sym")))
      .join(broadcast(symVocab), "sym")
      .select(col("doc_id"), (col("base") + col("sp")).cast("long").as("pos"), col("sym_id"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** DuckDB twin: the training chain's final state split to segments,
    * subword vocab ranked the same way, per-doc offsets via the same
    * running window, parallel-unnest for subword positions.
    */
  val tokenizeBpeIdsSql: String =
    "WITH " + bpeTrainCtes.mkString(",\n") + s""",
      |sv AS (SELECT word, freq, string_split(trim(seq), '  ') AS syms FROM w$BPE_MERGES),
      |sc AS (SELECT sym, CAST(sum(freq) AS BIGINT) AS n_occ
      |  FROM (SELECT unnest(syms) AS sym, freq FROM sv) GROUP BY sym),
      |symv AS (SELECT sym,
      |    CAST(row_number() OVER (ORDER BY n_occ DESC, sym) AS BIGINT) + 255 AS sym_id
      |  FROM sc),
      |t AS (SELECT doc_id,
      |    unnest(range(1, len(string_split(text, ' ')) + 1)) - 1 AS wpos,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |j AS (SELECT t.doc_id, t.wpos, sv.syms FROM t JOIN sv ON sv.word = t.word),
      |b AS (SELECT doc_id, wpos, syms,
      |    COALESCE(sum(len(syms)) OVER (PARTITION BY doc_id ORDER BY wpos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS base
      |  FROM j),
      |x AS (SELECT doc_id, CAST(base + i - 1 AS BIGINT) AS pos, syms[i] AS sym
      |  FROM b, unnest(range(1, len(syms) + 1)) u(i))
      |SELECT x.doc_id, x.pos, v.sym_id
      |FROM x JOIN symv v USING (sym)
      |ORDER BY doc_id, pos""".stripMargin

  /** WordPiece-style greedy longest-match segmentation — the RUNTIME
    * tokenization discipline (BERT's) applied to the trained BPE
    * inventory, completing the family's second segmentation
    * semantics: where [[tokenizeBpeSegments]] replays merges in RANK
    * order, this face re-segments every word left-to-right taking the
    * LONGEST vocabulary piece matching the remaining prefix. The
    * piece vocabulary is the published BPE definition — the corpus
    * alphabet ∪ the merge outputs (end-of-word markers stripped) — so
    * single-character pieces always exist and the char-level fallback
    * (SentencePiece's byte-fallback analogue, counted in
    * `n_fallback`) is structurally never taken on a full alphabet;
    * the column is the honest ledger proving it. The two disciplines
    * agree on losslessness (pieces concatenate back to the word) but
    * MAY segment differently — the spec pins both properties.
    *
    * == Scale design ==
    * The piece vocabulary is alphabet + [[BPE_MERGES]] entries —
    * bounded model state, both read from the trained BPE model (the
    * alphabet is the training vocab's initial symbols, so a memo hit
    * runs no job), broadcast to every task (exactly how production
    * tokenizers ship vocabs to workers); matching is a
    * tight per-word loop over the Heaps-law vocab relation, one scan,
    * no shuffle after the word count.
    */
  def tokenizeWordpiece(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    val (merges, alphabet) = trainedBpe(s, dir)
    val vocabRel = bpeVocab(s, dir)
    val pieceSet = alphabet.toSet ++
      merges.map(_._4.replace("</w>", "")).filter(_.nonEmpty)
    // the matcher runs as a codegen'd expression (the minhash_sig
    // static-kernel pattern): the bounded piece vocab ships as ONE
    // foldable literal, parsed once per distinct vocab in the kernel
    // memo, so the projection stays inside whole-stage codegen with
    // no encoder round-trip (formerly a typed mapPartitions loop)
    val vocabLit = lit(pieceSet.toSeq.sorted.mkString(""))
    def kernel(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                   org.apache.spark.sql.catalyst.expressions.Expression) =>
                  org.apache.spark.sql.catalyst.expressions.Expression): Column =
      GraftSqlShim.column(f(GraftSqlShim.expression(col("w")),
        GraftSqlShim.expression(vocabLit)))
    vocabRel
      .select(col("w"), col("freq"),
        kernel(graft.functions.WordPieceSeg.apply).as("segmented"),
        kernel(graft.functions.WordPieceFallback.apply).as("n_fallback"))
      .select(col("w").as("word"), col("freq"),
        size(split(col("segmented"), " ")).cast("long").as("n_pieces"),
        col("segmented"), col("n_fallback"))
      .orderBy(col("word"))
  }

  /** DuckDB twin: the same piece vocabulary derived from the training
    * chain (alphabet ∪ stripped merge outputs), greedy longest-match
    * unrolled as [[WP_ROUNDS]] MATERIALIZED state rounds (each round
    * consumes ≥ 1 char, so rounds bound word length; the corpus's
    * longest word is 8 chars); the per-state longest piece is a
    * correlated LIMIT-1 subquery over the tiny vocab. */
  private val WP_ROUNDS = 10

  val tokenizeWordpieceSql: String = {
    val mrgUnion = (1 to BPE_MERGES)
      .map(k => s"SELECT l, r FROM b$k").mkString(" UNION ALL ")
    val rounds = (1 to WP_ROUNDS).map { k =>
      val p = k - 1
      s"""st$k AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE WHEN bp IS NULL THEN pos ELSE pos + strlen(bp) END AS pos,
         |    CASE WHEN bp IS NULL THEN acc
         |         WHEN acc = '' THEN bp
         |         ELSE acc || ' ' || bp END AS acc
         |  FROM (SELECT word, freq, pos, acc,
         |      CASE WHEN pos < strlen(word) THEN
         |        (SELECT v FROM vocabp vp
         |         WHERE vp.v = substr(s.word, CAST(s.pos + 1 AS INT), strlen(vp.v))
         |         ORDER BY strlen(vp.v) DESC, vp.v LIMIT 1)
         |      END AS bp
         |    FROM st$p s))""".stripMargin
    }.mkString(",\n")
    "WITH " + bpeTrainCtes.mkString(",\n") + s""",
      |vocabp AS MATERIALIZED (
      |  SELECT DISTINCT replace(l || r, '</w>', '') AS v
      |  FROM ($mrgUnion) WHERE replace(l || r, '</w>', '') <> ''
      |  UNION
      |  SELECT DISTINCT c FROM (SELECT unnest(string_split(word, '')) AS c
      |    FROM w0) WHERE c <> ''),
      |st0 AS (SELECT word, freq, 0 AS pos, '' AS acc FROM w0),
      |$rounds
      |SELECT word, freq,
      |  CAST(len(string_split(acc, ' ')) AS BIGINT) AS n_pieces,
      |  acc AS segmented, CAST(0 AS BIGINT) AS n_fallback
      |FROM st$WP_ROUNDS ORDER BY word""".stripMargin
  }

  // --------------------------------------------- vocab-budget curve
  /** Merge-budget tuning curve (r14 wave 18) — the justify-the-vocab-
    * size table beside the trained tokenizer (the corpus_quality_curve
    * / dedup_lsh_curve move, tokenizer edition): for every merge
    * budget J = 0..[[BPE_MERGES]], the vocab size, the corpus's total
    * subword count, and chars-per-subword compression. The whole
    * sweep costs NOTHING beyond the already-memoized merge table,
    * because of a conservation identity: merge k replaces exactly
    * pair_freq_k symbol pairs with single symbols, so
    * total_subwords(J) = base_symbols − Σ_{k≤J} pair_freq_k — no
    * re-segmentation per budget (the spec re-segments two budgets
    * from scratch and pins the identity). The J = 16 row ties to the
    * segment table's total mass exactly.
    *
    * == Scale design ==
    * One corpus scan into the checkpointed Heaps-law vocab relation
    * (feeds both the base-mass fold and the alphabet count); the
    * 17-row budget axis joins the 16-row merge table — O(1) work on
    * broadcast-scale relations.
    */
  def tokenizeVocabCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.Checkpoints.StableSyntax
    val vocab = bpeVocab(s, dir).stableCheckpoint()
    val base = vocab.agg(
      sum(expr("freq * (length(w) + 1)")).as("base_syms"),
      sum(expr("freq * length(w)")).as("total_chars"))
    val alpha = vocab
      .select(explode(split(col("w"), "")).as("c"))
      .filter(col("c") =!= "")
      .agg((countDistinct(col("c")) + 1L).as("n_alpha"))
    val merges = trainedBpeMerges(s, dir)
      .map(m => (m._1, m._5)).toDF("rank", "cnt")
    val grid = s.range(0L, BPE_MERGES + 1L).toDF("j")
    grid.join(broadcast(merges), col("rank") <= col("j"), "left")
      .groupBy(col("j"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("saved_cum"),
        coalesce(max(when(col("rank") === col("j"), col("cnt"))), lit(0L))
          .as("saved_by_merge"))
      .crossJoin(broadcast(base)).crossJoin(broadcast(alpha))
      .select(col("j").as("j_merges"),
        (col("n_alpha") + col("j")).as("vocab_size"),
        (col("base_syms") - col("saved_cum")).as("total_subwords"),
        expr("(1000 * total_chars) div (base_syms - saved_cum)")
          .as("chars_per_subword_milli"),
        col("saved_by_merge"))
      .orderBy(col("j_merges"))
  }

  /** DuckDB twin: the training chain's winners prefix-summed against
    * the base mass — same identity, same floor division. */
  val tokenizeVocabCurveSql: String = {
    val mUnion = (1 to BPE_MERGES)
      .map(k => s"SELECT CAST($k AS BIGINT) AS rank, cnt FROM b$k")
      .mkString(" UNION ALL ")
    "WITH " + bpeTrainCtes.mkString(",\n") + s""",
      |base AS (SELECT CAST(sum(freq * (strlen(word) + 1)) AS BIGINT) AS base_syms,
      |    CAST(sum(freq * strlen(word)) AS BIGINT) AS total_chars FROM w0),
      |alpha AS (SELECT CAST(count(DISTINCT c) + 1 AS BIGINT) AS n_alpha
      |  FROM (SELECT unnest(string_split(word, '')) AS c FROM w0) WHERE c <> ''),
      |m AS ($mUnion),
      |g AS (SELECT unnest(range(0, ${BPE_MERGES + 1})) AS j),
      |p AS (SELECT g.j,
      |    CAST(COALESCE(sum(m.cnt), 0) AS BIGINT) AS saved_cum,
      |    CAST(COALESCE(max(CASE WHEN m.rank = g.j THEN m.cnt END), 0) AS BIGINT) AS saved_by_merge
      |  FROM g LEFT JOIN m ON m.rank <= g.j GROUP BY g.j)
      |SELECT CAST(j AS BIGINT) AS j_merges, n_alpha + j AS vocab_size,
      |  base_syms - saved_cum AS total_subwords,
      |  (1000 * total_chars) // (base_syms - saved_cum) AS chars_per_subword_milli,
      |  saved_by_merge
      |FROM p CROSS JOIN base CROSS JOIN alpha ORDER BY j_merges""".stripMargin
  }

  // ------------------------------------------- WordPiece training
  /** WordPiece merge TRAINING (r14 wave 18) — the likelihood-criterion
    * trainer that completes the tokenizer-family symmetry (BPE and
    * unigram-LM both have train faces; WordPiece previously had only
    * the runtime matcher riding BPE's merges). The same driver loop as
    * [[tokenizeBpe]] ([[trainedMerges]]), but the winner maximizes
    * count(ab) / (count(a)·count(b)) (the training-corpus likelihood
    * gain of merging, Schuster & Nakajima 2012) instead of raw
    * count(ab): a pair whose halves rarely appear APART beats a merely
    * frequent pair. Scores are compared at fixed 10⁻¹⁸ precision —
    * floor(cnt·10¹⁸ / (lcnt·rcnt)), exact integer on both engines,
    * ≤ 10¹⁸ so it fits BIGINT — with (score desc, l, r) tie-break;
    * two true fractions closer than 10⁻¹⁸ tie lexicographically by
    * the same documented rule on both engines.
    *
    * == Scale design ==
    * The corpus contributes only the Heaps-law word-frequency vocab,
    * collected once; each driver round adds an O(vocab·len) symbol
    * count beside the pair count — one job per retrain, exactly like
    * the BPE trainer. Scores are exact `BigInt` floors,
    * as the oracle's HUGEINT `//` is.
    */
  private val WORDPIECE_MERGES = 12

  private val wordpieceMerges =
    new SessionMemo[Seq[(Long, String, String, String, Long, Long, Long, Long)]]

  private def trainedWordpieceMerges(s: SparkSession, dir: String)
      : Seq[(Long, String, String, String, Long, Long, Long, Long)] =
    wordpieceMerges(s, "wordpieceMerges|" + dir, docsSig(s, dir)) {
      val e18 = BigInt(10).pow(18)
      val scoreOrder = Ordering.Tuple3(Ordering.Long, sparkOrder, sparkOrder)
      trainedMerges(collectedVocab(s, dir), WORDPIECE_MERGES) { rows =>
        // symbol counts include single-symbol words
        val scnt = rows.flatMap { case (syms, f) => syms.map(_ -> f) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        val scored = adjacentPairs(rows).map { case ((l, r), cnt) =>
          val (lc, rc) = (scnt(l), scnt(r))
          (l, r, (cnt, lc, rc, (BigInt(cnt) * e18 / (BigInt(lc) * rc)).toLong))
        }
        scored.minByOption { case (l, r, t) => (-t._4, l, r) }(scoreOrder)
      }.map { case (k, l, r, lr, (cnt, lc, rc, sc)) => (k, l, r, lr, cnt, lc, rc, sc) }
    }

  def tokenizeWordpieceTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedWordpieceMerges(s, dir)
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_freq",
        "left_freq", "right_freq", "score_e18")
      .orderBy(col("rank"))
  }

  /** DuckDB twin: the training loop unrolled — per round a symbol-count
    * CTE, a pair-count CTE, the likelihood-scored LIMIT-1 winner, and
    * the delimited-string rewrite; MATERIALIZED for the same
    * exponential-inlining reason as the BPE chain. */
  private val wordpieceTrainCtes: Seq[String] =
    trainCtes("v", "wp", "wb", WORDPIECE_MERGES) { k =>
      Seq(s"""ws$k AS MATERIALIZED (
        |  SELECT sym, CAST(sum(freq) AS BIGINT) AS scnt
        |  FROM (SELECT unnest(string_split(trim(seq), '  ')) AS sym, freq FROM v${k - 1})
        |  GROUP BY 1)""".stripMargin,
        s"""wb$k AS (SELECT p.l, p.r, p.cnt, sl.scnt AS lcnt, sr.scnt AS rcnt,
        |  CAST(CAST(p.cnt AS HUGEINT) * 1000000000000000000
        |       // (CAST(sl.scnt AS HUGEINT) * sr.scnt) AS BIGINT) AS score_e18
        |  FROM wp$k p JOIN ws$k sl ON sl.sym = p.l JOIN ws$k sr ON sr.sym = p.r
        |  ORDER BY score_e18 DESC, p.l, p.r LIMIT 1)""".stripMargin)
    }

  val tokenizeWordpieceTrainSql: String = {
    val sel = (1 to WORDPIECE_MERGES).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rank, l AS left_sym, r AS right_sym, " +
        s"l || r AS merged, cnt AS pair_freq, lcnt AS left_freq, " +
        s"rcnt AS right_freq, score_e18 FROM wb$k")
      .mkString("\nUNION ALL\n")
    "WITH " + wordpieceTrainCtes.mkString(",\n") + "\n" + sel + "\nORDER BY rank"
  }

  /** BPE-dropout segmentation (Provilkov et al. 2020) — the
    * subword-regularization face: during merge REPLAY (training is
    * untouched), each (word, merge-rank) pair deterministically skips
    * its merge with probability 1/10 (a "bd|word|rank"-salted content
    * hash — the stochastic dropout made replayable, so both engines
    * and every epoch-0 run agree bit-for-bit while still exposing the
    * model to alternative segmentations). Output per vocab word: the
    * baseline and dropout symbol counts and the inflation in exact
    * ppm — dropout can only ever SPLIT FINER (spec-pinned), and the
    * inflation distribution is the knob's effect size.
    *
    * == Scale design ==
    * Rides the memoized trained merges; both replays are chained
    * narrow column rewrites over the vocab relation (the dropout arm
    * adds one hash + CASE per round). Corpus-independent after the
    * one word-count scan.
    */
  def tokenizeBpeDropout(s: SparkSession, dir: String): DataFrame = {
    val merges = trainedBpeMerges(s, dir)
    val seqBase = replayed(col("seq"), merges)
    // the dropout arm MUST advance through a materialized column per
    // round: its CASE references the previous state twice (keep vs
    // rewrite), so an expression fold would duplicate the subtree
    // 2^rounds times — the same exponential trap the oracle's
    // MATERIALIZED CTEs guard against. CollapseProject keeps the
    // stacked projections apart (the doubly-referenced alias is not
    // cheap), so the plan stays linear in the merge count.
    val dropped = merges.foldLeft(
      bpeVocab(s, dir).withColumn("dseq", col("seq"))) {
      case (df, (k, l, r, _, _)) =>
        df.withColumn("dseq",
          when(polyHash(concat(lit("bd|"), col("w"), lit(s"|$k")), 1000000007L) % 10 === 0, col("dseq"))
            .otherwise(merged(col("dseq"), l, r)))
    }
    dropped
      .select(col("w").as("word"), col("freq"),
        size(split(trim(seqBase), "  ")).cast("long").as("n_syms_base"),
        size(split(trim(col("dseq")), "  ")).cast("long").as("n_syms_drop"))
      .withColumn("inflation_ppm",
        expr("(1000000 * (n_syms_drop - n_syms_base)) div n_syms_base"))
      .orderBy(col("word"))
  }

  /** DuckDB twin: the training chain plus a parallel dropout-replay
    * chain (each round a CASE on the salted hash before the same
    * literal replace). */
  lazy val tokenizeBpeDropoutSql: String = {
    val drops = (1 to BPE_MERGES).map { k =>
      val p = k - 1
      s"""d$k AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE WHEN ${polyHashSql(s"'bd|' || word || '|$k'", 1000000007L)} % 10 = 0 THEN dseq
         |      ELSE ${mergedSql("dseq")} END AS dseq
         |  FROM d$p CROSS JOIN b$k)""".stripMargin
    }.mkString(",\n")
    "WITH " + bpeTrainCtes.mkString(",\n") + s""",
      |d0 AS (SELECT word, freq, seq AS dseq FROM w0),
      |$drops
      |SELECT w.word, w.freq,
      |  CAST(len(string_split(trim(w.seq), '  ')) AS BIGINT) AS n_syms_base,
      |  CAST(len(string_split(trim(d.dseq), '  ')) AS BIGINT) AS n_syms_drop,
      |  (1000000 * (CAST(len(string_split(trim(d.dseq), '  ')) AS BIGINT) - len(string_split(trim(w.seq), '  ')))) // CAST(len(string_split(trim(w.seq), '  ')) AS BIGINT) AS inflation_ppm
      |FROM w$BPE_MERGES w JOIN d$BPE_MERGES d USING (word)
      |ORDER BY w.word""".stripMargin
  }

  /** Tokenizer-coverage evaluation — the readout every tokenizer
    * training run reports before the vocabulary ships: per corpus
    * source, the exact word/character/subword mass under the trained
    * BPE model and the compression ratio (characters per emitted
    * subword, integer ppm). A vocabulary that compresses one slice of
    * the mixture much worse than another (code vs prose, language A
    * vs B) inflates that slice's training cost; this is the gate that
    * catches it. `n_subwords` counts the `</w>` markers too (they are
    * symbols the encoder emits), so ppm is over the true emitted
    * stream.
    *
    * == Scale design ==
    * One corpus scan folded to per-(source, word) counts (map-side
    * combinable, Heaps-law-bounded keys), one broadcast join against
    * the capped-vocab segment table (reused from the training memo —
    * zero retraining), one O(sources) aggregate. The corpus never
    * shuffles; at 100 TB this is a scan plus dictionary-sized work.
    */
  def tokenizeCoverage(s: SparkSession, dir: String): DataFrame = {
    val segs = bpeSegmentsShared(s, dir)
      .select(col("word").as("w"), col("n_syms"))
    docs(s, dir)
      .select(col("source"), explode(words).as("w")).filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("occ"))
      .join(broadcast(segs), Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("occ")).as("n_words"),
        sum(col("occ") * length(col("w"))).as("n_chars"),
        sum(col("occ") * col("n_syms")).as("n_subwords"))
      .select(col("source"), col("n_words"), col("n_chars"), col("n_subwords"),
        expr("(n_chars * 1000000) div n_subwords").as("chars_per_subword_ppm"))
      .orderBy(col("source"))
  }

  /** DuckDB twin: the training chain's final vocab state as the
    * segment table, joined to per-(source, word) counts. */
  val tokenizeCoverageSql: String =
    "WITH " + bpeTrainCtes.mkString(",\n") + s""",
      |sv AS (SELECT word, CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_syms FROM w$BPE_MERGES),
      |wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS occ
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY source, w)
      |SELECT source,
      |  CAST(sum(occ) AS BIGINT) AS n_words,
      |  CAST(sum(occ * len(w)) AS BIGINT) AS n_chars,
      |  CAST(sum(occ * n_syms) AS BIGINT) AS n_subwords,
      |  (CAST(sum(occ * len(w)) AS BIGINT) * 1000000) // CAST(sum(occ * n_syms) AS BIGINT) AS chars_per_subword_ppm
      |FROM wc JOIN sv ON sv.word = wc.w
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** The three redaction classes, in application order, as PORTABLE
    * character-class regexes (Java regex and RE2 agree on every
    * construct used: classes, bounded repeats, `\b` over ASCII).
    * Class k is counted and replaced on the text with classes 1..k−1
    * already redacted, so a span can only ever belong to one class.
    */
  private val redactClasses: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b[0-9]{3}-[0-9]{4}\\b", "<PHONE>"),
    ("\\b[0-9]{6,}\\b", "<ID>"))

  /** PII/sensitive-span scrub with per-class removed accounting — the
    * curation gate every production corpus pipeline runs before
    * training (emails, phone-shaped numbers, long numeric ids →
    * class tokens). The corpus is synthetic prose with no organic PII,
    * so each doc is first AUGMENTED with deterministic planted spans
    * derived from doc_id (an email, a phone, a 6+-digit id) — the
    * operator under test is the scrub, and the plant makes its effect
    * non-vacuous and oracle-checkable at every scale factor. Output:
    * the redacted text plus exact per-class match counts.
    *
    * == Scale design ==
    * One codegen'd corpus scan — three regexp_replace/extract_all
    * pairs composed as column expressions, no shuffle at all until
    * the (display-only) orderBy. At 100 TB this is the embarrassingly
    * parallel map pass it should be; the per-class counts aggregate
    * downstream as plain longs if a corpus-level audit total is
    * needed.
    */
  def textRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" mail user"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".org"),
      lit(" code "), (col("doc_id") * 7919L + 100000L).cast("string"),
      lit(" tel 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val (redacted, counts) = redactClasses
      .foldLeft((planted, Seq.empty[Column])) {
        case ((txt, cs), (re, tok)) =>
          val n = size(regexp_extract_all(txt, lit(re), lit(0)))
            .cast("long").as(s"n_${tok.toLowerCase.filter(_.isLetter)}")
          (regexp_replace(txt, re, tok), cs :+ n)
      }
    docs(s, dir).select(
        col("doc_id") +: redacted.as("redacted") +: counts: _*)
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: same plant, same regexes with the 'g' flag (DuckDB
    * regexp_replace is first-match-only by default), counts via
    * regexp_extract_all on the progressively redacted text.
    */
  val textRedactSql: String = {
    val planted =
      """text || ' mail user' || CAST(doc_id AS VARCHAR)
        | || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
        | || ' code ' || CAST(doc_id * 7919 + 100000 AS VARCHAR)
        | || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"""
        .stripMargin.replace("\n", "")
    val (expr, counts) = redactClasses.foldLeft((s"($planted)", Seq.empty[String])) {
      case ((txt, cs), (re, tok)) =>
        val name = "n_" + tok.toLowerCase.filter(_.isLetter)
        val n = s"CAST(len(regexp_extract_all($txt, '$re', 0)) AS BIGINT) AS $name"
        (s"regexp_replace($txt, '$re', '$tok', 'g')", cs :+ n)
    }
    s"""SELECT doc_id, $expr AS redacted,
       |  ${counts.mkString(",\n  ")}
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Per-source PII incidence ledger (r14 wave 31 — the release-audit
    * face [[textRedact]]'s per-doc scrub feeds: a data card quotes
    * "PII per million tokens by provenance", not a per-doc table):
    * the SAME planted spans and the SAME progressive class counting
    * as the redact face (email first, then phone on the
    * already-redacted text, then long ids — shared `redactClasses`,
    * so the audit cannot drift from the scrubber), rolled up per
    * source: docs, token mass, per-class hit counts, hits per million
    * tokens in exact integers, and the affected-doc rate in exact
    * ppm. The denominator is the ORIGINAL token mass (the corpus a
    * consumer sees), not the planted text.
    *
    * == Scale design ==
    * One corpus scan — the per-class regex counts are codegen'd
    * column math over the scan exactly as the parent face — folding
    * map-side onto O(sources) keys.
    */
  def textPiiAudit(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" mail user"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".org"),
      lit(" code "), (col("doc_id") * 7919L + 100000L).cast("string"),
      lit(" tel 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    val (_, counts) = redactClasses
      .foldLeft((planted, Seq.empty[Column])) {
        case ((txt, cs), (re, tok)) =>
          val n = size(regexp_extract_all(txt, lit(re), lit(0)))
            .cast("long").as(s"n_${tok.toLowerCase.filter(_.isLetter)}")
          (regexp_replace(txt, re, tok), cs :+ n)
      }
    val perDoc = docs(s, dir).select(
      col("source") +: size(words).cast("long").as("toks") +: counts: _*)
    perDoc.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("n_email")).as("n_email"),
        sum(col("n_phone")).as("n_phone"),
        sum(col("n_id")).as("n_id"),
        sum(when(col("n_email") + col("n_phone") + col("n_id") > 0L, 1L)
          .otherwise(0L)).as("docs_affected"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_email"), col("n_phone"), col("n_id"),
        expr("1000000 * (n_email + n_phone + n_id) div n_tokens")
          .as("hits_per_mtok"),
        expr("1000000 * docs_affected div n_docs").as("affected_ppm"))
      .orderBy(col("source"))
  }

  /** DuckDB twin: same plant, same progressive counting, same rollup. */
  val textPiiAuditSql: String = {
    val planted =
      """text || ' mail user' || CAST(doc_id AS VARCHAR)
        | || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org'
        | || ' code ' || CAST(doc_id * 7919 + 100000 AS VARCHAR)
        | || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"""
        .stripMargin.replace("\n", "")
    val (_, counts) = redactClasses.foldLeft((s"($planted)", Seq.empty[String])) {
      case ((txt, cs), (re, tok)) =>
        val name = "n_" + tok.toLowerCase.filter(_.isLetter)
        val n = s"CAST(len(regexp_extract_all($txt, '$re', 0)) AS BIGINT) AS $name"
        (s"regexp_replace($txt, '$re', '$tok', 'g')", cs :+ n)
    }
    s"""WITH d AS (SELECT source, len(string_split(text, ' ')) AS toks,
       |    ${counts.mkString(",\n    ")}
       |  FROM documents)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_email) AS BIGINT) AS n_email,
       |  CAST(sum(n_phone) AS BIGINT) AS n_phone,
       |  CAST(sum(n_id) AS BIGINT) AS n_id,
       |  1000000 * CAST(sum(n_email) + sum(n_phone) + sum(n_id) AS BIGINT)
       |    // CAST(sum(toks) AS BIGINT) AS hits_per_mtok,
       |  1000000 * CAST(sum(CASE WHEN n_email + n_phone + n_id > 0
       |    THEN 1 ELSE 0 END) AS BIGINT) // count(*) AS affected_ppm
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  // ------------------------------------------- unigram-LM tokenizer
  /** SentencePiece-style unigram-LM tokenization (Kudo 2018) — the
    * third production segmentation family beside BPE (merge-rank
    * replay) and WordPiece (greedy longest-match): pieces carry
    * PROBABILITIES and each word takes its Viterbi-optimal
    * segmentation (minimum total cost), trained by hard-EM. The
    * engine's replayable rendition keeps every step exact-integer so
    * both engines agree bit-for-bit:
    *
    *   - seed vocabulary = the corpus alphabet (closure: every word
    *     segmentable) ∪ the top-[[UNI_K]] substrings of length 2..4
    *     by frequency-weighted occurrence mass ((mass desc, piece)
    *     cut — the unigram "make a big candidate set, keep the
    *     useful" shape with a deterministic prune);
    *   - piece cost = floor-log2(M) − floor-log2(mass) — the integer
    *     bit-cost family [[textSurprisal]] established (−log₂ p in
    *     whole bits);
    *   - Viterbi = per-word DP over ≤[[UNI_MAXP]]-char pieces,
    *     tie-broken (cost, n_pieces, segmentation-string) — total
    *     order, so the best path is unique on both engines;
    *   - ONE hard-EM round: piece masses re-estimated from the
    *     round-1 Viterbi segmentations (frequency-weighted usage,
    *     Laplace +1 so unused pieces keep finite cost), costs
    *     recomputed, words re-segmented under the final model.
    *
    * [[tokenizeUnigram]] emits the trained model (piece, seed mass,
    * EM mass, final bit-cost); [[tokenizeUnigramSegments]] the final
    * per-word Viterbi segmentation. The oracle unrolls the DP as 8
    * MATERIALIZED position rounds per EM phase (words here are ≤ 8
    * chars — the same bound [[tokenizeWordpieceSql]] pins) with a
    * row_number best-state cut per (word, position).
    *
    * == Scale design ==
    * The corpus is scanned once for the Heaps-law word counts and the
    * (word, freq) vocab is collected once; training then runs on the
    * driver over that dictionary: substring seeding (≤ 4·len pieces
    * per word), the round-1 Viterbi pass and the O(pieces) `used`
    * re-mass. One retrain is one job, and no cached relation outlives
    * it. The model is O(alphabet + [[UNI_K]]) pieces, broadcast into
    * [[tokenizeUnigramSegments]]' per-word DP (a bounded mapPartitions
    * like the WordPiece matcher, the sanctioned typed escape).
    */
  private val UNI_K = 64
  private val UNI_MAXP = 4
  private val UNI_POS = 8

  /** Viterbi best path for one word under an integer piece-cost
    * model; returns (total cost, n_pieces, space-joined pieces).
    * Tie-break (cost, np, acc) — the oracle's row_number order.
    */
  private def uniViterbi(w: String, cost: collection.Map[String, Long]): (Long, Long, String) = {
    val ord = Ordering.Tuple3[Long, Long, String]
    val dp = new Array[(Long, Long, String)](w.length + 1)
    dp(0) = (0L, 0L, "")
    var p = 1
    while (p <= w.length) {
      var best: (Long, Long, String) = null
      var q = math.max(0, p - UNI_MAXP)
      while (q < p) {
        if (dp(q) != null) {
          val piece = w.substring(q, p)
          val c = cost.get(piece)
          if (c.isDefined) {
            val prev = dp(q)
            val cand = (prev._1 + c.get, prev._2 + 1L,
              if (prev._3.isEmpty) piece else prev._3 + " " + piece)
            if (best == null || ord.lt(cand, best)) best = cand
          }
        }
        q += 1
      }
      dp(p) = best
      p += 1
    }
    dp(w.length)
  }

  private def lg2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)

  /** Trained unigram model memo: (piece, seed_mass, em_mass, cost). */
  private val uniModels = new SessionMemo[Seq[(String, Long, Long, Long)]]

  private def trainedUnigram(s: SparkSession, dir: String): Seq[(String, Long, Long, Long)] =
    uniModels(s, "unigramModel|" + dir, docsSig(s, dir)) {
      val wv = collectedVocab(s, dir).map { case (w, f, _) => (w, f) }
      // seed: alphabet + top-K multi-char substrings by weighted mass;
      // substrings count code points, as Spark's substring does
      val sub = wv.flatMap { case (w, f) =>
        val cps = w.codePoints().toArray
        for (i <- cps.indices; l <- 1 to math.min(UNI_MAXP, cps.length - i))
          yield (new String(cps, i, l), l, f)
      }.groupMapReduce(p => (p._1, p._2))(_._3)(_ + _).toSeq
      val alpha = sub.collect { case ((p, 1), m) => (p, m) }
      val multi = sub.collect { case ((p, l), m) if l >= 2 => (p, m) }
        .sortBy { case (p, m) => (-m, p) }(Ordering.Tuple2(Ordering.Long, sparkOrder))
        .take(UNI_K)
      val seed = alpha ++ multi
      val m1 = seed.map(_._2).sum
      val cost1 = seed.map { case (p, m) => p -> (lg2(m1) - lg2(m)) }.toMap
      // hard-EM round: usage mass from round-1 Viterbi segmentations
      val used = wv.flatMap { case (w, f) =>
        uniViterbi(w, cost1)._3.split(" ", -1).map(_ -> f)
      }.groupMapReduce(_._1)(_._2)(_ + _)
      val mass2 = seed.map { case (p, sm) => (p, sm, used.getOrElse(p, 0L) + 1L) }
      val m2 = mass2.map(_._3).sum
      mass2.map { case (p, sm, em) => (p, sm, em, lg2(m2) - lg2(em)) }
    }

  /** The trained unigram model — piece inventory with seed mass, EM
    * mass (Laplace-smoothed usage) and the final integer bit-cost. */
  def tokenizeUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainedUnigram(s, dir)
      .toDF("piece", "seed_mass", "em_mass", "cost_bits")
      .orderBy(col("piece"))
  }

  /** The final Viterbi segmentation of every vocab word under the
    * trained model — the unigram counterpart of
    * [[tokenizeBpeSegments]]/[[tokenizeWordpiece]]. */
  def tokenizeUnigramSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cost2 = trainedUnigram(s, dir).map { case (p, _, _, c) => p -> c }.toMap
    bpeVocab(s, dir).select(col("w"), col("freq")).as[(String, Long)]
      .mapPartitions { it =>
        it.map { case (w, f) =>
          val (c, np, acc) = uniViterbi(w, cost2)
          (w, f, np, acc, c)
        }
      }
      .toDF("word", "freq", "n_pieces", "segmented", "cost_bits")
      .orderBy(col("word"))
  }

  /** The unigram training chain as DuckDB CTEs: seed → costs → 8
    * unrolled Viterbi position rounds → EM re-mass → 8 more rounds.
    */
  private def uniViterbiCtes(tag: String, costRel: String): String = {
    val s0 =
      s"""${tag}s0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS pos,
         |  CAST(0 AS BIGINT) AS cost, CAST(0 AS BIGINT) AS np, '' AS acc FROM uwv)""".stripMargin
    val rounds = (1 to UNI_POS).map { p =>
      val prevs = (math.max(0, p - UNI_MAXP) until p)
        .map(q => s"SELECT * FROM ${tag}s$q").mkString(" UNION ALL ")
      s"""${tag}s$p AS MATERIALIZED (
         |  SELECT word, freq, pos, cost, np, acc FROM (
         |    SELECT s.word, s.freq, CAST($p AS BIGINT) AS pos,
         |      s.cost + c.cost AS cost, s.np + 1 AS np,
         |      CASE WHEN s.acc = '' THEN c.piece ELSE s.acc || ' ' || c.piece END AS acc,
         |      row_number() OVER (PARTITION BY s.word
         |        ORDER BY s.cost + c.cost, s.np + 1,
         |          CASE WHEN s.acc = '' THEN c.piece ELSE s.acc || ' ' || c.piece END) AS rn
         |    FROM ($prevs) s
         |    JOIN $costRel c
         |      ON c.piece = substr(s.word, CAST(s.pos + 1 AS INT), $p - CAST(s.pos AS INT))
         |    WHERE strlen(s.word) >= $p)
         |  WHERE rn = 1)""".stripMargin
    }
    val fin = (1 to UNI_POS).map(p => s"SELECT * FROM ${tag}s$p").mkString(" UNION ALL ")
    ((s0 +: rounds) :+
      s"${tag}f AS (SELECT word, freq, np, acc, cost FROM ($fin) WHERE strlen(word) = pos)")
      .mkString(",\n")
  }

  private lazy val uniTrainCtes: String = {
    val base =
      s"""uwv AS MATERIALIZED (
         |  SELECT w AS word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |usub AS MATERIALIZED (
         |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |         CAST(sum(freq) AS BIGINT) AS mass
         |  FROM uwv, unnest(range(1, strlen(word) + 1)) t(i),
         |       unnest(range(1, ${UNI_MAXP + 1})) u(l)
         |  WHERE i + l <= strlen(word) + 1
         |  GROUP BY 1),
         |useed AS MATERIALIZED (
         |  SELECT piece, mass FROM usub WHERE strlen(piece) = 1
         |  UNION ALL
         |  SELECT piece, mass FROM (
         |    SELECT piece, mass FROM usub WHERE strlen(piece) >= 2
         |    ORDER BY mass DESC, piece LIMIT $UNI_K)),
         |um1 AS (SELECT CAST(sum(mass) AS BIGINT) AS m FROM useed),
         |uc1 AS MATERIALIZED (
         |  SELECT piece, mass,
         |    CAST(length(bin(m)) - length(bin(mass)) AS BIGINT) AS cost
         |  FROM useed CROSS JOIN um1)""".stripMargin
    val em =
      s"""ucnt2 AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS used
         |  FROM (SELECT unnest(string_split(acc, ' ')) AS piece, freq FROM u1f)
         |  GROUP BY 1),
         |umass2 AS MATERIALIZED (
         |  SELECT s.piece, s.mass AS seed_mass, COALESCE(c.used, 0) + 1 AS mass
         |  FROM useed s LEFT JOIN ucnt2 c USING (piece)),
         |um2 AS (SELECT CAST(sum(mass) AS BIGINT) AS m FROM umass2),
         |uc2 AS MATERIALIZED (
         |  SELECT piece, seed_mass, mass,
         |    CAST(length(bin(m)) - length(bin(mass)) AS BIGINT) AS cost
         |  FROM umass2 CROSS JOIN um2)""".stripMargin
    Seq(base, uniViterbiCtes("u1", "uc1"), em, uniViterbiCtes("u2", "uc2"))
      .mkString(",\n")
  }

  lazy val tokenizeUnigramSql: String =
    s"""WITH $uniTrainCtes
       |SELECT piece, seed_mass, mass AS em_mass, cost AS cost_bits
       |FROM uc2 ORDER BY piece""".stripMargin

  lazy val tokenizeUnigramSegmentsSql: String =
    s"""WITH $uniTrainCtes
       |SELECT word, freq, np AS n_pieces, acc AS segmented, cost AS cost_bits
       |FROM u2f ORDER BY word""".stripMargin

  // -------------------------------------------- tokenizer comparison
  /** The tokenizer-SELECTION report — the readout a team looks at
    * before committing a vocabulary: all three trained disciplines
    * ([[tokenizeBpeSegments]] merge-rank replay,
    * [[tokenizeWordpiece]] greedy longest-match,
    * [[tokenizeUnigramSegments]] Viterbi unigram-LM) run over the
    * same word-frequency relation, rolled to one row per family:
    * vocab words covered, the FREQUENCY-WEIGHTED corpus subword mass
    * (the number the packer consumes — [[packSubword]] packs exactly
    * the BPE row's mass), the distinct piece inventory actually used,
    * and chars-per-piece compression in exact milli units. BPE's mass
    * counts its `</w>` end-of-word marker because that IS what
    * [[tokenizeBpeIds]] emits and a model consumes — the comparison
    * is over what each family actually feeds training, not a
    * normalized abstraction.
    *
    * == Scale design ==
    * All three faces ride the Heaps-law vocab relation (the corpus is
    * scanned once for word counts, memoized models thereafter), so
    * the comparison costs three vocab-sized passes + one rollup —
    * corpus-size-independent after the count scan.
    */
  def tokenizeCompare(s: SparkSession, dir: String): DataFrame = {
    val bpe = bpeSegmentsShared(s, dir)
      .select(lit("bpe").as("family"), col("word"), col("freq"),
        col("n_syms").as("n_pieces"), col("segmented"))
    val wp = tokenizeWordpiece(s, dir)
      .select(lit("wordpiece").as("family"), col("word"), col("freq"),
        col("n_pieces"), col("segmented"))
    val uni = tokenizeUnigramSegments(s, dir)
      .select(lit("unigram").as("family"), col("word"), col("freq"),
        col("n_pieces"), col("segmented"))
    val u = bpe.union(wp).union(uni)
    val pc = u.select(col("family"), explode(split(col("segmented"), " ")).as("piece"))
      .groupBy(col("family")).agg(countDistinct(col("piece")).as("distinct_pieces"))
    u.groupBy(col("family"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("freq") * col("n_pieces")).as("corpus_subwords"),
        sum(col("freq") * length(col("word"))).as("corpus_chars"))
      .join(broadcast(pc), "family")
      .select(col("family"), col("n_words"), col("corpus_subwords"),
        col("distinct_pieces"),
        expr("1000 * corpus_chars div corpus_subwords").as("cpp_milli"))
      .orderBy(col("family"))
  }

  /** DuckDB twin: the three segmentation oracles inlined as derived
    * tables (each carries its own scoped training chain), same
    * rollup. */
  lazy val tokenizeCompareSql: String =
    s"""WITH bpe AS (SELECT 'bpe' AS family, word, freq, n_syms AS n_pieces, segmented
       |  FROM ($tokenizeBpeSegmentsSql)),
       |wp AS (SELECT 'wordpiece' AS family, word, freq, n_pieces, segmented
       |  FROM ($tokenizeWordpieceSql)),
       |uni AS (SELECT 'unigram' AS family, word, freq, n_pieces, segmented
       |  FROM ($tokenizeUnigramSegmentsSql)),
       |u AS (SELECT * FROM bpe UNION ALL SELECT * FROM wp UNION ALL SELECT * FROM uni),
       |pieces AS (SELECT family, unnest(string_split(segmented, ' ')) AS piece FROM u),
       |pc AS (SELECT family, count(DISTINCT piece) AS distinct_pieces
       |  FROM pieces GROUP BY 1),
       |r AS (SELECT family, count(*) AS n_words,
       |    CAST(sum(freq * n_pieces) AS BIGINT) AS corpus_subwords,
       |    CAST(sum(freq * strlen(word)) AS BIGINT) AS corpus_chars
       |  FROM u GROUP BY 1)
       |SELECT r.family, n_words, corpus_subwords, distinct_pieces,
       |  1000 * corpus_chars // corpus_subwords AS cpp_milli
       |FROM r JOIN pc USING (family) ORDER BY family""".stripMargin

  /** Cross-discipline piece-inventory overlap (r14 wave 34 — the
    * interoperability table behind [[tokenizeCompare]]'s per-family
    * summary: switching tokenizers mid-project re-trains embeddings
    * for every piece the families DON'T share, and this table prices
    * that migration): for each family pair, pieces in both / only in
    * each, inventory Jaccard in exact ppm, and — the column that
    * matters more than raw inventory — each side's corpus USE MASS
    * landing on shared pieces (a piece used once and a piece carrying
    * 10 % of the corpus are different migration risks). Masses are
    * exact integer occurrence-weighted piece uses from the same
    * segment relations the compare face rolls up.
    *
    * == Scale design ==
    * Rides the three vocab-bounded segment relations only (training
    * memoized); the piece-mass relations are O(pieces) and the pair
    * join is piece-keyed over those bounded inventories; ledger
    * O(pairs) = 3 rows.
    */
  def tokenizePieceOverlap(s: SparkSession, dir: String): DataFrame = {
    val bpe = bpeSegmentsShared(s, dir)
      .select(lit("bpe").as("family"), col("freq"), col("segmented"))
    val wp = tokenizeWordpiece(s, dir)
      .select(lit("wordpiece").as("family"), col("freq"), col("segmented"))
    val uni = tokenizeUnigramSegments(s, dir)
      .select(lit("unigram").as("family"), col("freq"), col("segmented"))
    val pm = bpe.union(wp).union(uni)
      .select(col("family"), col("freq"), explode(split(col("segmented"), " ")).as("piece"))
      .groupBy(col("family"), col("piece")).agg(sum(col("freq")).as("mass"))
    val tot = pm.groupBy(col("family"))
      .agg(count(lit(1)).as("n_pieces"), sum(col("mass")).as("total_mass"))
    val a = pm.select(col("family").as("family_a"), col("piece"), col("mass").as("mass_a"))
    val b = pm.select(col("family").as("family_b"), col("piece"), col("mass").as("mass_b"))
    val shared = a.join(b, "piece").filter(col("family_a") < col("family_b"))
      .groupBy(col("family_a"), col("family_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("mass_a")).as("sm_a"), sum(col("mass_b")).as("sm_b"))
    shared
      .join(broadcast(tot.select(col("family").as("family_a"),
        col("n_pieces").as("np_a"), col("total_mass").as("tm_a"))), "family_a")
      .join(broadcast(tot.select(col("family").as("family_b"),
        col("n_pieces").as("np_b"), col("total_mass").as("tm_b"))), "family_b")
      .select(col("family_a"), col("family_b"), col("n_shared"),
        (col("np_a") - col("n_shared")).as("n_only_a"),
        (col("np_b") - col("n_shared")).as("n_only_b"),
        expr("1000000 * n_shared div (np_a + np_b - n_shared)").as("jaccard_ppm"),
        expr("1000000 * sm_a div tm_a").as("mass_a_shared_ppm"),
        expr("1000000 * sm_b div tm_b").as("mass_b_shared_ppm"))
      .orderBy(col("family_a"), col("family_b"))
  }

  /** DuckDB twin: the three segmentation oracles inlined, same piece
    * masses, same pair rollup. */
  lazy val tokenizePieceOverlapSql: String =
    s"""WITH bpe AS (SELECT 'bpe' AS family, freq, segmented
       |  FROM ($tokenizeBpeSegmentsSql)),
       |wp AS (SELECT 'wordpiece' AS family, freq, segmented
       |  FROM ($tokenizeWordpieceSql)),
       |uni AS (SELECT 'unigram' AS family, freq, segmented
       |  FROM ($tokenizeUnigramSegmentsSql)),
       |u AS (SELECT * FROM bpe UNION ALL SELECT * FROM wp UNION ALL SELECT * FROM uni),
       |pm AS (SELECT family, piece, CAST(sum(freq) AS BIGINT) AS mass
       |  FROM (SELECT family, freq, unnest(string_split(segmented, ' ')) AS piece FROM u)
       |  GROUP BY 1, 2),
       |tot AS (SELECT family, count(*) AS n_pieces,
       |    CAST(sum(mass) AS BIGINT) AS total_mass FROM pm GROUP BY 1),
       |sh AS (SELECT a.family AS family_a, b.family AS family_b,
       |    count(*) AS n_shared,
       |    CAST(sum(a.mass) AS BIGINT) AS sm_a,
       |    CAST(sum(b.mass) AS BIGINT) AS sm_b
       |  FROM pm a JOIN pm b ON a.piece = b.piece AND a.family < b.family
       |  GROUP BY 1, 2)
       |SELECT sh.family_a, sh.family_b, sh.n_shared,
       |  ta.n_pieces - sh.n_shared AS n_only_a,
       |  tb.n_pieces - sh.n_shared AS n_only_b,
       |  1000000 * sh.n_shared // (ta.n_pieces + tb.n_pieces - sh.n_shared) AS jaccard_ppm,
       |  1000000 * sh.sm_a // ta.total_mass AS mass_a_shared_ppm,
       |  1000000 * sh.sm_b // tb.total_mass AS mass_b_shared_ppm
       |FROM sh JOIN tot ta ON ta.family = sh.family_a
       |JOIN tot tb ON tb.family = sh.family_b
       |ORDER BY family_a, family_b""".stripMargin

  /** Per-language tokenizer fertility — the multilingual parity audit
    * (the measurement behind "tokenizers tax some languages more than
    * others", e.g. Petrov et al. 2023): for each of the three trained
    * disciplines and each language, pieces-per-word (fertility) and
    * chars-per-piece in exact milli units, weighted by the language's
    * OWN word-occurrence counts — a language whose words shatter into
    * more pieces pays proportionally more sequence length for the
    * same text, and this table is where that tax is read off per
    * family before choosing a tokenizer.
    *
    * == Scale design ==
    * One corpus scan folds map-side onto the (lang, word) count
    * relation (langs × Heaps-law vocab, ≪ corpus); the three segment
    * relations are vocab-bounded and join on the word key; the rollup
    * lands on O(families × langs) rows. Training costs are the
    * memoized/bounded chains the segment faces already pay.
    */
  def tokenizeFertility(s: SparkSession, dir: String): DataFrame = {
    val wl = docs(s, dir)
      .select(col("lang"), explode(words).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("n_wl"))
    val seg = bpeSegmentsShared(s, dir)
      .select(lit("bpe").as("family"), col("word"), col("n_syms").as("n_pieces"))
      .union(tokenizeWordpiece(s, dir)
        .select(lit("wordpiece").as("family"), col("word"), col("n_pieces")))
      .union(tokenizeUnigramSegments(s, dir)
        .select(lit("unigram").as("family"), col("word"), col("n_pieces")))
    wl.join(seg, "word")
      .groupBy(col("family"), col("lang"))
      .agg(countDistinct(col("word")).as("n_word_types"),
        sum(col("n_wl")).as("corpus_words"),
        sum(col("n_wl") * col("n_pieces")).as("corpus_pieces"),
        sum(col("n_wl") * length(col("word"))).as("corpus_chars"))
      .select(col("family"), col("lang"), col("n_word_types"),
        col("corpus_words"), col("corpus_pieces"),
        expr("1000 * corpus_pieces div corpus_words").as("fertility_milli"),
        expr("1000 * corpus_chars div corpus_pieces").as("cpp_milli"))
      .orderBy(col("family"), col("lang"))
  }

  /** DuckDB twin: the three segmentation oracles inlined (scoped
    * training chains), joined onto the per-(lang, word) count CTE. */
  lazy val tokenizeFertilitySql: String =
    s"""WITH wl AS (SELECT lang, w AS word, count(*) AS n_wl
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY 1, 2),
       |bpe AS (SELECT 'bpe' AS family, word, n_syms AS n_pieces
       |  FROM ($tokenizeBpeSegmentsSql)),
       |wp AS (SELECT 'wordpiece' AS family, word, n_pieces
       |  FROM ($tokenizeWordpieceSql)),
       |uni AS (SELECT 'unigram' AS family, word, n_pieces
       |  FROM ($tokenizeUnigramSegmentsSql)),
       |seg AS (SELECT * FROM bpe UNION ALL SELECT * FROM wp
       |  UNION ALL SELECT * FROM uni)
       |SELECT family, lang, count(DISTINCT wl.word) AS n_word_types,
       |  CAST(sum(n_wl) AS BIGINT) AS corpus_words,
       |  CAST(sum(n_wl * n_pieces) AS BIGINT) AS corpus_pieces,
       |  CAST((1000 * sum(n_wl * n_pieces)) // sum(n_wl) AS BIGINT) AS fertility_milli,
       |  CAST((1000 * sum(n_wl * strlen(wl.word))) // sum(n_wl * n_pieces) AS BIGINT) AS cpp_milli
       |FROM wl JOIN seg ON wl.word = seg.word
       |GROUP BY 1, 2 ORDER BY family, lang""".stripMargin

  /** Tokenizer decode round-trip certificate — the lossless contract
    * every production tokenizer ships with (SentencePiece's
    * decode(encode(x)) ≡ x guarantee): for each trained discipline,
    * strip the segmentation back to a surface form (concatenate
    * pieces, drop the `</w>` end-of-word marker) and count, by vocab
    * type and by corpus occurrence, how many words survive exactly.
    * All three registered segmenters PARTITION the word's characters,
    * so the mismatch columns are pinned to zero — the point of
    * registering the certificate is that a future segmenter change
    * that silently breaks losslessness (a normalizing merge, a lossy
    * fallback) flips a hash-checked zero, not a code comment.
    *
    * == Scale design ==
    * Rides the three vocab-bounded segment relations only — no
    * corpus scan beyond the Heaps-law word-count pass each trainer
    * already memoizes; the rollup is O(families).
    */
  def tokenizeRoundtrip(s: SparkSession, dir: String): DataFrame = {
    def dec(c: Column): Column =
      call_function("replace",
        call_function("replace", c, lit(" "), lit("")), lit("</w>"), lit(""))
    val u = bpeSegmentsShared(s, dir)
      .select(lit("bpe").as("family"), col("word"), col("freq"),
        dec(col("segmented")).as("decoded"))
      .union(tokenizeWordpiece(s, dir)
        .select(lit("wordpiece").as("family"), col("word"), col("freq"),
          dec(col("segmented")).as("decoded")))
      .union(tokenizeUnigramSegments(s, dir)
        .select(lit("unigram").as("family"), col("word"), col("freq"),
          dec(col("segmented")).as("decoded")))
    u.groupBy(col("family"))
      .agg(count(lit(1)).as("n_word_types"),
        sum(col("freq")).as("corpus_words"),
        sum(when(col("decoded") === col("word"), 1L).otherwise(0L))
          .as("n_types_exact"),
        sum(when(col("decoded") === col("word"), col("freq")).otherwise(0L))
          .as("corpus_words_exact"),
        sum(when(col("decoded") =!= col("word"), 1L).otherwise(0L))
          .as("n_types_mismatch"))
      .orderBy(col("family"))
  }

  /** DuckDB twin: the three segmentation oracles inlined, the same
    * concatenate-and-strip decode. */
  lazy val tokenizeRoundtripSql: String =
    s"""WITH bpe AS (SELECT 'bpe' AS family, word, freq, segmented
       |  FROM ($tokenizeBpeSegmentsSql)),
       |wp AS (SELECT 'wordpiece' AS family, word, freq, segmented
       |  FROM ($tokenizeWordpieceSql)),
       |uni AS (SELECT 'unigram' AS family, word, freq, segmented
       |  FROM ($tokenizeUnigramSegmentsSql)),
       |u AS (SELECT family, word, freq,
       |    replace(replace(segmented, ' ', ''), '</w>', '') AS decoded
       |  FROM (SELECT * FROM bpe UNION ALL SELECT * FROM wp
       |        UNION ALL SELECT * FROM uni))
       |SELECT family, count(*) AS n_word_types,
       |  CAST(sum(freq) AS BIGINT) AS corpus_words,
       |  CAST(sum(CASE WHEN decoded = word THEN 1 ELSE 0 END) AS BIGINT) AS n_types_exact,
       |  CAST(sum(CASE WHEN decoded = word THEN freq ELSE 0 END) AS BIGINT) AS corpus_words_exact,
       |  CAST(sum(CASE WHEN decoded <> word THEN 1 ELSE 0 END) AS BIGINT) AS n_types_mismatch
       |FROM u GROUP BY 1 ORDER BY family""".stripMargin

  /** Learning-curve table for the distilled quality filter — the
    * data-scaling question every "train a cheap student on the
    * expensive teacher's labels" pipeline must answer: how does the
    * best decision stump's HELD-OUT agreement with the teacher gate
    * move as the training set grows? Docs are dealt into 8
    * content-hash folds ("lc|"-salted, decorrelated from every other
    * split); fold 7 is the fixed eval holdout and the nested training
    * sets are folds {<1, <2, <4, <7}. Per training size the stump is
    * chosen exactly as in [[mlFeatureImportance]] (10-bucket feature
    * grid, DECIMAL-staged gini, argmin by (impurity, feature, t)),
    * side labels by train-side majority (ties → keep), and scored on
    * the holdout in exact ppm. More data should pick stabler stumps —
    * and when it does not, THIS table is the evidence.
    *
    * == Scale design ==
    * ONE corpus feature pass folds map-side onto the O(8 folds × 3
    * features × 10 buckets) histogram (stable-checkpointed); every
    * downstream step — nested-fraction sums, threshold sweep, winner
    * argmin, holdout scoring — is column math on that ≤240-row ledger
    * with broadcast joins. At 100 TB the curve costs one scan.
    */
  def mlLearningCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.Checkpoints.StableSyntax
    val hb = (polyHash(concat(lit("lc|"), col("text")), 1000000007L) % 8).as("hb")
    val stacked = stackedMilli(qualityFeatures(s, dir, Seq(col("n_chars"), hb)), "hb")
      .groupBy(col("hb"), col("feature"),
        least(lit(9L), expr("v div 100")).as("bucket"))
      .agg(count(lit(1)).as("bn"), sum(col("pass")).as("bp"))
      .stableCheckpoint()
    val fracs = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L), Tuple1(7L)))
      .toDF("k")
    val histK = stacked.filter(col("hb") < 7)
      .crossJoin(broadcast(fracs)).filter(col("hb") < col("k"))
      .groupBy(col("k"), col("feature"), col("bucket"))
      .agg(sum(col("bn")).as("bn"), sum(col("bp")).as("bp"))
    val tot = histK.groupBy(col("k"), col("feature"))
      .agg(sum(col("bn")).as("tn"), sum(col("bp")).as("tp"))
    val thr = s.range(1, 10).select(col("id").as("t"))
    def giniPpm(n: String, p: String): String =
      s"1000000 - (cast($p as decimal(38,0)) * $p + " +
        s"cast($n - $p as decimal(38,0)) * ($n - $p)) * 1000000 div " +
        s"(cast($n as decimal(38,0)) * $n)"
    val splits = histK.crossJoin(broadcast(thr)).filter(col("bucket") < col("t"))
      .groupBy(col("k"), col("feature"), col("t"))
      .agg(sum(col("bn")).as("ln"), sum(col("bp")).as("lp"))
      .join(broadcast(tot), Seq("k", "feature"))
      .filter(col("ln") >= 1 && col("tn") - col("ln") >= 1)
      .withColumn("rn", col("tn") - col("ln"))
      .withColumn("rp", col("tp") - col("lp"))
      .withColumn("wimp", expr(
        s"cast((cast(ln as decimal(38,0)) * (${giniPpm("ln", "lp")}) + " +
          s"cast(rn as decimal(38,0)) * (${giniPpm("rn", "rp")})) div tn as bigint)"))
    val wWin = Window.partitionBy(col("k"))
      .orderBy(col("wimp"), col("feature"), col("t"))
    val win = splits.withColumn("rnk", row_number().over(wWin))
      .filter(col("rnk") === 1)
      .withColumn("left_keep", (col("lp") * 2 >= col("ln")).cast("long"))
      .withColumn("right_keep", (col("rp") * 2 >= col("rn")).cast("long"))
      .select(col("k"), col("feature"), col("t"), col("tn").as("n_train"),
        col("wimp"), col("left_keep"), col("right_keep"))
    val evalHist = stacked.filter(col("hb") === 7)
      .groupBy(col("feature"), col("bucket"))
      .agg(sum(col("bn")).as("bn"), sum(col("bp")).as("bp"))
    broadcast(win).join(evalHist, "feature")
      .withColumn("matches",
        when(col("bucket") < col("t"),
          when(col("left_keep") === 1, col("bp")).otherwise(col("bn") - col("bp")))
          .otherwise(
            when(col("right_keep") === 1, col("bp")).otherwise(col("bn") - col("bp"))))
      .groupBy(col("k"), col("feature"), col("t"), col("n_train"), col("wimp"))
      .agg(sum(col("bn")).as("n_eval"), sum(col("matches")).as("n_match"))
      .select(col("k").as("train_buckets"), col("n_train"), col("n_eval"),
        col("feature"), (col("t") * 100).as("thr_milli"),
        col("wimp").as("train_impurity_ppm"),
        expr("(1000000 * n_match) div n_eval").as("eval_acc_ppm"))
      .orderBy(col("train_buckets"))
  }

  /** DuckDB twin: same fold deal, nested histogram sums, HUGEINT gini
    * staging, argmin winner, holdout scoring. */
  val mlLearningCurveSql: String = {
    def gini(n: String, p: String): String =
      s"1000000 - (CAST($p AS HUGEINT) * $p + " +
        s"CAST($n - $p AS HUGEINT) * ($n - $p)) * 1000000 // " +
        s"(CAST($n AS HUGEINT) * $n)"
    val hb = polyHashSql("'lc|' || text", 1000000007L) + " % 8 AS hb"
    s"""WITH f AS (${qualityFeaturesSql(hb)}),
       |${stackedMilliSql("hb")},
       |stacked AS (SELECT hb, feature, least(9, v // 100) AS bucket,
       |    count(*) AS bn, CAST(sum(pass) AS BIGINT) AS bp
       |  FROM st GROUP BY 1, 2, 3),
       |fracs AS (SELECT CAST(unnest([1, 2, 4, 7]) AS BIGINT) AS k),
       |histk AS (SELECT k, feature, bucket, CAST(sum(bn) AS BIGINT) AS bn,
       |    CAST(sum(bp) AS BIGINT) AS bp
       |  FROM stacked CROSS JOIN fracs WHERE hb < 7 AND hb < k
       |  GROUP BY 1, 2, 3),
       |tot AS (SELECT k, feature, CAST(sum(bn) AS BIGINT) AS tn,
       |    CAST(sum(bp) AS BIGINT) AS tp FROM histk GROUP BY 1, 2),
       |thr AS (SELECT unnest(range(1, 10)) AS t),
       |sp AS (SELECT k, feature, t, CAST(sum(bn) AS BIGINT) AS ln,
       |    CAST(sum(bp) AS BIGINT) AS lp
       |  FROM histk CROSS JOIN thr WHERE bucket < t GROUP BY 1, 2, 3),
       |g AS (SELECT sp.k, sp.feature, t, ln, lp, tn, tp,
       |    tn - ln AS rn, tp - lp AS rp
       |  FROM sp JOIN tot ON sp.k = tot.k AND sp.feature = tot.feature
       |  WHERE ln >= 1 AND tn - ln >= 1),
       |w AS (SELECT *, CAST((CAST(ln AS HUGEINT) * (${gini("ln", "lp")}) +
       |      CAST(rn AS HUGEINT) * (${gini("rn", "rp")})) // tn AS BIGINT) AS wimp
       |  FROM g),
       |win AS (SELECT * FROM (SELECT *,
       |    row_number() OVER (PARTITION BY k ORDER BY wimp, feature, t) AS rnk
       |  FROM w) WHERE rnk = 1),
       |winl AS (SELECT k, feature, t, tn AS n_train, wimp,
       |    CASE WHEN lp * 2 >= ln THEN 1 ELSE 0 END AS left_keep,
       |    CASE WHEN rp * 2 >= rn THEN 1 ELSE 0 END AS right_keep
       |  FROM win),
       |eh AS (SELECT feature, bucket, CAST(sum(bn) AS BIGINT) AS bn,
       |    CAST(sum(bp) AS BIGINT) AS bp
       |  FROM stacked WHERE hb = 7 GROUP BY 1, 2),
       |sc AS (SELECT winl.k, winl.feature, winl.t, n_train, wimp,
       |    eh.bn,
       |    CASE WHEN eh.bucket < winl.t
       |      THEN CASE WHEN left_keep = 1 THEN eh.bp ELSE eh.bn - eh.bp END
       |      ELSE CASE WHEN right_keep = 1 THEN eh.bp ELSE eh.bn - eh.bp END
       |    END AS matches
       |  FROM winl JOIN eh ON eh.feature = winl.feature)
       |SELECT k AS train_buckets, n_train,
       |  CAST(sum(bn) AS BIGINT) AS n_eval, feature,
       |  CAST(t * 100 AS BIGINT) AS thr_milli, wimp AS train_impurity_ppm,
       |  CAST((1000000 * sum(matches)) // sum(bn) AS BIGINT) AS eval_acc_ppm
       |FROM sc GROUP BY 1, 2, 4, 5, 6 ORDER BY train_buckets""".stripMargin
  }

  /** Model card for the distilled quality filter — the evaluation
    * family's release artifact (the [[graft.operators.Curate
    * .corpusDatasheet]] move applied to the model side): ONE row
    * holding the numbers a reviewer signs off before the student
    * classifier replaces the teacher gate in production — exact
    * tie-aware AUC, the peak operating point (max F1, ties to the
    * smallest threshold bucket), the calibration separation (top
    * minus bottom bucket pass rate — a flat column means the logit
    * carries no signal), and the full-data held-out accuracy from the
    * learning curve. Every number is CHAINED FROM THE REGISTERED
    * FACES so the card cannot drift from the evaluations it quotes.
    *
    * == Scale design ==
    * Four one-row/ledger-sized reductions of faces that are each one
    * or two corpus scans; the card join is four broadcast-trivial
    * single-row relations.
    */
  def mlModelCard(s: SparkSession, dir: String): DataFrame = {
    // the card folds the SHARED scored table through the same fold
    // code the registered faces run (no drift possible) — one feature
    // pass instead of three
    val scored = classifierScoredShared(s, dir)
    val auc = mlAucFrom(scored).select(col("n_pos"), col("n_neg"), col("auc_ppm"))
    val pr = mlPrCurveFrom(scored)
      .orderBy(col("f1_ppm").desc, col("thr_bucket")).limit(1)
      .select(col("f1_ppm").as("peak_f1_ppm"),
        col("thr_bucket").as("peak_f1_bucket"))
    val cal = mlCalibrationFrom(scored)
      .agg((max(col("pass_ppm")) - min(col("pass_ppm")))
        .as("calib_separation_ppm"))
    val lc = mlLearningCurve(s, dir).filter(col("train_buckets") === 7)
      .select(col("eval_acc_ppm").as("holdout_acc_ppm"))
    auc.crossJoin(pr).crossJoin(cal).crossJoin(lc)
      .orderBy(col("auc_ppm"))
  }

  /** DuckDB twin: the four face oracles inlined as derived tables. */
  lazy val mlModelCardSql: String =
    s"""WITH auc AS (SELECT n_pos, n_neg, auc_ppm FROM ($mlAucSql)),
       |pr AS (SELECT f1_ppm AS peak_f1_ppm, thr_bucket AS peak_f1_bucket
       |  FROM ($mlPrCurveSql) ORDER BY f1_ppm DESC, thr_bucket LIMIT 1),
       |cal AS (SELECT max(pass_ppm) - min(pass_ppm) AS calib_separation_ppm
       |  FROM ($mlCalibrationSql)),
       |lc AS (SELECT eval_acc_ppm AS holdout_acc_ppm
       |  FROM ($mlLearningCurveSql) WHERE train_buckets = 7)
       |SELECT n_pos, n_neg, auc_ppm, peak_f1_ppm, peak_f1_bucket,
       |  calib_separation_ppm, holdout_acc_ppm
       |FROM auc CROSS JOIN pr CROSS JOIN cal CROSS JOIN lc
       |ORDER BY auc_ppm""".stripMargin

  // ------------------------------------------------------- retrieval
  /** Inverted-index top-k retrieval (r14, the search face the corpus
    * engine was still missing — mining-by-keyword is how training-data
    * pipelines pull domain subsets): tf·idf ranking made bit-stable
    * cross-engine by the integer floor-log2 discipline the surprisal
    * family established — idf_bits(term) = len(bin(N)) − len(bin(df)),
    * score(doc, query) = Σ tf·(1 + idf_bits) (add-one smoothing: the
    * synthetic vocabulary is near-uniform, so unsmoothed idf floors at
    * 0 bits for every common term and the tf signal must survive), all
    * BIGINT, no float logarithm to disagree on. The query set is
    * CORPUS-DERIVED and deterministic — three 2-term queries from the
    * RAREST-first df ranking (ranks 1-6 ascending: real queries are
    * rare-term-led, and rank 1 is the planted near-dup marker, so q1
    * demonstrates the idf boost surfacing the dup family). Top-10 per
    * query under the (score desc, doc_id) total order.
    *
    * == Scale design ==
    * The classic retrieval shape: ONE corpus scan builds the (word,
    * doc, tf) posting relation (the word-keyed shuffle IS the inverted
    * index); df/idf fold map-side onto the vocabulary; the query-term
    * list is a broadcast O(6)-row join, so scoring touches only the
    * query terms' posting lists — never the corpus — and the top-k
    * window shuffles O(matched docs) thin rows. Heaps's law bounds the
    * vocabulary relation at any corpus size.
    */
  def textSearchTopk(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    import org.apache.spark.sql.expressions.Window
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .stableCheckpoint()
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .join(broadcast(n), lit(true))
      .withColumn("idf_bits",
        (length(bin(col("n_docs"))) - length(bin(col("df")))).cast("long"))
    val wRank = Window.orderBy(col("df"), col("word"))
    val qterms = df_
      .withColumn("r", row_number().over(wRank))
      .filter(col("r") <= 6)
      .withColumn("query_id",
        when(col("r") <= 2, 1L).when(col("r") <= 4, 2L).otherwise(3L))
      .select(col("query_id"), col("word"), col("idf_bits"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    tf.join(broadcast(qterms), Seq("word"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("tf") * (col("idf_bits") + 1L)).as("score"))
      .filter(col("score") > 0)
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val textSearchTopkSql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |tf AS (SELECT word, doc_id, CAST(count(*) AS BIGINT) AS tf
      |  FROM w WHERE length(word) > 0 GROUP BY 1, 2),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |dfr AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |idf AS (SELECT word, df,
      |    CAST(length(bin((SELECT n_docs FROM nd))) - length(bin(df)) AS BIGINT) AS idf_bits,
      |    row_number() OVER (ORDER BY df, word) AS r
      |  FROM dfr),
      |q AS (SELECT CASE WHEN r <= 2 THEN 1 WHEN r <= 4 THEN 2 ELSE 3 END AS query_id,
      |    word, idf_bits FROM idf WHERE r <= 6),
      |sc AS (SELECT q.query_id, tf.doc_id, CAST(sum(tf.tf * (q.idf_bits + 1)) AS BIGINT) AS score
      |  FROM tf JOIN q ON q.word = tf.word GROUP BY 1, 2),
      |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      |  FROM sc WHERE score > 0)
      |SELECT CAST(query_id AS BIGINT) AS query_id, rank, doc_id, score
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_search_topk" -> textSearchTopk,
    "text_redact" -> textRedact,
    "text_pii_audit" -> textPiiAudit,
    "tokenize_unigram" -> tokenizeUnigram,
    "tokenize_unigram_segments" -> tokenizeUnigramSegments,
    "tokenize_compare" -> tokenizeCompare,
    "tokenize_piece_overlap" -> tokenizePieceOverlap,
    "tokenize_fertility" -> tokenizeFertility,
    "tokenize_roundtrip" -> tokenizeRoundtrip,
    "tokenize_bpe" -> tokenizeBpe,
    "tokenize_wordpiece" -> tokenizeWordpiece,
    "tokenize_wordpiece_train" -> tokenizeWordpieceTrain,
    "tokenize_vocab_curve" -> tokenizeVocabCurve,
    "tokenize_bpe_segments" -> tokenizeBpeSegments,
    "tokenize_bpe_ids" -> tokenizeBpeIds,
    "tokenize_coverage" -> tokenizeCoverage,
    "tokenize_bpe_dropout" -> tokenizeBpeDropout,
    "text_surprisal" -> textSurprisal,
    "text_surprisal_bigram" -> textSurprisalBigram,
    "text_ccnet_buckets" -> textCcnetBuckets,
    "ml_eval_langid" -> mlEvalLangid,
    "ml_calibration" -> mlCalibration,
    "ml_feature_importance" -> mlFeatureImportance,
    "ml_learning_curve" -> mlLearningCurve,
    "ml_model_card" -> mlModelCard,
    "ml_auc" -> mlAuc,
    "ml_pr_curve" -> mlPrCurve,
    "text_collocations" -> textCollocations,
    "ml_feature_hash" -> mlFeatureHash,
    "vocab_build" -> vocabBuild,
    "vocab_drift" -> vocabDrift,
    "text_zipf_fit" -> textZipfFit,
    "ml_eval_slices" -> mlEvalSlices,
    "tokenize_ids" -> tokenizeIds,
    "quality_classifier" -> qualityClassifier,
    "quality_vote" -> qualityVote,
    "text_boilerplate" -> textBoilerplate,
    "text_tokens" -> textTokens,
    "text_quality" -> textQuality,
    "text_langid" -> textLangid,
    "text_ngrams" -> textNgrams,
    "text_fingerprint" -> textFingerprint,
    "text_repetition" -> textRepetition,
    "text_tfidf" -> textTfidf)

  /** DuckDB twin of the rolling fingerprint. */
  val textFingerprintSql: String =
    s"""SELECT doc_id,
      |  ${polyHashSql("text", 1000000007L)} AS fingerprint,
      |  n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DuckDB twin of the stopword-hit argmax; CASE order matches the
    * Scala foldRight priority (en, de, es, fr).
    */
  val textLangidSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
      |h AS (SELECT doc_id, lang,
      |  len(list_filter(ws, w -> w IN ('the','a','and','of','to','is'))) AS h_en,
      |  len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht'))) AS h_de,
      |  len(list_filter(ws, w -> w IN ('el','la','los','y','es','que'))) AS h_es,
      |  len(list_filter(ws, w -> w IN ('le','la','les','et','est','que'))) AS h_fr
      |  FROM t),
      |p AS (SELECT doc_id, lang,
      |  CASE WHEN h_en = greatest(h_en,h_de,h_es,h_fr) AND h_en > 0 THEN 'en'
      |       WHEN h_de = greatest(h_en,h_de,h_es,h_fr) AND h_de > 0 THEN 'de'
      |       WHEN h_es = greatest(h_en,h_de,h_es,h_fr) AND h_es > 0 THEN 'es'
      |       WHEN h_fr = greatest(h_en,h_de,h_es,h_fr) AND h_fr > 0 THEN 'fr'
      |       ELSE 'und' END AS pred_lang
      |  FROM h)
      |SELECT doc_id, lang, pred_lang, pred_lang = lang AS label_match FROM p ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_search_topk" -> textSearchTopkSql,
    "text_surprisal" -> textSurprisalSql,
    "text_surprisal_bigram" -> textSurprisalBigramSql,
    "text_ccnet_buckets" -> textCcnetBucketsSql,
    "ml_eval_langid" -> mlEvalLangidSql,
    "ml_calibration" -> mlCalibrationSql,
    "ml_feature_importance" -> mlFeatureImportanceSql,
    "ml_learning_curve" -> mlLearningCurveSql,
    "ml_model_card" -> mlModelCardSql,
    "ml_auc" -> mlAucSql,
    "ml_pr_curve" -> mlPrCurveSql,
    "text_collocations" -> textCollocationsSql,
    "ml_feature_hash" -> mlFeatureHashSql,
    "vocab_build" -> vocabBuildSql,
    "vocab_drift" -> vocabDriftSql,
    "text_zipf_fit" -> textZipfFitSql,
    "ml_eval_slices" -> mlEvalSlicesSql,
    "tokenize_ids" -> tokenizeIdsSql,
    "quality_classifier" -> qualityClassifierSql,
    "quality_vote" -> qualityVoteSql,
    "text_boilerplate" -> textBoilerplateSql,
    "text_tokens" -> textTokensSql,
    "text_quality" -> textQualitySql,
    "text_ngrams" -> textNgramsSql,
    "text_fingerprint" -> textFingerprintSql,
    "text_redact" -> textRedactSql,
    "text_pii_audit" -> textPiiAuditSql,
    "tokenize_unigram" -> tokenizeUnigramSql,
    "tokenize_unigram_segments" -> tokenizeUnigramSegmentsSql,
    "tokenize_compare" -> tokenizeCompareSql,
    "tokenize_piece_overlap" -> tokenizePieceOverlapSql,
    "tokenize_fertility" -> tokenizeFertilitySql,
    "tokenize_roundtrip" -> tokenizeRoundtripSql,
    "tokenize_bpe" -> tokenizeBpeSql,
    "tokenize_wordpiece" -> tokenizeWordpieceSql,
    "tokenize_wordpiece_train" -> tokenizeWordpieceTrainSql,
    "tokenize_vocab_curve" -> tokenizeVocabCurveSql,
    "tokenize_bpe_segments" -> tokenizeBpeSegmentsSql,
    "tokenize_bpe_ids" -> tokenizeBpeIdsSql,
    "tokenize_coverage" -> tokenizeCoverageSql,
    "tokenize_bpe_dropout" -> tokenizeBpeDropoutSql,
    "text_langid" -> textLangidSql,
    "text_repetition" -> textRepetitionSql,
    "text_tfidf" -> textTfidfSql)
}
