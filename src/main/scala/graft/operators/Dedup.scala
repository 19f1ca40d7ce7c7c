package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.plans.Checkpoints
import graft.plans.Checkpoints.StableSyntax

/** Deduplication operators over `documents` / `embeddings`
  * (SURVEY.md §2). Exact + four near-dup families, all as declarative
  * column math over splittable integer hashing — no UDFs.
  *
  * Signature computation (MinHash perms, SimHash bit sums) is shaped as
  * explode → grouped aggregation with one codegen'd agg column per
  * signature lane, NOT as nested higher-order lambdas: Spark evaluates
  * `transform`/`aggregate` interpreted, and the O(docs·lanes·tokens)
  * inner loop dominated the runtime in that shape (~3× slower
  * end-to-end at sf0.1). All hashing routes through [[polyHash]]
  * (polynomial fold mod 2³¹−1) so every signature pipeline is exactly
  * replayable by its DuckDB oracle.
  *
  * == Scale design ==
  * - exact: hash-groupBy on normalized text — one shuffle of
  *   (hash, id), map-side combinable.
  * - ngram-jaccard: candidate generation joins on trigram shingles
  *   (selective), with a size-compatibility prune (j ≥ t ⇒
  *   t·|A| ≤ |B| ≤ |A|/t) before the pair-count aggregation; at
  *   100 TB you bound candidates further with MinHash/LSH below — this
  *   operator is the exact verifier both share.
  * - minhash-lsh: b=8 bands × r=4 rows over k=32 minhashes; shuffle
  *   keys are (band, bandhash) — uniform by construction, no skew;
  *   bucket-local self-joins bound the candidate set.
  * - simhash: 60-bit signature, banded into 4×15-bit chunks; any equal
  *   chunk ⇒ candidate ⇒ exact Hamming verify (complete for distance
  *   ≤ 3 by pigeonhole; ≤ 8 accepted when a chunk survives).
  * - embedding: brute-force cosine pairs is the correctness baseline;
  *   the LSH-bucketed scale path is Similarity.annLsh.
  */
object Dedup {

  private val P = 2147483647L // 2^31-1, Mersenne prime for (a·h+b) mod p
  private val MINHASH_K = 32
  private val BANDS = 8 // × 4 rows

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Distinct word-trigram shingles of one text, first-occurrence
    * order. Trigrams (not bigrams): the synthetic corpus has a
    * ~30-word vocabulary, so bigrams are shared by ~10% of all docs
    * and candidate pairs explode quadratically; trigrams keep shingle
    * selectivity high while the planted near-dup pairs (j ≥ 0.3) are
    * unchanged.
    */
  private def trigrams(text: String): Array[String] = {
    // split(" ", -1) keeps empty tokens (doubles/trailing spaces) —
    // the same tokenization as DuckDB string_split and SQL split()
    val ws = text.split(" ", -1)
    val set = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (i + 2 < ws.length) {
      set += (ws(i) + " " + ws(i + 1) + " " + ws(i + 2)); i += 1
    }
    set.toArray
  }

  /** (doc_id, ngs array) — shingles per doc via typed map. Measured:
    * the declarative transform/array_distinct + explode formulation
    * re-evaluates work per generated row and ran ~45× slower at sf0.1;
    * this is the sanctioned imperative escape hatch, one narrow pass.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, trigrams(t)) }
      .toDF("doc_id", "ngs")
  }

  /** Exploded (doc_id, n, shingle-hash) view used by the join-based
    * ops. Joining on the 31-bit [[polyHash]] id instead of the shingle
    * STRING shrinks the shuffle key from ~20 B to 8 B and makes the
    * join comparisons integer — at corpus scale the string shuffle is
    * the dominant cost of the candidate join. Distinct shingles that
    * collide (P ≈ n²/2³¹, symmetric in the oracle by construction)
    * count as shared, exactly as DuckDB replays it.
    */
  private[operators] def exploded(s: SparkSession, dir: String): DataFrame =
    explodedOf(docs(s, dir))

  /** [[exploded]] over an arbitrary (doc_id, text, ...) relation — lets
    * source-restricted consumers (contamination, incremental dedup)
    * push their filter BELOW the shingle explode so only the docs they
    * actually join ever get shingled.
    */
  private[operators] def explodedOf(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    d.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        val ngs = trigrams(t)
        ngs.iterator.map(ng => (id, ngs.length, polyHash(ng)))
      }
      .toDF("doc_id", "n", "hg")
  }

  /** Shared oracle fragment: shingles → polyHash ids → per-doc shingle
    * sizes (`w/g/gh/sz`). The base every shingle-set consumer builds
    * on; [[pairCtes]] adds the size-compatible jaccard pairing,
    * [[dedupContainmentSql]] the prune-free containment pairing.
    */
  private[operators] val shingleCtes: String =
    """w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS hg
      |  FROM g),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1)""".stripMargin

  /** Shared oracle fragment: [[shingleCtes]] → size-compatible
    * intersection counts → verified jaccard pairs. Interpolated into
    * every oracle that consumes near-dup pairs (jaccard, components,
    * curate, leakage) so the replicas cannot drift.
    */
  private[operators] val pairCtes: String =
    s"""$shingleCtes,
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |  FROM gh a JOIN gh b ON a.hg = b.hg AND a.doc_id < b.doc_id
      |  JOIN sz za ON za.doc_id = a.doc_id JOIN sz zb ON zb.doc_id = b.doc_id
      |  WHERE zb.n * 10 >= za.n * 3 AND za.n * 10 >= zb.n * 3
      |  GROUP BY 1, 2),
      |p AS (SELECT doc_a, doc_b, i * 1.0 / (s1.n + s2.n - i) AS jaccard
      |  FROM inter JOIN sz s1 ON s1.doc_id = doc_a JOIN sz s2 ON s2.doc_id = doc_b
      |  WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.3)""".stripMargin

  // ----------------------------------------------------------- exact
  /** Exact dedup on normalized text (trim + collapse whitespace):
    * keep the min doc_id per group. The corpus has no planted exact
    * dups, so every group is a singleton here — the spec asserts the
    * collapse on synthetic dup rows.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(regexp_replace(trim(col("text")), " +", " ").as("norm_text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  val dedupExactSql: String =
    """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY regexp_replace(trim(text), ' +', ' ', 'g')
      |ORDER BY keeper_id""".stripMargin

  // ---------------------------------------------------- ngram-jaccard
  /** Exact n-gram Jaccard near-dup pairs: unnest distinct trigram
    * shingles, join on shingle (with the size-compatibility prune),
    * |∩|/|∪| ≥ 0.3. Jaccard is an exact int/int division ⇒
    * engine-stable doubles.
    */
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val g = exploded(s, dir).hint("merge")
    val a = g.alias("a"); val b = g.alias("b")
    a.join(b, col("a.hg") === col("b.hg") && col("a.doc_id") < col("b.doc_id")
        && col("b.n") * 10 >= col("a.n") * 3 && col("a.n") * 10 >= col("b.n") * 3)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
      .select(col("doc_a"), col("doc_b"),
        (col("i") * 1.0 / (col("na") + col("nb") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $pairCtes
       |SELECT doc_a, doc_b, jaccard FROM p
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ containment
  /** Asymmetric CONTAINMENT near-dup pairs (r14) — the quote/subset
    * detector Jaccard structurally misses: C = |A∩B| / min(|A|,|B|)
    * flags a short document embedded verbatim in a long one even
    * though the union-scaled Jaccard stays tiny (a 50-shingle doc
    * inside a 1000-shingle doc has C = 1.0 but J ≈ 0.05). Same
    * shingle-hash candidate join as [[dedupNgramJaccard]] with the
    * size-compatibility prune REMOVED by contract — size mismatch is
    * exactly the signal here. Emits both scores in exact ppm (integer
    * div) plus `jaccard_missed` — an exact cross-multiplied flag
    * (10·i < 3·(nₐ+n_b−i), no float boundary) marking the pairs only
    * this face catches at the 0.3 jaccard policy.
    *
    * == Scale design ==
    * The candidate relation is the 8-byte shingle-hash join already
    * audited for [[dedupNgramJaccard]]; dropping the size prune widens
    * it only by the size-mismatched share of shingle-sharing pairs
    * (the prune is a filter inside the same join, not a partitioner).
    * At 100 TB the production candidate source is the banded LSH
    * relation ([[dedupMinhashLsh]]) with this exact containment verify
    * behind it — the verify-after-candidates contract the LSH key
    * documents; the threshold C ≥ 0.5 keeps the output
    * near-dup-sized, not candidate-sized.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val g = exploded(s, dir).hint("merge")
    val a = g.alias("a"); val b = g.alias("b")
    a.join(b, col("a.hg") === col("b.hg") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("i"))
      .filter(col("i") * 2 >= least(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"),
        least(col("na"), col("nb")).cast("long").as("n_small"),
        col("i").as("n_shared"),
        expr("i * 1000000 div least(na, nb)").as("containment_ppm"),
        expr("i * 1000000 div (na + nb - i)").as("jaccard_ppm"),
        (col("i") * 10 < (col("na") + col("nb") - col("i")) * 3)
          .cast("long").as("jaccard_missed"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainmentSql: String =
    s"""WITH $shingleCtes,
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM gh a JOIN gh b ON a.hg = b.hg AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |c AS (SELECT doc_a, doc_b, least(s1.n, s2.n) AS n_small, i,
       |    s1.n + s2.n - i AS u
       |  FROM inter JOIN sz s1 ON s1.doc_id = doc_a JOIN sz s2 ON s2.doc_id = doc_b
       |  WHERE i * 2 >= least(s1.n, s2.n))
       |SELECT doc_a, doc_b, n_small, i AS n_shared,
       |  i * 1000000 // n_small AS containment_ppm,
       |  i * 1000000 // u AS jaccard_ppm,
       |  CAST(CASE WHEN i * 10 < u * 3 THEN 1 ELSE 0 END AS BIGINT) AS jaccard_missed
       |FROM c ORDER BY doc_a, doc_b""".stripMargin

  /** Threshold-tuning curve for the near-dup policy: for each Jaccard
    * cutoff 0.30..0.90 (integer percent), how many candidate pairs
    * survive and how many documents the drop-higher-id policy would
    * remove. The comparison is EXACT integer cross-multiplication
    * (10·i ≥ t·(nₐ+n_b−i)) — no float boundary can flip a pair in one
    * engine only. This is the knob-setting query a curation run does
    * before committing to a threshold.
    *
    * == Scale design ==
    * Rides the same shingle-hash candidate join as
    * [[dedupNgramJaccard]]; the 7-row threshold relation broadcasts
    * onto the O(candidate-pairs) relation, and the distinct-doc count
    * per cutoff groups on 7 keys. Nothing new scales with the corpus
    * beyond the pair machinery already audited.
    */
  def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    // reads the shared candidate relation ([[interShared]]) — the
    // knob-setting sweep re-cuts the persisted intersection table at
    // policy time instead of re-running the shingle join per sweep
    val inter = interShared(s, dir)
    val th = broadcast(s.range(3, 10).select(col("id").as("t10")))
    inter.join(th,
        col("i") * 10 >= col("t10") * (col("na") + col("nb") - col("i")))
      .groupBy(col("t10"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_docs_dropped"))
      .select((col("t10") * 10).as("threshold_pct"), col("n_pairs"),
        col("n_docs_dropped"))
      .orderBy(col("threshold_pct"))
  }

  val dedupThresholdCurveSql: String =
    s"""WITH $pairCtes,
       |th AS (SELECT unnest(range(3, 10)) AS t10),
       |hit AS (SELECT th.t10, inter.doc_a, inter.doc_b
       |  FROM inter JOIN sz s1 ON s1.doc_id = inter.doc_a
       |  JOIN sz s2 ON s2.doc_id = inter.doc_b
       |  CROSS JOIN th
       |  WHERE 10*inter.i >= th.t10*(s1.n + s2.n - inter.i))
       |SELECT t10*10 AS threshold_pct, count(*) AS n_pairs,
       |  count(DISTINCT doc_b) AS n_docs_dropped
       |FROM hit GROUP BY t10 ORDER BY threshold_pct""".stripMargin

  /** Edit-distance verify face: the shingle-hash candidate pairs
    * re-verified by exact Levenshtein distance over the normalized
    * text, with similarity in exact integer ppm of the longer length —
    * the "expensive exact metric on cheap candidates only" pipeline
    * shape (character-level edit distance catches rewrites word-level
    * Jaccard over-scores, e.g. the same shingle multiset re-ordered).
    * `levenshtein` is a native codegen'd expression in Spark and a
    * built-in in DuckDB with identical unit-cost semantics.
    *
    * == Scale design ==
    * Levenshtein is O(|a|·|b|) per pair — the one cost in this module
    * that is quadratic in DOCUMENT length — so it must only ever run
    * on the O(candidate-pairs) relation, never the corpus square. The
    * tiny pair set broadcasts into both document-side joins: the
    * corpus is scanned twice, shuffled never.
    */
  def dedupEditDistance(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    val norm = docs(s, dir).select(col("doc_id"),
      regexp_replace(trim(col("text")), " +", " ").as("t"))
    val withA = norm.join(broadcast(pairs), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("t").as("ta"))
    val both = norm.join(broadcast(withA), col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ta"), col("t").as("tb"))
    both
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("max_len"))
      .withColumn("edit_sim_ppm",
        expr("(max_len - edit_dist) * 1000000 div max_len"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupEditDistanceSql: String =
    s"""WITH $pairCtes,
       |nd AS (SELECT doc_id, regexp_replace(trim(text), ' +', ' ', 'g') AS t
       |  FROM documents)
       |SELECT p.doc_a, p.doc_b,
       |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist,
       |  CAST(greatest(len(a.t), len(b.t)) AS BIGINT) AS max_len,
       |  ((greatest(len(a.t), len(b.t)) - levenshtein(a.t, b.t)) * 1000000)
       |    // greatest(len(a.t), len(b.t)) AS edit_sim_ppm
       |FROM p JOIN nd a ON a.doc_id = p.doc_a JOIN nd b ON b.doc_id = p.doc_b
       |ORDER BY p.doc_a, p.doc_b""".stripMargin

  // ------------------------------------------------------ minhash-lsh
  private def aCoef(i: Int): Long = (1103515245L * (i + 1)) % P
  private def bCoef(i: Int): Long = (12345L * (i + 1) + 987654321L) % P

  /** Polynomial rolling hash mod 2³¹−1 — the engine-portable shingle/
    * word id: exact integer arithmetic a DuckDB `list_reduce` replays
    * verbatim (same shape as text_fingerprint), which is what lets the
    * minhash/simhash pipelines below be HASH-VERIFIED cross-engine
    * instead of rows-only (xxhash64 has no DuckDB twin).
    */
  private def polyHash(t: String): Long = {
    var h = 0L
    var i = 0
    while (i < t.length) { h = (h * 31L + t.charAt(i).toLong) % P; i += 1 }
    h
  }

  /** Per-row MinHash signature: the 32 lane minima ((aᵢ·h+bᵢ) mod P
    * over polyHash trigram ids — IDENTICAL arithmetic to the batch
    * lanes in [[dedupMinhashLsh]]) folded band-wise into one mod-P
    * long. Whitespace is collapsed first so formatting variants
    * produce the same shingles. Computed row-local (no aggregation),
    * which is what lets the STREAMING dedup face key on it without a
    * stateful aggregation upstream of the dedup operator. Docs too
    * short to shingle fall back to the normalized-text hash (exact
    * dedup semantics — the batch pipeline simply never near-dups
    * them).
    */
  private[graft] def minhashSignature(text: String): Long =
    graft.functions.MinHashKernel.signature(text)

  /** Registered face of the signature: one codegen'd `minhash_sig`
    * column per doc — the near-exact-dup key the streaming dedup face
    * keys on, hash-verified by a full DuckDB lane replay.
    */
  def dedupMinhashSig(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    val sig = GraftSqlShim.column(graft.functions.StringMinHashSig(
      GraftSqlShim.expression(col("text"))))
    docs(s, dir)
      .select(col("doc_id"), sig.as("minhash_sig"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of the signature kernel: normalize, trigrams,
    * polyHash, 32 lanes, ordered fold; short docs fall back to the
    * normalized-text hash.
    */
  val dedupMinhashSigSql: String =
    """WITH n AS (SELECT doc_id, trim(regexp_replace(text, ' +', ' ', 'g')) AS t FROM documents),
      |w AS (SELECT doc_id, t, string_split(t, ' ') AS ws FROM n),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS h
      |  FROM g),
      |perms AS (SELECT j, (1103515245 * (j+1)) % 2147483647 AS a, (12345*(j+1) + 987654321) % 2147483647 AS b FROM range(0,32) t(j)),
      |lanes AS (SELECT doc_id, j, min((h * a + b) % 2147483647) AS mj
      |  FROM gh CROSS JOIN perms GROUP BY doc_id, j),
      |sig AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(mj ORDER BY j)), (x,y) -> (x*31 + y) % 2147483647) AS minhash_sig
      |  FROM lanes GROUP BY doc_id),
      |fb AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(t,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS fsig
      |  FROM w WHERE len(ws) <= 2)
      |SELECT d.doc_id, COALESCE(s.minhash_sig, f.fsig) AS minhash_sig
      |FROM documents d LEFT JOIN sig s ON s.doc_id = d.doc_id
      |LEFT JOIN fb f ON f.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** MinHash signatures (k=32 permutations (aᵢ·h+bᵢ) mod 2³¹-1 over
    * [[polyHash]] shingle ids) → 8 LSH bands of 4 (band key = a mod-P
    * fold of the 4 lane minima) → bucket self-join → exact-Jaccard
    * verification ≥ 0.3. One codegen'd min-agg column per permutation;
    * all arithmetic stays below 2⁶² so ANSI-mode long math never
    * overflows, and every step is replayed by the DuckDB oracle.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val minAggs = (0 until MINHASH_K).map(i =>
      min(pmod(col("h") * aCoef(i) + bCoef(i), lit(P))).as(s"m$i"))
    val hashed = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      // materialize the 31-bit shingle id once, not once per lane; the
      // shingle space is small (bounded vocabulary), so a per-partition
      // memo eliminates repeat hashing across documents
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, t) =>
          trigrams(t).iterator.map { ng =>
            var h = memo.get(ng)
            if (h == null) {
              if (memo.size() > (1 << 20)) memo.clear() // unbounded-vocab guard
              h = java.lang.Long.valueOf(polyHash(ng))
              memo.put(ng, h)
            }
            (id, h.longValue())
          }
        }
      }
      .toDF("doc_id", "h")
    val sigs = hashed
      .groupBy(col("doc_id"))
      .agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until BANDS).map { bd =>
      val bh = (bd * 4 until bd * 4 + 4).map(i => col(s"m$i"))
        .foldLeft(lit(0L).cast("long"): Column)((acc, m) => pmod(acc * 31L + m, lit(P)))
      struct(lit(bd).as("band"), bh.as("bh"))
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
    val a = banded.alias("a"); val b = banded.alias("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sh = shingled(s, dir)
    candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("ngs").as("ngs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("ngs").as("ngs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("ngs_a"), col("ngs_b"))) * 1.0 /
          size(array_union(col("ngs_a"), col("ngs_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------ LSH banding curve
  /** MinHash BANDING tradeoff curve (r14 wave 14, completing the
    * tuning-curve symmetry: [[dedupThresholdCurve]] justifies the 0.3
    * jaccard cut, [[dedupEmbeddingIvfCurve]] the IVF dials — this
    * justifies [[dedupMinhashLsh]]'s fixed 8×4 banding): the same 32
    * permutation lanes re-banded as (2×16, 4×8, 8×4, 16×2); per
    * config the candidate pairs generated, how many verify at the
    * exact 0.3 jaccard, and the exact-ppm recall against the
    * exhaustive jaccard face — the S-curve dial (more bands / fewer
    * rows = catch lower similarity at more candidates) read off real
    * data instead of the textbook formula.
    *
    * == Scale design ==
    * ONE shingle-hash pass and ONE 32-lane signature fold
    * (checkpointed — all four configs re-band the same signatures
    * map-side via a 30-struct explode); each config's candidate join
    * keys on (cfg, band, bh) — uniform by minhash construction; the
    * verify leg touches only candidate pairs, the truth join only the
    * truth pairs, and the ledger is 4 rows.
    */
  def dedupLshCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.Checkpoints.StableSyntax
    val minAggs = (0 until MINHASH_K).map(i =>
      min(pmod(col("h") * aCoef(i) + bCoef(i), lit(P))).as(s"m$i"))
    val hashed = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, t) =>
          trigrams(t).iterator.map { ng =>
            var h = memo.get(ng)
            if (h == null) {
              if (memo.size() > (1 << 20)) memo.clear()
              h = java.lang.Long.valueOf(polyHash(ng))
              memo.put(ng, h)
            }
            (id, h.longValue())
          }
        }
      }
      .toDF("doc_id", "h")
    val sigs = hashed.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      .stableCheckpoint()
    val cfgs = Seq(2, 4, 8, 16) // number of bands; rows = 32 / bands
    val bandStructs = cfgs.flatMap { nb =>
      val r = MINHASH_K / nb
      (0 until nb).map { bd =>
        val bh = (bd * r until bd * r + r).map(i => col(s"m$i"))
          .foldLeft(lit(0L).cast("long"): Column)((acc, m) => pmod(acc * 31L + m, lit(P)))
        struct(lit(nb.toLong).as("cfg"), lit(bd).as("band"), bh.as("bh"))
      }
    }
    val banded = sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.cfg").as("cfg"), col("bb.band").as("band"),
        col("bb.bh").as("bh"))
    val ba = banded.alias("a"); val bb = banded.alias("b")
    val cand = ba.join(bb, col("a.cfg") === col("b.cfg")
        && col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.cfg").as("cfg"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .distinct()
      .stableCheckpoint() // feeds the verify leg AND the truth join
    val sh = shingled(s, dir)
    val ver = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("ngs").as("ngs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("ngs").as("ngs_b")), "doc_b")
      .select(col("cfg"),
        (size(array_intersect(col("ngs_a"), col("ngs_b"))) * 1.0 /
          size(array_union(col("ngs_a"), col("ngs_b"))) >= 0.3)
          .cast("long").as("v"))
      .groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_candidates"), sum(col("v")).as("n_verified"))
    val truth = verifiedPairs(s, dir)
    val tn = truth.agg(count(lit(1)).as("n_truth"))
    val hits = cand.join(truth, Seq("doc_a", "doc_b"))
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_truth_hit"))
    ver.join(hits, Seq("cfg"), "left")
      .crossJoin(broadcast(tn))
      .select(col("cfg").as("n_bands"),
        expr(s"$MINHASH_K div cfg").as("rows_per_band"),
        col("n_candidates"), col("n_verified"),
        coalesce(col("n_truth_hit"), lit(0L)).as("n_truth_hit"), col("n_truth"),
        expr("coalesce(n_truth_hit, 0) * 1000000 div n_truth").as("recall_ppm"))
      .orderBy(col("n_bands"))
  }

  /** DuckDB twin: the shared pair/truth CTEs plus the 32-lane minhash
    * replay re-banded per config; 4-row UNION of scalar-subquery
    * ledgers. */
  val dedupLshCurveSql: String = {
    val chains = Seq(2, 4, 8, 16).map { nb =>
      val r = MINHASH_K / nb
      s"""b$nb AS (SELECT doc_id, j // $r AS band,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(mj ORDER BY j)), (a,b) -> (a*31 + b) % 2147483647) AS bh
         |  FROM lanes GROUP BY doc_id, j // $r),
         |c$nb AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM b$nb a JOIN b$nb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         |v$nb AS (SELECT i.doc_a, i.doc_b, i.i * 1.0 / (s1.n + s2.n - i.i) AS jacc
         |  FROM (SELECT c.doc_a, c.doc_b, count(*) AS i
         |    FROM c$nb c JOIN g ga ON ga.doc_id = c.doc_a
         |    JOIN g gb ON gb.doc_id = c.doc_b AND gb.ng = ga.ng
         |    GROUP BY 1, 2) i
         |  JOIN sz s1 ON s1.doc_id = i.doc_a JOIN sz s2 ON s2.doc_id = i.doc_b)""".stripMargin
    }.mkString(",\n")
    val rows = Seq(2, 4, 8, 16).map { nb =>
      val r = MINHASH_K / nb
      s"""SELECT CAST($nb AS BIGINT) AS n_bands, CAST($r AS BIGINT) AS rows_per_band,
         |  (SELECT count(*) FROM c$nb) AS n_candidates,
         |  (SELECT count(*) FROM v$nb WHERE jacc >= 0.3) AS n_verified,
         |  (SELECT count(*) FROM c$nb JOIN p USING (doc_a, doc_b)) AS n_truth_hit,
         |  (SELECT count(*) FROM p) AS n_truth,
         |  (SELECT count(*) FROM c$nb JOIN p USING (doc_a, doc_b)) * 1000000
         |    // (SELECT count(*) FROM p) AS recall_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $pairCtes,
       |lgh AS (SELECT doc_id, ng,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS h
       |  FROM g),
       |perms AS (SELECT j, (1103515245 * (j+1)) % 2147483647 AS a, (12345*(j+1) + 987654321) % 2147483647 AS b FROM range(0,32) t(j)),
       |lanes AS MATERIALIZED (SELECT doc_id, j, min((h * a + b) % 2147483647) AS mj
       |  FROM lgh CROSS JOIN perms GROUP BY doc_id, j),
       |$chains
       |$rows
       |ORDER BY n_bands""".stripMargin
  }

  // ------------------------------------------------- banding planner
  /** Serving-policy planner for the BANDING dial (r18 — the SLO
    * symmetry `ann_probe_plan` / `ann_beam_plan` give the two ANN
    * dials, applied to dedup's one dial: [[dedupLshCurve]] measures
    * recall-vs-candidates per banding config, but no face picked the
    * cheapest banding for a recall target). For each recall target
    * {70, 80, 90, 95 %} the planner picks the CHEAPEST config whose
    * measured truth-recall meets the target — cheapest by
    * `n_candidates`, the verify-leg cost the recall buys (unlike the
    * ANN dials, cost is not monotone in the config id, so the planner
    * ranks by the measured candidate volume itself); an unreachable
    * target degrades to the best available recall (max recall, then
    * min candidates) with `reached` = 0. The ledger carries the chosen
    * config's banding, recall, candidate volume and exact-ppm
    * precision (verified / candidates) — the full cost/quality frame
    * of the pick.
    *
    * == Scale design ==
    * The expensive part IS the curve (already a registered face: one
    * signature fold, four re-bandings); the planning join is 4 targets
    * × 4 curve rows of broadcast window math — free at any scale.
    */
  def dedupLshPlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // planner reads the MEASURED curve artifact (scale note above:
    // "the expensive part IS the curve") — memoized per corpus like
    // the ANN planner faces; the registered curve face computes fresh
    val curve = graft.plans.SharedRel(s, "dedupLshCurve|" + dir,
        TextOps.docsSig(s, dir))(dedupLshCurve(s, dir))
      .select(col("n_bands"), col("rows_per_band"), col("n_candidates"),
        col("n_verified"), col("recall_ppm"))
    val targets = Seq(700000L, 800000L, 900000L, 950000L).toDF("target_ppm")
    val w = Window.partitionBy(col("target_ppm")).orderBy(
      (col("recall_ppm") >= col("target_ppm")).desc,
      when(col("recall_ppm") >= col("target_ppm"), col("n_candidates"))
        .otherwise(lit(1000000L) - col("recall_ppm")).asc,
      col("n_candidates").asc, col("n_bands").asc)
    broadcast(targets).crossJoin(curve)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("target_ppm"), col("n_bands"), col("rows_per_band"),
        col("recall_ppm"), col("n_candidates"),
        expr("1000000 * n_verified div greatest(n_candidates, 1)")
          .as("precision_ppm"),
        (col("recall_ppm") >= col("target_ppm")).cast("long").as("reached"))
      .orderBy(col("target_ppm"))
  }

  /** DuckDB twin: the full banding-curve statement as a subquery, the
    * same reached-first / cheapest-candidates ranking. */
  lazy val dedupLshPlanSql: String =
    s"""WITH curve AS (SELECT n_bands, rows_per_band, n_candidates, n_verified,
       |    recall_ppm FROM (
       |$dedupLshCurveSql
       |)),
       |tg(target_ppm) AS (VALUES (700000), (800000), (900000), (950000)),
       |r AS (SELECT tg.target_ppm, c.n_bands, c.rows_per_band, c.recall_ppm,
       |    c.n_candidates,
       |    1000000 * c.n_verified // greatest(c.n_candidates, 1) AS precision_ppm,
       |    CASE WHEN c.recall_ppm >= tg.target_ppm THEN 1 ELSE 0 END AS reached,
       |    row_number() OVER (PARTITION BY tg.target_ppm ORDER BY
       |      CASE WHEN c.recall_ppm >= tg.target_ppm THEN 1 ELSE 0 END DESC,
       |      CASE WHEN c.recall_ppm >= tg.target_ppm THEN c.n_candidates
       |        ELSE 1000000 - c.recall_ppm END ASC,
       |      c.n_candidates ASC, c.n_bands ASC) AS rk
       |  FROM tg CROSS JOIN curve c)
       |SELECT CAST(target_ppm AS BIGINT) AS target_ppm, n_bands, rows_per_band,
       |  recall_ppm, n_candidates, CAST(precision_ppm AS BIGINT) AS precision_ppm,
       |  CAST(reached AS BIGINT) AS reached
       |FROM r WHERE rk = 1 ORDER BY target_ppm""".stripMargin

  // ---------------------------------------------- b-bit minhash fidelity
  /** b-bit MinHash fidelity ledger (r14 wave 19, Li & König 2010) —
    * the storage-dial evidence beside [[dedupLshCurve]]'s banding
    * dial: keeping only the LOWEST BIT of each lane minimum stores a
    * 32-lane signature in 32 bits instead of 32×64 (at 10¹¹ docs
    * that is a ~0.4 GB-per-billion index vs 25×), at the cost of a
    * noisier estimate — random lanes agree half the time, so the
    * unbiased estimator is Ĵ = 2·â − 1. This face scores BOTH
    * estimators against exact jaccard on the verified near-dup
    * pairs: per pair, the exact integer jaccard_ppm, the full-lane
    * agreement (÷32 → est_full_ppm = agree·31250) and the 1-bit
    * agreement (est_bbit_ppm = max(0, (agree−16)·62500) — exactly
    * divisible staging, so no signed floor-division hazard exists).
    *
    * == Scale design ==
    * One shingle-hash pass + the 32-lane map-side fold (the LSH
    * face's audited shape, checkpointed); the tiny verified-pair
    * relation broadcasts into two signature joins; the ledger is
    * O(pairs).
    */
  def dedupMinhashBbit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.Checkpoints.StableSyntax
    val minAggs = (0 until MINHASH_K).map(i =>
      min(pmod(col("h") * aCoef(i) + bCoef(i), lit(P))).as(s"m$i"))
    val hashed = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val memo = new java.util.HashMap[String, java.lang.Long]()
        it.flatMap { case (id, t) =>
          trigrams(t).iterator.map { ng =>
            var h = memo.get(ng)
            if (h == null) {
              if (memo.size() > (1 << 20)) memo.clear()
              h = java.lang.Long.valueOf(polyHash(ng))
              memo.put(ng, h)
            }
            (id, h.longValue())
          }
        }
      }
      .toDF("doc_id", "h")
    val sigs = hashed.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      .stableCheckpoint()
    // the tiny pair side BROADCASTS into every corpus-sized relation
    // (the dedupEditDistance join orientation) — hinting the streamed
    // side instead lets the planner try to broadcast the trigram-array
    // relation, which OOMs at the 100x decade
    val sh = shingled(s, dir)
    val pairs = verifiedPairs(s, dir)
    val withA = sh.join(broadcast(pairs), col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("ngs").as("ngs_a"))
    val both = sh.join(broadcast(withA), col("doc_id") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ngs_a"), col("ngs").as("ngs_b"))
    val withSets = both
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ngs_a"), col("ngs_b"))).cast("long").as("i"),
        size(array_union(col("ngs_a"), col("ngs_b"))).cast("long").as("u"))
      .select(col("doc_a"), col("doc_b"), expr("i * 1000000 div u").as("jaccard_ppm"))
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until MINHASH_K).map(i => col(s"m$i").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until MINHASH_K).map(i => col(s"m$i").as(s"b$i")): _*)
    val agreeF = (0 until MINHASH_K)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L)).reduce(_ + _)
    val agreeB = (0 until MINHASH_K)
      .map(i => when(pmod(col(s"a$i"), lit(2L)) === pmod(col(s"b$i"), lit(2L)), 1L)
        .otherwise(0L)).reduce(_ + _)
    sb.join(broadcast(sa.join(broadcast(withSets), "doc_a")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard_ppm"),
        agreeF.as("agree_full"), agreeB.as("agree_bbit"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_ppm"),
        col("agree_full"), expr("agree_full * 31250").as("est_full_ppm"),
        col("agree_bbit"),
        expr("greatest(0L, (agree_bbit - 16) * 62500)").as("est_bbit_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin: the shared pair/lane CTEs, the same exactly-divisible
    * estimator staging. */
  val dedupMinhashBbitSql: String =
    s"""WITH $pairCtes,
       |lgh AS (SELECT doc_id, ng,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS h
       |  FROM g),
       |perms AS (SELECT j, (1103515245 * (j+1)) % 2147483647 AS a, (12345*(j+1) + 987654321) % 2147483647 AS b FROM range(0,32) t(j)),
       |lanes AS MATERIALIZED (SELECT doc_id, j, min((h * a + b) % 2147483647) AS mj
       |  FROM lgh CROSS JOIN perms GROUP BY doc_id, j),
       |jp AS (SELECT inter.doc_a, inter.doc_b,
       |    inter.i * 1000000 // (s1.n + s2.n - inter.i) AS jaccard_ppm
       |  FROM inter JOIN sz s1 ON s1.doc_id = inter.doc_a
       |  JOIN sz s2 ON s2.doc_id = inter.doc_b
       |  WHERE inter.i * 1.0 / (s1.n + s2.n - inter.i) >= 0.3),
       |ag AS (SELECT j.doc_a, j.doc_b, j.jaccard_ppm,
       |    CAST(sum(CASE WHEN la.mj = lb.mj THEN 1 ELSE 0 END) AS BIGINT) AS agree_full,
       |    CAST(sum(CASE WHEN la.mj % 2 = lb.mj % 2 THEN 1 ELSE 0 END) AS BIGINT) AS agree_bbit
       |  FROM jp j JOIN lanes la ON la.doc_id = j.doc_a
       |  JOIN lanes lb ON lb.doc_id = j.doc_b AND lb.j = la.j
       |  GROUP BY 1, 2, 3)
       |SELECT doc_a, doc_b, jaccard_ppm, agree_full,
       |  agree_full * 31250 AS est_full_ppm, agree_bbit,
       |  CAST(greatest(0, (agree_bbit - 16) * 62500) AS BIGINT) AS est_bbit_ppm
       |FROM ag ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------- simhash
  /** 60-bit SimHash: lane j's ±1 contribution per word is the parity
    * of (polyHash(word)·aⱼ+bⱼ) mod 2³¹−1, bit set if the lane sum is
    * positive; candidates share any of 4×15-bit chunks (pigeonhole-
    * complete for Hamming ≤ 3), verified by exact Hamming distance
    * ≤ 8. One typed JVM pass computes the signature (the 60-lane
    * grouped-agg shape spent its time exploding + re-hashing); 60 bits
    * rather than 64 keeps `1<<j` and the chunk masks inside positive
    * BIGINT range on both engines, and every step — hash, lanes,
    * banding, Hamming — is exact integer arithmetic the DuckDB oracle
    * replays.
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // word → ±1 lane vector, memoized per partition: the corpus
        // vocabulary is small, so the 60 modmuls per word run once per
        // DISTINCT word instead of once per occurrence (~2× end-to-end)
        val memo = new java.util.HashMap[String, Array[Int]]()
        def lanesOf(w: String): Array[Int] = {
          var arr = memo.get(w)
          if (arr == null) {
            if (memo.size() > (1 << 20)) memo.clear() // unbounded-vocab guard
            val h = polyHash(w)
            arr = new Array[Int](60)
            var j = 0
            while (j < 60) {
              arr(j) = if ((((h * aCoef(j) + bCoef(j)) % P) & 1L) == 1L) 1 else -1
              j += 1
            }
            memo.put(w, arr)
          }
          arr
        }
        it.map { case (id, t) =>
          val counts = new Array[Int](60)
          t.split(" ", -1).foreach { w =>
            val lv = lanesOf(w)
            var j = 0
            while (j < 60) { counts(j) += lv(j); j += 1 }
          }
          var sim = 0L
          var j = 0
          while (j < 60) { if (counts(j) > 0) sim |= (1L << j); j += 1 }
          (id, sim)
        }
      }
      .toDF("doc_id", "simhash")
    val chunkCols = (0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 15).bitwiseAND(lit(32767L)).as("ch")))
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      explode(array(chunkCols: _*)).as("cc"))
      .select(col("doc_id"), col("simhash"), col("cc.chunk"), col("cc.ch"))
    val a = chunked.alias("a"); val b = chunked.alias("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ch") === col("b.ch")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 8) // prune before the distinct shuffle
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------- recall/precision eval
  /** Dedup-quality evaluation harness — the post-tuning gate a corpus
    * pipeline runs before trusting an approximate dedup pass: each
    * approximate face's candidate pairs (MinHash-LSH, SimHash) scored
    * against the exact trigram-Jaccard ≥ 0.3 truth — truth size,
    * returned pairs, hits, and exact integer-ppm recall AND precision
    * per face (LSH trades a little recall for tight precision; SimHash
    * is the loose wide net that needs a verify stage — the two numbers
    * that tell you which to deploy where). The ANN counterpart is
    * [[Similarity]]'s `ann_recall_eval`; registering the measurement
    * makes the evaluation itself oracle-checked.
    *
    * == Scale design ==
    * The truth relation is the (tiny) verified near-dup pair set —
    * checkpointed once, broadcast into the probe join; each face runs
    * its own already-audited plan; the scoring is one O(faces)
    * aggregate. At 100 TB the truth side would be a SAMPLE's exact
    * pairs — the harness shape is unchanged.
    */
  def dedupRecallEval(s: SparkSession, dir: String): DataFrame = {
    val truth = verifiedPairs(s, dir)
    val faces = Seq(
      ("minhash_lsh", dedupMinhashLsh(s, dir)),
      ("simhash", dedupSimhash(s, dir)))
    val tagged = faces.map { case (n, df) =>
      df.select(lit(n).as("face"), col("doc_a"), col("doc_b"))
    }.reduce(_ unionByName _)
    val nTruth = truth.agg(count(lit(1)).as("truth_pairs"))
    tagged.alias("a")
      .join(broadcast(truth.alias("t")),
        col("a.doc_a") === col("t.doc_a") && col("a.doc_b") === col("t.doc_b"),
        "left")
      .groupBy(col("face"))
      .agg(count(lit(1)).as("returned"), count(col("t.doc_a")).as("hits"))
      .crossJoin(broadcast(nTruth))
      .select(col("face"), col("truth_pairs"), col("returned"), col("hits"),
        expr("1000000 * hits div truth_pairs").as("recall_ppm"),
        expr("1000000 * hits div returned").as("precision_ppm"))
      .orderBy(col("face"))
  }

  /** DuckDB twin: each face's full oracle statement inlined as a
    * derived table (WITH scopes stay local — the ann_recall_eval
    * composition trick), same left-join scoring. */
  lazy val dedupRecallEvalSql: String =
    s"""WITH t AS (SELECT doc_a, doc_b FROM ($dedupNgramJaccardSql)),
       |apx AS (
       |  SELECT 'minhash_lsh' AS face, doc_a, doc_b FROM ($dedupMinhashLshSql)
       |  UNION ALL
       |  SELECT 'simhash', doc_a, doc_b FROM ($dedupSimhashSql)),
       |n AS (SELECT count(*) AS truth_pairs FROM t)
       |SELECT apx.face, n.truth_pairs,
       |  count(*) AS returned, count(t.doc_a) AS hits,
       |  1000000 * count(t.doc_a) // n.truth_pairs AS recall_ppm,
       |  1000000 * count(t.doc_a) // count(*) AS precision_ppm
       |FROM apx LEFT JOIN t ON t.doc_a = apx.doc_a AND t.doc_b = apx.doc_b
       |CROSS JOIN n
       |GROUP BY apx.face, n.truth_pairs
       |ORDER BY apx.face""".stripMargin

  // ------------------------------------------- contamination check
  /** Benchmark decontamination report: for every EVAL doc (source =
    * 'src0', standing in for a held-out benchmark) count the TRAIN
    * docs (every other source) it shares a word-trigram shingle with,
    * and the number of (shingle, train-doc) hits — the n-gram-overlap
    * check a pretraining pipeline runs before shipping a corpus so
    * eval answers aren't memorized from train. All eval docs are
    * reported (zero rows for the clean ones).
    *
    * Same scale shape as the jaccard verifier: the join keys are the
    * 8-byte polyHash shingle ids, the eval side is benchmark-sized
    * (tiny) and broadcasts; at 100 TB the train side streams through
    * unbuffered.
    */
  def contaminationNgram(s: SparkSession, dir: String): DataFrame = {
    // source filters pushed BELOW the explode ([[explodedOf]]): each
    // side shingles only its own partition of the corpus, instead of
    // shingling everything twice and joining the source column on
    val d = docs(s, dir)
    val eval_ = explodedOf(d.filter(col("source") === "src0"))
      .select(col("doc_id").as("eval_id"), col("hg"))
    val train = explodedOf(d.filter(col("source") =!= "src0"))
      .select(col("doc_id").as("train_id"), col("hg").as("hg_t"))
    val hits = broadcast(eval_).join(train, col("hg") === col("hg_t"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        count(lit(1)).as("n_hits"))
    docs(s, dir).filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"))
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .orderBy(col("eval_id"))
  }

  /** Oracle: the same shingle→polyHash CTEs restricted by source. */
  val contaminationNgramSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id, source,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS hg
      |  FROM g),
      |hits AS (SELECT e.doc_id AS eval_id,
      |    count(DISTINCT t.doc_id) AS n_train_docs, count(*) AS n_hits
      |  FROM gh e JOIN gh t ON t.hg = e.hg AND t.source <> 'src0'
      |  WHERE e.source = 'src0' GROUP BY e.doc_id)
      |SELECT d.doc_id AS eval_id,
      |  COALESCE(h.n_train_docs, 0) AS n_train_docs,
      |  COALESCE(h.n_hits, 0) AS n_hits
      |FROM documents d LEFT JOIN hits h ON h.eval_id = d.doc_id
      |WHERE d.source = 'src0'
      |ORDER BY eval_id""".stripMargin

  // --------------------------------------- decontamination (executed)
  /** Decontamination EXECUTED (r14, [[contaminationNgram]]'s act-on-it
    * half — the audit→execute symmetry of `compaction_plan` →
    * `compaction_exec`): the audit counts eval-set shingles leaking
    * into training sources; this face applies the standard removal
    * rule — any TRAIN doc sharing ≥ 3 distinct trigram shingles with
    * ANY eval doc (source `src0` stands in for the benchmark suite) is
    * dropped — and emits the per-source decontamination ledger a
    * training run records: docs and chars dropped, exact-ppm char
    * retention. Chars, not docs, is the decision column: dropping 1 %
    * of docs that hold 30 % of the tokens is a different cut.
    *
    * == Scale design ==
    * The eval side is SMALL BY CONTRACT (a benchmark suite vs a
    * 100 TB crawl), so its distinct shingle-hash set broadcasts —
    * exactly [[contaminationNgram]]'s join orientation reversed onto
    * the train side; train shingles stream through map-side. The hit
    * count groups on doc_id (the shuffle the shingle explode already
    * implies), and the ledger is O(sources).
    */
  def corpusDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val evalHg = explodedOf(d.filter(col("source") === "src0"))
      .select(col("hg")).distinct()
    val train = explodedOf(d.filter(col("source") =!= "src0"))
      .select(col("doc_id"), col("hg"))
    val hits = train.join(broadcast(evalHg), Seq("hg"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("hg")).as("n_hit"))
      .filter(col("n_hit") >= 3)
      .select(col("doc_id"), lit(true).as("dropped"))
    d.filter(col("source") =!= "src0")
      .join(hits, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("dropped"), col("n_chars")).otherwise(0L)).as("chars_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("chars_total"), col("chars_dropped"),
        expr("(chars_total - chars_dropped) * 1000000 div chars_total")
          .as("kept_ppm"))
      .orderBy(col("source"))
  }

  /** Oracle: the contamination shingle CTEs with the join reversed
    * onto the train side, thresholded and rolled up per source. */
  val corpusDecontaminateSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id, source,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS hg
      |  FROM g),
      |ev AS (SELECT DISTINCT hg FROM gh WHERE source = 'src0'),
      |hit AS (SELECT t.doc_id, count(DISTINCT t.hg) AS n_hit
      |  FROM gh t JOIN ev ON ev.hg = t.hg
      |  WHERE t.source <> 'src0' GROUP BY t.doc_id HAVING count(DISTINCT t.hg) >= 3)
      |SELECT d.source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(sum(d.n_chars) AS BIGINT) AS chars_total,
      |  CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_dropped,
      |  (CAST(sum(d.n_chars) AS BIGINT) - CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN d.n_chars ELSE 0 END) AS BIGINT)) * 1000000
      |    // CAST(sum(d.n_chars) AS BIGINT) AS kept_ppm
      |FROM documents d LEFT JOIN hit ON hit.doc_id = d.doc_id
      |WHERE d.source <> 'src0'
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ------------------------------------------- incremental dedup
  /** Incremental ingest dedup: near-dup pairs of NEW docs (source =
    * 'src1', standing in for today's crawl batch) against the EXISTING
    * corpus (every other source) — the nightly shape where only the
    * delta is shingled against the standing index, not corpus ×
    * corpus. Same verified-jaccard semantics as [[dedupNgramJaccard]]
    * restricted to cross-set pairs; the batch side is delta-sized and
    * broadcasts, the standing corpus streams through.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // source filters pushed BELOW the explode ([[explodedOf]]): the
    // delta and the standing corpus each shingle once, instead of
    // shingling everything twice and joining the source column on
    val d = docs(s, dir)
    val newG = explodedOf(d.filter(col("source") === "src1"))
      .select(col("doc_id").as("new_id"), col("n").as("nn"), col("hg"))
    val oldG = explodedOf(d.filter(col("source") =!= "src1"))
      .select(col("doc_id").as("old_id"), col("n").as("no"), col("hg").as("hg_o"))
    broadcast(newG).join(oldG, col("hg") === col("hg_o")
        && col("no") * 10 >= col("nn") * 3 && col("nn") * 10 >= col("no") * 3)
      .groupBy(col("new_id"), col("old_id"), col("nn"), col("no"))
      .agg(count(lit(1)).as("i"))
      .select(col("new_id"), col("old_id"),
        (col("i") * 1.0 / (col("nn") + col("no") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy(col("new_id"), col("old_id"))
  }

  val dedupIncrementalSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id, source,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS hg
      |  FROM g),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |inter AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS i
      |  FROM gh a JOIN gh b ON a.hg = b.hg AND a.source = 'src1' AND b.source <> 'src1'
      |  JOIN sz za ON za.doc_id = a.doc_id JOIN sz zb ON zb.doc_id = b.doc_id
      |  WHERE zb.n * 10 >= za.n * 3 AND za.n * 10 >= zb.n * 3
      |  GROUP BY 1, 2)
      |SELECT new_id, old_id, i * 1.0 / (s1.n + s2.n - i) AS jaccard
      |FROM inter JOIN sz s1 ON s1.doc_id = new_id JOIN sz s2 ON s2.doc_id = old_id
      |WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.3
      |ORDER BY new_id, old_id""".stripMargin

  // ---------------------------------------------- span-level dedup
  private val SPAN_K = 8

  /** Per-doc (doc_id, span) rows for every [[SPAN_K]]-word window of
    * the whitespace token stream, fully codegen'd (split → guarded
    * sequence → slice/array_join → explode; no UDF). Spans are keyed
    * by the SPAN STRING, not a hash: unlike the trigram family (whose
    * 31-bit polyHash is replayed symmetrically by the oracle), the
    * whole point of the span faces is EXACT verbatim-substring
    * semantics, so the key carries no collision caveat. At 100 TB the
    * same plan would pre-hash spans to 128 bits to narrow the
    * exchange (collision odds ~n²/2¹²⁹ — immaterial); the string key
    * is the correctness contract, the wide-hash the scale path.
    */
  private def spanRows(d: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val ws = split(col("text"), " ")
    val spans = when(size(ws) >= SPAN_K,
      transform(sequence(lit(1), size(ws) - lit(SPAN_K - 1)),
        i => array_join(slice(ws, i, lit(SPAN_K)), " ")))
      .otherwise(array())
    d.select(col("doc_id") +: keep.map(col) :+ explode(spans).as("span"): _*)
  }

  /** Span-level exact substring dedup — the "how much of this document
    * is verbatim-copied elsewhere" signal of suffix-array training-data
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"), restated as relational algebra: for each
    * document, the number of its [[SPAN_K]]-word spans that appear
    * verbatim in ≥1 OTHER document, plus an integer-permille coverage
    * ratio (the usual drop/trim threshold input). Reference scope:
    * rtkelly13/AWSBatch-MapReduce has no text ops; this is part of the
    * LLM-curation surface the brief adds.
    *
    * == Scale design ==
    * ONE corpus scan → explode → map-side-combinable (doc, span)
    * aggregate → window keyed by the HIGH-CARDINALITY span (count of
    * rows in the aggregate per span IS the distinct document
    * frequency — the text_tfidf derivation) → per-doc sum. The window
    * formulation is deliberate: a self-join against a "shared spans"
    * ledger re-explodes the corpus (the outer join pushes an
    * isnotnull(doc_id) only into one subtree, so the twin aggregates
    * canonicalize differently and exchange reuse cannot collapse them
    * — measured in the pre-AQE plan), while the window reuses the one
    * aggregate with a single extra exchange on span. Partition key
    * cardinality ≈ distinct spans, so the window is skew-free at any
    * scale — this is NOT a bare-alphabet window.
    */
  def dedupSpanExact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val a = spanRows(d).groupBy(col("doc_id"), col("span"))
      .agg(count(lit(1)).as("c"))
    val w = a.withColumn("docs_with",
      count(lit(1)).over(Window.partitionBy(col("span"))))
    val dup = w.filter(col("docs_with") >= 2)
      .groupBy(col("doc_id")).agg(sum(col("c")).as("dup"))
    val base = d.select(col("doc_id"),
      greatest(size(split(col("text"), " ")) - lit(SPAN_K - 1), lit(0))
        .cast("long").as("n_spans"))
    base.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup"), lit(0L)).as("dup_spans"))
      // integer permille: Spark `div` truncates, DuckDB `//` floors —
      // identical on the non-negative operands here.
      .withColumn("dup_permille",
        when(col("n_spans") > lit(0L),
          expr("dup_spans * 1000 div n_spans")).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  val dedupSpanExactSql: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sp AS (SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
      |a AS (SELECT doc_id, span, count(*) AS c FROM sp GROUP BY 1, 2),
      |d AS (SELECT span FROM a GROUP BY span HAVING count(*) >= 2),
      |dup AS (SELECT a.doc_id, sum(a.c) AS dup FROM a JOIN d USING (span) GROUP BY 1),
      |base AS (SELECT doc_id, CAST(greatest(len(string_split(text,' ')) - 7, 0) AS BIGINT) AS n_spans FROM documents)
      |SELECT b.doc_id, b.n_spans, CAST(coalesce(dup.dup, 0) AS BIGINT) AS dup_spans,
      |  CASE WHEN b.n_spans > 0 THEN CAST(coalesce(dup.dup, 0) * 1000 // b.n_spans AS BIGINT) ELSE CAST(0 AS BIGINT) END AS dup_permille
      |FROM base b LEFT JOIN dup ON dup.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** The memorization-hotspot report over the same span relation: the
    * top-20 spans shared by the most documents (ties broken by total
    * occurrence count, then span text — a total order, so the LIMIT
    * boundary is deterministic). This is the "what verbatim text is
    * the corpus full of" triage view a curation pass reads before
    * picking the [[dedupSpanExact]] drop threshold.
    *
    * == Scale design ==
    * Same single-scan explode + (doc, span) aggregate as
    * [[dedupSpanExact]]; the top-k lands in TakeOrderedAndProject
    * (per-partition heaps, no global sort materialization).
    */
  /** The (doc_id, source, span, c) span-occurrence aggregate shared by
    * the span family's CONSUMER faces (the hotspot report, the growth
    * curve and the source-overlap matrix all declare themselves "over
    * the same span relation") — once per (session, corpus signature),
    * the persisted span table a curation service folds repeatedly at
    * policy time. `source` rides the group key for the overlap face:
    * it is functionally dependent on `doc_id`, so the groups — and
    * every per-(doc, span) count — are IDENTICAL to the plain
    * (doc_id, span) aggregate the other consumers fold. The REGISTERED
    * [[dedupSpanExact]] face keeps computing it fresh.
    */
  private def spanAggShared(s: SparkSession, dir: String): DataFrame =
    graft.plans.SharedRel(s, "spanAgg|" + dir, TextOps.docsSig(s, dir)) {
      spanRows(docs(s, dir), keep = Seq("source"))
        .groupBy(col("doc_id"), col("source"), col("span"))
        .agg(count(lit(1)).as("c"))
    }

  def dedupSpanHot(s: SparkSession, dir: String): DataFrame = {
    val a = spanAggShared(s, dir)
    a.groupBy(col("span"))
      .agg(count(lit(1)).as("docs_with"), sum(col("c")).as("occurrences"))
      .filter(col("docs_with") >= 2)
      .orderBy(col("docs_with").desc, col("occurrences").desc, col("span"))
      .limit(20)
  }

  val dedupSpanHotSql: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |sp AS (SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
      |a AS (SELECT doc_id, span, count(*) AS c FROM sp GROUP BY 1, 2)
      |SELECT span, count(*) AS docs_with, CAST(sum(c) AS BIGINT) AS occurrences
      |FROM a GROUP BY span HAVING count(*) >= 2
      |ORDER BY docs_with DESC, occurrences DESC, span LIMIT 20""".stripMargin

  /** Incremental span dedup (r16) — the span family's delta face,
    * completing the orientation symmetry [[dedupIncremental]] gives
    * the trigram-jaccard family: today's arriving batch (source =
    * 'src1') scored for verbatim [[SPAN_K]]-word overlap against the
    * STANDING corpus only — per arriving doc, how many of its span
    * occurrences already exist verbatim in the standing store
    * ([[dedupSpanExact]]'s Lee-et-al. coverage signal restricted to
    * the cross-set direction a nightly ingest actually needs; the
    * within-batch direction is the standing face re-run tomorrow).
    * Same (doc_id, n_spans, dup_spans, dup_permille) ledger columns as
    * the standing face, over the batch only.
    *
    * == Scale design ==
    * The batch is ingest-sized, so its DISTINCT span probe set
    * BROADCASTS into one scan of the standing span relation; matched
    * spans collapse to ≤ |batch spans| before rejoining the batch —
    * the standing corpus is never shuffled on the span key and never
    * self-joins (the [[pipelineMediaIncremental]] CAS shape at span
    * granularity). At a batch too large to broadcast, the same plan
    * flips to a span-keyed shuffle join — high-cardinality, skew-free
    * — without touching the ledger semantics.
    */
  def dedupSpanIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val batchSpans = spanRows(d.filter(col("source") === "src1"))
      .groupBy(col("doc_id"), col("span")).agg(count(lit(1)).as("c"))
    val standingSpans = spanRows(d.filter(col("source") =!= "src1"))
      .select(col("span"))
    val hit = standingSpans
      .join(broadcast(batchSpans.select(col("span")).distinct()),
        Seq("span"), "left_semi")
      .select(col("span")).distinct()
    val dup = batchSpans.join(broadcast(hit), Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("dup"))
    val base = d.filter(col("source") === "src1").select(col("doc_id"),
      greatest(size(split(col("text"), " ")) - lit(SPAN_K - 1), lit(0))
        .cast("long").as("n_spans"))
    base.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup"), lit(0L)).as("dup_spans"))
      .withColumn("dup_permille",
        when(col("n_spans") > lit(0L),
          expr("dup_spans * 1000 div n_spans")).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  val dedupSpanIncrementalSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents),
      |sp AS (SELECT doc_id, source, array_to_string(ws[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
      |da AS (SELECT doc_id, span, count(*) AS c FROM sp
      |  WHERE source = 'src1' GROUP BY 1, 2),
      |hit AS (SELECT DISTINCT s.span FROM sp s WHERE s.source <> 'src1'
      |  AND EXISTS (SELECT 1 FROM da WHERE da.span = s.span)),
      |dup AS (SELECT da.doc_id, sum(da.c) AS dup FROM da
      |  JOIN hit USING (span) GROUP BY 1),
      |base AS (SELECT doc_id,
      |    CAST(greatest(len(string_split(text,' ')) - 7, 0) AS BIGINT) AS n_spans
      |  FROM documents WHERE source = 'src1')
      |SELECT b.doc_id, b.n_spans, CAST(coalesce(dup.dup, 0) AS BIGINT) AS dup_spans,
      |  CASE WHEN b.n_spans > 0 THEN CAST(coalesce(dup.dup, 0) * 1000 // b.n_spans AS BIGINT) ELSE CAST(0 AS BIGINT) END AS dup_permille
      |FROM base b LEFT JOIN dup ON dup.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  // ------------------------------- corpus growth / provenance overlap
  /** Dedup saturation curve — the marginal-value-of-data report a
    * corpus build reads before ingesting the next shard: the corpus is
    * cut into 10 arrival shards by doc_id decile, and each shard
    * reports how many of its [[SPAN_K]]-word spans were never seen in
    * an earlier shard (`n_new_spans`), the cumulative unique-span
    * mass, and the integer-permille novelty rate. Span identity (not
    * whole-document) is deliberate: it is the token-level novelty that
    * predicts training value (the [[dedupSpanExact]] Lee-et-al.
    * identity), and it keeps the curve informative even when no two
    * documents are byte-identical. A flattening curve says the next
    * shard buys mostly re-crawled text — the dedup-ROI knob.
    *
    * == Scale design ==
    * The max(doc_id) fixing the decile width is a 1-row aggregate
    * cross-joined back (broadcast by construction — no shuffle);
    * first-seen shard is ONE map-side-combinable min per span key
    * (high-cardinality, skew-free); everything after operates on
    * ≤10 rows, so the unpartitioned cumulative window is a
    * bounded-relation face, not a corpus sort.
    */
  def dedupGrowthCurve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val mx = d.agg(max(col("doc_id")).as("mx"))
    val sharded = d.crossJoin(broadcast(mx))
      .withColumn("shard", expr("doc_id * 10 div (mx + 1)"))
    // Shard presence and n_docs come from DOCUMENTS, not the exploded
    // span relation: a shard whose docs are all shorter than SPAN_K
    // words contributes zero spans but must still report (n_docs > 0,
    // n_spans = 0) — deriving the spine from spans would silently drop
    // it from the curve (r9 ADVICE contract nit).
    val shards = sharded.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"))
    // span occurrences come from the shared (doc_id, span, c) artifact
    // (r22): the shard is a pure function of doc_id, so per-shard
    // occurrence mass is sum(c) and first-seen is min(shard) over the
    // folded relation — no fresh corpus explode for this face.
    val sp = spanAggShared(s, dir).crossJoin(broadcast(mx))
      .withColumn("shard", expr("doc_id * 10 div (mx + 1)"))
    val perShard = sp.groupBy(col("shard")).agg(sum(col("c")).as("n_spans"))
    val firstSeen = sp.groupBy(col("span"))
      .agg(min(col("shard")).as("shard"))
      .groupBy(col("shard")).agg(count(lit(1)).as("n_new"))
    // 10-row relation from here on: the global window is bounded.
    val cum = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shards.join(perShard, Seq("shard"), "left")
      .join(firstSeen, Seq("shard"), "left")
      .select(col("shard"), col("n_docs"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_new"), lit(0L)).as("n_new_spans"))
      .withColumn("cum_unique_spans", sum(col("n_new_spans")).over(cum))
      // non-negative operands: Spark `div` (truncate) ≡ DuckDB `//`
      // (floor); NULL (not a fake 0‰) when the shard has no spans —
      // a novelty RATE over zero spans is undefined, and 0 would read
      // as "fully redundant shard"
      .withColumn("new_permille",
        when(col("n_spans") > 0, expr("n_new_spans * 1000 div n_spans")))
      .orderBy(col("shard"))
  }

  val dedupGrowthCurveSql: String =
    """WITH m AS (SELECT max(doc_id) AS mx FROM documents),
      |w AS (SELECT doc_id, (doc_id * 10) // (mx + 1) AS shard, string_split(text,' ') AS ws FROM documents, m),
      |sh AS (SELECT shard, count(*) AS n_docs FROM w GROUP BY shard),
      |sp AS (SELECT doc_id, shard, array_to_string(ws[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
      |ps AS (SELECT shard, count(*) AS n_spans FROM sp GROUP BY shard),
      |fs AS (SELECT min(shard) AS shard FROM sp GROUP BY span),
      |nu AS (SELECT shard, count(*) AS n_new FROM fs GROUP BY shard)
      |SELECT sh.shard, sh.n_docs, CAST(coalesce(ps.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(coalesce(nu.n_new, 0) AS BIGINT) AS n_new_spans,
      |  CAST(sum(coalesce(nu.n_new, 0)) OVER (ORDER BY sh.shard) AS BIGINT) AS cum_unique_spans,
      |  CASE WHEN coalesce(ps.n_spans, 0) > 0
      |    THEN CAST(coalesce(nu.n_new, 0) * 1000 // ps.n_spans AS BIGINT) END AS new_permille
      |FROM sh LEFT JOIN ps USING (shard) LEFT JOIN nu USING (shard)
      |ORDER BY sh.shard""".stripMargin

  /** Cross-source duplication matrix — which provenance pairs ship the
    * same text: for every source pair (a < b), the number of distinct
    * [[SPAN_K]]-word spans present verbatim in BOTH, plus that count
    * as an integer permille of the smaller side's unique-span mass.
    * The curation read: a high-permille pair means one source largely
    * mirrors the other and its acquisition budget is mostly buying
    * re-crawls of text already owned.
    *
    * == Scale design ==
    * distinct(source, span) is one map-side-combinable shuffle on the
    * span key; the pair join meets only within a span's source set
    * (≤ |sources| rows — the alphabet, not the corpus), so per-span
    * fan-out is bounded and the output is at most |sources|² rows.
    * Per-source unique counts broadcast back. At 100 TB the join key
    * becomes a 128-bit span digest (the [[spanRows]] wide-hash note);
    * the string key keeps the oracle exactly replayable.
    */
  def dedupSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // ONE span-keyed shuffle over the SHARED span aggregate: fold each
    // span's source SET map-side (collect_set dedups (source, span) in
    // the same exchange the old distinct paid), then pairs and
    // per-source uniques both derive from the folded relation — the
    // pre-r21 shape paid the span shuffle four times (distinct + both
    // self-join sides + the unique counts). Per-span fan-out stays
    // ≤ |sources| (the alphabet), exactly the bound the scale note
    // declares. The source rides [[spanAggShared]]'s group key
    // (functionally dependent on doc_id), so this face folds the
    // once-per-corpus artifact instead of re-exploding the corpus.
    // NO cache and NO checkpoint on spanSrcs (r22): the r21 shape
    // cached it and never unpersisted — the warm bench cell was riding
    // a session-lifetime cache built by the previous call ("already
    // cached" WARNs, O(distinct spans) pinned until session close); an
    // eager stableCheckpoint re-materialized per call and measured no
    // better than recomputing the fold from the artifact.
    val spanSrcs = spanAggShared(s, dir)
      .groupBy(col("span")).agg(collect_set(col("source")).as("srcs"))
    val u = spanSrcs.select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
    spanSrcs
      .select(col("srcs"), explode(col("srcs")).as("source_a"))
      .select(col("source_a"), explode(col("srcs")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(u.select(col("source").as("source_a"),
        col("n_unique").as("ua"))), "source_a")
      .join(broadcast(u.select(col("source").as("source_b"),
        col("n_unique").as("ub"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        expr("n_shared * 1000 div least(ua, ub)").as("share_permille"))
      .orderBy(col("n_shared").desc, col("source_a"), col("source_b"))
  }

  val dedupSourceOverlapSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents),
      |sp AS (SELECT DISTINCT source, array_to_string(ws[i:i+7], ' ') AS span
      |  FROM w, unnest(range(1, len(ws) - 6)) AS t(i) WHERE len(ws) >= 8),
      |u AS (SELECT source, count(*) AS n_unique FROM sp GROUP BY source),
      |p AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
      |  FROM sp a JOIN sp b ON a.span = b.span AND a.source < b.source GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b, p.n_shared,
      |  CAST(p.n_shared * 1000 // least(ua.n_unique, ub.n_unique) AS BIGINT) AS share_permille
      |FROM p JOIN u ua ON ua.source = p.source_a
      |JOIN u ub ON ub.source = p.source_b
      |ORDER BY p.n_shared DESC, p.source_a, p.source_b""".stripMargin

  // ------------------------------------------- connected components
  /** Duplicate CLUSTERS from the verified near-dup pairs: iterative
    * min-label propagation (each doc's component = smallest doc_id
    * reachable through near-dup edges). Pure DataFrame loop — join +
    * groupBy(min) per round, converging in O(component diameter)
    * rounds; the same algorithm scales as small-star/large-star at
    * 100 TB. Oracle: a recursive CTE computing min reachable id.
    */
  def dedupComponents(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir)
      .select(col("id").as("doc_id"), col("label").as("component"))
      .orderBy(col("doc_id"))

  /** The size-compat-pruned shingle INTERSECTION relation
    * (doc_a, doc_b, na, nb, i) — the candidate-pair machinery every
    * jaccard-threshold consumer was re-running in full: the verified
    * 0.3 pairs, [[graphLinkPredict]]'s weak 0.02 graph,
    * [[dedupThresholdCurve]]'s 3..9 grid are all FILTERS over this one
    * relation. Built once per (session, corpus signature) — in
    * production this is the persisted candidate table a dedup service
    * re-cuts at policy time. The REGISTERED [[dedupNgramJaccard]] face
    * keeps computing it fresh (its bench cell stays an honest
    * measurement of the shingle join).
    */
  private[operators] def interShared(s: SparkSession, dir: String): DataFrame =
    graft.plans.SharedRel(s, "shingleInter|" + dir, TextOps.docsSig(s, dir)) {
      val g = exploded(s, dir).hint("merge")
      val a = g.alias("a"); val b = g.alias("b")
      a.join(b, col("a.hg") === col("b.hg") && col("a.doc_id") < col("b.doc_id")
          && col("b.n") * 10 >= col("a.n") * 3 && col("a.n") * 10 >= col("b.n") * 3)
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("i"))
    }

  /** The verified near-dup pair list, memoized per (session, corpus
    * signature) as a checkpointed distributed relation — in production
    * this IS the persisted near-dup index ([[dedupIncremental]]'s
    * standing side); ~10 graph/dedup faces consume it and each was
    * re-running the shingle candidate join. Train-once contract, no
    * driver collect. The 0.3 cut is the IDENTICAL double arithmetic
    * [[dedupNgramJaccard]] declares, applied to the shared
    * intersection relation.
    */
  private[operators] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.plans.SharedRel(s, "verifiedPairs|" + dir, TextOps.docsSig(s, dir)) {
      interShared(s, dir)
        .filter(col("i") * 1.0 / (col("na") + col("nb") - col("i")) >= 0.3)
        .select(col("doc_a"), col("doc_b"))
    }

  /** Converged full-corpus component labels, memoized per (session,
    * corpus signature) — the [[graphComponentsIncremental]]
    * standing-labels / bucketed-twins convention applied to the FULL
    * recompute: six registered faces consume these labels
    * (cluster stats, keep-best, the curate pipelines, the dedup-aware
    * split), and each was re-running the O(log diameter)
    * driver-synchronized loop on an identical corpus. The memo holds
    * a checkpointed DISTRIBUTED relation (no driver collect, the
    * train-once contract of the BPE/IVF memos); session identity is
    * part of the key because the checkpointed RDD dies with its
    * context.
    */
  private[operators] def componentLabels(s: SparkSession, dir: String): DataFrame =
    graft.plans.SharedRel(s, "componentLabels|" + dir, TextOps.docsSig(s, dir)) {
      componentsOver(verifiedPairs(s, dir))
    }

  /** The pair list (doc_a, doc_b) plus every pair reversed: the
    * symmetric edge list every graph face walks. */
  private def symmetric(pairs: DataFrame): DataFrame =
    pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))

  /** SQL twin of [[symmetric]] over relation `p`, as (src, dst). */
  private def symmetricSql(p: String): String =
    s"""SELECT doc_a AS src, doc_b AS dst FROM $p
       |  UNION ALL SELECT doc_b, doc_a FROM $p""".stripMargin

  /** Min-label connected components over an undirected pair list —
    * the pointer-doubling loop shared by [[dedupComponents]] and
    * [[graphComponentsIncremental]]. Returns (id, label) for every
    * node that appears in a pair; label = min reachable id.
    */
  private def componentsOver(pairs: DataFrame): DataFrame = {
    // bidirectional edge list, cached: reused every iteration, released
    // in `finally` so a loop that does not converge leaves no entry
    val edges = symmetric(pairs).toDF("src", "dst").cache()
    // run to FIXPOINT (the oracle is exact); each round is checkpointed,
    // which truncates the growing join lineage.
    // Each round does (a) one neighbor-min hop and (b) one POINTER-
    // DOUBLING hop (follow the label's own label): labels then reach
    // 2^rounds-distant minima, so chains converge in O(log diameter)
    // rounds instead of O(diameter) — at 100 TB the round count, not
    // the per-round shuffle, is the wall-clock lever (each round is a
    // driver-synchronized job).
    // NOTE (r7, measured): fusing a SECOND doubling hop into a round
    // to halve the round count made it SLOWER (3.0 s → 5.3 s warm at
    // sf0.1) — the un-checkpointed hop subtree is referenced twice by
    // the next self-join, so Spark evaluates it twice and the
    // duplicated work exceeds the saved driver syncs. One hop per
    // checkpointed round is the right trade.
    try {
      val init = edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("label"))
      Checkpoints.fixpoint("componentsOver", init, "label", "newlabel") { labels =>
        val neighborMin = edges
          .join(labels, edges("src") === labels("id"))
          .groupBy(col("dst").as("id2")).agg(min(col("label")).as("nmin"))
        val stepped = labels.join(neighborMin, labels("id") === col("id2"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("l1"),
            col("label"))
        val parents = stepped.select(col("id").as("pid"), col("l1").as("plabel"))
        stepped.join(parents, col("l1") === col("pid"), "left")
          .select(col("id"),
            least(col("l1"), coalesce(col("plabel"), col("l1"))).as("newlabel"),
            col("label"))
      }
    } finally edges.unpersist(false)
  }

  // --------------------------------------- incremental components
  /** Incremental connected components (r14, the nightly-batch shape of
    * [[dedupComponents]] — what [[dedupIncremental]] is to the pair
    * face, this is to the cluster face): NEW docs (doc_id % 5 = 0, a
    * ~20 % ingest batch) arrive against a standing corpus whose
    * component labels are already converged; instead of re-running
    * label propagation over the whole graph, old components CONTRACT
    * to their labels (supernodes), the delta edges — only pairs
    * touching a new doc — are remapped onto supernodes, and the
    * propagation loop runs on that contracted graph alone. The final
    * label join gives every paired doc its updated component. Labels
    * are min-reachable-ids on both paths, and min-of-mins composes, so
    * the result is IDENTICAL to the full recompute — the oracle is
    * [[dedupComponentsSql]] verbatim (the ann_ivf_indexed move: same
    * contract, different — incremental — computation path), and the
    * spec additionally pins face ≡ full-face row-for-row.
    *
    * == Scale design ==
    * This is THE components story at 100 TB: the standing labels are a
    * persisted table (here built once per (session, corpus signature) and
    * memoized as a checkpointed relation — in production they are
    * yesterday's output), and tonight's work is delta-sized — the contracted graph has one
    * node per touched component plus the new docs, so the O(log
    * diameter) loop runs on a relation ~|delta| regardless of corpus
    * size. The final label update is one broadcast-sized join against
    * the contracted labels.
    */
  def graphComponentsIncremental(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    val isNew = (c: Column) => pmod(c, lit(5)) === 0
    val oldPairs = pairs.filter(!isNew(col("doc_a")) && !isNew(col("doc_b")))
    // Standing labels: yesterday's converged table. In production this
    // is a PERSISTED table, not tonight's work — so the stateless gate
    // mirrors that by materializing it once per (session, corpus
    // signature) and reusing the checkpointed relation (a DataFrame
    // reference, NOT a driver collect — the label table is
    // paired-doc-sized and stays distributed; same train-once
    // contract as the BPE-merge and IVF-codebook memos).
    val base = graft.plans.SharedRel(s, "standingLabels|" + dir,
        TextOps.docsSig(s, dir)) {
      componentsOver(oldPairs).select(col("id"), col("label"))
    }
    // contract: every endpoint maps to its standing label (new docs and
    // old docs without old edges map to themselves)
    val delta = pairs.filter(isNew(col("doc_a")) || isNew(col("doc_b")))
    def mapped(side: String): DataFrame = base
      .select(col("id").as(side), col("label").as(s"m_$side"))
    val contracted = delta
      .join(mapped("doc_a"), Seq("doc_a"), "left")
      .join(mapped("doc_b"), Seq("doc_b"), "left")
      .select(coalesce(col("m_doc_a"), col("doc_a")).as("doc_a"),
        coalesce(col("m_doc_b"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
    val merged = componentsOver(contracted)
      .select(col("id").as("m"), col("label").as("clabel"))
    // every paired node: standing label (or self), then the contracted fix-up
    val nodes = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b"))).distinct()
    val out = nodes
      .join(base, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("m"))
      .join(broadcast(merged), Seq("m"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("clabel"), col("m")).as("component"))
      .orderBy(col("doc_id"))
    out
  }

  /** Shared oracle fragment extending [[pairCtes]] with the recursive
    * connected-components labeling (`comp(doc_id, component)`), so the
    * cluster-policy consumers (curate) replay exactly the components
    * oracle.
    */
  private[operators] val componentCtes: String =
    s"""$pairCtes,
       |e AS (${symmetricSql("p")}),
       |reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |comp AS (SELECT id AS doc_id, min(r) AS component
       |  FROM reach GROUP BY id)""".stripMargin

  val dedupComponentsSql: String =
    s"""WITH RECURSIVE $componentCtes
       |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- cluster-size stats
  /** Dedup-cluster size distribution — the report a curation run reads
    * before choosing a collapse policy: [[dedupComponents]]'s labels
    * rolled up to a (cluster_size → n_clusters, n_docs, docs_removed)
    * histogram, where `docs_removed` is what keep-one-exemplar dedup
    * would drop from clusters of that size. Large-cluster mass is the
    * number that decides between exemplar-keep and full-drop policies
    * (boilerplate farms show up as one giant component).
    *
    * == Scale design ==
    * Two map-side-combinable aggregations over the component label
    * relation (which holds only PAIRED docs — tiny at any corpus
    * size); the histogram itself is O(distinct sizes).
    */
  def dedupClusterStats(s: SparkSession, dir: String): DataFrame =
    dedupComponents(s, dir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removed"))
      .orderBy(col("cluster_size"))

  /** Oracle: the shared recursive component CTE rolled up twice. */
  val dedupClusterStatsSql: String =
    s"""WITH RECURSIVE $componentCtes,
       |cs AS (SELECT component, count(*) AS cluster_size
       |  FROM comp GROUP BY component)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
       |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS docs_removed
       |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  // --------------------------------------------- lexical diversity
  /** Per-source lexical diversity ledger (r14 wave 37 — the
    * repetition-vs-novelty audit beside [[dedupSourceOverlap]]'s
    * pairwise sharing table: a source can be clean of cross-source
    * dup and still be internally repetitive boilerplate, or the one
    * provenance contributing genuinely novel text): over the SHARED
    * trigram shingle relation (per-doc distinct, the dedup family's
    * unit), per source — shingle incidences, distinct shingles, the
    * type-token ratio in exact ppm (low = the source repeats itself
    * across documents), shingles appearing in NO other source, and
    * the novelty share (high = this source is where new text comes
    * from; a mixture weight built on volume alone overpays
    * low-novelty sources).
    *
    * == Scale design ==
    * ONE corpus scan: `source` rides the shingle-explode closure
    * itself (r22 — the previous shape paid a second documents scan
    * plus a doc_id join that re-shuffled the O(shingle-incidence)
    * relation just to attach a column the scan already had). The
    * result is checkpointed — it feeds both the per-source fold and
    * the ownership fold; the ownership relation collapses to
    * O(distinct shingles) map-side; both ledgers are O(sources).
    */
  def corpusDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .flatMap { case (id, src, t) =>
        trigrams(t).iterator.map(ng => (id, src, polyHash(ng)))
      }
      .toDF("doc_id", "source", "hg")
      .stableCheckpoint()
    val bySrc = sh.groupBy(col("source"))
      .agg(count(lit(1)).as("n_incidences"),
        countDistinct(col("hg")).as("n_distinct"))
    val owners = sh.select(col("source"), col("hg")).distinct()
      .groupBy(col("hg"))
      .agg(count(lit(1)).as("ns"), min(col("source")).as("only_src"))
    val uniq = owners.filter(col("ns") === 1)
      .groupBy(col("only_src").as("source")).agg(count(lit(1)).as("n_unique"))
    bySrc.join(uniq, Seq("source"), "left_outer")
      .select(col("source"), col("n_incidences"), col("n_distinct"),
        expr("1000000 * n_distinct div n_incidences").as("ttr_ppm"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        expr("1000000 * coalesce(n_unique, 0) div n_distinct").as("unique_ppm"))
      .orderBy(col("source"))
  }

  /** Oracle: the shared shingle CTEs joined to the doc spine, same
    * ownership fold. */
  val corpusDiversitySql: String =
    s"""WITH $shingleCtes,
       |sd AS (SELECT gh.doc_id, gh.hg, d.source
       |  FROM gh JOIN documents d ON d.doc_id = gh.doc_id),
       |bs AS (SELECT source, count(*) AS n_incidences,
       |    count(DISTINCT hg) AS n_distinct FROM sd GROUP BY 1),
       |ow AS (SELECT hg, count(DISTINCT source) AS ns, min(source) AS only_src
       |  FROM sd GROUP BY 1),
       |uq AS (SELECT only_src AS source, count(*) AS n_unique
       |  FROM ow WHERE ns = 1 GROUP BY 1)
       |SELECT bs.source, bs.n_incidences, CAST(bs.n_distinct AS BIGINT) AS n_distinct,
       |  1000000 * bs.n_distinct // bs.n_incidences AS ttr_ppm,
       |  CAST(COALESCE(uq.n_unique, 0) AS BIGINT) AS n_unique,
       |  1000000 * COALESCE(uq.n_unique, 0) // bs.n_distinct AS unique_ppm
       |FROM bs LEFT JOIN uq USING (source) ORDER BY source""".stripMargin

  // ------------------------------------------------- k-core peeling
  /** 2-core shrinkage ledger of the near-dup graph (r14 wave 28 — the
    * density profile between [[graphDegreeHist]]'s static skew table
    * and [[dedupClusterStats]]' size histogram: how much of the graph
    * survives when thinly-connected tissue is peeled away): repeatedly
    * delete nodes of degree < 2 — the classic k-core peel at k = 2 —
    * recording per round the surviving node and edge counts. Isolated
    * pairs, chains and pendant tissue evaporate; what remains at the
    * fixpoint is the MULTIPLY-connected duplication (triangles and
    * denser — boilerplate farms, mirror sets) where per-pair
    * verification money should go first. k = 2 is the first core the
    * trigram graph populates (its clusters are near-cliques but
    * small); the same ledger at any k is one constant away. Both engines
    * run the SAME fixed 8 peel rounds (the tokenize_bpe fixed-round
    * convention — the oracle unrolls them as MATERIALIZED CTEs) and
    * the spec asserts the fixpoint landed inside them, so the hash
    * pins a converged ledger, not a truncation.
    *
    * == Scale design ==
    * The pair join runs ONCE (stableCheckpointed); each peel round is
    * a degree fold + two semi-joins on the SHRINKING edge relation,
    * checkpointed per round (the [[componentsOver]] discipline). The
    * ledger rows are per-round scalar aggregates — the `changed`
    * counts the components loop already pays.
    */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    val ledger = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    // one ledger row per round's edge state, counted before it is peeled
    def record(edges: DataFrame): Unit = ledger +=
      ((ledger.size.toLong, edges.select(col("src")).distinct().count(), edges.count() / 2))
    val core = Checkpoints.rounds(8, symmetric(pairs).toDF("src", "dst")) { edges =>
      record(edges)
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
      val kSrc = keep.select(col("src").as("ks"))
      val kDst = keep.select(col("src").as("kd"))
      edges
        .join(kSrc, col("src") === col("ks"))
        .join(kDst, col("dst") === col("kd"))
        .select(col("src"), col("dst"))
    }
    record(core)
    s.createDataFrame(ledger.toSeq).toDF("round", "n_nodes", "n_edges")
      .orderBy(col("round"))
  }

  /** Oracle: the shared pair CTE + 8 peel rounds unrolled as
    * MATERIALIZED CTEs (each e_r is referenced three times). */
  val graphKcoreSql: String = {
    val rounds = (1 to 8).map { r =>
      s"""d${r - 1} AS (SELECT src FROM e${r - 1} GROUP BY src HAVING count(*) >= 2),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN d${r - 1} a ON a.src = e.src
         |  JOIN d${r - 1} b ON b.src = e.dst)""".stripMargin
    }.mkString(",\n")
    val led = (0 to 8).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT count(DISTINCT src) FROM e$r) AS n_nodes,
         |  (SELECT count(*) FROM e$r) // 2 AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $pairCtes,
       |e0 AS MATERIALIZED (${symmetricSql("p")}),
       |$rounds
       |$led
       |ORDER BY round""".stripMargin
  }

  // ------------------------------------------- exemplar policy face
  /** Keep-BEST exemplar policy (r14 wave 24 — the POLICY question
    * [[dedupClusterStats]]' docs_removed column leaves open: keep-one
    * says nothing about WHICH one): every verified near-dup cluster
    * keeps its highest-QUALITY member instead of [[dedupComponents]]'
    * min-id convention — production dedup keeps the best copy of a
    * page, not the first-crawled one. Quality is the shared gate
    * formula at [[graft.operators.Curate.corpusTokenBudget]]'s
    * milli-score granularity (integer quantization keeps the argmax
    * bit-stable cross-engine), keeper = row 1 under the
    * (mb DESC, doc_id) total order, min-id rides beside it as the
    * incumbent. The per-source ledger prices the policy switch: kept
    * docs and kept quality mass per source under BOTH policies — a
    * source whose kept count drops under keep-best is the source
    * whose crawls lose the quality contest (spec pins Σkept equal
    * across policies — one keeper per cluster either way — and that
    * keep-best's quality mass dominates, with strict gain somewhere).
    *
    * == Scale design ==
    * The component labels are the verified O(paired docs) relation;
    * the quality join adds one doc-keyed join against the gate's
    * scan-side features, the two rank windows partition BY COMPONENT
    * (parallel across clusters at any scale), and the ledger folds
    * map-side onto O(sources) keys.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = dedupComponents(s, dir)
    val m = TextOps.textQualityShared(s, dir).select(col("doc_id"),
      least(floor(col("quality_score") * 1000), lit(999)).cast("long").as("mb"))
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val cq = comp.join(m, "doc_id").join(src, "doc_id")
    val k = cq
      .withColumn("rb", row_number().over(Window.partitionBy(col("component"))
        .orderBy(col("mb").desc, col("doc_id"))))
      .withColumn("rm", row_number().over(Window.partitionBy(col("component"))
        .orderBy(col("doc_id"))))
    k.groupBy(col("source")).agg(
        count(lit(1)).as("n_paired"),
        sum(when(col("rm") === 1, 1L).otherwise(0L)).as("kept_minid"),
        sum(when(col("rb") === 1, 1L).otherwise(0L)).as("kept_best"),
        sum(when(col("rm") === 1, col("mb")).otherwise(0L)).as("mb_kept_minid"),
        sum(when(col("rb") === 1, col("mb")).otherwise(0L)).as("mb_kept_best"))
      .orderBy(col("source"))
  }

  /** Oracle: the shared recursive component CTE joined to the shared
    * quality CTE, keepers via the same two rank windows. */
  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE $componentCtes,
       |${graft.operators.Curate.qualityCte},
       |mq AS (SELECT doc_id,
       |    least(CAST(floor(quality_score * 1000) AS BIGINT), 999) AS mb
       |  FROM q),
       |cq AS (SELECT c.doc_id, c.component, mq.mb, d.source
       |  FROM comp c JOIN mq USING (doc_id)
       |  JOIN documents d USING (doc_id)),
       |k AS (SELECT *,
       |    row_number() OVER (PARTITION BY component
       |      ORDER BY mb DESC, doc_id) AS rb,
       |    row_number() OVER (PARTITION BY component ORDER BY doc_id) AS rm
       |  FROM cq)
       |SELECT source, count(*) AS n_paired,
       |  CAST(sum(CASE WHEN rm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_minid,
       |  CAST(sum(CASE WHEN rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_best,
       |  CAST(sum(CASE WHEN rm = 1 THEN mb ELSE 0 END) AS BIGINT) AS mb_kept_minid,
       |  CAST(sum(CASE WHEN rb = 1 THEN mb ELSE 0 END) AS BIGINT) AS mb_kept_best
       |FROM k GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------------------------------- BFS distance
  /** Hop distance to the cluster EXEMPLAR over the near-dup graph
    * (r14) — the merge-depth audit behind [[dedupComponents]]'
    * keep-min-id policy: how many near-dup hops separate each document
    * from the exemplar that keeps its cluster (hops = 0 ⇔ the doc IS
    * the exemplar). Depth-d docs were never compared directly to their
    * keeper — each extra hop is one more transitive leap of faith —
    * so the depth histogram is the risk profile of transitive
    * collapse, and chain-shaped clusters (large depth at small size)
    * are where a verify-pass re-check pays.
    *
    * Multi-source BFS: exemplars seed at distance 0 and each round
    * relaxes dist(v) = min(dist(v), min over neighbors dist(u)+1) to
    * FIXPOINT over the cached edge list — O(max eccentricity from the
    * exemplar) driver-synchronized rounds, each one O(E) join +
    * map-side min, stableCheckpointed to truncate lineage (the
    * [[componentsOver]] discipline; near-dup clusters are near-cliques
    * so the round count is small). Every paired node terminates
    * finite: its component's exemplar is reachable by construction.
    * Oracle: the shared recursive component CTE + a recursive BFS from
    * the exemplar set with min-per-node collapse.
    *
    * Contract at the round cap: a cluster whose exemplar eccentricity
    * exceeds [[Checkpoints.MaxRounds]] (a near-dup chain longer than
    * 64 hops) makes this face THROW — its loop does not converge —
    * while the DuckDB twin's `WHERE bfs.d < 64` only stops the
    * recursion there: it still returns rows, nodes at depth 64 among
    * them, and silently drops the deeper ones.
    */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: the shingle candidate join feeds BOTH the
    // components loop (via its edge cache) and this loop's edge list —
    // without it the corpus-sized join runs twice
    val pairs = verifiedPairs(s, dir)
    val INF = 1000000L // > any hop count (rounds are capped)
    // components FIRST, edge cache AFTER (r22): componentsOver caches
    // the identical bidirectional edge plan internally and unpersists
    // it when its loop converges — registering ours before that call
    // shared ONE CacheManager entry ("already cached" WARN), and the
    // unpersist inside componentsOver killed it, so this loop's joins
    // ran uncached. Ordering the calls gives each loop its own cache
    // lifetime.
    val dist0 = componentsOver(pairs)
      .select(col("id"), col("label"),
        when(col("id") === col("label"), lit(0L)).otherwise(lit(INF)).as("hops"))
    val edges = symmetric(pairs).toDF("src", "dst").cache()
    val dist = try {
      Checkpoints.fixpoint("graphBfs", dist0, "hops", "newhops") { dist =>
        val nmin = edges
          .join(dist.filter(col("hops") < INF), edges("src") === col("id"))
          .groupBy(col("dst").as("id2")).agg(min(col("hops") + 1).as("nh"))
        dist.join(nmin, dist("id") === col("id2"), "left")
          .select(col("id"), col("label"),
            least(col("hops"), coalesce(col("nh"), col("hops"))).as("newhops"),
            col("hops"))
      }
    } finally edges.unpersist(false)
    dist.select(col("id").as("doc_id"), col("label").as("component"), col("hops"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: components CTE + recursive multi-source BFS from the
    * exemplar set. BFS can only travel within a component, so seeding
    * every exemplar at once is safe; the depth bound mirrors the
    * Spark loop cap and the min() collapse picks the true level.
    */
  val graphBfsSql: String =
    s"""WITH RECURSIVE $componentCtes,
       |reps AS (SELECT DISTINCT component AS id FROM comp),
       |bfs(id, d) AS (
       |  SELECT id, 0 FROM reps
       |  UNION
       |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.id
       |  WHERE bfs.d < ${Checkpoints.MaxRounds}),
       |h AS (SELECT id, min(d) AS hops FROM bfs GROUP BY id)
       |SELECT comp.doc_id, comp.component, CAST(h.hops AS BIGINT) AS hops
       |FROM comp JOIN h ON h.id = comp.doc_id
       |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------- pagerank
  private val PR_ITERS = 6
  private val PR_SCALE = 1000000000000L // picorank units

  /** Integer fixed-point PageRank over the near-dup pair graph: rank
    * the documents of [[dedupNgramJaccard]]'s pair graph by how central
    * they are to their duplicate clusters — the "canonical document"
    * signal a curation pass keeps when collapsing a component (the
    * highest-rank member is the best keeper: it is the one most pairs
    * agree duplicates). Standard damped power iteration (d = 0.85,
    * uniform init 1/N), but computed ENTIRELY in exact integer
    * arithmetic: ranks live in picorank units (10¹²·rank), every
    * division is integer division on positive operands (Spark `div`
    * truncates, DuckDB `//` floors — identical on positives), so after
    * a FIXED [[PR_ITERS]] unrolled iterations both engines hold
    * bit-identical bigints. No float sum ordering, no convergence
    * epsilon to disagree on. The symmetric pair graph has no dangling
    * nodes (every node has out-degree ≥ 1 by construction), so no
    * dangling-mass redistribution term is needed; truncation loses at
    * most deg·iters picoranks per node — far below the emitted unit.
    *
    * == Scale design ==
    * Each iteration is ONE shuffle: edges ⋈ ranks on src (deg rides the
    * same key), then a map-side-combinable sum keyed by dst. The
    * edges ⋈ deg relation is LOOP-INVARIANT, so it is joined once and
    * cached — each round then runs a single join + agg instead of
    * re-deriving the degree join [[PR_ITERS]] times;
    * `localCheckpoint` truncates the per-round lineage exactly like
    * [[dedupComponents]]. Iteration count is FIXED (power iteration
    * contracts by d per round — 6 rounds ≈ rank mass settled to ~0.4%,
    * and the oracle replays the same 6), so the round count does not
    * grow with the corpus; per-round cost is O(edges) shuffle bytes.
    */
  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    // eager localCheckpoint, not .cache(): the expensive shingle pair
    // join materializes once, every iteration scans the blocks, and
    // ContextCleaner frees them when the loop's DataFrames are GC'd
    // (a CacheManager entry would never be evicted — r9 ADVICE)
    val edges = symmetric(pairs).toDF("src", "dst").stableCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nn = deg.agg(count(lit(1)).as("n_nodes"))
    // the loop-invariant edge⋈degree join, hoisted and materialized
    // once for all PR_ITERS rounds
    val edeg = edges.join(deg, "src").stableCheckpoint()
    val rank0 = deg.crossJoin(broadcast(nn))
      .select(col("src").as("id"), expr(s"${PR_SCALE}L div n_nodes").as("r"))
    val rank = Checkpoints.rounds(PR_ITERS, rank0) { rank =>
      edeg
        .join(rank, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(sum(expr("r div deg")).as("inflow"))
        .crossJoin(broadcast(nn))
        .select(col("dst").as("id"),
          (expr(s"(15 * ${PR_SCALE}L) div (100 * n_nodes)")
            + expr("(85 * inflow) div 100")).as("r"))
    }
    rank.select(col("id").as("doc_id"), col("r").as("rank_pico"))
      .orderBy(col("rank_pico").desc, col("doc_id"))
  }

  /** DuckDB twin: the same 6 iterations UNROLLED as CTEs r0..r6 (the
    * k-means-replay trick from ann_ivf) over the shared pair graph —
    * identical integer recurrence, identical bigints out.
    */
  val graphPagerankSql: String = {
    // sum(BIGINT) is HUGEINT in DuckDB — cast back before scaling so
    // the emitted column stays a bigint like Spark's. MATERIALIZED
    // pins the shared pair join + degree table to one evaluation each
    // (inlined, the candidate self-join would replay per iteration).
    val iters = (1 to PR_ITERS).map { k =>
      s"r$k AS MATERIALIZED (SELECT e.dst AS id, (15 * $PR_SCALE) // (100 * nn.n)" +
        s" + (85 * CAST(sum(r${k - 1}.r // deg.deg) AS BIGINT)) // 100 AS r" +
        s" FROM e JOIN r${k - 1} ON e.src = r${k - 1}.id" +
        s" JOIN deg ON deg.src = e.src CROSS JOIN nn GROUP BY e.dst, nn.n)"
    }.mkString(",\n")
    s"""WITH $pairCtes,
       |e AS MATERIALIZED (${symmetricSql("p")}),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |r0 AS (SELECT src AS id, $PR_SCALE // nn.n AS r FROM deg CROSS JOIN nn),
       |$iters
       |SELECT id AS doc_id, r AS rank_pico FROM r$PR_ITERS
       |ORDER BY rank_pico DESC, doc_id""".stripMargin
  }

  /** Per-document triangle participation over the near-dup pair graph
    * — the clustering-density signal dedup policy tuning wants next to
    * [[graphPagerank]]'s centrality: a doc in many triangles sits in a
    * tight near-dup clique (template spam), one in none is a chain
    * link (transitive false positive risk).
    *
    * Classic oriented-wedge enumeration: edges stay in their canonical
    * doc_a < doc_b orientation, wedges (a<b<c) come from joining the
    * edge list with itself on the middle vertex, and a semi-join
    * against the closing edge (a,c) keeps exactly the triangles — each
    * counted ONCE (the orientation makes (a,b,c) with a<b<c the unique
    * representative). Pure integer counts; no float anywhere.
    *
    * == Scale design ==
    * The ordered orientation is the standard trick that bounds wedge
    * generation by Σ out-deg² with out-edges only toward HIGHER ids —
    * on skewed degree sequences this beats undirected wedge counting
    * by the hub factor. Three shuffles total (wedge join, closing
    * semi-join, count groupBy with map-side combine); the edge list is
    * cached once and reused for all three roles. Costs are all
    * O(edges^1.5) worst-case — the proven bound for this enumeration.
    */
  /** Log₂ degree histogram of the near-dup graph — the skew profile
    * every graph-side cost model in this repo quotes (the wedge join's
    * Σdeg² bound, LPA's per-node vote fan-in, the components loop's
    * hot keys) read off one bounded table: per ⌊log₂ degree⌋ bucket,
    * node count, edge-endpoint mass, the bucket's max degree, and the
    * node share in exact ppm. A corpus whose top bucket grows a decade
    * faster than its node count is telling you the pair join needs
    * salting before the wedge faces are safe — this is where that is
    * read BEFORE paying for them.
    *
    * == Scale design ==
    * One shingle pair join (the family's shared edge relation), a
    * map-side-combinable per-node degree fold, then a fold onto
    * O(log N) buckets; shares ride a window over that bounded ledger.
    */
  def graphDegreeHist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = verifiedPairs(s, dir)
    val deg = symmetric(pairs)
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("degree"))
    val hist = deg
      .withColumn("bucket", expr("cast(length(bin(degree)) as bigint)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("sum_deg"),
        max(col("degree")).as("max_deg"))
    hist
      .withColumn("node_share_ppm",
        expr("(1000000 * n_nodes) div sum(n_nodes) over ()"))
      .orderBy(col("bucket"))
  }

  /** DuckDB twin over the shared pair graph. */
  val graphDegreeHistSql: String =
    s"""WITH $pairCtes,
       |e AS (${symmetricSql("p")}),
       |deg AS (SELECT src AS doc_id, count(*) AS degree FROM e GROUP BY 1),
       |h AS (SELECT CAST(length(bin(degree)) AS BIGINT) AS bucket,
       |    count(*) AS n_nodes, CAST(sum(degree) AS BIGINT) AS sum_deg,
       |    CAST(max(degree) AS BIGINT) AS max_deg
       |  FROM deg GROUP BY 1)
       |SELECT bucket, n_nodes, sum_deg, max_deg,
       |  CAST((1000000 * n_nodes) // sum(n_nodes) OVER () AS BIGINT) AS node_share_ppm
       |FROM h ORDER BY bucket""".stripMargin

  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    // eager localCheckpoint, not .cache(): three roles (wedge x/y legs
    // and the closing semi-join) scan one materialization; blocks are
    // ContextCleaner-freed, no CacheManager leak
    val e = verifiedPairs(s, dir)
    val tri = e.as("x").join(e.as("y"), col("x.doc_b") === col("y.doc_a"))
      .select(col("x.doc_a").as("a"), col("x.doc_b").as("b"), col("y.doc_b").as("c"))
      .join(e.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"), "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("doc_id"))
  }

  /** DuckDB twin: same oriented wedge + EXISTS closure over the shared
    * pair graph; integer counts are engine-exact by construction.
    */
  val graphTrianglesSql: String =
    s"""WITH $pairCtes,
       |e AS MATERIALIZED (SELECT doc_a, doc_b FROM p),
       |tri AS (SELECT x.doc_a AS a, x.doc_b AS b, y.doc_b AS c
       |  FROM e x JOIN e y ON x.doc_b = y.doc_a
       |  WHERE EXISTS (SELECT 1 FROM e z WHERE z.doc_a = x.doc_a AND z.doc_b = y.doc_b)),
       |n AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
       |SELECT doc_id, count(*) AS n_triangles FROM n GROUP BY doc_id
       |ORDER BY n_triangles DESC, doc_id""".stripMargin

  // ------------------------------------------- label propagation
  private val LP_ITERS = 4

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007) over the near-dup similarity graph: every node
    * starts labeled with its own id; each of [[LP_ITERS]] fixed rounds
    * relabels every node with the label MOST FREQUENT among its
    * neighbors (ties → smallest label), all nodes updating from the
    * previous round's labels simultaneously. Where connected
    * components answers "what is reachable", LPA answers "what is
    * densely together" — the community structure a curation pass
    * reviews before picking per-cluster exemplars. Fixed synchronous
    * rounds (not run-to-convergence) keep the computation a finite
    * deterministic unroll both engines replay identically.
    *
    * == Scale design ==
    * Per round: one join of the edge list against the O(nodes) label
    * relation, a map-side-combinable (node, label) count, and a
    * per-node argmax window partitioned on the node key — O(E) work,
    * one shuffle each, no global ordering. The edge list (the
    * expensive shingle pair join) materializes ONCE via
    * stableCheckpoint and every round scans the blocks; per-round
    * results checkpoint so the lineage stays flat (the
    * [[dedupComponents]] iteration discipline).
    */
  /** The [[LP_ITERS]] synchronous LPA rounds over a SYMMETRIC
    * (src, dst) edge relation (caller checkpoints it) — shared by the
    * registered face and [[graphModularity]] so the score face cannot
    * run a different propagation than the face it scores (the
    * componentsOver precedent). Returns (id, lbl). */
  private def lpaOver(edges: DataFrame): DataFrame = {
    val byVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cnt").desc, col("lbl"))
    val init = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    Checkpoints.rounds(LP_ITERS, init) { labels =>
      edges
        .join(labels, edges("src") === labels("id"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .select(col("dst").as("id"), col("lbl"), col("cnt"))
        .withColumn("rn", row_number().over(byVote))
        .filter(col("rn") === 1)
        .select(col("id"), col("lbl"))
    }
  }

  def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    val pairs = verifiedPairs(s, dir)
    val edges = symmetric(pairs).toDF("src", "dst").stableCheckpoint()
    val labels = lpaOver(edges)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), Seq("lbl"))
      .select(col("id").as("doc_id"), col("lbl").as("label"), col("community_size"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: the [[LP_ITERS]] synchronous rounds unrolled as
    * CTEs, the same row_number argmax via QUALIFY. */
  val graphLabelPropSql: String = {
    val rounds = (1 to LP_ITERS).map { k =>
      val p = k - 1
      s"""c$k AS MATERIALIZED (SELECT e.dst AS id, l$p.lbl, count(*) AS cnt
         |  FROM e JOIN l$p ON l$p.id = e.src GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT id, lbl FROM c$k
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairCtes,
       |e AS MATERIALIZED (${symmetricSql("p")}),
       |l0 AS (SELECT id, id AS lbl FROM (SELECT DISTINCT src AS id FROM e)),
       |$rounds,
       |lsz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |  FROM l$LP_ITERS GROUP BY lbl)
       |SELECT l.id AS doc_id, l.lbl AS label, lsz.community_size
       |FROM l$LP_ITERS l JOIN lsz USING (lbl)
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------- modularity
  /** Newman modularity of the [[graphLabelProp]] communities (r14 wave
    * 19) — the SCORE face the community detector was missing: LPA says
    * what is densely together, modularity says whether that partition
    * is actually better than chance (Q = Σ_c [e_c/m − (d_c/2m)²], the
    * fraction of edges inside communities minus the degree-preserving
    * random expectation; Q ≈ 0 means the "communities" are noise).
    * Per-community ledger: node count, intra-community edges e_c,
    * degree sum d_c, the shared edge total m, and the community's Q
    * term in SIGNED ppm via the shift-stabilized floor division
    * (1e6·(4·m·e_c − d_c²) + 1e6·4m²) div (4m²) − 1e6 — the term can
    * be legitimately negative (a community sparser than chance), and
    * Spark div truncates while DuckDB // floors, so the numerator is
    * made non-negative first (|term| ≤ 1 bounds the shift). Products
    * ride DECIMAL(38,0)/HUGEINT — exact to ~10⁹ edges.
    *
    * == Scale design ==
    * ONE shingle pair join feeds both the propagation (via the shared
    * [[lpaOver]] loop — the componentsOver refactor precedent, so the
    * score face cannot run a different LPA than the face it scores)
    * and the score. e_c is one broadcast label join per endpoint over
    * the O(edges) pair list; d_c is the endpoint explode folded
    * map-side; everything after runs on the O(communities) ledger.
    */
  def graphModularity(s: SparkSession, dir: String): DataFrame = {
    // ONE shingle pair join feeds both the propagation and the score
    // (lpaOver is the registered face's own loop, so the labels are
    // identical by construction — spec-pinned against graph_label_prop)
    val edges = verifiedPairs(s, dir)
    val sym = symmetric(edges).toDF("src", "dst").stableCheckpoint()
    val labels = lpaOver(sym)
      .select(col("id").as("doc_id"), col("lbl").as("label"))
      .stableCheckpoint()
    val la = labels.select(col("doc_id").as("doc_a"), col("label").as("lbl_a"))
    val lb = labels.select(col("doc_id").as("doc_b"), col("label").as("lbl_b"))
    val tagged = edges.join(broadcast(la), "doc_a").join(broadcast(lb), "doc_b")
    val intra = tagged.filter(col("lbl_a") === col("lbl_b"))
      .groupBy(col("lbl_a").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val degSum = tagged
      .select(explode(array(col("lbl_a"), col("lbl_b"))).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("degree_sum"))
    val nNodes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_nodes"))
    val m = edges.agg(count(lit(1)).as("m_edges"))
    nNodes
      .join(degSum, Seq("label"), "left")
      .join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        col("m_edges"))
      .withColumn("q_term_ppm", expr(
        """CAST((1000000 * (4 * CAST(m_edges AS DECIMAL(38,0)) * intra_edges
          |                 - CAST(degree_sum AS DECIMAL(38,0)) * degree_sum)
          |       + 1000000 * 4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges)
          |     div (4 * CAST(m_edges AS DECIMAL(38,0)) * m_edges)
          |     - 1000000 AS BIGINT)""".stripMargin))
      .orderBy(col("label"))
  }

  /** DuckDB twin: LPA rounds unrolled (the [[graphLabelPropSql]]
    * CTEs) + the same shift-stabilized modularity ledger. */
  val graphModularitySql: String = {
    val rounds = (1 to LP_ITERS).map { k =>
      val p = k - 1
      s"""c$k AS MATERIALIZED (SELECT e.dst AS id, l$p.lbl, count(*) AS cnt
         |  FROM e JOIN l$p ON l$p.id = e.src GROUP BY 1, 2),
         |l$k AS MATERIALIZED (SELECT id, lbl FROM c$k
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY cnt DESC, lbl) = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pairCtes,
       |e AS MATERIALIZED (${symmetricSql("p")}),
       |l0 AS (SELECT id, id AS lbl FROM (SELECT DISTINCT src AS id FROM e)),
       |$rounds,
       |tag AS (SELECT la.lbl AS lbl_a, lb.lbl AS lbl_b FROM p
       |  JOIN l$LP_ITERS la ON la.id = p.doc_a
       |  JOIN l$LP_ITERS lb ON lb.id = p.doc_b),
       |intra AS (SELECT lbl_a AS label, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM tag WHERE lbl_a = lbl_b GROUP BY 1),
       |ds AS (SELECT lbl AS label, CAST(count(*) AS BIGINT) AS degree_sum
       |  FROM (SELECT lbl_a AS lbl FROM tag UNION ALL SELECT lbl_b FROM tag)
       |  GROUP BY 1),
       |nn AS (SELECT lbl AS label, CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM l$LP_ITERS GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM p)
       |SELECT nn.label, nn.n_nodes,
       |  COALESCE(intra.intra_edges, 0) AS intra_edges,
       |  COALESCE(ds.degree_sum, 0) AS degree_sum,
       |  mm.m_edges,
       |  CAST((1000000 * (4 * CAST(mm.m_edges AS HUGEINT) * COALESCE(intra.intra_edges, 0)
       |                   - CAST(COALESCE(ds.degree_sum, 0) AS HUGEINT) * COALESCE(ds.degree_sum, 0))
       |        + 1000000 * 4 * CAST(mm.m_edges AS HUGEINT) * mm.m_edges)
       |      // (4 * CAST(mm.m_edges AS HUGEINT) * mm.m_edges)
       |      - 1000000 AS BIGINT) AS q_term_ppm
       |FROM nn LEFT JOIN ds USING (label) LEFT JOIN intra USING (label)
       |CROSS JOIN mm
       |ORDER BY label""".stripMargin
  }

  /** Link prediction over the WEAK-similarity graph: doc pairs whose
    * trigram Jaccard clears 0.02 (well below the 0.3 near-dup cut —
    * the corpus's similarity distribution is bimodal, ≥0.9 planted
    * dups vs a ≤0.07 shared-vocabulary web, and link prediction is
    * only meaningful on the dense web). For every NON-adjacent pair
    * sharing ≥1 neighbor: the common-neighbor count and the
    * neighbor-Jaccard (|N∩N| / |N∪N| in exact ppm by integer
    * cross-multiplication). These rank the "likely related but never
    * directly paired" frontier a curation pass reviews before
    * widening its dedup threshold.
    *
    * The 0.02 cut is an EXACT integer comparison (100·i ≥ 2·union),
    * so no float boundary can flip an edge in one engine only.
    * Wedges come from the symmetric edge list joined on the middle
    * vertex with the a<c canonicalization (each unordered candidate
    * counted once per shared neighbor); an anti-join against the
    * canonical edge list removes already-adjacent pairs; degrees ride
    * in by broadcast for the exact-integer Jaccard.
    *
    * == Scale design ==
    * Same Σdeg² wedge bound as [[graphTriangles]]; the wedge join,
    * the anti-join and the grouped count are the only shuffles, each
    * O(wedges) ≤ O(edges^1.5). Degree join-back is a broadcast (the
    * degree table is O(nodes), tiny next to the wedge stream).
    * Nothing materializes the quadratic non-edge space — only pairs
    * with an actual witness neighbor ever exist, and the edge list
    * itself rides the size-compat-pruned shingle join every other
    * pair consumer already amortizes.
    */
  def graphLinkPredict(s: SparkSession, dir: String): DataFrame = {
    // The weak 0.02 graph is a FILTER over the shared size-pruned
    // intersection relation ([[interShared]]) — the shingle join runs
    // once per corpus, not once more for this face (r21-verdict item
    // 3). Checkpointed: referenced by BOTH the edge-list union and the
    // anti-join below — without the materialization the filter subtree
    // re-executes for the anti-join branch. Eager localCheckpoint
    // rather than .cache() so the blocks are ContextCleaner-freed
    // instead of pinned in the CacheManager.
    val pairs = interShared(s, dir)
      .filter(col("i") * 100 >= (col("na") + col("nb") - col("i")) * 2)
      .select(col("doc_a"), col("doc_b"))
      .stableCheckpoint()
    val e = symmetric(pairs).toDF("src", "dst").stableCheckpoint()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val cn = e.as("x").join(e.as("y"),
        col("x.dst") === col("y.src") && col("x.src") < col("y.dst"))
      .select(col("x.src").as("a"), col("y.dst").as("c"))
      .groupBy(col("a"), col("c")).agg(count(lit(1)).as("cn"))
    cn.join(pairs.select(col("doc_a").as("a"), col("doc_b").as("c")),
        Seq("a", "c"), "left_anti")
      .join(broadcast(deg.select(col("src").as("a"), col("deg").as("deg_a"))), "a")
      .join(broadcast(deg.select(col("src").as("c"), col("deg").as("deg_c"))), "c")
      .select(col("a").as("doc_a"), col("c").as("doc_b"), col("cn"),
        expr("(1000000 * cn) div (deg_a + deg_c - cn)").as("jaccard_ppm"))
      .orderBy(col("cn").desc, col("jaccard_ppm").desc, col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin: the weak graph re-cuts the shared `inter` candidate
    * relation at the exact-integer 0.02 line, then the identical
    * wedge + anti-join; counts and the cross-multiplied ppm are
    * engine-exact integers. Every multiply-referenced CTE is
    * MATERIALIZED so the shingle join evaluates once.
    */
  val graphLinkPredictSql: String =
    s"""WITH $pairCtes,
       |p2 AS MATERIALIZED (SELECT doc_a, doc_b FROM inter
       |  JOIN sz s1 ON s1.doc_id = inter.doc_a
       |  JOIN sz s2 ON s2.doc_id = inter.doc_b
       |  WHERE 100 * i >= 2 * (s1.n + s2.n - i)),
       |e AS MATERIALIZED (${symmetricSql("p2")}),
       |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |cn AS MATERIALIZED (SELECT x.src AS a, y.dst AS c, count(*) AS cn
       |  FROM e x JOIN e y ON x.dst = y.src AND x.src < y.dst
       |  GROUP BY x.src, y.dst),
       |cand AS (SELECT cn.a, cn.c, cn.cn FROM cn
       |  LEFT JOIN p2 ON p2.doc_a = cn.a AND p2.doc_b = cn.c
       |  WHERE p2.doc_a IS NULL)
       |SELECT cand.a AS doc_a, cand.c AS doc_b, cand.cn,
       |  (1000000 * cand.cn) // (da.deg + dc.deg - cand.cn) AS jaccard_ppm
       |FROM cand JOIN deg da ON da.src = cand.a JOIN deg dc ON dc.src = cand.c
       |ORDER BY cand.cn DESC, jaccard_ppm DESC, doc_a, doc_b""".stripMargin

  // ------------------------------------------------------- embedding
  private def vdot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    GraftSqlShim.column(graft.functions.FloatVectorDot(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))
  }

  /** Number of vec_id blocks for the triangle block-pair join, SIZED TO
    * THE CORPUS: B = ceil(N / 2048) clamped to [8, 256], so a block
    * stays ~2048 vectors and a bucket (one block×block comparison
    * tile) stays a ~4M-dot task regardless of N. Each vector is
    * replicated to B+1 buckets and every pair meets in exactly one of
    * the B·(B+1)/2 bucket keys: per-task memory is bounded at ~2·2048
    * vectors while the comparison count stays exactly N·(N−1)/2. A
    * FIXED B inverts at scale — per-bucket work grows as (N/B)², and
    * the measured 10x run put 625M-dot tasks on 36 buckets for 32
    * cores (straggler waves). The one count() job that sizes B is
    * memoized per (session, embeddings files) and is noise next to the
    * O(N²) join.
    */
  private val embCounts = new graft.plans.SessionMemo[Long]
  private def embCount(s: SparkSession, dir: String): Long =
    embCounts(s, "embCount|" + dir, graft.plans.SessionMemo.corpusSig(s, dir, "embeddings")) {
      Tables.load(s, dir, "embeddings").count()
    }
  private def embBlocks(s: SparkSession, dir: String): Int = {
    val n = embCount(s, dir)
    math.max(8, math.min(256, math.ceil(n / 2048.0).toInt))
  }

  /** Conf key for [[dedupEmbedding]]'s executable cardinality fence. */
  private[graft] val EmbCapKey = "spark.graft.dedupEmbedding.maxVectors"
  private val EmbCapDefault = 100000L

  /** Embedding-cosine near-dup pairs — EXACT all-pairs, distributed.
    *
    * The exact threshold semantics (oracle = every pair with cosine
    * ≥ 0.45) force a complete pairwise comparison: the qualifying pairs
    * in this corpus sit just above the threshold (min ≈ 0.4501), so no
    * approximate candidate generator (sign-LSH, IVF) reaches 100%
    * recall — those are the *approximate* scale paths (Similarity
    * .annLsh / annIvf). What CAN scale out is the comparison itself:
    * triangle block-pair partitioning (blk = vec_id mod B; a vector in
    * block i is emitted to every bucket {min(i,x), max(i,x)}) turns the
    * quadratic scan into a uniform equi-join over B(B+1)/2 bucket keys
    * — executor-parallel, nothing driver-side, each pair produced
    * exactly once (u meets v only in bucket {blk(u), blk(v)}).
    *
    * Cosine runs through [[graft.functions.FloatVectorDot]] (codegen'd,
    * sequential accumulation) so results stay bit-identical to the
    * DuckDB list_reduce oracle. The old broadcast brute force lives on
    * as [[dedupEmbeddingBruteForce]] for the spec cross-check only.
    */
  def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    // Executable fence (r17): exact all-pairs is quadratic BY CONTRACT
    // — the face exists as the 100%-recall truth verifier, and a
    // corpus past the cap should refuse loudly instead of silently
    // burning a cluster on N²/2 dots. The registered scale path is
    // [[dedupEmbeddingIvf]] (cells ~ √N); raise the cap deliberately
    // via the conf when a bigger exact verification is the point.
    val n = embCount(s, dir)
    val cap = s.conf.getOption(EmbCapKey).map(_.toLong).getOrElse(EmbCapDefault)
    require(n <= cap,
      s"dedup_embedding is the EXACT quadratic verifier: $n vectors exceed " +
        s"the $cap cap ($EmbCapKey). Use dedup_embedding_ivf — the " +
        "registered scale path — or raise the cap deliberately.")
    val B = embBlocks(s, dir)
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(vdot(col("embedding"), col("embedding"))).as("nrm"),
        pmod(col("vec_id"), lit(B)).cast("int").as("blk"))
    // Asymmetric triangle emission: the LEFT side plays the ROW block
    // (block i → buckets (i,j), j ≥ i), the RIGHT side the COLUMN block
    // (block j → buckets (i,j), i ≤ j), so bucket (i,j) evaluates
    // exactly block_i × block_j — each unordered pair once, ~N²/2 total
    // comparisons (the symmetric both-sides emission costs 4×). Only
    // diagonal buckets see a pair twice, deduped by vec_id order.
    val a = e
      .select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na"), col("blk").as("blk_a"),
        explode(sequence(col("blk"), lit(B - 1))).as("cb"))
      .withColumn("bucket", col("blk_a") * B + col("cb"))
      // spread buckets across tasks: the source may arrive in one
      // partition at small SF, and one task must never own the whole
      // triangle — bucket is the unit of work by construction.
      .repartition(col("bucket"))
    val b = e
      .select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb"), col("blk").as("blk_b"),
        explode(sequence(lit(0), col("blk"))).as("rb"))
      .withColumn("bucket_b", col("rb") * B + col("blk_b"))
    // the cosine threshold lives IN the join condition: non-matching
    // pairs are rejected on the streamed JoinedRow view and never
    // copied into a join output row (the embedding payloads make that
    // copy the dominant cost); the surviving handful recompute the
    // same codegen'd dot in the projection.
    val cos = vdot(col("ea"), col("eb")) / (col("na") * col("nb"))
    a.join(b, col("bucket") === col("bucket_b")
        && (col("blk_a") =!= col("blk_b") || col("vec_a") < col("vec_b"))
        && cos >= 0.45)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), cos.as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Spec-only cross-check: the r1 broadcast brute force (collects the
    * corpus onto the driver — NOT registered; kept to pin
    * [[dedupEmbedding]]'s block-join against an independent
    * formulation).
    */
  def dedupEmbeddingBruteForce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    import graft.functions.VecMath
    val all = s.sparkContext.broadcast(
      e.collect().sortBy(_._1).map { case (id, v) => (id, v, VecMath.nrm(v)) })
    e.mapPartitions { it =>
      val corpus = all.value
      it.flatMap { case (id, v) =>
        val n = VecMath.nrm(v)
        corpus.iterator.filter(_._1 > id).flatMap { case (oid, ov, on) =>
          val cos = VecMath.dot(v, ov) / (n * on)
          if (cos >= 0.45) Iterator.single((id, oid, cos)) else Iterator.empty
        }
      }
    }
      .toDF("vec_a", "vec_b", "cosine")
      .orderBy(col("vec_a"), col("vec_b"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_containment" -> dedupContainment,
    "graph_bfs" -> graphBfs,
    "dedup_edit_distance" -> dedupEditDistance,
    "dedup_threshold_curve" -> dedupThresholdCurve,
    "dedup_lsh_curve" -> dedupLshCurve,
    "dedup_lsh_plan" -> dedupLshPlan,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_recall_eval" -> dedupRecallEval,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_components" -> dedupComponents,
    "graph_components_incremental" -> graphComponentsIncremental,
    "dedup_cluster_stats" -> dedupClusterStats,
    "dedup_keep_best" -> dedupKeepBest,
    "graph_kcore" -> graphKcore,
    "contamination_ngram" -> contaminationNgram,
    "corpus_decontaminate" -> corpusDecontaminate,
    "dedup_minhash_sig" -> dedupMinhashSig,
    "dedup_minhash_bbit" -> dedupMinhashBbit,
    "dedup_incremental" -> dedupIncremental,
    "dedup_span_exact" -> dedupSpanExact,
    "dedup_span_incremental" -> dedupSpanIncremental,
    "dedup_span_hot" -> dedupSpanHot,
    "dedup_growth_curve" -> dedupGrowthCurve,
    "dedup_source_overlap" -> dedupSourceOverlap,
    "corpus_diversity" -> corpusDiversity,
    "graph_pagerank" -> graphPagerank,
    "graph_triangles" -> graphTriangles,
    "graph_degree_hist" -> graphDegreeHist,
    "graph_label_prop" -> graphLabelProp,
    "graph_modularity" -> graphModularity,
    "graph_link_predict" -> graphLinkPredict)

  /** DuckDB twin of the cosine pairs: sequential left-fold dot, same
    * association order as FloatVectorDot ⇒ bit-identical doubles.
    */
  val dedupEmbeddingSql: String =
    """WITH e AS (SELECT vec_id, embedding, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(embedding)+1), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))), (acc, v) -> acc + v)) AS nrm FROM embeddings),
      |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(a.embedding)+1), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), (acc, v) -> acc + v) / (a.nrm * b.nrm) AS cosine
      |  FROM e a, e b WHERE a.vec_id < b.vec_id)
      |SELECT * FROM p WHERE cosine >= 0.45 ORDER BY vec_a, vec_b""".stripMargin

  /** DuckDB twin of the full MinHash-LSH pipeline — polyHash shingle
    * ids, 32 permutation lanes, mod-P band fold, bucket join, exact
    * Jaccard verify — every step exact integer math, so the candidate
    * set and jaccard doubles are bit-identical.
    */
  val dedupMinhashLshSql: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
      |  FROM w WHERE len(ws) > 2),
      |gh AS (SELECT doc_id, ng,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(ng,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS h
      |  FROM g),
      |perms AS (SELECT j, (1103515245 * (j+1)) % 2147483647 AS a, (12345*(j+1) + 987654321) % 2147483647 AS b FROM range(0,32) t(j)),
      |lanes AS (SELECT doc_id, j, min((h * a + b) % 2147483647) AS mj
      |  FROM gh CROSS JOIN perms GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, j // 4 AS band,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(mj ORDER BY j)), (a,b) -> (a*31 + b) % 2147483647) AS bh
      |  FROM lanes GROUP BY doc_id, j // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
      |  FROM cand c JOIN g ga ON ga.doc_id = c.doc_a
      |  JOIN g gb ON gb.doc_id = c.doc_b AND gb.ng = ga.ng
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, i * 1.0 / (s1.n + s2.n - i) AS jaccard
      |FROM inter JOIN sz s1 ON s1.doc_id = doc_a JOIN sz s2 ON s2.doc_id = doc_b
      |WHERE i * 1.0 / (s1.n + s2.n - i) >= 0.3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB twin of the 60-bit SimHash pipeline — polyHash word ids,
    * parity lanes, 4×15-bit chunk banding, Hamming ≤ 8 verify.
    */
  val dedupSimhashSql: String =
    """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
      |hw AS (SELECT doc_id, word,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(word,''), c -> CAST(ascii(c) AS BIGINT))), (a,b) -> (a*31 + b) % 2147483647) AS h
      |  FROM w),
      |perms AS (SELECT j, (1103515245 * (j+1)) % 2147483647 AS a, (12345*(j+1) + 987654321) % 2147483647 AS b FROM range(0,60) t(j)),
      |lanes AS (SELECT doc_id, j,
      |  sum(CASE WHEN ((h * a + b) % 2147483647) % 2 = 1 THEN 1 ELSE -1 END) AS cnt
      |  FROM hw CROSS JOIN perms GROUP BY doc_id, j),
      |sig AS (SELECT doc_id, CAST(sum(CASE WHEN cnt > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
      |  FROM lanes GROUP BY doc_id),
      |ch AS (SELECT doc_id, simhash, c AS chunk, (simhash >> (c*15)) & 32767 AS chv
      |  FROM sig CROSS JOIN range(0,4) t(c)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |  FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.chv = b.chv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 8)
      |SELECT doc_a, doc_b, hamming FROM cand ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> dedupExactSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "dedup_containment" -> dedupContainmentSql,
    "graph_bfs" -> graphBfsSql,
    "dedup_edit_distance" -> dedupEditDistanceSql,
    "dedup_threshold_curve" -> dedupThresholdCurveSql,
    "dedup_lsh_curve" -> dedupLshCurveSql,
    "dedup_lsh_plan" -> dedupLshPlanSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "dedup_recall_eval" -> dedupRecallEvalSql,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_components" -> dedupComponentsSql,
    // incremental path, identical contract: the full-recompute oracle
    "graph_components_incremental" -> dedupComponentsSql,
    "dedup_cluster_stats" -> dedupClusterStatsSql,
    "dedup_keep_best" -> dedupKeepBestSql,
    "graph_kcore" -> graphKcoreSql,
    "contamination_ngram" -> contaminationNgramSql,
    "corpus_decontaminate" -> corpusDecontaminateSql,
    "dedup_minhash_sig" -> dedupMinhashSigSql,
    "dedup_minhash_bbit" -> dedupMinhashBbitSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_span_exact" -> dedupSpanExactSql,
    "dedup_span_incremental" -> dedupSpanIncrementalSql,
    "dedup_span_hot" -> dedupSpanHotSql,
    "dedup_growth_curve" -> dedupGrowthCurveSql,
    "dedup_source_overlap" -> dedupSourceOverlapSql,
    "corpus_diversity" -> corpusDiversitySql,
    "graph_pagerank" -> graphPagerankSql,
    "graph_triangles" -> graphTrianglesSql,
    "graph_degree_hist" -> graphDegreeHistSql,
    "graph_label_prop" -> graphLabelPropSql,
    "graph_modularity" -> graphModularitySql,
    "graph_link_predict" -> graphLinkPredictSql)
}
