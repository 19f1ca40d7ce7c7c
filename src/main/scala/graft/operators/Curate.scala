package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Checkpoints.StableSyntax
import TextOps.qualityCte
import graft.functions.HashExpressions.{polyHash, polyHashSql}

/** Flagship composite: the end-to-end training-data curation pass a
  * 100 TB corpus pipeline runs — quality gate → near-dup removal →
  * token accounting — built entirely from the engine's own operators
  * (TextOps.textQuality, Dedup.dedupNgramJaccard).
  *
  * Near-dup policy: from every verified near-dup pair (jaccard ≥ 0.3),
  * the higher doc_id is dropped — deterministic, keeps one exemplar
  * per pair chain anchored at the smallest id.
  *
  * At scale: the quality gate is a scan-side filter; the drop set is
  * tiny relative to the corpus (near-dup ids only) and broadcasts into
  * a left-anti join; token totals are one grouped pass.
  */
object Curate {

  def pipelineCurate(s: SparkSession, dir: String): DataFrame = {
    val quality = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("stopword_ratio"), col("quality_score"))
    val dropIds = Dedup.verifiedPairs(s, dir)
      .select(col("doc_b").as("doc_id")).distinct()
    quality
      .filter(col("quality_score") >= 0.5)
      .join(broadcast(dropIds), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  private val curateSelect: String =
    """SELECT q.doc_id, n_chars,
      |  CAST(n_tokens AS BIGINT) AS n_tokens, stopword_ratio, quality_score
      |FROM q
      |WHERE quality_score >= 0.5
      |  AND NOT EXISTS (SELECT 1 FROM drops d WHERE d.doc_id = q.doc_id)
      |ORDER BY q.doc_id""".stripMargin

  /** Oracle: same quality formula, the SHARED pair CTE
    * ([[Dedup.pairCtes]] — cannot drift from the jaccard oracle),
    * NOT EXISTS drop.
    */
  val pipelineCurateSql: String =
    s"""WITH ${Dedup.pairCtes},
       |$qualityCte,
       |drops AS (SELECT DISTINCT doc_b AS doc_id FROM p)
       |$curateSelect""".stripMargin

  // --------------------------------------- per-cluster curate policy
  /** Curation with the PER-CLUSTER exemplar policy (SURVEY §9.2): keep
    * only each duplicate cluster's exemplar (the minimum doc_id,
    * i.e. the doc whose [[Dedup.dedupComponents]] label equals its own
    * id) instead of the per-pair higher-id rule. The pair rule keeps
    * local minima of dup chains — in a 1-5, 5-3 chain it keeps {1, 3};
    * the cluster policy keeps {1} only. Costs the iterative component
    * labeling inside the composite; the drop set stays tiny and
    * broadcasts into the left-anti join exactly as before.
    */
  def pipelineCurateCluster(s: SparkSession, dir: String): DataFrame = {
    val quality = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"), col("n_chars"), col("n_tokens"),
        col("stopword_ratio"), col("quality_score"))
    val dropIds = Dedup.dedupComponents(s, dir)
      .filter(col("component") =!= col("doc_id"))
      .select(col("doc_id"))
    quality
      .filter(col("quality_score") >= 0.5)
      .join(broadcast(dropIds), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Oracle: the SHARED component CTE ([[Dedup.componentCtes]] — the
    * recursive-CTE components oracle verbatim), non-exemplar drop.
    */
  val pipelineCurateClusterSql: String =
    s"""WITH RECURSIVE ${Dedup.componentCtes},
       |$qualityCte,
       |drops AS (SELECT doc_id FROM comp WHERE component <> doc_id)
       |$curateSelect""".stripMargin

  // ------------------------------------------------ train/val split
  /** Deterministic CONTENT-HASH train/val split: bucket = rolling
    * fingerprint of the text mod 100, `train` below 90. Content-based
    * (not id-based) on purpose — byte-identical documents always land
    * in the same split, so exact duplicates can never straddle the
    * train/val boundary. Pure arithmetic over the text, embarrassingly
    * parallel, no shuffle before the output sort.
    */
  def splitTrainVal(s: SparkSession, dir: String): DataFrame = {
    val fp = polyHash(col("text"), 1000000007L)
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), (fp % 100L).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))
  }

  val splitTrainValSql: String =
    s"""WITH f AS (SELECT doc_id,
      |  ${polyHashSql("text", 1000000007L)} % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
      |FROM f ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- temporal split
  /** Time-based train/val split with its leakage audit (r17 — the
    * split family's TEMPORAL protocol: [[splitTrainVal]] and kin split
    * by content hash, the right protocol for i.i.d. corpus training,
    * but any model evaluated on the FUTURE — forecasters, churn,
    * next-event — must split by time or the validation set leaks
    * hindsight). Train = the first 4/5 of the observed day span
    * (cut = d0 + ⌊4·(d1−d0+1)/5⌋, derived from the data so the key is
    * corpus-generic), val = the rest. The ledger reads each side's
    * size (events/days/users) plus the contamination channel a
    * temporal split ALLOWS and a user-keyed hash split forbids:
    * warm-start users appearing on both sides, and the share of val
    * events carried by them in exact ppm — the number an honest
    * cold-start evaluation must subset away.
    *
    * == Scale design ==
    * One events scan folds map-side onto the (user, day) relation
    * (the retention family's bounded fold, ≪ events), checkpointed
    * once; the span bounds broadcast back, and the per-split and
    * per-user rollups both ride the materialized fold — user-keyed
    * combines with an O(2)-row ledger. Same shape at any corpus size.
    */
  def splitTemporal(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val ud = graft.sources.Tables.load(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt"))
      .stableCheckpoint()
    val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("cut", expr("d0 + (4 * (d1 - d0 + 1)) div 5"))
    val tagged = ud.crossJoin(broadcast(bounds))
      .withColumn("split", when(col("day") < col("cut"), "train").otherwise("val"))
    val perSplit = tagged.groupBy(col("split")).agg(
      sum(col("cnt")).as("n_events"),
      countDistinct(col("day")).as("n_days"),
      countDistinct(col("user_id")).as("n_users"))
    val perUser = tagged.groupBy(col("user_id")).agg(
      max(when(col("split") === "train", 1L).otherwise(0L)).as("in_tr"),
      sum(when(col("split") === "val", col("cnt")).otherwise(0L)).as("va_ev"))
    val overlap = perUser.agg(
      sum(when(col("in_tr") === 1L && col("va_ev") > 0L, 1L).otherwise(0L))
        .as("users_overlap"),
      sum(when(col("in_tr") === 1L, col("va_ev")).otherwise(0L))
        .as("val_events_seen"),
      sum(col("va_ev")).as("val_events_all"))
    perSplit.crossJoin(broadcast(overlap))
      .select(col("split"), col("n_events"), col("n_days"), col("n_users"),
        col("users_overlap"), col("val_events_seen"),
        expr("1000000 * val_events_seen div greatest(val_events_all, 1)")
          .as("seen_ppm"))
      .orderBy(col("split"))
  }

  /** DuckDB twin: same (user, day) fold, span-derived cut, per-split
    * and warm-user rollups. */
  val splitTemporalSql: String =
    """WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1,
      |    min(day) + (4 * (max(day) - min(day) + 1)) // 5 AS cut FROM ud),
      |t AS (SELECT ud.*, CASE WHEN day < cut THEN 'train' ELSE 'val' END AS split
      |  FROM ud CROSS JOIN b),
      |ps AS (SELECT split, CAST(sum(cnt) AS BIGINT) AS n_events,
      |    CAST(count(DISTINCT day) AS BIGINT) AS n_days,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |  FROM t GROUP BY 1),
      |pu AS (SELECT user_id,
      |    max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_tr,
      |    CAST(sum(CASE WHEN split = 'val' THEN cnt ELSE 0 END) AS BIGINT) AS va_ev
      |  FROM t GROUP BY 1),
      |ov AS (SELECT
      |    CAST(sum(CASE WHEN in_tr = 1 AND va_ev > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS users_overlap,
      |    CAST(sum(CASE WHEN in_tr = 1 THEN va_ev ELSE 0 END) AS BIGINT)
      |      AS val_events_seen,
      |    CAST(sum(va_ev) AS BIGINT) AS val_events_all
      |  FROM pu)
      |SELECT split, n_events, n_days, n_users, users_overlap, val_events_seen,
      |  1000000 * val_events_seen // greatest(val_events_all, 1) AS seen_ppm
      |FROM ps CROSS JOIN ov ORDER BY split""".stripMargin

  /** Cold-start evaluation split (r18 — the face [[splitTemporal]]
    * points at: its ledger measures warm-user contamination (seen_ppm)
    * and names it "the number an honest cold-start evaluation must
    * subset away"; this key REGISTERS that subset). The same span-
    * derived temporal cut, with the val side partitioned by whether the
    * user also appears in train: `val_warm` (train-seen users — the
    * hindsight channel) vs `val_cold` (train-unseen users — the honest
    * cold-start eval set). Per split: events / distinct days / users,
    * the per-user event rate in exact micro-units, and the constant
    * `rate_gap_x1e6` (warm rate − cold rate) — the size of the bias a
    * pooled val metric absorbs, which is exactly why the cold subset
    * must be evaluated alone.
    *
    * == Scale design ==
    * The identical one-scan (user, day) fold as [[splitTemporal]]
    * (checkpointed); the warm/cold tag is a user-keyed self-join ON the
    * bounded fold (both sides already user-clustered, ≪ events); the
    * ledger is O(3) rows. Same shape at any corpus size.
    */
  def splitTemporalCold(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val ud = graft.sources.Tables.load(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("cnt"))
      .stableCheckpoint()
    val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .withColumn("cut", expr("d0 + (4 * (d1 - d0 + 1)) div 5"))
    val tagged = ud.crossJoin(broadcast(bounds))
      .withColumn("tr", (col("day") < col("cut")).cast("long"))
    val perUser = tagged.groupBy(col("user_id"))
      .agg(max(col("tr")).as("in_tr"))
    val per = tagged.join(perUser, Seq("user_id"))
      .withColumn("split", when(col("tr") === 1L, "train")
        .when(col("in_tr") === 1L, "val_warm").otherwise("val_cold"))
      .groupBy(col("split"))
      .agg(sum(col("cnt")).as("n_events"),
        countDistinct(col("day")).as("n_days"),
        countDistinct(col("user_id")).as("n_users"))
      .withColumn("ev_per_user_x1e6",
        expr("1000000 * n_events div greatest(n_users, 1)"))
    // the 3-row domain is pinned: an EMPTY val_cold row (all zeros) is
    // the ledger's honest headline — "the cold-start eval set does not
    // exist; a pooled val metric is 100 % warm-contaminated"
    import s.implicits._
    val domain = Seq("train", "val_cold", "val_warm").toDF("split")
    val full = domain.join(broadcast(per), Seq("split"), "left_outer")
      .select(col("split"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_days"), lit(0L)).as("n_days"),
        coalesce(col("n_users"), lit(0L)).as("n_users"),
        coalesce(col("ev_per_user_x1e6"), lit(0L)).as("ev_per_user_x1e6"))
    val gap = full.agg(
      sum(when(col("split") === "val_warm", col("ev_per_user_x1e6"))
        .otherwise(0L)).as("w"),
      sum(when(col("split") === "val_cold", col("ev_per_user_x1e6"))
        .otherwise(0L)).as("c"))
      .select((col("w") - col("c")).as("rate_gap_x1e6"))
    full.crossJoin(broadcast(gap))
      .select(col("split"), col("n_events"), col("n_days"), col("n_users"),
        col("ev_per_user_x1e6"), col("rate_gap_x1e6"))
      .orderBy(col("split"))
  }

  /** DuckDB twin: same fold, same cut, warm/cold partition of val. */
  val splitTemporalColdSql: String =
    """WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(count(*) AS BIGINT) AS cnt
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT min(day) + (4 * (max(day) - min(day) + 1)) // 5 AS cut FROM ud),
      |t AS (SELECT ud.*, CASE WHEN day < cut THEN 1 ELSE 0 END AS tr
      |  FROM ud CROSS JOIN b),
      |pu AS (SELECT user_id, max(tr) AS in_tr FROM t GROUP BY 1),
      |seg AS (SELECT t.*, CASE WHEN t.tr = 1 THEN 'train'
      |    WHEN pu.in_tr = 1 THEN 'val_warm' ELSE 'val_cold' END AS split
      |  FROM t JOIN pu USING (user_id)),
      |per AS (SELECT split, CAST(sum(cnt) AS BIGINT) AS n_events,
      |    CAST(count(DISTINCT day) AS BIGINT) AS n_days,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |  FROM seg GROUP BY 1),
      |dom(split) AS (VALUES ('train'), ('val_cold'), ('val_warm')),
      |pr AS (SELECT dom.split,
      |    COALESCE(n_events, 0) AS n_events, COALESCE(n_days, 0) AS n_days,
      |    COALESCE(n_users, 0) AS n_users,
      |    COALESCE(1000000 * n_events // greatest(n_users, 1), 0)
      |      AS ev_per_user_x1e6
      |  FROM dom LEFT JOIN per ON per.split = dom.split),
      |g AS (SELECT
      |    CAST(sum(CASE WHEN split = 'val_warm' THEN ev_per_user_x1e6 ELSE 0 END)
      |      - sum(CASE WHEN split = 'val_cold' THEN ev_per_user_x1e6 ELSE 0 END)
      |      AS BIGINT) AS rate_gap_x1e6
      |  FROM pr)
      |SELECT split, n_events, n_days, n_users, ev_per_user_x1e6, rate_gap_x1e6
      |FROM pr CROSS JOIN g ORDER BY split""".stripMargin

  /** K-fold cross-validation assignment (k=5): every doc lands in
    * exactly one fold by salted content hash — deterministic,
    * replayable, and exact duplicates land in the SAME fold (the
    * leakage property [[splitTrainVal]] establishes, extended to CV).
    * The "cv|" salt decorrelates fold boundaries from the train/val
    * bucket so the two splits can be used together without their
    * boundaries aligning. Per-doc assignment rides with per-fold
    * doc/token accounting columns so a consumer can weight folds
    * exactly.
    *
    * == Scale design ==
    * Assignment is scan-side column math (no shuffle); the per-fold
    * totals are one 5-group map-side-combinable aggregate broadcast
    * back onto the assignment — O(k) state, corpus never reshuffles.
    */
  def splitKfold(s: SparkSession, dir: String): DataFrame = {
    val fp = polyHash(concat(lit("cv|"), col("text")), 1000000007L)
    val assigned = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), (fp % 5L).as("fold"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val totals = assigned.groupBy(col("fold"))
      .agg(count(lit(1)).as("fold_docs"), sum(col("tok")).as("fold_tokens"))
    assigned.join(broadcast(totals), "fold")
      .select(col("doc_id"), col("fold"), col("fold_docs"), col("fold_tokens"))
      .orderBy(col("doc_id"))
  }

  val splitKfoldSql: String =
    s"""WITH a AS (SELECT doc_id,
      |  ${polyHashSql("'cv|' || text", 1000000007L)} % 5 AS fold,
      |  len(string_split(text, ' ')) AS tok
      |  FROM documents),
      |t AS (SELECT fold, count(*) AS fold_docs, CAST(sum(tok) AS BIGINT) AS fold_tokens
      |  FROM a GROUP BY fold)
      |SELECT a.doc_id, a.fold, t.fold_docs, t.fold_tokens
      |FROM a JOIN t USING (fold) ORDER BY doc_id""".stripMargin

  // -------------------------------------------- split leakage check
  /** Train/val CONTAMINATION check: verified near-dup pairs (n-gram
    * Jaccard ≥ 0.3) that STRADDLE the content-hash split — the val
    * documents a model would be unfairly scored on. Composes the
    * engine's own near-dup verifier with [[splitTrainVal]]; the pair
    * set is tiny, so the split assignments broadcast into it.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupNgramJaccard(s, dir)
    val splits = splitTrainVal(s, dir).select(col("doc_id"), col("split"))
    // broadcast the PAIR side (tiny) into the corpus-sized split
    // assignment — never the reverse; re-hint the (still tiny)
    // intermediate so the second join builds on it too
    val pa = broadcast(pairs)
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
    broadcast(pa)
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val splitLeakageSql: String =
    s"""WITH ${Dedup.pairCtes},
       |f AS (SELECT doc_id,
       |  ${polyHashSql("text", 1000000007L)} % 100 AS bucket
       |  FROM documents),
       |sp AS (SELECT doc_id, CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split FROM f)
       |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, jaccard
       |FROM p JOIN sp sa ON sa.doc_id = doc_a JOIN sp sb ON sb.doc_id = doc_b
       |WHERE sa.split <> sb.split
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------ dedup-aware split
  /** Leakage-PROOF train/val split — the prevention face of
    * [[splitLeakage]]'s detection: every verified near-dup component
    * ([[Dedup.dedupComponents]] over the n-gram-Jaccard pair graph)
    * is assigned WHOLE to one side, decided by its representative's
    * (the component's min doc_id) content-hash bucket; documents in
    * no component keep their own [[splitTrainVal]] bucket. By
    * construction no verified near-dup pair can straddle the
    * boundary — the property the spec re-checks by running the
    * leakage detector against this split and requiring zero rows.
    *
    * == Scale design ==
    * The corpus-sized relation is touched by exactly one scan (the
    * per-doc bucket hash, scan-side column math). Components exist
    * only for paired docs — a tiny relation at any scale (near-dup
    * pairs, not the corpus) — so both the component map and the
    * representative-bucket map BROADCAST into the scan; no corpus
    * shuffle anywhere before the display sort.
    */
  def splitDedupAware(s: SparkSession, dir: String): DataFrame = {
    val fp = polyHash(col("text"), 1000000007L)
    val own = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), (fp % 100L).as("own_bucket"))
    val comp = Dedup.dedupComponents(s, dir)
      .select(col("doc_id"), col("component"))
    // representative bucket: the component label IS a doc_id, so its
    // bucket comes from the same scan relation (tiny join, broadcast)
    val repBuckets = comp.select(col("component")).distinct()
      .join(own.select(col("doc_id").as("component"),
        col("own_bucket").as("rep_bucket")), "component")
    val eff = own
      .join(broadcast(comp), Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .join(broadcast(repBuckets), Seq("component"), "left")
      .withColumn("bucket", coalesce(col("rep_bucket"), col("own_bucket")))
    eff.select(col("doc_id"), col("component"), col("bucket"),
        when(col("bucket") < 90, "train").otherwise("val").as("split"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the SHARED recursive component CTE + the same bucket
    * hash, representative bucket resolved through the component
    * label. */
  val splitDedupAwareSql: String =
    s"""WITH RECURSIVE ${Dedup.componentCtes},
       |f AS (SELECT doc_id,
       |  ${polyHashSql("text", 1000000007L)} % 100 AS own_bucket
       |  FROM documents),
       |eff AS (SELECT f.doc_id,
       |    coalesce(comp.component, f.doc_id) AS component,
       |    coalesce(rf.own_bucket, f.own_bucket) AS bucket
       |  FROM f LEFT JOIN comp ON comp.doc_id = f.doc_id
       |  LEFT JOIN f rf ON rf.doc_id = comp.component)
       |SELECT doc_id, component, bucket,
       |  CASE WHEN bucket < 90 THEN 'train' ELSE 'val' END AS split
       |FROM eff ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- corpus stats
  /** Per-source corpus accounting: the ledger a curation run reports —
    * doc counts, token/char volume, length spread, language breadth.
    * One grouped pass, fully map-side combinable at any scale.
    */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("source"))

  /** Per-source log₂ document-length histogram (r14 wave 19) — the
    * justify-the-window table behind the packing family (the
    * events_gap_histogram move, corpus edition): a 2048-subword window
    * wastes exactly the tail mass of docs longer than the window, and
    * this table is where that tail is read off. Per (source, ⌊log₂
    * tokens⌋ bucket): doc count, token mass, and both shares within
    * the source in exact ppm. Integer bits via length(bin(n)) — the
    * engine-portable log₂ the repo's bit faces share.
    *
    * == Scale design ==
    * One scan folds map-side onto O(sources × ~20 buckets); shares
    * ride a per-source window over that bounded ledger.
    */
  def corpusLengthHistogram(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = graft.sources.Tables.load(s, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("bucket", expr("length(bin(n_tokens))"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val w = Window.partitionBy(col("source"))
    t.withColumn("src_docs", sum(col("n_docs")).over(w))
      .withColumn("src_tokens", sum(col("n_tokens")).over(w))
      .select(col("source"), col("bucket").cast("long").as("bucket"),
        col("n_docs"), col("n_tokens"),
        expr("(1000000 * n_docs) div src_docs").as("doc_share_ppm"),
        expr("(1000000 * n_tokens) div src_tokens").as("token_share_ppm"))
      .orderBy(col("source"), col("bucket"))
  }

  val corpusLengthHistogramSql: String =
    """WITH t AS (SELECT source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |g AS (SELECT source, CAST(length(bin(n_tokens)) AS BIGINT) AS bucket,
      |    count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |  FROM t GROUP BY 1, 2)
      |SELECT source, bucket, n_docs, n_tokens,
      |  (1000000 * n_docs) // CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS doc_share_ppm,
      |  (1000000 * n_tokens) // CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS token_share_ppm
      |FROM g ORDER BY source, bucket""".stripMargin

  val corpusStatsSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  min(n_chars) AS min_chars,
      |  max(n_chars) AS max_chars,
      |  count(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- mixture weights
  /** Temperature-scaled training-mix design: per-source sampling
    * weights ∝ tokens^0.5 (the standard multi-corpus temperature
    * trick at T = 2, i.e. α = 1/T — upweights small sources relative
    * to proportional sampling) plus the per-epoch token/doc allocation
    * at a 10 M-token budget. α = 0.5 is deliberately sqrt: IEEE sqrt
    * is correctly rounded on both engines, whereas pow(x, 0.7) is
    * libm-dependent. The normalizer Σ√tok is the one float sum in the
    * query, and float addition is order-sensitive — a denominator one
    * ulp apart between engines could flip floor(x+0.5) at an exact
    * half-way boundary. So it is NOT a parallel `sum()`: both engines
    * left-fold the per-source weight list in source order (Spark
    * `aggregate` over `array_sort(collect_list(struct(source, √tok)))`,
    * DuckDB `list_reduce` over `list(√tok ORDER BY source)`), the same
    * IEEE adds in the same order ⇒ bit-equal denominators by
    * construction, no boundary flakiness.
    *
    * == Scale design ==
    * Pass 1 is the map-side-combinable per-source token count (identical
    * shape to [[corpusStats]]); pass 2 is arithmetic on an
    * O(#sources)-row relation with the 1-row normalizer broadcast —
    * nothing here grows with corpus size except the one scan.
    */
  def corpusMixture(s: SparkSession, dir: String): DataFrame = {
    val st = graft.sources.Tables.load(s, dir, "documents")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_sum"))
    // Ordered sequential fold, not sum(): see the determinism note above.
    val denom = st.agg(aggregate(
      array_sort(collect_list(struct(col("source"),
        sqrt(col("tok_sum").cast("double")).as("sq")))),
      lit(0.0), (acc, x) => acc + x.getField("sq")).as("denom"))
    val ppm = floor(lit(1e6) * sqrt(col("tok_sum").cast("double")) / col("denom") + 0.5)
      .cast("long")
    st.crossJoin(broadcast(denom))
      .withColumn("weight_ppm", ppm)
      .select(col("source"), col("n_docs"), col("tok_sum"), col("weight_ppm"),
        (col("weight_ppm") * 10).as("alloc_tokens"),
        expr("(weight_ppm * 10 * n_docs) div tok_sum").as("alloc_docs"))
      .orderBy(col("source"))
  }

  val corpusMixtureSql: String =
    """WITH s AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_sum
      |  FROM documents GROUP BY source),
      |t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(sqrt(CAST(tok_sum AS DOUBLE)) ORDER BY source)), (a,b) -> a+b) AS denom FROM s)
      |SELECT source, n_docs, tok_sum,
      |  CAST(floor(1e6 * sqrt(CAST(tok_sum AS DOUBLE)) / denom + 0.5) AS BIGINT) AS weight_ppm,
      |  CAST(floor(1e6 * sqrt(CAST(tok_sum AS DOUBLE)) / denom + 0.5) AS BIGINT) * 10 AS alloc_tokens,
      |  (CAST(floor(1e6 * sqrt(CAST(tok_sum AS DOUBLE)) / denom + 0.5) AS BIGINT) * 10 * n_docs) // tok_sum AS alloc_docs
      |FROM s, t ORDER BY source""".stripMargin

  // ------------------------------------------------ mixture upsampling
  /** Mixture re-weighting EXECUTED (r14 wave 8, the repetition step
    * [[corpusMixture]]'s weights inform — the data-constrained regime
    * where scarce languages repeat across an epoch, Muennighoff-style):
    * target = the BALANCED per-LANGUAGE mixture (equal doc share per
    * language, the T→∞ temperature limit; languages, unlike the
    * synthetic corpus's deliberately-uniform sources, are genuinely
    * imbalanced — en dominates ~3× — so the factors are non-vacuous at
    * every SF). Each language's repetition factor in exact
    * milli-epochs is rep_milli = (N·1000) div (k·n_l): scarce
    * languages get rep > 1 (upsampling with repetition), the dominant
    * one rep < 1 (downsampling). Execution is per-doc: base =
    * rep_milli div 1000 copies, plus one more iff the doc's content
    * hash bucket (poly_hash "up|"-salted, decorrelated from every
    * sampling/split/shuffle salt) lands under the fractional
    * remainder — deterministic, replayable, and within one doc per
    * 1000 of the designed mass. The ledger reports, per language:
    * natural docs, rep_milli, emitted docs, and the achieved share of
    * the replicated corpus in exact ppm (now ≈ 1/k for every
    * language).
    *
    * == Scale design ==
    * One scan → per-doc copy arithmetic (map-side; the O(langs)
    * repetition table broadcasts back) → a map-side-combinable
    * per-language rollup. No doc ever materializes its copies here —
    * the emitted count is arithmetic, and a downstream writer would
    * `explode(sequence(1, copies))` shard-locally with no shuffle.
    */
  def corpusUpsample(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val h = polyHash(concat(lit("up|"), col("text")), 1000000007L)
    // checkpointed: the thin (lang, hb) relation feeds the per-lang
    // counts, the copy arithmetic AND the two broadcast totals — without
    // the fence each consumer re-derives the corpus scan (+ hash)
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("lang"), (h % 1000L).as("hb"))
      .stableCheckpoint()
    val st = d.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val tot = st.agg(sum(col("n_docs")).as("n_total"), count(lit(1)).as("k"))
    val rep = st.crossJoin(broadcast(tot))
      .withColumn("rep_milli", expr("n_total * 1000 div (k * n_docs)"))
      .select(col("lang").as("lg"), col("n_docs"), col("rep_milli"))
    val emitted = d.join(broadcast(rep), col("lang") === col("lg"))
      .withColumn("copies", expr("rep_milli div 1000") +
        when(col("hb") < col("rep_milli") % 1000, 1L).otherwise(0L))
      .groupBy(col("lang")).agg(sum(col("copies")).as("emitted"))
    val totE = emitted.agg(sum(col("emitted")).as("tot_emitted"))
    emitted.join(broadcast(rep), col("lang") === col("lg"))
      .crossJoin(broadcast(totE))
      .select(col("lang"), col("n_docs"), col("rep_milli"), col("emitted"),
        expr("emitted * 1000000 div tot_emitted").as("share_ppm"))
      .orderBy(col("lang"))
  }

  /** DuckDB twin: same hash buckets, same integer repetition rule. */
  val corpusUpsampleSql: String =
    s"""WITH d AS (SELECT lang,
      |    ${polyHashSql("'up|' || text", 1000000007L)} % 1000 AS hb
      |  FROM documents),
      |st AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY lang),
      |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |    CAST(count(*) AS BIGINT) AS k FROM st),
      |r AS (SELECT lang, n_docs, (n_total * 1000) // (k * n_docs) AS rep_milli
      |  FROM st, t),
      |e AS (SELECT d.lang,
      |    CAST(sum(r.rep_milli // 1000
      |      + CASE WHEN d.hb < r.rep_milli % 1000 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS emitted
      |  FROM d JOIN r ON r.lang = d.lang GROUP BY d.lang),
      |te AS (SELECT CAST(sum(emitted) AS BIGINT) AS tot_emitted FROM e)
      |SELECT r.lang, r.n_docs, r.rep_milli, e.emitted,
      |  (e.emitted * 1000000) // te.tot_emitted AS share_ppm
      |FROM r JOIN e ON e.lang = r.lang, te
      |ORDER BY r.lang""".stripMargin

  // -------------------------------------------------- text normalize
  /** Normalization scrub: strip non-[a-z0-9 ] characters, collapse
    * whitespace runs, trim — the canonical-text pass upstream of exact
    * dedup — with per-doc removed-char accounting. Codegen'd regex
    * column ops; the simple character-class patterns mean Spark (Java
    * regex) and DuckDB (RE2) agree by construction.
    */
  def textNormalize(s: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        trim(regexp_replace(regexp_replace(col("text"), "[^a-z0-9 ]", ""), " +", " "))
          .as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        (col("n_chars") - length(col("norm_text"))).as("n_removed"))
      .orderBy(col("doc_id"))

  val textNormalizeSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(text, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text,
      |  n_chars - len(trim(regexp_replace(regexp_replace(text, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS n_removed
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- sequence packing
  /** Sequential document packing: concatenate the corpus in doc_id
    * order and chunk it into fixed 2048-token context windows — the
    * standard pretraining packing op. Each doc gets its global token
    * offset and the window (bin) its first token lands in.
    *
    * == Scale design ==
    * The global running sum is computed as a TWO-PASS prefix sum, not
    * one un-partitioned window (which would sort the whole corpus in a
    * single task): docs fold into fixed 64-doc buckets (deterministic
    * `doc_id div 64`), the intra-bucket cumsum is a window PARTITIONED
    * by bucket, and the tiny per-bucket totals (O(docs/64) rows) take
    * the only global window before broadcasting back — the same shape
    * as the eq-hist shade's histogram pass.
    */
  /** (doc_id, n_tokens, tok_offset) via the two-pass prefix sum —
    * shared by the per-doc and per-window packing views.
    */
  private[graft] def packedOffsets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("doc_id div 64").as("bkt"))
    val intra = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.withColumn("cum_in", sum(col("n_tokens")).over(intra))
    val bktTotals = d.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bt"))
    val over = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bktTotals
      .withColumn("bp", coalesce(sum(col("bt")).over(over), lit(0L)))
      .select(col("bkt"), col("bp"))
    cum.join(broadcast(prefixes), "bkt")
      .select(col("doc_id"), col("n_tokens"),
        (col("bp") + col("cum_in") - col("n_tokens")).as("tok_offset"))
  }

  def packSequential(s: SparkSession, dir: String): DataFrame =
    packedOffsets(s, dir)
      .withColumn("bin_id", expr("tok_offset div 2048"))
      .orderBy(col("doc_id"))

  /** Context-window size sweep for the sequential packer — the
    * justify-the-2048 table ([[corpusLengthHistogram]] reads the tail
    * mass off the corpus; THIS face prices the window choice on the
    * packer's own mechanics): under boundary-splitting sequential
    * fill, a document crossing a window edge is cut — smaller windows
    * waste nothing to padding but shred more documents (attention
    * never sees the severed halves together). Per W ∈ {512, 2048,
    * 8192}: window count, documents split at least once, exact split
    * ppm, and total boundary crossings (a doc spanning k windows is
    * cut k−1 times). The production window is chosen where this curve
    * crosses the per-batch padding-waste curve ([[packSorted]]).
    *
    * == Scale design ==
    * ONE two-phase prefix-sum pass (the shared [[packedOffsets]]);
    * the 3-config fan-out is a broadcast cross join computed
    * row-local, folding map-side onto O(3) ledger rows.
    */
  def packWindowCurve(s: SparkSession, dir: String): DataFrame = {
    val cfg = s.createDataFrame(Seq(Tuple1(512L), Tuple1(2048L), Tuple1(8192L)))
      .toDF("w")
    packedOffsets(s, dir)
      .crossJoin(broadcast(cfg))
      .select(col("w"), col("n_tokens"),
        expr("(tok_offset + n_tokens - 1) div w - tok_offset div w").as("crossings"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("crossings") > 0, 1L).otherwise(0L)).as("n_split_docs"),
        sum(col("crossings")).as("n_crossings"))
      .select(col("w"), col("n_docs"), col("n_tokens"),
        expr("(n_tokens + w - 1) div w").as("n_windows"),
        col("n_split_docs"),
        expr("(1000000 * n_split_docs) div n_docs").as("split_ppm"),
        col("n_crossings"))
      .orderBy(col("w"))
  }

  /** DuckDB twin: the packSequential offsets CTE with the 3-window
    * fan-out. */
  val packWindowCurveSql: String =
    """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
      |  FROM d),
      |cfg AS (SELECT CAST(unnest([512, 2048, 8192]) AS BIGINT) AS w),
      |x AS (SELECT w, n_tokens,
      |    (tok_offset + n_tokens - 1) // w - tok_offset // w AS crossings
      |  FROM c CROSS JOIN cfg),
      |g AS (SELECT w, count(*) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
      |    CAST(sum(crossings) AS BIGINT) AS n_crossings
      |  FROM x GROUP BY 1)
      |SELECT w, n_docs, n_tokens, (n_tokens + w - 1) // w AS n_windows,
      |  n_split_docs, (1000000 * n_split_docs) // n_docs AS split_ppm,
      |  n_crossings
      |FROM g ORDER BY w""".stripMargin

  /** Sequence packing by TRUE subword counts — the tokenizer and the
    * packer composed: each document's length is its trained-BPE
    * subword count (words broadcast-joined against the memoized
    * segment table — the same mass [[graft.operators.TextOps
    * .tokenizeBpeIds]] emits), streamed into 2048-SUBWORD context
    * windows in doc order. The whitespace-token faces
    * ([[packSequential]] etc.) size windows by an approximation; a
    * real training run packs by what the model actually consumes,
    * and the two disagree exactly where the vocabulary compresses
    * badly — comparing this face's bin count against
    * [[packSequential]]'s is the packing-side view of
    * `tokenize_coverage`.
    *
    * == Scale design ==
    * One corpus scan → per-doc subword mass (broadcast segment join,
    * map-side doc rollup), then the SAME two-phase range-partitioned
    * prefix sum as [[packedOffsets]] (bucketed intra-sums + broadcast
    * bucket prefixes — no single-task global window). Docs with no
    * tokens pack nothing and are dropped (both engines replay the
    * same filter).
    */
  def packSubword(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = TextOps.bpeSegmentsShared(s, dir)
      .select(col("word").as("w"), col("n_syms"))
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segs), Seq("w"))
      .groupBy(col("doc_id")).agg(sum(col("n_syms")).as("n_subwords"))
      .withColumn("bkt", expr("doc_id div 64"))
    val intra = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.withColumn("cum_in", sum(col("n_subwords")).over(intra))
    val bktTotals = d.groupBy(col("bkt")).agg(sum(col("n_subwords")).as("bt"))
    val over = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bktTotals
      .withColumn("bp", coalesce(sum(col("bt")).over(over), lit(0L)))
      .select(col("bkt"), col("bp"))
    cum.join(broadcast(prefixes), "bkt")
      .select(col("doc_id"), col("n_subwords"),
        (col("bp") + col("cum_in") - col("n_subwords")).as("sub_offset"))
      .withColumn("bin_id", expr("sub_offset div 2048"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: the segment oracle inlined as a derived table (its
    * training CTE chain stays scoped), same streaming offsets. */
  lazy val packSubwordSql: String =
    s"""WITH sv AS (SELECT word, n_syms FROM (${TextOps.tokenizeBpeSegmentsSql})),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |dc AS (SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_subwords
       |  FROM dw JOIN sv ON sv.word = dw.w WHERE w <> '' GROUP BY doc_id),
       |c AS (SELECT doc_id, n_subwords,
       |  CAST(sum(n_subwords) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_subwords AS BIGINT) AS sub_offset
       |  FROM dc)
       |SELECT doc_id, n_subwords, sub_offset, sub_offset // 2048 AS bin_id
       |FROM c ORDER BY doc_id""".stripMargin

  val packSequentialSql: String =
    """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
      |  FROM d)
      |SELECT doc_id, n_tokens, tok_offset, tok_offset // 2048 AS bin_id
      |FROM c ORDER BY doc_id""".stripMargin

  /** The consumer-side packing view: one row per 2048-token context
    * window — how many docs fill it, their id span, and the fill token
    * count (= 2048 for every interior window; the trailing window is
    * partial). Docs explode to the (few) windows their token interval
    * overlaps; the per-window aggregation is map-side combinable.
    */
  def packWindows(s: SparkSession, dir: String): DataFrame = {
    val W = 2048L
    packedOffsets(s, dir)
      .withColumn("bin_id", explode(sequence(
        expr("tok_offset div 2048"),
        expr("(tok_offset + n_tokens - 1) div 2048"))))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(least(col("tok_offset") + col("n_tokens"), (col("bin_id") + 1) * W) -
          greatest(col("tok_offset"), col("bin_id") * W)).as("fill_tokens"))
      .orderBy(col("bin_id"))
  }

  val packWindowsSql: String =
    """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
      |  FROM d),
      |b AS (SELECT doc_id, n_tokens, tok_offset,
      |  unnest(range(tok_offset // 2048, (tok_offset + n_tokens - 1) // 2048 + 1)) AS bin_id
      |  FROM c)
      |SELECT bin_id, count(*) AS n_docs, min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  CAST(sum(least(tok_offset + n_tokens, (bin_id + 1) * 2048) - greatest(tok_offset, bin_id * 2048)) AS BIGINT) AS fill_tokens
      |FROM b GROUP BY bin_id ORDER BY bin_id""".stripMargin

  // --------------------------------------------- length-sorted batching
  /** Length-sorted batching vs shuffled batching (r14 wave 8 — the
    * PADDING face of the packing family): when sequences are batched
    * 8-to-a-batch and padded to the batch max, batch composition IS
    * the padding bill, and the standard fix is sorting by length
    * before batching (bucketed/sorted batching in every production
    * trainer). Both strategies are executed over the same corpus —
    * ranks by (n_tokens desc, doc_id) vs by a decorrelated content
    * hash — and the ledger reports each strategy's batch count, real
    * tokens, padded slots, and waste in exact ppm of slot capacity.
    * The sorted row's waste collapsing versus the shuffled row's is
    * the business case (spec asserts it strictly, and replays the
    * batch math per strategy). Padding differs from [[packSequential]]
    * -family CONCATENATIVE packing: this face models the
    * padded-batch regime (SFT / inference serving), where waste is
    * real compute burned on pad tokens.
    *
    * == Scale design ==
    * Both ranks ride [[Analytics.globalRowPos]]'s range-partitioned
    * two-phase row position (no single-task global sort); everything
    * downstream of the scan runs on the thin (doc_id, n_tokens, h)
    * relation, and each ledger collapses through a map-side-combinable
    * per-batch aggregate to TWO rows.
    */
  def packSorted(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val h = polyHash(concat(lit("bat|"), col("text")), 1000000007L)
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"), h.as("h"))
      .stableCheckpoint()
    def ledger(ranked: DataFrame, pos: String, strategy: String): DataFrame =
      ranked
        .withColumn("batch", expr(s"($pos - 1) div 8"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("cnt"), max(col("n_tokens")).as("mx"),
          sum(col("n_tokens")).as("tot"))
        .agg(count(lit(1)).as("n_batches"), sum(col("tot")).as("total_tokens"),
          sum(col("cnt") * col("mx") - col("tot")).as("padded_tokens"))
        .select(lit(strategy).as("strategy"), col("n_batches"),
          col("total_tokens"), col("padded_tokens"),
          expr("padded_tokens * 1000000 div (total_tokens + padded_tokens)")
            .as("waste_ppm"))
    val bySorted = Analytics.globalRowPos(d, Seq.empty,
      Seq(col("n_tokens").desc, col("doc_id")), "pos_s", "__ns")
    val byHash = Analytics.globalRowPos(d, Seq.empty,
      Seq(col("h"), col("doc_id")), "pos_h", "__nh")
    ledger(bySorted, "pos_s", "sorted")
      .unionAll(ledger(byHash, "pos_h", "shuffled"))
      .orderBy(col("strategy"))
  }

  /** DuckDB twin: the declarative single-window ranks the two-phase
    * plan exists to avoid at scale — and the ledgers must agree
    * exactly. */
  val packSortedSql: String =
    s"""WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    ${polyHashSql("'bat|' || text", 1000000007L)} AS h
      |  FROM documents),
      |rs AS (SELECT n_tokens,
      |    CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS pos FROM d),
      |rh AS (SELECT n_tokens,
      |    CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos FROM d),
      |bs AS (SELECT (pos - 1) // 8 AS batch, count(*) AS cnt,
      |    max(n_tokens) AS mx, sum(n_tokens) AS tot FROM rs GROUP BY 1),
      |bh AS (SELECT (pos - 1) // 8 AS batch, count(*) AS cnt,
      |    max(n_tokens) AS mx, sum(n_tokens) AS tot FROM rh GROUP BY 1),
      |u AS (
      |  SELECT 'sorted' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
      |    CAST(sum(tot) AS BIGINT) AS total_tokens,
      |    CAST(sum(cnt * mx - tot) AS BIGINT) AS padded_tokens FROM bs
      |  UNION ALL
      |  SELECT 'shuffled', CAST(count(*) AS BIGINT), CAST(sum(tot) AS BIGINT),
      |    CAST(sum(cnt * mx - tot) AS BIGINT) FROM bh)
      |SELECT strategy, n_batches, total_tokens, padded_tokens,
      |  padded_tokens * 1000000 // (total_tokens + padded_tokens) AS waste_ppm
      |FROM u ORDER BY strategy""".stripMargin

  // ------------------------------------------------ stratified sampling
  /** Deterministic stratified sampling: per-language keep rates
    * (downsample the dominant language toward a balanced corpus)
    * decided by a content-hash bucket — the same poly_hash family as
    * the train/val split but over a prefixed text so the two decisions
    * are decorrelated. Pure per-row arithmetic: embarrassingly
    * parallel, no shuffle before the output sort, and re-running on a
    * grown corpus keeps every previously-sampled doc (no reservoir
    * state, unlike rand()-based sampling which isn't even replayable).
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("smp|"), col("text")), 1000000007L)
    val quota = when(col("lang") === "en", 30L).otherwise(80L)
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        (h % 100L).as("bucket"))
      .filter(col("bucket") < quota)
      .orderBy(col("doc_id"))
  }

  val sampleStratifiedSql: String =
    s"""WITH f AS (SELECT doc_id, lang, source, n_chars,
      |  ${polyHashSql("'smp|' || text", 1000000007L)} % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, lang, source, n_chars, bucket FROM f
      |WHERE bucket < CASE WHEN lang = 'en' THEN 30 ELSE 80 END
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------- Neyman budget design
  /** Variance-optimal annotation-budget design (r17 — the sampling
    * family's DESIGN face: [[sampleStratified]] executes fixed
    * per-stratum rates, [[sampleQuota]] executes a target mixture;
    * this face computes what the allocation SHOULD be): classic
    * Neyman allocation nₕ ∝ Nₕ·Sₕ for estimating the corpus mean
    * document length from a 500-doc labeling budget, strata = source.
    * Per stratum: Nₕ, mean length in exact milli, the unbiased
    * stratum std Sₕ (integer variance (Nₕ·Σy² − (Σy)²)/(Nₕ(Nₕ−1)) —
    * nonnegative by Cauchy–Schwarz so floor div is engine-identical —
    * rooted with the ±1-corrected exact isqrt), the Neyman and
    * proportional seat counts (both apportioned by largest-remainder
    * Hamilton with source tiebreak, [[sampleQuota]]'s rule, so seats
    * sum EXACTLY to the budget), each allocation's stratified-variance
    * term Nₕ²·S²ₕ/nₕ (exact floor units), and the design's headline:
    * the variance both totals imply and the Neyman gain in exact ppm —
    * how much estimator variance the optimal design buys over
    * proportional at the same labeling cost.
    *
    * == Scale design ==
    * One documents scan folds map-side to O(sources) moment rows
    * (count/Σ/Σ² — the textbook mergeable triple); apportionment,
    * variance terms and the gain are window math on that ≤5-row
    * ledger. Same shape at any corpus size.
    */
  def sampleNeyman(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val N = 500L
    val m = graft.sources.Tables.load(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("s1"),
        sum(col("n_chars") * col("n_chars")).as("s2"))
      .withColumn("var_u", expr(
        """CASE WHEN n_docs < 2 THEN 0
          |ELSE (n_docs * s2 - s1 * s1) div (n_docs * (n_docs - 1)) END""".stripMargin))
      .withColumn("r0", expr("CAST(floor(sqrt(CAST(var_u AS DOUBLE))) AS BIGINT)"))
      .withColumn("s_len", expr(
        """CASE WHEN r0*r0 > var_u THEN r0-1
          |WHEN (r0+1)*(r0+1) <= var_u THEN r0+1 ELSE r0 END""".stripMargin))
    import graft.plans.Checkpoints.StableSyntax
    // O(sources) moment ledger, materialized once for the two
    // apportionment branches and the totals
    val weighted = m
      .withColumn("w_ney", col("n_docs") * col("s_len"))
      .withColumn("w_prop", col("n_docs"))
      .stableCheckpoint()
    val tot = weighted.agg(sum(col("w_ney")).as("tw_ney"),
      sum(col("w_prop")).as("tw_prop"))
    val wAll = Window.partitionBy()
    def apportion(df: DataFrame, w: String, tw: String, out: String): DataFrame = {
      val seats = df
        .withColumn("fl", expr(s"($N * $w) div $tw"))
        .withColumn("rem", expr(s"($N * $w) % $tw"))
      val leftover = seats
        .withColumn("left", lit(N) - sum(col("fl")).over(wAll))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rem").desc, col("source"))))
      leftover
        .withColumn(out,
          col("fl") + when(col("rk") <= col("left"), 1L).otherwise(0L))
        .drop("fl", "rem", "left", "rk")
    }
    val alloc = apportion(
      apportion(weighted.crossJoin(broadcast(tot)), "w_ney", "tw_ney", "alloc_neyman"),
      "w_prop", "tw_prop", "alloc_prop")
      .withColumn("var_term_neyman", expr(
        "CASE WHEN alloc_neyman = 0 THEN 0 ELSE (n_docs * n_docs * var_u) div alloc_neyman END"))
      .withColumn("var_term_prop", expr(
        "CASE WHEN alloc_prop = 0 THEN 0 ELSE (n_docs * n_docs * var_u) div alloc_prop END"))
      .withColumn("var_neyman_total", sum(col("var_term_neyman")).over(wAll))
      .withColumn("var_prop_total", sum(col("var_term_prop")).over(wAll))
    alloc.select(col("source"), col("n_docs"),
        expr("(1000 * s1) div n_docs").as("mean_len_milli"),
        col("s_len"), col("alloc_neyman"), col("alloc_prop"),
        col("var_term_neyman"), col("var_term_prop"),
        col("var_neyman_total"), col("var_prop_total"),
        expr("""CASE WHEN var_prop_total = 0 THEN 0
                ELSE 1000000 * (var_prop_total - var_neyman_total) div var_prop_total END""")
          .as("gain_ppm"))
      .orderBy(col("source"))
  }

  /** DuckDB twin: same moment fold, isqrt, double Hamilton
    * apportionment, variance terms and ppm gain. */
  val sampleNeymanSql: String =
    """WITH m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS s1,
      |    CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS s2
      |  FROM documents GROUP BY 1),
      |v AS (SELECT *,
      |    CASE WHEN n_docs < 2 THEN 0
      |      ELSE (n_docs * s2 - s1 * s1) // (n_docs * (n_docs - 1)) END AS var_u
      |  FROM m),
      |sr AS (SELECT *, CAST(floor(sqrt(CAST(var_u AS DOUBLE))) AS BIGINT) AS r0 FROM v),
      |sl AS (SELECT *, CASE WHEN r0*r0 > var_u THEN r0-1
      |    WHEN (r0+1)*(r0+1) <= var_u THEN r0+1 ELSE r0 END AS s_len FROM sr),
      |w AS (SELECT *, n_docs * s_len AS w_ney, n_docs AS w_prop,
      |    CAST(sum(n_docs * s_len) OVER () AS BIGINT) AS tw_ney,
      |    CAST(sum(n_docs) OVER () AS BIGINT) AS tw_prop
      |  FROM sl),
      |a1 AS (SELECT *, (500 * w_ney) // tw_ney AS fl1, (500 * w_ney) % tw_ney AS rem1,
      |    (500 * w_prop) // tw_prop AS fl2, (500 * w_prop) % tw_prop AS rem2
      |  FROM w),
      |a2 AS (SELECT *,
      |    CAST(500 - sum(fl1) OVER () AS BIGINT) AS left1,
      |    CAST(500 - sum(fl2) OVER () AS BIGINT) AS left2,
      |    row_number() OVER (ORDER BY rem1 DESC, source) AS rk1,
      |    row_number() OVER (ORDER BY rem2 DESC, source) AS rk2
      |  FROM a1),
      |al AS (SELECT *,
      |    fl1 + CASE WHEN rk1 <= left1 THEN 1 ELSE 0 END AS alloc_neyman,
      |    fl2 + CASE WHEN rk2 <= left2 THEN 1 ELSE 0 END AS alloc_prop
      |  FROM a2),
      |t AS (SELECT *,
      |    CASE WHEN alloc_neyman = 0 THEN 0
      |      ELSE (n_docs * n_docs * var_u) // alloc_neyman END AS var_term_neyman,
      |    CASE WHEN alloc_prop = 0 THEN 0
      |      ELSE (n_docs * n_docs * var_u) // alloc_prop END AS var_term_prop
      |  FROM al),
      |f AS (SELECT *,
      |    CAST(sum(var_term_neyman) OVER () AS BIGINT) AS var_neyman_total,
      |    CAST(sum(var_term_prop) OVER () AS BIGINT) AS var_prop_total
      |  FROM t)
      |SELECT source, n_docs, (1000 * s1) // n_docs AS mean_len_milli, s_len,
      |  alloc_neyman, alloc_prop, var_term_neyman, var_term_prop,
      |  var_neyman_total, var_prop_total,
      |  CASE WHEN var_prop_total = 0 THEN 0
      |    ELSE 1000000 * (var_prop_total - var_neyman_total) // var_prop_total END
      |    AS gain_ppm
      |FROM f ORDER BY source""".stripMargin

  // -------------------------------------------- fixed-k uniform sample
  /** Exact-k uniform sample without replacement, deterministic: rank
    * every doc by a content-seeded hash and keep the k smallest — the
    * distributed answer to "give me exactly 1000 random docs,
    * reproducibly" (rate-based samplers like [[sampleStratified]] give
    * a BINOMIAL count, not an exact k). The hash makes the permutation;
    * the top-k makes the cut; re-running on the same corpus returns the
    * same sample bit-for-bit.
    *
    * == Scale design ==
    * Rides the custom TopKPerGroup operator with a constant group key:
    * every partition forwards at most k rows into the single merge (a
    * k-item heap per partition) — no global sort, no full shuffle,
    * O(k) final state. The rank column then re-ranks the survivors
    * 1..k for a stable output contract.
    */
  def sampleUniformK(s: SparkSession, dir: String): DataFrame = {
    val K = 100
    val h = polyHash(concat(lit("unif|"), col("text")), 1000000007L)
    val ranked = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        h.as("h"), lit(1).as("g"))
    graft.plans.GraftOps.topKPerGroup(ranked, Seq("g"),
        Seq("h" -> false, "doc_id" -> false), k = K, rankName = "sample_rank")
      .select(col("doc_id"), col("lang"), col("source"), col("sample_rank"))
      .orderBy(col("sample_rank"))
  }

  val sampleUniformKSql: String =
    s"""WITH f AS (SELECT doc_id, lang, source,
      |  ${polyHashSql("'unif|' || text", 1000000007L)} AS h
      |  FROM documents)
      |SELECT doc_id, lang, source,
      |  CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS sample_rank
      |FROM f ORDER BY h, doc_id LIMIT 100""".stripMargin

  /** Exact-k WEIGHTED sample without replacement — the integer
    * Efraimidis–Spirakis surrogate: each doc draws a "wk|"-salted
    * content hash h (uniform on [0, P)) and ranks by
    * priority = ⌊h / weight⌋ with weight = its token count; the k
    * smallest priorities win. P(priority < t) = P(h < t·w) grows
    * linearly with w in the selection tail, so selection probability
    * scales with document weight exactly as the float u^(1/w) key
    * does — but in pure integer arithmetic both engines replay
    * bit-for-bit (the float key would hash-mismatch). Deterministic,
    * replayable, duplicate-stable, like the whole sample family.
    *
    * == Scale design ==
    * Scan-side hash + one integer division per row, then the same
    * [[graft.plans.TopKPerGroup]] global top-k as [[sampleUniformK]]:
    * per-partition k-heaps, O(k) per task, no global sort of the
    * corpus.
    */
  def sampleWeightedK(s: SparkSession, dir: String): DataFrame = {
    val K = 100
    val h = polyHash(concat(lit("wk|"), col("text")), 1000000007L)
    val ranked = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("weight"), h.as("h"),
        lit(1).as("g"))
      .withColumn("priority", expr("h div weight"))
    graft.plans.GraftOps.topKPerGroup(ranked, Seq("g"),
        Seq("priority" -> false, "doc_id" -> false), k = K, rankName = "sample_rank")
      .select(col("doc_id"), col("source"), col("weight"), col("priority"),
        col("sample_rank"))
      .orderBy(col("sample_rank"))
  }

  val sampleWeightedKSql: String =
    s"""WITH f AS (SELECT doc_id, source,
      |  len(string_split(text, ' ')) AS weight,
      |  ${polyHashSql("'wk|' || text", 1000000007L)} AS h
      |  FROM documents),
      |p AS (SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
      |    h // weight AS priority FROM f)
      |SELECT doc_id, source, weight, priority,
      |  CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS sample_rank
      |FROM p ORDER BY priority, doc_id LIMIT 100""".stripMargin

  /** Per-source corpus datasheet — the data card (Gebru et al.'s
    * "Datasheets for Datasets" made a registered, hash-checked
    * artifact) a model release ships beside its weights: for every
    * source, volume (docs/tokens/chars), language breadth, the
    * quality-gate pass rate, and the verified near-dup exposure rate,
    * all in exact integer ppm and all CHAINED FROM THE REGISTERED
    * FACES (the shared quality formula, the shared jaccard pair
    * relation) so the card cannot drift from the operators it
    * summarizes. This is the one-table answer to "what is in this
    * corpus and how clean is it, per provenance".
    *
    * == Scale design ==
    * One stats scan + the gate's feature pass fold map-side per
    * source; the near-dup leg reuses the pair join's machinery and
    * collapses to a distinct exposed-doc set broadcast-joined back.
    * The final ledger is O(sources).
    */
  def corpusDatasheet(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents")
    val base = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"))
    val gate = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"), (col("quality_score") >= 0.5).cast("long").as("pass"))
    val passBySrc = d.select(col("doc_id"), col("source")).join(gate, "doc_id")
      .groupBy(col("source")).agg(sum(col("pass")).as("n_pass"))
    val exposed = Dedup.verifiedPairs(s, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val dupBySrc = d.select(col("doc_id"), col("source"))
      .join(broadcast(exposed), Seq("doc_id"), "left_semi")
      .groupBy(col("source")).agg(count(lit(1)).as("n_neardup"))
    base.join(passBySrc, Seq("source"), "left_outer")
      .join(dupBySrc, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"),
        expr("(1000000 * coalesce(n_pass, 0)) div n_docs").as("gate_pass_ppm"),
        expr("(1000000 * coalesce(n_neardup, 0)) div n_docs").as("neardup_ppm"))
      .orderBy(col("source"))
  }

  /** DuckDB twin: the shared quality CTE and the shared pair CTEs
    * chained into one per-source card. */
  val corpusDatasheetSql: String =
    s"""WITH $qualityCte,
       |${Dedup.pairCtes},
       |exposed AS (SELECT DISTINCT doc_id FROM
       |  (SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p)),
       |base AS (SELECT source, count(*) AS n_docs,
       |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
       |  FROM documents GROUP BY 1),
       |ps AS (SELECT d.source, CAST(sum(CASE WHEN q.quality_score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |  FROM documents d JOIN q ON q.doc_id = d.doc_id GROUP BY 1),
       |ds AS (SELECT d.source, count(*) AS n_neardup
       |  FROM documents d JOIN exposed e ON e.doc_id = d.doc_id GROUP BY 1)
       |SELECT b.source, n_docs, n_tokens, n_chars, n_langs,
       |  (1000000 * coalesce(n_pass, 0)) // n_docs AS gate_pass_ppm,
       |  (1000000 * coalesce(n_neardup, 0)) // n_docs AS neardup_ppm
       |FROM base b LEFT JOIN ps ON ps.source = b.source
       |LEFT JOIN ds ON ds.source = b.source
       |ORDER BY b.source""".stripMargin

  /** Mergeable-reservoir identity for the weighted sample — the
    * union-algebra face [[sampleWeightedK]] was missing (the
    * agg_hll_union / agg_quantile_union pattern applied to sampling):
    * split the corpus into two epoch halves (doc_id parity), take each
    * half's top-K Efraimidis–Spirakis reservoir INDEPENDENTLY, then
    * merge the two K-row reservoirs and re-rank. Because priorities
    * are deterministic content functions, top-K(A ∪ B) ≡
    * top-K(top-K(A) ∪ top-K(B)) EXACTLY — the identity that lets a
    * 1000-executor fleet (or a week of nightly batches) sample
    * locally and merge O(K) state instead of reshuffling the corpus.
    * The emitted sample carries each row's source half; the spec
    * pins row-for-row equality with the direct single-pass sample.
    *
    * == Scale design ==
    * Each half's reservoir is the same global-top-K shape as the
    * parent face (per-partition top-K fold, O(K) state merged at the
    * combiner); the merge leg re-ranks 2K rows. Nothing here scales
    * with the corpus except the scan.
    */
  def sampleReservoirMerge(s: SparkSession, dir: String): DataFrame = {
    val K = 100
    val h = polyHash(concat(lit("wk|"), col("text")), 1000000007L)
    val ranked = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("weight"), h.as("h"),
        (col("doc_id") % 2).as("half"))
      .withColumn("priority", expr("h div weight"))
    val perHalf = graft.plans.GraftOps.topKPerGroup(ranked, Seq("half"),
        Seq("priority" -> false, "doc_id" -> false), k = K, rankName = "half_rank")
      .select(col("doc_id"), col("source"), col("weight"),
        col("priority"), col("half"))
      .withColumn("g", lit(1))
    graft.plans.GraftOps.topKPerGroup(perHalf, Seq("g"),
        Seq("priority" -> false, "doc_id" -> false), k = K, rankName = "sample_rank")
      .select(col("doc_id"), col("source"), col("weight"), col("priority"),
        col("half"), col("sample_rank"))
      .orderBy(col("sample_rank"))
  }

  val sampleReservoirMergeSql: String =
    s"""WITH f AS (SELECT doc_id, source,
      |  len(string_split(text, ' ')) AS weight,
      |  ${polyHashSql("'wk|' || text", 1000000007L)} AS h
      |  FROM documents),
      |p AS (SELECT doc_id, source, CAST(weight AS BIGINT) AS weight,
      |    h // weight AS priority, doc_id % 2 AS half FROM f),
      |ph AS (SELECT * FROM (SELECT *,
      |    row_number() OVER (PARTITION BY half ORDER BY priority, doc_id) AS hr
      |  FROM p) WHERE hr <= 100)
      |SELECT doc_id, source, weight, priority, half,
      |  CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS sample_rank
      |FROM ph ORDER BY priority, doc_id LIMIT 100""".stripMargin

  // --------------------------------------------- importance sampling
  /** Quality-weighted importance sampling: longer (more informative)
    * documents keep a higher deterministic acceptance rate —
    * accept_ppm = 200 000 + 800 000·min(tok,64)/64 in EXACT integer
    * arithmetic — and acceptance replays from a content hash
    * ("imp|"-salted polyHash mod 1e6 < accept_ppm), so the sample is
    * reproducible, join-free and decorrelated from both
    * [[sampleStratified]] ("smp|") and the train/val split. Each kept
    * row carries its inverse-propensity weight in integer ppm
    * (ipw_ppm = 1e12 div accept_ppm), which is what makes the thinned
    * corpus an unbiased estimator under reweighting.
    *
    * == Scale design ==
    * A single scan-side filter — no shuffle, no state, no reservoir;
    * the acceptance decision and the weight are per-row column
    * arithmetic inside whole-stage codegen, and the sample rate is
    * exact in expectation per quality stratum by construction.
    */
  def sampleImportance(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("imp|"), col("text")), 1000000007L)
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (h % 1000000L).as("draw"))
      .withColumn("accept_ppm",
        expr("200000 + (800000 * least(n_tokens, 64)) div 64"))
      .filter(col("draw") < col("accept_ppm"))
      .withColumn("ipw_ppm", expr("1000000000000 div accept_ppm"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_tokens"),
        col("accept_ppm"), col("ipw_ppm"))
      .orderBy(col("doc_id"))
  }

  val sampleImportanceSql: String =
    s"""WITH f AS (SELECT doc_id, source, lang,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    ${polyHashSql("'imp|' || text", 1000000007L)} % 1000000 AS draw
      |  FROM documents),
      |a AS (SELECT *, 200000 + (800000 * least(n_tokens, 64)) // 64 AS accept_ppm FROM f)
      |SELECT doc_id, source, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(accept_ppm AS BIGINT) AS accept_ppm,
      |  CAST(1000000000000 // accept_ppm AS BIGINT) AS ipw_ppm
      |FROM a WHERE draw < accept_ppm ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- DSIR selection
  /** DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023, the public hashed-n-gram recipe): rank every document by
    * the importance log-ratio log p_target/p_raw of its hashed word
    * features and keep the global top 40 %. The target distribution
    * is the quality-gated slice (the registered curation gate — the
    * stand-in for DSIR's formal-text target); raw is the whole
    * corpus. Words hash into B=128 buckets via the codegen'd
    * poly_hash ("dsir|"-salted, decorrelated from every other
    * sampler); each occurrence of bucket b contributes
    * [⌊log₂(Tr+B)⌋−⌊log₂(rc+1)⌋] − [⌊log₂(Tt+B)⌋−⌊log₂(tc+1)⌋]
    * bits (Laplace-smoothed, float-log-free integer skeleton of the
    * log-ratio), so every doc weight is an exact bigint and the
    * selection replays bit-for-bit cross-engine. Emitted: the
    * per-source admission ledger (docs, selected, exact ppm rate,
    * selected weight mass) — the report a mixture designer reads to
    * see WHICH sources the target distribution favors.
    *
    * == Scale design ==
    * ONE corpus text scan folds map-side onto the per-(doc, bucket)
    * count relation (≤128 rows per doc), stable-checkpointed; both
    * bucket marginals and the per-doc weight fold ride that compact
    * relation, with the 128-row smoothed-bits ledger broadcast back.
    * The global 40 % cut is [[Analytics.globalRowPos]]'s two-phase
    * range-partitioned rank — no single-task sort — and the cut
    * itself is the exact integer predicate 5·pos ≤ 2·n.
    */
  def sampleDsir(s: SparkSession, dir: String): DataFrame = {
    val B = 128L
    val h = polyHash(concat(lit("dsir|"), col("w")), 1000000007L)
    val dbc = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("source"), (h % B).as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("n"))
      .stableCheckpoint()
    val gate = TextOps.textQualityShared(s, dir)
      .filter(col("quality_score") >= 0.5).select(col("doc_id"))
    val rc = dbc.groupBy(col("b")).agg(sum(col("n")).as("rc"))
    val tc = dbc.join(gate, "doc_id")
      .groupBy(col("b")).agg(sum(col("n")).as("tc"))
    val rt = rc.agg(sum(col("rc")).as("tr"))
    val tt = tc.agg(sum(col("tc")).as("ttot"))
    val led = rc.join(tc, Seq("b"), "left_outer")
      .crossJoin(broadcast(rt)).crossJoin(broadcast(tt))
      .select(col("b"),
        ((length(bin(col("tr") + B)) - length(bin(col("rc") + 1)))
          - (length(bin(col("ttot") + B))
            - length(bin(coalesce(col("tc"), lit(0L)) + 1))))
          .cast("long").as("contrib"))
    val perDoc = dbc.join(broadcast(led), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n") * col("contrib")).as("w_bits"))
    Analytics.globalRowPos(perDoc, Seq.empty,
        Seq(col("w_bits").desc, col("doc_id")), "__pos", "__n")
      .withColumn("sel", col("__pos") * 5 <= col("__n") * 2)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("sel"), col("w_bits")).otherwise(0L)).as("sel_weight_bits"))
      .select(col("source"), col("n_docs"), col("n_selected"),
        expr("(1000000 * n_selected) div n_docs").as("selected_ppm"),
        col("sel_weight_bits"))
      .orderBy(col("source"))
  }

  /** DuckDB twin: the same poly_hash character fold ("dsir|" salt),
    * the shared quality CTE formula, and a row_number window for the
    * global 5·pos ≤ 2·n cut.
    */
  val sampleDsirSql: String =
    s"""WITH $qualityCte,
       |g AS (SELECT doc_id FROM q WHERE quality_score >= 0.5),
       |o AS (SELECT doc_id, source,
       |    ${polyHashSql("'dsir|' || w", 1000000007L)} % 128 AS b
       |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |        FROM documents)),
       |dbc AS (SELECT doc_id, source, b, count(*) AS n FROM o GROUP BY 1, 2, 3),
       |rc AS (SELECT b, CAST(sum(n) AS BIGINT) AS rc FROM dbc GROUP BY 1),
       |tc AS (SELECT dbc.b, CAST(sum(n) AS BIGINT) AS tc
       |  FROM dbc JOIN g USING (doc_id) GROUP BY 1),
       |rt AS (SELECT CAST(sum(rc) AS BIGINT) AS tr FROM rc),
       |tt AS (SELECT CAST(sum(tc) AS BIGINT) AS ttot FROM tc),
       |led AS (SELECT rc.b,
       |    CAST((length(bin(rt.tr + 128)) - length(bin(rc.rc + 1)))
       |      - (length(bin(tt.ttot + 128)) - length(bin(coalesce(tc.tc, 0) + 1))) AS BIGINT) AS contrib
       |  FROM rc LEFT JOIN tc ON rc.b = tc.b CROSS JOIN rt CROSS JOIN tt),
       |pd AS (SELECT dbc.doc_id, dbc.source,
       |    CAST(sum(dbc.n * led.contrib) AS BIGINT) AS w_bits
       |  FROM dbc JOIN led ON dbc.b = led.b GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (ORDER BY w_bits DESC, doc_id) AS pos,
       |    count(*) OVER () AS n FROM pd)
       |SELECT source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN pos * 5 <= n * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       |  CAST((1000000 * sum(CASE WHEN pos * 5 <= n * 2 THEN 1 ELSE 0 END)) // count(*) AS BIGINT) AS selected_ppm,
       |  CAST(sum(CASE WHEN pos * 5 <= n * 2 THEN w_bits ELSE 0 END) AS BIGINT) AS sel_weight_bits
       |FROM r GROUP BY 1 ORDER BY source""".stripMargin

  // ------------------------------------------- temperature sampling
  /** Temperature-flattened mixture sampling (the mT5/data-mixture
    * α=0.5 schedule): each source keeps docs with probability
    * ∝ n_g^(−1/2), so the EXPECTED sample per source is √n_g —
    * big sources are flattened toward the small ones instead of
    * swamping them. Unlike [[corpusMixture]] (which only REPORTS the
    * flattened weights), this op actually draws the sample, via the
    * same deterministic "tmp|"-salted content-hash Bernoulli as
    * [[sampleImportance]].
    *
    * √n_g is computed as an EXACT integer square root: the float
    * sqrt seed is corrected by ±1 against the integer squares, so no
    * correctly-rounded-at-k²±1 edge case can diverge between engines
    * (the failure mode the ADVICE ledger flagged on corpusMixture's
    * float normalizer — there is no float sum here at all).
    *
    * == Scale design ==
    * The group-size table is O(sources) and broadcast back; the
    * accept decision is per-row codegen'd column arithmetic on the
    * scan — no shuffle of the corpus, no reservoir state. Rates adapt
    * per-partition-free: a source growing 100× sees its rate fall 10×
    * with no re-tuning.
    */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("tmp|"), col("text")), 1000000007L)
    val docs = graft.sources.Tables.load(s, dir, "documents")
    val grp = docs.groupBy(col("source")).agg(count(lit(1)).as("n_group"))
      .withColumn("r0", expr("CAST(floor(sqrt(CAST(n_group AS DOUBLE))) AS BIGINT)"))
      .withColumn("isqrt", expr(
        "CASE WHEN r0*r0 > n_group THEN r0-1 " +
          "WHEN (r0+1)*(r0+1) <= n_group THEN r0+1 ELSE r0 END"))
      .select(col("source"), col("n_group"),
        expr("least(1000000L, (1000000 * isqrt) div n_group)").as("rate_ppm"))
    docs.join(broadcast(grp), "source")
      .withColumn("draw", h % 1000000L)
      .filter(col("draw") < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_group"), col("rate_ppm"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: identical ±1-corrected integer sqrt and hash
    * Bernoulli; every emitted column is an exact integer.
    */
  val sampleTemperatureSql: String =
    s"""WITH g AS (
      |  SELECT source, count(*) AS n_group,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS r0
      |  FROM documents GROUP BY source),
      |rates AS (
      |  SELECT source, n_group,
      |    least(1000000, (1000000 * (CASE WHEN r0*r0 > n_group THEN r0-1
      |      WHEN (r0+1)*(r0+1) <= n_group THEN r0+1 ELSE r0 END)) // n_group) AS rate_ppm
      |  FROM g)
      |SELECT d.doc_id, d.source, d.lang, r.n_group, r.rate_ppm
      |FROM documents d JOIN rates r ON r.source = d.source
      |WHERE ${polyHashSql("'tmp|' || d.text", 1000000007L)} % 1000000 < r.rate_ppm
      |ORDER BY d.doc_id""".stripMargin

  // --------------------------------------------------- chi-square cells
  /** Pearson χ² independence cells for the lang × source contingency
    * table — the "is my corpus mix confounded" diagnostic a curation
    * run consults before stratified sampling. Every cell emits its
    * observed count, expected count in integer micro-docs, and χ²
    * contribution in integer micro-units:
    * chi2_micro = 10⁶·(O·N − r·c)² / (N·r·c), computed entirely in
    * DECIMAL(38,0) / HUGEINT — the expected value never exists as a
    * float, and per-cell output means no cross-cell float summation
    * anywhere (the analyst sums exact integers). Exact while the full
    * numerator 10⁶·(O·N − r·c)² < 10³⁸ — i.e. |O·N − r·c| < 10¹⁶,
    * corpora to ~10⁸ docs (the 10⁶ micro factor eats six digits of the
    * 38-digit budget); past that the contract would move to a double
    * contribution per cell. Overflow behavior is ASYMMETRIC across
    * engines: Spark's non-ANSI decimal arithmetic NULLs the cell on
    * overflow while DuckDB's HUGEINT raises — so past the bound the
    * gate fails loudly (oracle error / hash mismatch) rather than
    * agreeing on wrong values.
    *
    * == Scale design ==
    * One corpus scan feeds the cell/row/column counts (all map-side
    * combinable); the O(langs) and O(sources) marginals and the 1-row
    * total broadcast back onto the O(cells) relation. Nothing beyond
    * the first grouped pass touches corpus-sized data.
    */
  def corpusChisq(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents").select(col("lang"), col("source"))
    val cell = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_obs"))
    val rt = d.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
    val ct = d.groupBy(col("source")).agg(count(lit(1)).as("ct"))
    val n = d.agg(count(lit(1)).as("n"))
    cell.join(broadcast(rt), "lang").join(broadcast(ct), "source")
      .crossJoin(broadcast(n))
      .select(col("lang"), col("source"), col("n_obs"),
        expr("CAST(rt AS DECIMAL(38,0)) * ct * 1000000 div n").as("expected_micro"),
        expr("1000000 * (CAST(n_obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)" +
          " * (CAST(n_obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct)" +
          " div (CAST(n AS DECIMAL(38,0)) * rt * ct)").as("chi2_micro"))
      .orderBy(col("lang"), col("source"))
  }

  val corpusChisqSql: String =
    """WITH d AS (SELECT lang, source FROM documents),
      |cell AS (SELECT lang, source, count(*) AS n_obs FROM d GROUP BY 1, 2),
      |r AS (SELECT lang, count(*) AS rt FROM d GROUP BY 1),
      |c AS (SELECT source, count(*) AS ct FROM d GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM d)
      |SELECT cell.lang, cell.source, n_obs,
      |  CAST((CAST(rt AS HUGEINT) * ct * 1000000) // n AS BIGINT) AS expected_micro,
      |  CAST((1000000 * (CAST(n_obs AS HUGEINT)*n - CAST(rt AS HUGEINT)*ct)
      |    * (CAST(n_obs AS HUGEINT)*n - CAST(rt AS HUGEINT)*ct))
      |    // (CAST(n AS HUGEINT) * rt * ct) AS BIGINT) AS chi2_micro
      |FROM cell JOIN r USING (lang) JOIN c USING (source) CROSS JOIN n
      |ORDER BY lang, source""".stripMargin

  // -------------------------------------- per-group fixed-k sample
  /** Exact-k uniform sample PER SOURCE, deterministic — the per-group
    * face of [[sampleUniformK]]: cap every source at k docs chosen by
    * a content-seeded hash order (the standard "at most N documents
    * per domain" curation rule, reproducible across runs). Groups
    * smaller than k keep everything.
    *
    * == Scale design ==
    * The same custom TopKPerGroup physical operator, now with a real
    * group key: per-partition k-item heaps PER GROUP flow into one
    * grouped merge — no per-group global sort, no window over the
    * whole corpus, per-task state O(groups_in_partition × k). The
    * "g|"-distinct hash salt decorrelates this cut from every other
    * sampler's.
    */
  def sampleGroupK(s: SparkSession, dir: String): DataFrame = {
    val K = 10
    val h = polyHash(concat(lit("grpk|"), col("text")), 1000000007L)
    val ranked = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), h.as("h"))
    graft.plans.GraftOps.topKPerGroup(ranked, Seq("source"),
        Seq("h" -> false, "doc_id" -> false), k = K, rankName = "sample_rank")
      .select(col("source"), col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("source"), col("sample_rank"))
  }

  val sampleGroupKSql: String =
    s"""WITH f AS (SELECT doc_id, lang, source,
      |  ${polyHashSql("'grpk|' || text", 1000000007L)} AS h
      |  FROM documents)
      |SELECT source, doc_id, lang,
      |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS sample_rank
      |FROM f
      |QUALIFY sample_rank <= 10
      |ORDER BY source, sample_rank""".stripMargin

  /** Quota sampling to a target mixture — the "data recipe" executor:
    * a global budget of [[QUOTA_N]] docs apportioned across sources by
    * the LARGEST-REMAINDER (Hamilton) method over
    * [[corpusMixture]]'s temperature weights (base = ⌊N·w⌋ seats,
    * leftover seats to the largest fractional remainders, source-name
    * tiebreak), each quota capped at the source's own doc count, then
    * filled by an exact deterministic per-source hash-order sample
    * ("quota|" salt, decorrelated from every other sampler's cut).
    * Apportionment is exact integer arithmetic on ppm weights — the
    * sole float (the mixture's √tok normalizer) reuses corpusMixture's
    * order-pinned fold, so both engines hold identical quotas.
    *
    * == Scale design ==
    * The quota ledger lives on the O(#sources) mixture relation (the
    * one tiny single-partition window is over sources, not the
    * corpus); selection is the same TopKPerGroup physical operator as
    * [[sampleGroupK]] — per-partition per-group heaps capped at
    * [[QUOTA_N]], one grouped merge, no corpus-wide sort — with the
    * per-source quota broadcast in for the final cut.
    */
  def sampleQuota(s: SparkSession, dir: String): DataFrame = {
    val N = QUOTA_N
    val q0 = corpusMixture(s, dir)
      .select(col("source"), col("n_docs"), col("weight_ppm"))
      .withColumn("base", expr(s"(weight_ppm * $N) div 1000000"))
      .withColumn("rem", expr(s"(weight_ppm * $N) % 1000000"))
    val tb = q0.agg(sum(col("base")).as("tb"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    val quotas = q0.crossJoin(broadcast(tb))
      .withColumn("rr", row_number().over(w))
      .withColumn("quota",
        least(col("base") + when(col("rr") <= lit(N) - col("tb"), 1L)
          .otherwise(0L), col("n_docs")))
      .select(col("source"), col("quota"))
    val h = polyHash(concat(lit("quota|"), col("text")), 1000000007L)
    val ranked = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), h.as("h"))
    graft.plans.GraftOps.topKPerGroup(ranked, Seq("source"),
        Seq("h" -> false, "doc_id" -> false), k = N.toInt,
        rankName = "sample_rank")
      .join(broadcast(quotas), "source")
      .filter(col("sample_rank") <= col("quota"))
      .select(col("source"), col("doc_id"), col("sample_rank"), col("quota"))
      .orderBy(col("source"), col("sample_rank"))
  }

  private val QUOTA_N = 100L

  val sampleQuotaSql: String =
    s"""WITH s AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_sum
      |  FROM documents GROUP BY source),
      |t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list(sqrt(CAST(tok_sum AS DOUBLE)) ORDER BY source)), (a,b) -> a+b) AS denom FROM s),
      |w AS (SELECT source, n_docs,
      |    CAST(floor(1e6 * sqrt(CAST(tok_sum AS DOUBLE)) / denom + 0.5) AS BIGINT) AS weight_ppm
      |  FROM s, t),
      |q0 AS (SELECT *, (weight_ppm * 100) // 1000000 AS base,
      |    (weight_ppm * 100) % 1000000 AS rem FROM w),
      |tb AS (SELECT sum(base) AS tb FROM q0),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr FROM q0),
      |q AS (SELECT source,
      |    least(base + CASE WHEN rr <= 100 - tb THEN 1 ELSE 0 END, n_docs) AS quota
      |  FROM r, tb),
      |f AS (SELECT doc_id, source,
      |  ${polyHashSql("'quota|' || text", 1000000007L)} AS h
      |  FROM documents),
      |rk AS (SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS sample_rank
      |  FROM f)
      |SELECT rk.source, rk.doc_id, rk.sample_rank, CAST(q.quota AS BIGINT) AS quota
      |FROM rk JOIN q USING (source)
      |WHERE sample_rank <= quota
      |ORDER BY source, sample_rank""".stripMargin

  /** Deterministic reproducible corpus shuffle — the epoch-ordering op
    * a training run needs before sharding: every doc gets a global
    * 1-based position under a salted content-independent hash order
    * ([[epochHash]] of epoch 0; an epoch-k shuffle changes the salt,
    * and the three digit-reversal rounds make the epochs genuinely
    * decorrelated — see [[epochHash]]). Replayable by construction —
    * re-running yields the same permutation, unlike rand()-ordered
    * shuffles whose seed is partition-layout-dependent.
    *
    * == Scale design ==
    * The position comes from [[Analytics.globalRowPos]] — the
    * two-phase range-partitioned rank (no partition key at all here:
    * the whole corpus is ONE ordered sequence, the case a bare
    * `Window.orderBy` would funnel into a single sort task). The
    * ranked relation is projected THIN first (doc_id + 8-byte hash —
    * never the text), so the checkpoint inside globalRowPos stores
    * ~16 bytes/doc regardless of document size: at 100 TB of text
    * that's a few hundred GB of positions, the same order as the
    * shuffle files any global sort would write.
    */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    corpusShuffleEpoch(0)(s, dir)

  /** Epoch-1 face: the SAME operator under the next salt in the
    * schedule. Registering it proves the epoch parameterization is
    * real — the spec asserts the two permutations are decorrelated
    * (rank correlation ≈ 0), which is exactly what "reshuffle every
    * epoch" must deliver; a salt that merely rotated positions would
    * correlate near 1 and train on a near-identical batch order.
    */
  def corpusShuffleE1(s: SparkSession, dir: String): DataFrame =
    corpusShuffleEpoch(1)(s, dir)

  /** The epoch-k corpus-order key. A BARE prefix salt is NOT enough:
    * poly_hash is a LINEAR rolling hash, so changing "shf0|"→"shf1|"
    * adds the constant 31^len(suffix) within every doc_id digit-length
    * class — measured rank correlation between such "epochs" is 1.0
    * (the permutations are identical up to rare wraparounds). The
    * nonlinearity poly_hash does have is DECIMAL DIGITIZATION: carries
    * in h+c scramble the digit string chaotically. But a polynomial
    * hash is barely sensitive to LOW-order digit changes (they enter
    * at 31^0..31^k), so each re-hash round REVERSES the digits first,
    * promoting the carry-scrambled low digits to the leading
    * coefficients. Three rounds measure at noise-level decorrelation
    * (|rho| < 0.07 across all pairs of epochs 0..5 at N=500, null
    * stddev 0.045); one round still leaks |rho| up to 0.36. Stateless
    * per epoch: any epoch replays on its own, out of order, on a grown
    * corpus, with no stored permutations.
    */
  private[operators] def epochHash(epoch: Int): Column = {
    val h0 = polyHash(concat(lit(s"shf$epoch|"), col("doc_id").cast("string")), 1000000007L)
    val h1 = polyHash(reverse(h0.cast("string")), 1000000007L)
    val h2 = polyHash(reverse(h1.cast("string")), 1000000007L)
    polyHash(reverse(h2.cast("string")), 1000000007L)
  }

  /** DuckDB twin of [[epochHash]]: the same three digit-reversal
    * rounds, textually nested. */
  private[operators] def epochHashSql(epoch: Int): String = {
    val h0 = polyHashSql(s"'shf$epoch|' || CAST(doc_id AS VARCHAR)", 1000000007L)
    val h1 = polyHashSql(s"reverse(CAST($h0 AS VARCHAR))", 1000000007L)
    val h2 = polyHashSql(s"reverse(CAST($h1 AS VARCHAR))", 1000000007L)
    polyHashSql(s"reverse(CAST($h2 AS VARCHAR))", 1000000007L)
  }

  private def corpusShuffleEpoch(epoch: Int)(s: SparkSession, dir: String): DataFrame = {
    val keyed = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), epochHash(epoch).as("hk"))
    Analytics.globalRowPos(keyed, Seq.empty,
        Seq(col("hk"), col("doc_id")), "shuffle_pos", "__n")
      .select(col("doc_id"), col("hk"), col("shuffle_pos"))
      .orderBy(col("shuffle_pos"))
  }

  /** DuckDB twin: the same salted fold hash, one ordered row_number. */
  private def corpusShuffleSqlEpoch(epoch: Int): String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(epoch)} AS hk
      |  FROM documents)
      |SELECT doc_id, hk, CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS shuffle_pos
      |FROM h ORDER BY shuffle_pos""".stripMargin

  val corpusShuffleSql: String = corpusShuffleSqlEpoch(0)
  val corpusShuffleE1Sql: String = corpusShuffleSqlEpoch(1)

  // ------------------------------------------------ source interleave
  /** Deterministic multi-source INTERLEAVE order (r14 wave 13) — the
    * balanced-reader key beside [[corpusShuffle]]'s global
    * permutation: within each source docs take a salted-hash rank
    * (one "il|" fold, a salt no other sampler uses), and the global
    * read key is (rank − 1)·k + source_index — strict round-robin
    * across the k sources, so ANY prefix of the order is per-source
    * balanced to ±1 while every source still has documents (the spec
    * pins the exact-balance prefix). This is the order a streaming
    * trainer reads when the source mixture must stay honest within
    * every batch, not just in expectation — a plain shuffle leaves
    * source runs whose length fluctuates with the corpus; an
    * interleave cannot. Exhausted sources leave key gaps by design:
    * the key is a SORT key, not a dense position ([[corpusUpsample]]
    * is the face that repairs imbalance before this one reads).
    *
    * == Scale design ==
    * Per-source ranks ride [[Analytics.globalRowPos]]'s range-
    * partitioned two-phase row position partitioned BY source — no
    * single-task sort, sources rank in parallel; the O(sources)
    * index ledger broadcasts; the output sort is the presentation
    * order every corpus-order key pays.
    */
  def corpusInterleave(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        polyHash(concat(lit("il|"), col("doc_id").cast("string")), 1000000007L).as("h"))
    val ranked = Analytics.globalRowPos(keyed, Seq("source"),
      Seq(col("h"), col("doc_id")), "src_pos", "__nsrc")
    val idx = keyed.select(col("source")).distinct()
      .withColumn("sidx",
        row_number().over(Window.orderBy(col("source"))).cast("long") - 1)
      .withColumn("k", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked.join(broadcast(idx), "source")
      .select(col("doc_id"), col("source"), col("src_pos"),
        ((col("src_pos") - 1) * col("k") + col("sidx") + 1).as("interleave_key"))
      .orderBy(col("interleave_key"))
  }

  /** DuckDB twin: the same salted fold, per-source row_number, and
    * round-robin key arithmetic. */
  val corpusInterleaveSql: String =
    s"""WITH h AS (SELECT doc_id, source,
       |    ${polyHashSql("'il|' || CAST(doc_id AS VARCHAR)", 1000000007L)} AS h
       |  FROM documents),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY h, doc_id) AS BIGINT) AS src_pos FROM h),
       |s AS (SELECT source,
       |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1 AS sidx,
       |    CAST(count(*) OVER () AS BIGINT) AS k
       |  FROM (SELECT DISTINCT source FROM documents))
       |SELECT r.doc_id, r.source, r.src_pos,
       |  (r.src_pos - 1) * s.k + s.sidx + 1 AS interleave_key
       |FROM r JOIN s ON s.source = r.source
       |ORDER BY interleave_key""".stripMargin

  // ------------------------------------------- rendezvous resharding
  /** Resharding-stability ledger (r14 wave 15) — the consistent-
    * hashing story told on real data: when a 100 TB corpus grows its
    * shard count 16 → 17, MODULAR assignment (doc_id mod n) moves
    * ~16/17 of every byte while RENDEZVOUS hashing (highest-random-
    * weight: shard = argmax over s of hash("hrw|s|doc")) moves only
    * the ~1/17 that the NEW shard wins — each method's ledger row
    * carries docs moved and exact-ppm moved share. Measured ≈ 941k
    * vs ≈ 59k ppm: the 16× reshuffle-traffic gap that decides how
    * training-data shards are addressed. HRW's argmax is tie-broken
    * (hash desc, shard asc) — a total order, so both engines assign
    * identically.
    *
    * == Scale design ==
    * One corpus scan fans each doc_id to the 17-row shard axis
    * (bounded ×17, map-side), the argmax collapses per doc in one
    * grouped struct-max (no window over the fan-out), and the ledger
    * is a 2-row map-side fold. No shuffle grows with the corpus
    * beyond the doc-keyed combine.
    */
  def corpusShardsRendezvous(s: SparkSession, dir: String): DataFrame = {
    // the [[epochHash]] discipline: a bare fold is LINEAR in the shard
    // digit (the label enters at a fixed power of 31, so the largest
    // label would win ~every argmax — measured 98% before the fix);
    // three digit-reversal re-folds scramble it to noise
    def scrambled(c: Column): Column = {
      val h0 = polyHash(c, 1000000007L)
      val h1 = polyHash(reverse(h0.cast("string")), 1000000007L)
      val h2 = polyHash(reverse(h1.cast("string")), 1000000007L)
      polyHash(reverse(h2.cast("string")), 1000000007L)
    }
    val axis = broadcast(s.range(0, 17).select(col("id").as("sh")))
    val hrw = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id")).crossJoin(axis)
      .select(col("doc_id"), col("sh"),
        scrambled(concat(lit("hrw|"), col("sh").cast("string"), lit("|"),
          col("doc_id").cast("string"))).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("sh") < 16, struct(col("h"), (-col("sh")).as("ns")))).as("a16"),
        max(struct(col("h"), (-col("sh")).as("ns"))).as("a17"))
      .select(col("doc_id"), (-col("a16.ns")).as("r16"), (-col("a17.ns")).as("r17"))
    val ledger = hrw.select(
        lit("rendezvous").as("method"),
        (col("r16") =!= col("r17")).cast("long").as("moved"))
      .unionByName(hrw.select(lit("modular").as("method"),
        (pmod(col("doc_id"), lit(16)) =!= pmod(col("doc_id"), lit(17)))
          .cast("long").as("moved")))
    ledger.groupBy(col("method"))
      .agg(count(lit(1)).as("n_docs"), sum(col("moved")).as("n_moved"))
      .select(col("method"), col("n_docs"), col("n_moved"),
        expr("n_moved * 1000000 div n_docs").as("moved_ppm"))
      .orderBy(col("method"))
  }

  /** DuckDB twin: the same HRW fold over the 17-row axis, struct
    * arg-max via a per-doc rank, modular comparison inline. */
  val corpusShardsRendezvousSql: String = {
    val h0 = polyHashSql("'hrw|' || CAST(sh AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)", 1000000007L)
    val h1 = polyHashSql(s"reverse(CAST($h0 AS VARCHAR))", 1000000007L)
    val h2 = polyHashSql(s"reverse(CAST($h1 AS VARCHAR))", 1000000007L)
    val h3 = polyHashSql(s"reverse(CAST($h2 AS VARCHAR))", 1000000007L)
    s"""WITH ax AS (SELECT unnest(range(0, 17)) AS sh),
       |x AS (SELECT doc_id, sh, $h3 AS h
       |  FROM documents CROSS JOIN ax),
       |r17 AS (SELECT doc_id, sh AS r17 FROM
       |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, sh) AS rn
       |   FROM x) WHERE rn = 1),
       |r16 AS (SELECT doc_id, sh AS r16 FROM
       |  (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, sh) AS rn
       |   FROM x WHERE sh < 16) WHERE rn = 1),
       |led AS (
       |  SELECT 'rendezvous' AS method,
       |    CASE WHEN r16.r16 <> r17.r17 THEN 1 ELSE 0 END AS moved
       |  FROM r16 JOIN r17 USING (doc_id)
       |  UNION ALL
       |  SELECT 'modular',
       |    CASE WHEN doc_id % 16 <> doc_id % 17 THEN 1 ELSE 0 END
       |  FROM documents)
       |SELECT method, count(*) AS n_docs,
       |  CAST(sum(moved) AS BIGINT) AS n_moved,
       |  CAST(sum(moved) AS BIGINT) * 1000000 // count(*) AS moved_ppm
       |FROM led GROUP BY method ORDER BY method""".stripMargin
  }

  /** Grown-corpus shuffle stability — the registered face of the r12
    * spec pin: the epoch order REPLAYED after the corpus gains
    * documents. "Before" is the even-doc_id half of the corpus,
    * "after" is the full corpus (the appended docs are the odd ids;
    * because [[epochHash]] is a pure function of doc_id, where the
    * new ids fall in id-space is irrelevant to the order). Each
    * surviving doc carries its position in both orders; the map is
    * MONOTONE — growth can only interleave new docs, never reorder
    * existing ones — which is what lets a resumed training run keep
    * every previously-assigned relative position on a live corpus.
    * (A rand()-ordered shuffle re-deals everything on every append.)
    *
    * == Scale design ==
    * Two thin (doc_id, hash) rank passes — the same two-phase
    * range-partitioned [[Analytics.globalRowPos]] as corpus_shuffle,
    * text never shuffles — then one hash join of the two position
    * relations (~16 bytes/doc each side) on doc_id.
    */
  def corpusShuffleGrown(s: SparkSession, dir: String): DataFrame = {
    val before = graft.sources.Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), epochHash(0).as("hk"))
    val posBefore = Analytics.globalRowPos(before, Seq.empty,
        Seq(col("hk"), col("doc_id")), "pos_before", "__n")
      .select(col("doc_id"), col("pos_before"))
    val posAfter = corpusShuffle(s, dir)
      .select(col("doc_id"), col("shuffle_pos").as("pos_after"))
    posBefore.join(posAfter, "doc_id")
      .select(col("doc_id"), col("pos_before"), col("pos_after"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin: one hash CTE, two row_number ranks (filtered /
    * full), joined on doc_id. */
  val corpusShuffleGrownSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(0)} AS hk FROM documents),
      |b AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS pos_before
      |  FROM h WHERE doc_id % 2 = 0),
      |a AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS pos_after
      |  FROM h)
      |SELECT doc_id, pos_before, pos_after
      |FROM b JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Epoch shard manifest over the [[corpusShuffle]] order: the
    * shuffled corpus cut into 16 contiguous position ranges, each
    * shard reporting its doc count, summed whitespace tokens, and
    * position bounds — the work-list a training run hands its data
    * loaders (shard k = one reader's slice of epoch 0). Same salt as
    * corpus_shuffle, so the manifest describes exactly that
    * permutation.
    *
    * == Scale design ==
    * Same thin (doc_id, hash, token-count) projection through the
    * two-phase rank — the token count rides the rank's checkpoint as
    * one extra long, text never shuffles. Shard id is pure arithmetic
    * on (position, total): `(pos−1)·16 div N` yields contiguous
    * ±1-balanced ranges with no extra pass; the manifest aggregate is
    * 16 rows via one map-side-combinable groupBy.
    */
  def corpusShards(s: SparkSession, dir: String): DataFrame = {
    val keyed = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), epochHash(0).as("hk"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    Analytics.globalRowPos(keyed, Seq.empty,
        Seq(col("hk"), col("doc_id")), "pos", "__n")
      // non-negative operands: truncating div ≡ DuckDB's floor //
      .withColumn("shard", expr("(pos - 1) * 16 div `__n`"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
      .orderBy(col("shard"))
  }

  /** DuckDB twin: same hash order, one windowed position + count. */
  val corpusShardsSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(0)} AS hk,
      |  len(string_split(text, ' ')) AS tok
      |  FROM documents),
      |p AS (SELECT doc_id, tok, row_number() OVER (ORDER BY hk, doc_id) AS pos,
      |  count(*) OVER () AS n FROM h)
      |SELECT (pos - 1) * 16 // n AS shard, count(*) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens,
      |  CAST(min(pos) AS BIGINT) AS first_pos, CAST(max(pos) AS BIGINT) AS last_pos
      |FROM p GROUP BY 1 ORDER BY shard""".stripMargin

  /** Shard-balance audit — the straggler check a training launch runs
    * over the [[corpusShards]] manifest: shards are equal in DOC count
    * by construction (range split of the hash order), but the step
    * time of a data-parallel epoch is gated by the heaviest shard's
    * TOKEN mass, so the audit reports each shard's signed ppm
    * deviation from the mean token load and flags stragglers more
    * than 5% over it. All exact integer arithmetic on the O(shards)
    * manifest relation.
    */
  def corpusShardSkew(s: SparkSession, dir: String): DataFrame = {
    val shards = corpusShards(s, dir).select(col("shard"), col("n_tokens"))
    val mean = shards.agg(expr("sum(n_tokens) div count(1)").as("mean_tokens"))
    shards.crossJoin(broadcast(mean))
      .select(col("shard"), col("n_tokens"), col("mean_tokens"),
        expr("1000000 * (n_tokens - mean_tokens) div mean_tokens").as("dev_ppm"),
        (col("n_tokens") * 1000000L > col("mean_tokens") * 1050000L)
          .as("straggler"))
      .orderBy(col("shard"))
  }

  val corpusShardSkewSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(0)} AS hk,
      |  len(string_split(text, ' ')) AS tok
      |  FROM documents),
      |p AS (SELECT doc_id, tok, row_number() OVER (ORDER BY hk, doc_id) AS pos,
      |  count(*) OVER () AS n FROM h),
      |sh AS (SELECT (pos - 1) * 16 // n AS shard,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens FROM p GROUP BY 1),
      |m AS (SELECT CAST(sum(n_tokens) AS BIGINT) // count(*) AS mean_tokens FROM sh)
      |SELECT shard, n_tokens, mean_tokens,
      |  CAST(1000000 * (n_tokens - mean_tokens) // mean_tokens AS BIGINT) AS dev_ppm,
      |  n_tokens * 1000000 > mean_tokens * 1050000 AS straggler
      |FROM sh CROSS JOIN m ORDER BY shard""".stripMargin

  /** The shard CONSUMER's read path — what one data loader actually
    * executes given the [[corpusShards]] manifest: resolve its shard's
    * position range over the thin rank relation, then fetch the
    * payload for exactly those docs with a doc_id equi-join back into
    * the corpus. Registered over shard 5 of 16 (an interior shard —
    * both range endpoints are cut by the manifest arithmetic, not the
    * corpus bounds). Emits the loader's feed: epoch position, doc id,
    * language, token count, in position order.
    *
    * == Scale design ==
    * The TEXT-CARRYING corpus scan is touched exactly once, AFTER the
    * 1/16 shard filter — the rank side reads only (doc_id, hash), so
    * at 100 TB the rank's checkpoint stays ~16 bytes/doc and the
    * payload I/O is proportional to the SHARD, not the corpus
    * (plan-asserted: one parquet scan of documents in the executed
    * plan; the rank side scans the already-materialized checkpoint
    * RDD). The join is a doc_id equi-join — shard-sized ⋈ corpus,
    * shuffle-partitioned on the id, no broadcast assumption needed.
    */
  def corpusShardRead(s: SparkSession, dir: String): DataFrame = {
    val SHARD = 5L
    val keyed = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), epochHash(0).as("hk"))
    val ranked = Analytics.globalRowPos(keyed, Seq.empty,
        Seq(col("hk"), col("doc_id")), "shuffle_pos", "__n")
      .filter(expr("(shuffle_pos - 1) * 16 div `__n`") === SHARD)
      .select(col("doc_id"), col("shuffle_pos"))
    val payload = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    ranked.join(payload, "doc_id")
      .select(col("shuffle_pos"), col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy(col("shuffle_pos"))
  }

  /** DuckDB twin: same hash order, shard arithmetic, and join-back. */
  val corpusShardReadSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(0)} AS hk FROM documents),
      |p AS (SELECT doc_id, row_number() OVER (ORDER BY hk, doc_id) AS pos,
      |  count(*) OVER () AS n FROM h),
      |sh AS (SELECT doc_id, CAST(pos AS BIGINT) AS shuffle_pos FROM p
      |  WHERE (pos - 1) * 16 // n = 5)
      |SELECT sh.shuffle_pos, d.doc_id, d.lang,
      |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      |FROM sh JOIN documents d USING (doc_id)
      |ORDER BY shuffle_pos""".stripMargin

  /** Packing-efficiency ledger: for each candidate context width
    * (512/1024/2048/4096 tokens), the corpus token mass, the window
    * count under PADDED loading (each doc rounded up to whole
    * windows — the no-packing baseline) with its exact integer-ppm
    * fill ratio, and the window count under DENSE packing (the
    * [[packShuffled]] consumer) — the measurement that justifies
    * running a packer at all, and the width-selection input a
    * pretraining config needs. All integer arithmetic (`div`,
    * DECIMAL(38,0) for the ppm product), bit-exact cross-engine.
    *
    * == Scale design ==
    * One corpus scan; each doc contributes 4 (width, tokens) rows to a
    * map-side-combinable 4-group aggregate — O(widths) state, no
    * shuffle beyond the 4-row exchange, no window anywhere.
    */
  def packEfficiency(s: SparkSession, dir: String): DataFrame = {
    val widths = array(Seq(512, 1024, 2048, 4096).map(w => lit(w.toLong)): _*)
    graft.sources.Tables.load(s, dir, "documents")
      .select(size(split(col("text"), " ")).cast("long").as("tok"))
      .select(explode(widths).as("window_tokens"), col("tok"))
      .groupBy(col("window_tokens"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("corpus_tokens"),
        sum(expr("(tok + window_tokens - 1) div window_tokens")).as("padded_windows"))
      .select(col("window_tokens"), col("n_docs"), col("corpus_tokens"),
        col("padded_windows"),
        expr("CAST(1000000 * CAST(corpus_tokens AS DECIMAL(38,0)) div (CAST(padded_windows AS DECIMAL(38,0)) * window_tokens) AS BIGINT)")
          .as("padded_fill_ppm"),
        expr("(corpus_tokens + window_tokens - 1) div window_tokens").as("packed_windows"))
      .orderBy(col("window_tokens"))
  }

  val packEfficiencySql: String =
    """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents),
      |x AS (SELECT w.window_tokens, d.tok FROM d
      |  CROSS JOIN (SELECT unnest([512, 1024, 2048, 4096]) AS window_tokens) w),
      |g AS (SELECT window_tokens, count(*) AS n_docs,
      |    CAST(sum(tok) AS BIGINT) AS corpus_tokens,
      |    CAST(sum((tok + window_tokens - 1) // window_tokens) AS BIGINT) AS padded_windows
      |  FROM x GROUP BY window_tokens)
      |SELECT CAST(window_tokens AS BIGINT) AS window_tokens, n_docs, corpus_tokens, padded_windows,
      |  CAST(1000000 * CAST(corpus_tokens AS HUGEINT) // (CAST(padded_windows AS HUGEINT) * window_tokens) AS BIGINT) AS padded_fill_ppm,
      |  (corpus_tokens + window_tokens - 1) // window_tokens AS packed_windows
      |FROM g ORDER BY window_tokens""".stripMargin

  /** Cross-epoch shard mixing matrix — the operational proof that the
    * [[epochHash]] schedule actually re-deals the data loaders' hands:
    * every (epoch-0 shard, epoch-1 shard) cell with its doc count.
    * Decorrelated epochs spread each epoch-0 shard's docs ~uniformly
    * across all 16 epoch-1 shards (cells ≈ N/256); the r11 broken
    * salt would have put the whole diagonal at N/16 and zero
    * elsewhere. The curve-style companion to the spec's rank
    * correlation: the mixing is now an oracle-checked artifact.
    *
    * == Scale design ==
    * Both epoch positions ride the SAME thin (doc_id, h0, h1)
    * projection through two chained two-phase ranks — the second rank
    * re-ranges the first's output, so text never shuffles and no join
    * reunites the epochs; the 256-cell aggregate is map-side
    * combinable.
    */
  def corpusEpochMix(s: SparkSession, dir: String): DataFrame = {
    val keyed = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), epochHash(0).as("h0"), epochHash(1).as("h1"))
    val r0 = Analytics.globalRowPos(keyed, Seq.empty,
      Seq(col("h0"), col("doc_id")), "p0", "__n0")
    val r1 = Analytics.globalRowPos(r0, Seq.empty,
      Seq(col("h1"), col("doc_id")), "p1", "__n1")
    r1.select(expr("(p0 - 1) * 16 div `__n0`").as("shard_e0"),
        expr("(p1 - 1) * 16 div `__n1`").as("shard_e1"))
      .groupBy(col("shard_e0"), col("shard_e1"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("shard_e0"), col("shard_e1"))
  }

  val corpusEpochMixSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(0)} AS h0, ${epochHashSql(1)} AS h1
      |  FROM documents),
      |p AS (SELECT doc_id,
      |  row_number() OVER (ORDER BY h0, doc_id) AS p0,
      |  row_number() OVER (ORDER BY h1, doc_id) AS p1,
      |  count(*) OVER () AS n FROM h)
      |SELECT (p0 - 1) * 16 // n AS shard_e0, (p1 - 1) * 16 // n AS shard_e1,
      |  count(*) AS n_docs
      |FROM p GROUP BY 1, 2 ORDER BY shard_e0, shard_e1""".stripMargin

  /** Sequence packing in EPOCH order — the packing a pretraining run
    * actually performs: [[packSequential]] chunks the corpus in doc_id
    * order, but the data loader consumes documents in the
    * [[corpusShuffle]] permutation, so the 2048-token context windows
    * must be laid over `shuffle_pos` order. This face composes the two
    * registered operators: the salted-hash global position supplies
    * the epoch order, the two-pass bucket prefix-sum supplies the
    * token offsets — each doc's window (bin) is where its first token
    * lands in the SHUFFLED concatenation.
    *
    * == Scale design ==
    * The epoch position already arrives from [[Analytics.globalRowPos]]
    * on a THIN (doc_id, hash, token-count) projection — text never
    * shuffles. The prefix sum then buckets by `(pos−1) div 64`:
    * positions are dense 1..N by construction, so the buckets are
    * EXACTLY 64-row balanced (better than packSequential's doc_id
    * buckets, which lean on id density); the intra-bucket cumsum is a
    * window partitioned by bucket, and only the O(N/64) bucket totals
    * take an unpartitioned window before broadcasting back — no
    * corpus-wide sort anywhere beyond the rank's own range exchange.
    */
  def packShuffled(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), epochHash(0).as("hk"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // stable-checkpoint the ranked relation: BOTH prefix-sum legs (the
    // intra-bucket cumsum and the bucket totals) consume it, and
    // without the pin each branch would replay the whole post-rank
    // pipeline — the slice-local sort AND the ledger join — doubling
    // the rank cost (caught in the r12 plan audit: two full Window +
    // ledger subtrees under one join). The pinned relation is thin
    // (doc_id, n_tokens, pos, bkt ~ 32 bytes/doc), same footprint
    // class as the rank's own internal checkpoint.
    val pos = Analytics.globalRowPos(keyed, Seq.empty,
        Seq(col("hk"), col("doc_id")), "shuffle_pos", "__n")
      .withColumn("bkt", expr("(shuffle_pos - 1) div 64"))
      .stableCheckpoint()
    val intra = Window.partitionBy(col("bkt")).orderBy(col("shuffle_pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = pos.withColumn("cum_in", sum(col("n_tokens")).over(intra))
    val bktTotals = pos.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bt"))
    val over = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bktTotals
      .withColumn("bp", coalesce(sum(col("bt")).over(over), lit(0L)))
      .select(col("bkt"), col("bp"))
    cum.join(broadcast(prefixes), "bkt")
      .select(col("doc_id"), col("shuffle_pos"), col("n_tokens"),
        (col("bp") + col("cum_in") - col("n_tokens")).as("tok_offset"))
      .withColumn("bin_id", expr("tok_offset div 2048"))
      .orderBy(col("shuffle_pos"))
  }

  /** DuckDB twin: hash order, one running sum over that order. */
  val packShuffledSql: String =
    s"""WITH h AS (SELECT doc_id, ${epochHashSql(0)} AS hk,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |p AS (SELECT doc_id, n_tokens,
      |  CAST(row_number() OVER (ORDER BY hk, doc_id) AS BIGINT) AS shuffle_pos FROM h),
      |c AS (SELECT doc_id, shuffle_pos, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY shuffle_pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS tok_offset
      |  FROM p)
      |SELECT doc_id, shuffle_pos, n_tokens, tok_offset, tok_offset // 2048 AS bin_id
      |FROM c ORDER BY shuffle_pos""".stripMargin

  // ---------------------------------------------- quality-gate sweep
  /** Quality-threshold sweep — the gate-SETTING decision tool beside
    * [[pipelineCurate]]'s fixed 0.5 cut: for every candidate cutoff
    * 0.0, 0.1 … 0.9, how many documents and tokens survive, and what
    * fraction of the corpus that retains (exact integer ppm). A
    * curation run reads this curve to pick the quality bar — the
    * token column is the one that matters (dropping 40% of docs may
    * cost 10% of tokens, or 60%).
    *
    * == Scale design ==
    * ONE corpus scan folds each doc onto its score DECILE (the same
    * [[TextOps.textQuality]] formula, floor(score·10) clamped to 9 —
    * O(11) keys, map-side combinable); the curve is a reverse
    * cumulative over that tiny bucket relation against the 10-row
    * threshold grid. No per-threshold corpus pass, no fan-out.
    */
  def corpusQualityCurve(s: SparkSession, dir: String): DataFrame = {
    val q = TextOps.textQualityShared(s, dir)
      .select(least(floor(col("quality_score") * 10), lit(9)).cast("long").as("bucket"),
        col("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val tot = q.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("n_tokens")).as("tot_tokens"))
    val grid = s.range(10).toDF("thr")
    grid.join(q, col("bucket") >= col("thr"))
      .groupBy(col("thr"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("thr"), (col("thr") * 100000L).as("cutoff_ppm"),
        col("n_docs"), col("n_tokens"),
        expr("1000000 * n_docs div tot_docs").as("docs_retained_ppm"),
        expr("1000000 * n_tokens div tot_tokens").as("tokens_retained_ppm"))
      .orderBy(col("thr"))
  }

  /** DuckDB twin: the SHARED quality CTE, same decile fold, same
    * reverse cumulative. */
  val corpusQualityCurveSql: String =
    s"""WITH $qualityCte,
       |b AS (SELECT least(CAST(floor(quality_score * 10) AS BIGINT), 9) AS bucket,
       |    count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |  FROM q GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM b),
       |g AS (SELECT unnest(range(0, 10)) AS thr)
       |SELECT g.thr, g.thr * 100000 AS cutoff_ppm,
       |  CAST(sum(b.n_docs) AS BIGINT) AS n_docs,
       |  CAST(sum(b.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(1000000 * sum(b.n_docs) // tot_docs AS BIGINT) AS docs_retained_ppm,
       |  CAST(1000000 * sum(b.n_tokens) // tot_tokens AS BIGINT) AS tokens_retained_ppm
       |FROM g JOIN b ON b.bucket >= g.thr CROSS JOIN tot
       |GROUP BY g.thr, tot_docs, tot_tokens
       |ORDER BY g.thr""".stripMargin

  // ------------------------------------------- bootstrap uncertainty
  /** Poisson-bootstrap confidence interval for the quality-gate pass
    * rate (r14 wave 16) — the UNCERTAINTY face of the gate every other
    * curation key treats as a point estimate. The point of the
    * technique: classical resampling-with-replacement needs a global
    * shuffle per replicate, but drawing each row's replicate
    * multiplicity from Poisson(1) (the B→∞ limit of the binomial
    * resample count) makes all B = 64 replicates ONE stateless
    * map-side pass — the standard distributed bootstrap. Replicate
    * weights are DETERMINISTIC: the inverse Poisson(1) CDF (fixed ppm
    * thresholds 367879 / 735758 / 919698 / 981011 / 996340 / 999405 /
    * 999916, capped at 7) applied to a "boot" salted three-round
    * digit-reversal scramble hash of (replicate, doc_id) — the
    * [[epochHash]] discipline, because a bare poly-fold is barely
    * sensitive to the low-order replicate digits. CI = the percentile
    * bootstrap at the exact ⌈α(B+1)⌉ order statistics (α ≈ 0.025 →
    * ranks 2 and 63 of the 64 sorted replicate rates).
    *
    * == Scale design ==
    * The corpus is scanned ONCE into the checkpointed (doc, pass)
    * relation; the ×64 fan-out is an explode that partial-aggregates
    * map-side to 64 groups before any exchange (the weight, not the
    * row, is what varies per replicate). Everything downstream — the
    * rank window (expected single-partition warning: 64 rows) and the
    * CI join — runs on O(B) rows. At 100 TB: one scan, one 64-row
    * shuffle.
    */
  def mlBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pass = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"),
        (col("quality_score") >= 0.5).cast("long").as("pass"))
      .stableCheckpoint()
    val point = pass.agg(
      count(lit(1)).as("n_docs"),
      expr("1000000 * sum(pass) div count(1)").as("point_ppm"))
    val h0 = polyHash(concat(lit("boot"), col("rep").cast("string"),
      lit("|"), col("doc_id").cast("string")), 1000000007L)
    val h1 = polyHash(reverse(h0.cast("string")), 1000000007L)
    val h2 = polyHash(reverse(h1.cast("string")), 1000000007L)
    val u = polyHash(reverse(h2.cast("string")), 1000000007L) % 1000000L
    val rates = pass
      .select(col("doc_id"), col("pass"),
        explode(sequence(lit(0L), lit(63L))).as("rep"))
      .withColumn("u", u)
      .withColumn("w",
        when(col("u") < 367879L, 0L).when(col("u") < 735758L, 1L)
          .when(col("u") < 919698L, 2L).when(col("u") < 981011L, 3L)
          .when(col("u") < 996340L, 4L).when(col("u") < 999405L, 5L)
          .when(col("u") < 999916L, 6L).otherwise(7L))
      .groupBy(col("rep"))
      .agg(sum(col("w")).as("tot"),
        sum(col("w") * col("pass")).as("passw"))
      .select(col("rep"), expr(
        "CASE WHEN tot = 0 THEN 0 ELSE (1000000 * passw) div tot END")
        .as("rate_ppm"))
    val rk = row_number().over(Window.orderBy(col("rate_ppm"), col("rep")))
    val ci = rates.withColumn("rk", rk)
      .filter(col("rk") === 2 || col("rk") === 63)
      .agg(max(when(col("rk") === 2, col("rate_ppm"))).as("lo_ppm"),
        max(when(col("rk") === 63, col("rate_ppm"))).as("hi_ppm"))
    point.crossJoin(broadcast(ci))
      .select(col("n_docs"), lit(64L).as("b_replicates"),
        col("point_ppm"), col("lo_ppm"), col("hi_ppm"),
        (col("hi_ppm") - col("lo_ppm")).as("width_ppm"))
  }

  /** DuckDB twin: the SHARED quality CTE, same scrambled weight hash,
    * same inverse-CDF thresholds, same rank-2/63 percentile CI. */
  val mlBootstrapCiSql: String = {
    val b0 = polyHashSql("'boot' || CAST(rep AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)", 1000000007L)
    val b1 = polyHashSql(s"reverse(CAST($b0 AS VARCHAR))", 1000000007L)
    val b2 = polyHashSql(s"reverse(CAST($b1 AS VARCHAR))", 1000000007L)
    val b3 = polyHashSql(s"reverse(CAST($b2 AS VARCHAR))", 1000000007L)
    s"""WITH $qualityCte,
       |p AS (SELECT doc_id,
       |    CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS pass FROM q),
       |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    (1000000 * CAST(sum(pass) AS BIGINT)) // count(*) AS point_ppm FROM p),
       |r AS (SELECT doc_id, pass, unnest(range(0, 64)) AS rep FROM p),
       |w AS (SELECT rep, pass,
       |    CASE WHEN $b3 % 1000000 < 367879 THEN 0
       |         WHEN $b3 % 1000000 < 735758 THEN 1
       |         WHEN $b3 % 1000000 < 919698 THEN 2
       |         WHEN $b3 % 1000000 < 981011 THEN 3
       |         WHEN $b3 % 1000000 < 996340 THEN 4
       |         WHEN $b3 % 1000000 < 999405 THEN 5
       |         WHEN $b3 % 1000000 < 999916 THEN 6
       |         ELSE 7 END AS w
       |  FROM r),
       |g AS (SELECT rep, CAST(sum(w) AS BIGINT) AS tot,
       |    CAST(sum(w * pass) AS BIGINT) AS passw FROM w GROUP BY rep),
       |rt AS (SELECT rep, CASE WHEN tot = 0 THEN 0
       |    ELSE (1000000 * passw) // tot END AS rate_ppm FROM g),
       |rk AS (SELECT *, row_number() OVER (ORDER BY rate_ppm, rep) AS rk FROM rt),
       |ci AS (SELECT max(CASE WHEN rk = 2 THEN rate_ppm END) AS lo_ppm,
       |    max(CASE WHEN rk = 63 THEN rate_ppm END) AS hi_ppm FROM rk)
       |SELECT n_docs, CAST(64 AS BIGINT) AS b_replicates, point_ppm,
       |  lo_ppm, hi_ppm, hi_ppm - lo_ppm AS width_ppm
       |FROM pt CROSS JOIN ci""".stripMargin
  }

  // --------------------------------------------- budgeted selection
  /** Token-budget selection (r14, the curation question
    * [[corpusQualityCurve]] informs, EXECUTED: "spend a B-token budget
    * on the best docs"): rank the corpus best-quality-first at
    * milli-score granularity (integer quantization makes the ORDER
    * bit-stable cross-engine — the decile curve's move, one decimal
    * finer), take docs while the running token total stays under
    * B = half the corpus mass (corpus-derived, so the face needs no
    * budget fixture), and emit the per-decile selection ledger — how
    * deep into each quality band the budget reaches is THE readout a
    * data-mixing run records.
    *
    * == Scale design ==
    * No single-task global sort: the running total is the
    * [[packSubword]] two-phase prefix sum keyed by the 1000-bucket
    * milli-score (intra-bucket windows 1000-way parallel, the
    * bucket-total prefix is an O(1000)-row broadcast). The ledger is
    * a map-side rollup onto 10 decile keys.
    */
  def corpusTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"), col("n_tokens"),
        least(floor(col("quality_score") * 1000), lit(999)).cast("long").as("mb"))
    val tot = d.agg((sum(col("n_tokens")) / 2).cast("long").as("budget"))
    val intra = Window.partitionBy(col("mb"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.withColumn("cum_in", sum(col("n_tokens")).over(intra))
    val bktTotals = d.groupBy(col("mb")).agg(sum(col("n_tokens")).as("bt"))
    // prefix = token mass in STRICTLY BETTER buckets (mb desc order)
    val over = Window.orderBy(col("mb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bktTotals
      .withColumn("bp", coalesce(sum(col("bt")).over(over), lit(0L)))
      .select(col("mb"), col("bp"))
    cum.join(broadcast(prefixes), Seq("mb"))
      .crossJoin(broadcast(tot))
      .withColumn("sel", col("bp") + col("cum_in") - col("n_tokens") < col("budget"))
      .groupBy(expr("mb div 100").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_docs_sel"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("sel"), col("n_tokens")).otherwise(0L)).as("n_tokens_sel"))
      .select(col("decile"), col("n_docs"), col("n_docs_sel"),
        col("n_tokens"), col("n_tokens_sel"),
        expr("1000000 * n_tokens_sel div n_tokens").as("sel_tokens_ppm"))
      .orderBy(col("decile"))
  }

  /** DuckDB twin: the shared quality CTE, one global ordered cumsum
    * (the oracle replays semantics, not the distributed prefix). */
  val corpusTokenBudgetSql: String =
    s"""WITH $qualityCte,
       |d AS (SELECT doc_id, n_tokens,
       |    least(CAST(floor(quality_score * 1000) AS BIGINT), 999) AS mb
       |  FROM q),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget FROM d),
       |c AS (SELECT *,
       |    CAST(sum(n_tokens) OVER (ORDER BY mb DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS cum_before
       |  FROM d)
       |SELECT mb // 100 AS decile, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN cum_before < budget THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_sel,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN cum_before < budget THEN n_tokens ELSE 0 END) AS BIGINT) AS n_tokens_sel,
       |  1000000 * CAST(sum(CASE WHEN cum_before < budget THEN n_tokens ELSE 0 END) AS BIGINT) // CAST(sum(n_tokens) AS BIGINT) AS sel_tokens_ppm
       |FROM c CROSS JOIN tot
       |GROUP BY 1 ORDER BY decile""".stripMargin

  // ------------------------------------- end-to-end pretraining build
  /** The engine's `main()`: the COMPOSED production DAG a pretraining
    * data build runs, wired end to end from the verified stage
    * operators and emitting the final per-shard training-data ledger.
    * Stages (each one's registered face is the contract):
    *
    *   1. quality gate — [[TextOps.textQuality]]'s score ≥ 0.5 filter;
    *   2. per-cluster exemplar drop — [[pipelineCurateCluster]]'s
    *      policy: every non-representative member of a verified
    *      near-dup component ([[Dedup.dedupComponents]]) is dropped;
    *   3. dedup-aware TRAIN split — [[splitDedupAware]]'s rule. The
    *      survivors of stage 2 are exactly the component
    *      representatives and the singletons, for whom the effective
    *      bucket IS their own content-hash bucket (the representative
    *      of a component is the doc the rep-bucket rule points at), so
    *      the whole-component guarantee costs one `< 90` filter here;
    *   4. subword mass — [[packSubword]]'s measure: each surviving
    *      doc's length in trained-BPE subwords (the broadcast-joined
    *      memoized segment table), the unit the model actually trains
    *      on;
    *   5. epoch-0 shuffle — [[corpusShuffle]]'s decorrelated hash rank
    *      over the SURVIVORS (the production order: shuffle what you
    *      train on, not the raw corpus);
    *   6. context-window packing — the two-phase prefix sum streams
    *      the shuffled survivors into 2048-subword windows;
    *   7. shard manifest + skew gate — [[corpusShards]]' 16-way range
    *      split of the shuffled order with [[corpusShardSkew]]'s
    *      straggler audit, per shard: docs, subword mass, windows
    *      touched, position bounds, signed-ppm deviation, flag.
    *
    * Empty-text survivors pack nothing and drop at stage 4 (the
    * [[packSubword]] rule, replayed by both engines).
    *
    * == Scale design ==
    * Text-carrying scans stay O(stages): the gate scan, the bucket
    * scan, and the subword scan each read the parquet once and emit
    * THIN relations (≤16 bytes/doc); the component map and segment
    * vocab broadcast; stages 5-7 ride the two-phase range-partitioned
    * rank ([[Analytics.globalRowPos]]) over ~24-byte rows. Text is
    * never shuffled and never carried past its own scan — the plan pin
    * in the spec counts the text-projecting scans. The subword rollup
    * runs pre-gate (operator reuse keeps [[packSubword]]'s face
    * intact) and the gate applies as a thin id join; a tuned 100 TB
    * build would push the gate predicate into the tokenizing scan,
    * which changes cost, not results.
    */
  /** Stages 1–4 of [[pipelinePretrainBuild]] as one relation — the
    * ADMITTED text-training mass (doc_id, n_subwords): quality gate ≥
    * 0.5, exemplar drop, dedup-aware bucket < 90, trained-BPE subword
    * rollup. Extracted so the composed multimodal build consumes the
    * same admission chain (via [[pretrainAdmittedShared]]) instead of
    * re-running it; the registered build calls this FRESH.
    */
  private[operators] def pretrainAdmittedRel(s: SparkSession, dir: String): DataFrame = {
    // [1] quality gate
    val gate = TextOps.textQualityShared(s, dir)
      .filter(col("quality_score") >= 0.5).select(col("doc_id"))
    // [2] exemplar drop — non-representatives of verified components
    val nonExemplar = Dedup.dedupComponents(s, dir)
      .filter(col("component") =!= col("doc_id")).select(col("doc_id"))
    // [3] dedup-aware train side: survivors are reps/singletons, so
    // the effective (component-representative) bucket = own bucket
    val fp = polyHash(col("text"), 1000000007L)
    val own = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), (fp % 100L).as("own_bucket"))
    val keep = gate
      .join(broadcast(nonExemplar), Seq("doc_id"), "left_anti")
      .join(own, Seq("doc_id"))
      .filter(col("own_bucket") < 90)
      .select(col("doc_id"))
    // [4] per-doc subword mass over the trained-BPE segment table
    val segs = TextOps.bpeSegmentsShared(s, dir)
      .select(col("word").as("w"), col("n_syms"))
    val mass = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segs), Seq("w"))
      .groupBy(col("doc_id")).agg(sum(col("n_syms")).as("n_subwords"))
    keep.join(mass, Seq("doc_id"))
  }

  /** [[pretrainAdmittedRel]] memoized per (session, corpus signature)
    * — the persisted admitted-set artifact a production curation run
    * writes once and every downstream composed build reads.
    */
  private[operators] def pretrainAdmittedShared(s: SparkSession, dir: String): DataFrame =
    graft.plans.SharedRel(s, "pretrainAdmitted|" + dir, TextOps.docsSig(s, dir)) {
      pretrainAdmittedRel(s, dir)
    }

  def pipelinePretrainBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // [1]–[4] admission + subword mass (fresh — this face IS the
    // registered contract for the chain)
    // [5] epoch-0 shuffle rank over the survivors (thin relation)
    val keyed = pretrainAdmittedRel(s, dir)
      .select(col("doc_id"), epochHash(0).as("hk"), col("n_subwords"))
    val pos = Analytics.globalRowPos(keyed, Seq.empty,
      Seq(col("hk"), col("doc_id")), "pos", "__n")
    // [6] two-phase prefix sum in SHUFFLE order → 2048-subword windows
    val bktd = pos.withColumn("bkt", expr("(pos - 1) div 64"))
    val intra = Window.partitionBy(col("bkt")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bktd.withColumn("cum_in", sum(col("n_subwords")).over(intra))
    val bktTotals = bktd.groupBy(col("bkt")).agg(sum(col("n_subwords")).as("bt"))
    val over = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bktTotals
      .withColumn("bp", coalesce(sum(col("bt")).over(over), lit(0L)))
      .select(col("bkt"), col("bp"))
    val packed = cum.join(broadcast(prefixes), "bkt")
      .withColumn("sub_offset", col("bp") + col("cum_in") - col("n_subwords"))
      .withColumn("bin_id", expr("sub_offset div 2048"))
      .withColumn("shard", expr("(pos - 1) * 16 div `__n`"))
    // [7] shard ledger + skew gate
    val ledger = packed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_subwords")).as("n_subwords"),
        countDistinct(col("bin_id")).as("n_bins"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"))
    val mean = ledger.agg(expr("sum(n_subwords) div count(1)").as("mean_subwords"))
    ledger.crossJoin(broadcast(mean))
      .select(col("shard"), col("n_docs"), col("n_subwords"), col("n_bins"),
        col("first_pos"), col("last_pos"), col("mean_subwords"),
        expr("1000000 * (n_subwords - mean_subwords) div mean_subwords").as("dev_ppm"),
        (col("n_subwords") * 1000000L > col("mean_subwords") * 1050000L)
          .as("straggler"))
      .orderBy(col("shard"))
  }

  /** DuckDB twin: the stage oracles chained as CTEs — the SHARED
    * recursive component CTE, the SHARED quality CTE, the segment
    * oracle as a derived table, then the same keep-filter → hash rank
    * → prefix sum → shard rollup. */
  lazy val pipelinePretrainBuildSql: String =
    s"""WITH RECURSIVE ${Dedup.componentCtes},
       |$qualityCte,
       |sv AS (SELECT word, n_syms FROM (${TextOps.tokenizeBpeSegmentsSql})),
       |fb AS (SELECT doc_id,
       |  ${polyHashSql("text", 1000000007L)} % 100 AS own_bucket
       |  FROM documents),
       |keep AS (
       |  SELECT q.doc_id FROM q JOIN fb USING (doc_id)
       |  WHERE q.quality_score >= 0.5
       |    AND NOT EXISTS (SELECT 1 FROM comp
       |                    WHERE comp.doc_id = q.doc_id AND comp.component <> q.doc_id)
       |    AND fb.own_bucket < 90),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |dc AS (SELECT dw.doc_id, CAST(sum(n_syms) AS BIGINT) AS n_subwords
       |  FROM dw JOIN sv ON sv.word = dw.w JOIN keep ON keep.doc_id = dw.doc_id
       |  WHERE w <> '' GROUP BY dw.doc_id),
       |eh AS (SELECT doc_id, n_subwords, ${epochHashSql(0)} AS hk FROM dc),
       |rk AS (SELECT doc_id, n_subwords,
       |  row_number() OVER (ORDER BY hk, doc_id) AS pos,
       |  count(*) OVER () AS n FROM eh),
       |cm AS (SELECT doc_id, n_subwords, pos, n,
       |  CAST(sum(n_subwords) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_subwords AS BIGINT) AS sub_offset
       |  FROM rk),
       |shd AS (SELECT CAST((pos - 1) * 16 // n AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
       |  count(DISTINCT sub_offset // 2048) AS n_bins,
       |  CAST(min(pos) AS BIGINT) AS first_pos, CAST(max(pos) AS BIGINT) AS last_pos
       |  FROM cm GROUP BY 1),
       |mn AS (SELECT CAST(sum(n_subwords) AS BIGINT) // count(*) AS mean_subwords FROM shd)
       |SELECT shard, n_docs, n_subwords, n_bins, first_pos, last_pos, mean_subwords,
       |  CAST(1000000 * (n_subwords - mean_subwords) // mean_subwords AS BIGINT) AS dev_ppm,
       |  n_subwords * 1000000 > mean_subwords * 1050000 AS straggler
       |FROM shd CROSS JOIN mn ORDER BY shard""".stripMargin

  // ------------------------------------------------ eval-set build
  /** The EVAL-side counterpart of [[pipelinePretrainBuild]] (r14 wave
    * 19) — composing the held-out evaluation set a training run scores
    * against, with the per-source integrity manifest. Stages (each
    * one's registered face is the contract):
    *
    *   1. the leakage-proof val side — [[splitDedupAware]]'s rule
    *      (bucket ≥ 90 under the component-representative hash), so no
    *      VERIFIED near-dup straddles eval/train by construction;
    *   2. quality gate — the production `quality_score ≥ 0.5` rule (an
    *      eval set drops garbage too, else it scores noise);
    *   3. residual decontamination — the long-n-gram overlap rule
    *      (the published 13-gram practice scaled to this corpus's doc
    *      length): an eval doc sharing ANY 7-WORD shingle with the
    *      train side is dropped. Long shingles, not trigrams, because
    *      the trigram union of a 90% train split SATURATES (measured:
    *      a ≥3-shared-trigram rule drops 100% of val at sf0.001 —
    *      every doc shares common trigrams with something), while a
    *      7-gram collision needs genuine span copying. On this corpus
    *      the stage finds zero — measured: every 7-gram-sharing pair
    *      also clears 0.3 jaccard, so stage 1 already routed it whole
    *      to one side — the defense-in-depth property the spec pins
    *      (and proves non-vacuous with a planted sub-0.3 quote pair);
    *   4. the manifest: per source, val docs, gate drops, MARGINAL
    *      contamination drops (among gate passers), final docs/chars,
    *      final char share in exact ppm.
    *
    * == Scale design ==
    * Split and gate are scan-side column math + broadcast component
    * maps (the splitDedupAware shape). The contamination leg is one
    * hg-keyed shuffle semi-join between the val-side shingles and the
    * train-side shingle stream — both sides shingle ONCE with the
    * split filter pushed below the explode; the val side is 10% by
    * the split contract, and at production scale (a benchmark suite
    * vs a crawl) the join degenerates to corpus_decontaminate's
    * broadcast. The manifest is O(sources).
    */
  def pipelineEvalBuild(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val split = splitDedupAware(s, dir).select(col("doc_id"), col("split"))
    val valIds = split.filter(col("split") === "val").select(col("doc_id"))
    val trainIds = split.filter(col("split") === "train").select(col("doc_id"))
    val gatePass = TextOps.textQualityShared(s, dir)
      .filter(col("quality_score") >= 0.5)
      .select(col("doc_id"), lit(1L).as("gate_ok"))
    val d = graft.sources.Tables.load(s, dir, "documents")
    // 7-word shingle hashes, split filter pushed below the explode
    // (the sanctioned typed shingle emission, Dedup.explodedOf's shape)
    def sevenGramsOf(dd: DataFrame): DataFrame = {
      import s.implicits._
      dd.select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          val ws = t.split(" ", -1)
          val set = scala.collection.mutable.LinkedHashSet.empty[String]
          var i = 0
          while (i + 6 < ws.length) { set += ws.slice(i, i + 7).mkString(" "); i += 1 }
          set.iterator.map(ng => (id, graft.functions.MinHashKernel.polyHash(ng)))
        }.toDF("doc_id", "hg")
    }
    val valHg = sevenGramsOf(d.join(valIds, "doc_id"))
    val trainHg = sevenGramsOf(d.join(trainIds, "doc_id")).select(col("hg"))
    val contam = valHg.join(trainHg, Seq("hg"), "left_semi")
      .select(col("doc_id")).distinct()
      .select(col("doc_id"), lit(1L).as("contam"))
    val finalCase =
      col("gate_ok").isNotNull && col("contam").isNull
    val led = d.select(col("doc_id"), col("source"), col("n_chars"))
      .join(valIds, "doc_id")
      .join(gatePass, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_val_docs"),
        sum(when(col("gate_ok").isNull, 1L).otherwise(0L)).as("n_gate_fail"),
        sum(when(col("gate_ok").isNotNull && col("contam").isNotNull, 1L)
          .otherwise(0L)).as("n_contaminated"),
        sum(when(finalCase, 1L).otherwise(0L)).as("n_final"),
        sum(when(finalCase, col("n_chars")).otherwise(0L)).as("chars_final"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    led.withColumn("tot", sum(col("chars_final")).over(wAll))
      .select(col("source"), col("n_val_docs"), col("n_gate_fail"),
        col("n_contaminated"), col("n_final"), col("chars_final"),
        expr("CASE WHEN tot = 0 THEN 0 ELSE (1000000 * chars_final) div tot END")
          .as("share_ppm"))
      .orderBy(col("source"))
  }

  /** DuckDB twin: the stage oracles chained — the SHARED recursive
    * component CTE (whose shingle base `gh` also feeds the
    * contamination leg), the SHARED quality CTE, the split rule, then
    * the same marginal-accounting manifest. */
  lazy val pipelineEvalBuildSql: String =
    s"""WITH RECURSIVE ${Dedup.componentCtes},
       |$qualityCte,
       |fb AS (SELECT doc_id,
       |  ${polyHashSql("text", 1000000007L)} % 100 AS own_bucket
       |  FROM documents),
       |eff AS (SELECT fb.doc_id,
       |    coalesce(rf.own_bucket, fb.own_bucket) AS bucket
       |  FROM fb LEFT JOIN comp ON comp.doc_id = fb.doc_id
       |  LEFT JOIN fb rf ON rf.doc_id = comp.component),
       |vd AS (SELECT doc_id FROM eff WHERE bucket >= 90),
       |td AS (SELECT doc_id FROM eff WHERE bucket < 90),
       |g7 AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 5),
       |    i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]))) AS ng
       |  FROM w WHERE len(ws) > 6),
       |g7h AS (SELECT doc_id,
       |  ${polyHashSql("ng", 2147483647L)} AS hg
       |  FROM g7),
       |th AS (SELECT DISTINCT g7h.hg FROM g7h JOIN td USING (doc_id)),
       |ch AS (SELECT DISTINCT g7h.doc_id
       |  FROM g7h JOIN vd USING (doc_id) JOIN th ON th.hg = g7h.hg),
       |led AS (SELECT d.source,
       |    CAST(count(*) AS BIGINT) AS n_val_docs,
       |    CAST(sum(CASE WHEN q.quality_score >= 0.5 THEN 0 ELSE 1 END) AS BIGINT) AS n_gate_fail,
       |    CAST(sum(CASE WHEN q.quality_score >= 0.5 AND ch.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |    CAST(sum(CASE WHEN q.quality_score >= 0.5 AND ch.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       |    CAST(sum(CASE WHEN q.quality_score >= 0.5 AND ch.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_final
       |  FROM documents d JOIN vd USING (doc_id) JOIN q USING (doc_id)
       |  LEFT JOIN ch ON ch.doc_id = d.doc_id
       |  GROUP BY 1)
       |SELECT source, n_val_docs, n_gate_fail, n_contaminated, n_final,
       |  chars_final,
       |  CAST(CASE WHEN sum(chars_final) OVER () = 0 THEN 0
       |    ELSE (1000000 * chars_final) // sum(chars_final) OVER () END AS BIGINT) AS share_ppm
       |FROM led ORDER BY source""".stripMargin

  // -------------------------------------------- incremental delta build
  /** The NIGHTLY shape completing the build-pipeline trio (r14 wave 19:
    * [[pipelinePretrainBuild]] is the full rebuild,
    * [[pipelineEvalBuild]] the eval side, this is what actually runs
    * every day): ingest the delta batch (source `src1`,
    * [[Dedup.dedupIncremental]]'s contract) against the STANDING
    * corpus — quality gate → near-dup-vs-standing drop (the registered
    * incremental face: only the delta shingles against the index,
    * never corpus × corpus) → subword mass of the admitted docs over
    * the STANDING tokenizer (the memoized trained-BPE segment table —
    * a nightly ingest never retrains) → the per-language admission
    * ledger with marginal accounting (delta = gate_fail + dup_dropped
    * + admitted, spec-pinned) and the subword/char mass the batch adds
    * to the training pool. Delta-internal duplicates are out of scope
    * by the incremental face's contract (they collapse in the next
    * full rebuild); the vs-standing drop is what prevents the nightly
    * feed from re-admitting yesterday's corpus.
    *
    * == Scale design ==
    * Delta-sized relations broadcast everywhere (the incremental
    * face's orientation: the standing corpus streams, the delta
    * builds); the gate and mass legs scan only delta text after the
    * pushed source filter; the ledger is O(langs).
    */
  def pipelineIncrementalBuild(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents")
    val gatePass = TextOps.textQualityShared(s, dir)
      .filter(col("quality_score") >= 0.5)
      .select(col("doc_id"), lit(1L).as("g"))
    val dupNew = Dedup.dedupIncremental(s, dir)
      .select(col("new_id").as("doc_id")).distinct()
      .select(col("doc_id"), lit(1L).as("dup"))
    val segs = TextOps.bpeSegmentsShared(s, dir)
      .select(col("word").as("w"), col("n_syms"))
    val mass = d.filter(col("source") === "src1")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segs), Seq("w"))
      .groupBy(col("doc_id")).agg(sum(col("n_syms")).as("n_subwords"))
    val admitted = col("g").isNotNull && col("dup").isNull
    d.filter(col("source") === "src1")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(gatePass, Seq("doc_id"), "left")
      .join(broadcast(dupNew), Seq("doc_id"), "left")
      .join(mass, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_delta"),
        sum(when(col("g").isNull, 1L).otherwise(0L)).as("n_gate_fail"),
        sum(when(col("g").isNotNull && col("dup").isNotNull, 1L).otherwise(0L))
          .as("n_dup_dropped"),
        sum(when(admitted, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(admitted, coalesce(col("n_subwords"), lit(0L))).otherwise(0L))
          .as("subwords_added"),
        sum(when(admitted, col("n_chars")).otherwise(0L)).as("chars_admitted"))
      .orderBy(col("lang"))
  }

  /** DuckDB twin: the SHARED quality CTE, the incremental-dedup CTEs,
    * the segment oracle, the same marginal ledger. */
  lazy val pipelineIncrementalBuildSql: String =
    s"""WITH $qualityCte,
       |w AS (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents),
       |g AS (SELECT doc_id, source, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS ng
       |  FROM w WHERE len(ws) > 2),
       |gh AS (SELECT doc_id, source,
       |  ${polyHashSql("ng", 2147483647L)} AS hg
       |  FROM g),
       |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |inter AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS i
       |  FROM gh a JOIN gh b ON a.hg = b.hg AND a.source = 'src1' AND b.source <> 'src1'
       |  JOIN sz za ON za.doc_id = a.doc_id JOIN sz zb ON zb.doc_id = b.doc_id
       |  WHERE zb.n * 10 >= za.n * 3 AND za.n * 10 >= zb.n * 3
       |  GROUP BY 1, 2),
       |dup AS (SELECT DISTINCT new_id AS doc_id FROM inter
       |  JOIN sz s1 ON s1.doc_id = inter.new_id
       |  JOIN sz s2 ON s2.doc_id = inter.old_id
       |  WHERE inter.i * 1.0 / (s1.n + s2.n - inter.i) >= 0.3),
       |sv AS (SELECT word, n_syms FROM (${TextOps.tokenizeBpeSegmentsSql})),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents WHERE source = 'src1'),
       |dc AS (SELECT dw.doc_id, CAST(sum(n_syms) AS BIGINT) AS n_subwords
       |  FROM dw JOIN sv ON sv.word = dw.w WHERE w <> '' GROUP BY dw.doc_id)
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_delta,
       |  CAST(sum(CASE WHEN q.quality_score >= 0.5 THEN 0 ELSE 1 END) AS BIGINT) AS n_gate_fail,
       |  CAST(sum(CASE WHEN q.quality_score >= 0.5 AND dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
       |  CAST(sum(CASE WHEN q.quality_score >= 0.5 AND dup.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |  CAST(sum(CASE WHEN q.quality_score >= 0.5 AND dup.doc_id IS NULL THEN coalesce(dc.n_subwords, 0) ELSE 0 END) AS BIGINT) AS subwords_added,
       |  CAST(sum(CASE WHEN q.quality_score >= 0.5 AND dup.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_admitted
       |FROM documents d
       |JOIN q ON q.doc_id = d.doc_id
       |LEFT JOIN dup ON dup.doc_id = d.doc_id
       |LEFT JOIN dc ON dc.doc_id = d.doc_id
       |WHERE d.source = 'src1'
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_eval_build" -> pipelineEvalBuild,
    "pipeline_incremental_build" -> pipelineIncrementalBuild,
    "pipeline_pretrain_build" -> pipelinePretrainBuild,
    "corpus_quality_curve" -> corpusQualityCurve,
    "ml_bootstrap_ci" -> mlBootstrapCi,
    "corpus_token_budget" -> corpusTokenBudget,
    "corpus_shards" -> corpusShards,
    "corpus_shard_skew" -> corpusShardSkew,
    "corpus_shuffle" -> corpusShuffle,
    "corpus_interleave" -> corpusInterleave,
    "corpus_shards_rendezvous" -> corpusShardsRendezvous,
    "corpus_shuffle_e1" -> corpusShuffleE1,
    "corpus_shuffle_grown" -> corpusShuffleGrown,
    "corpus_shard_read" -> corpusShardRead,
    "corpus_epoch_mix" -> corpusEpochMix,
    "pack_shuffled" -> packShuffled,
    "pack_efficiency" -> packEfficiency,
    "corpus_chisq" -> corpusChisq,
    "sample_uniform_k" -> sampleUniformK,
    "sample_weighted_k" -> sampleWeightedK,
    "sample_group_k" -> sampleGroupK,
    "sample_importance" -> sampleImportance,
    "sample_temperature" -> sampleTemperature,
    "pipeline_curate" -> pipelineCurate,
    "pipeline_curate_cluster" -> pipelineCurateCluster,
    "split_train_val" -> splitTrainVal,
    "split_kfold" -> splitKfold,
    "split_leakage" -> splitLeakage,
    "split_dedup_aware" -> splitDedupAware,
    "sample_quota" -> sampleQuota,
    "sample_neyman" -> sampleNeyman,
    "split_temporal" -> splitTemporal,
    "split_temporal_cold" -> splitTemporalCold,
    "sample_dsir" -> sampleDsir,
    "sample_reservoir_merge" -> sampleReservoirMerge,
    "corpus_stats" -> corpusStats,
    "corpus_datasheet" -> corpusDatasheet,
    "corpus_length_histogram" -> corpusLengthHistogram,
    "corpus_mixture" -> corpusMixture,
    "corpus_upsample" -> corpusUpsample,
    "pack_sorted" -> packSorted,
    "pack_window_curve" -> packWindowCurve,
    "text_normalize" -> textNormalize,
    "pack_sequential" -> packSequential,
    "pack_subword" -> packSubword,
    "pack_windows" -> packWindows,
    "sample_stratified" -> sampleStratified)

  val oracles: Map[String, String] = Map(
    "pipeline_pretrain_build" -> pipelinePretrainBuildSql,
    "pipeline_eval_build" -> pipelineEvalBuildSql,
    "pipeline_incremental_build" -> pipelineIncrementalBuildSql,
    "corpus_quality_curve" -> corpusQualityCurveSql,
    "ml_bootstrap_ci" -> mlBootstrapCiSql,
    "corpus_token_budget" -> corpusTokenBudgetSql,
    "corpus_shards" -> corpusShardsSql,
    "corpus_shard_skew" -> corpusShardSkewSql,
    "corpus_shuffle" -> corpusShuffleSql,
    "corpus_interleave" -> corpusInterleaveSql,
    "corpus_shards_rendezvous" -> corpusShardsRendezvousSql,
    "corpus_shuffle_e1" -> corpusShuffleE1Sql,
    "corpus_shuffle_grown" -> corpusShuffleGrownSql,
    "corpus_shard_read" -> corpusShardReadSql,
    "corpus_epoch_mix" -> corpusEpochMixSql,
    "pack_shuffled" -> packShuffledSql,
    "pack_efficiency" -> packEfficiencySql,
    "corpus_chisq" -> corpusChisqSql,
    "sample_uniform_k" -> sampleUniformKSql,
    "sample_weighted_k" -> sampleWeightedKSql,
    "sample_group_k" -> sampleGroupKSql,
    "pipeline_curate" -> pipelineCurateSql,
    "pipeline_curate_cluster" -> pipelineCurateClusterSql,
    "split_train_val" -> splitTrainValSql,
    "split_kfold" -> splitKfoldSql,
    "split_leakage" -> splitLeakageSql,
    "split_dedup_aware" -> splitDedupAwareSql,
    "sample_quota" -> sampleQuotaSql,
    "sample_neyman" -> sampleNeymanSql,
    "split_temporal" -> splitTemporalSql,
    "split_temporal_cold" -> splitTemporalColdSql,
    "sample_dsir" -> sampleDsirSql,
    "sample_reservoir_merge" -> sampleReservoirMergeSql,
    "corpus_stats" -> corpusStatsSql,
    "corpus_datasheet" -> corpusDatasheetSql,
    "corpus_length_histogram" -> corpusLengthHistogramSql,
    "corpus_mixture" -> corpusMixtureSql,
    "corpus_upsample" -> corpusUpsampleSql,
    "pack_sorted" -> packSortedSql,
    "pack_window_curve" -> packWindowCurveSql,
    "text_normalize" -> textNormalizeSql,
    "pack_sequential" -> packSequentialSql,
    "pack_subword" -> packSubwordSql,
    "pack_windows" -> packWindowsSql,
    "sample_stratified" -> sampleStratifiedSql,
    "sample_importance" -> sampleImportanceSql,
    "sample_temperature" -> sampleTemperatureSql)
}
