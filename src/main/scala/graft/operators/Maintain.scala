package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.HashExpressions.{polyHash, polyHashSql}

/** Table-maintenance operators: the writer-side jobs every long-lived
  * 100 TB corpus needs between queries — upserting a change batch into
  * a standing dimension, materializing slowly-changing-dimension
  * history, and planning small-file compaction. The reference's
  * pipeline rewrites its outputs wholesale per run
  * (/root/reference/src/awsbatch-map/main.py:88-96 writes one parquet
  * per array index; Reduce.ps1 re-assembles everything); these
  * operators are the incremental-maintenance equivalents a lakehouse
  * deployment would run instead.
  */
object Maintain {

  private def cents(c: Column): Column = round(c * 100).cast("long")
  private def fmtDay(c: Column): Column = date_format(c, "yyyy-MM-dd")

  // ------------------------------------------------------ merge upsert
  /** MERGE a deterministic change batch into the customer dimension:
    * updates (+100.00 to every balance where custkey ≡ 0 mod 7) and
    * inserts (a mirrored negative-key row where custkey ≡ 0 mod 13),
    * emitting every output row tagged 'K'ept / 'U'pdated / 'I'nserted.
    *
    * == Scale design ==
    * NOT a full-outer join: merging a small batch into a 100 TB dim by
    * full-outer SMJ shuffles and sorts the entire dim. Instead the
    * batch broadcasts twice — a broadcast LEFT ANTI picks the
    * untouched dim rows and a broadcast INNER rewrites the hit rows —
    * so the dim is scanned but never shuffled, and inserts are a
    * dim-free projection of the batch. (When the batch side grows to
    * dim scale, the right fallback is the co-partitioned SMJ both
    * sides bucketed on key — the join_bucketed machinery.) This is the
    * plan shape Delta/Hudi-style MERGE compiles to when the source
    * fits a broadcast.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        cents(col("c_acctbal")).as("bal_cents"))
    val updates = dim.filter(pmod(col("key"), lit(7)) === 0)
      .select(col("key"), (col("bal_cents") + 10000L).as("new_bal"))
    // -(key+1), not -key: custkey 0 exists, and -0 == 0 would collide
    // with the kept/updated row (and break the total ORDER BY key).
    val inserts = dim.filter(pmod(col("key"), lit(13)) === 0)
      .select((-(col("key") + 1)).as("key"),
        concat(lit("NEW#"), col("key")).as("name"),
        col("bal_cents"), lit("I").as("op"))
    val kept = dim.join(broadcast(updates), Seq("key"), "left_anti")
      .withColumn("op", lit("K"))
    val updated = dim.join(broadcast(updates), Seq("key"))
      .select(col("key"), col("name"), col("new_bal").as("bal_cents"),
        lit("U").as("op"))
    kept.select("key", "name", "bal_cents", "op")
      .unionByName(updated).unionByName(inserts)
      .orderBy(col("key"))
  }

  val mergeUpsertSql: String =
    """WITH dim AS (SELECT c_custkey AS key, c_name AS name,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer),
      |u AS (SELECT key, bal_cents + 10000 AS new_bal FROM dim WHERE key % 7 = 0)
      |SELECT d.key, d.name, d.bal_cents, 'K' AS op
      |  FROM dim d LEFT JOIN u USING (key) WHERE u.key IS NULL
      |UNION ALL
      |SELECT d.key, d.name, u.new_bal AS bal_cents, 'U' AS op
      |  FROM dim d JOIN u USING (key)
      |UNION ALL
      |SELECT -(key+1), 'NEW#' || CAST(key AS VARCHAR), bal_cents, 'I' AS op
      |  FROM dim WHERE key % 13 = 0
      |ORDER BY key""".stripMargin

  // ------------------------------------------------------ merge w/ deletes
  /** Full MERGE over the customer dimension — the [[mergeUpsert]] shape
    * extended with DELETE tombstones: updates (+100.00 where custkey ≡
    * 0 mod 7), deletes (custkey ≡ 0 mod 11; emitted as 'D' rows
    * carrying the OLD values, so the change-log is replayable), and
    * inserts (mirrored negative keys where custkey ≡ 0 mod 13). A key
    * matched by both (≡ 0 mod 77) resolves DELETE-wins — the
    * precedence rule real MERGE statements make explicit.
    *
    * == Scale design ==
    * Same as [[mergeUpsert]]: the change batch broadcasts (once as the
    * union of touched keys for the anti-join, once per op class for
    * the rewrites), the dim is scanned but never shuffled, and the
    * tombstone emission is an inner broadcast join — no full-outer SMJ
    * of the 100 TB dim. The streaming twin is
    * [[graft.streaming.EventStreams.changeLogStream]].
    */
  def mergeDelete(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        cents(col("c_acctbal")).as("bal_cents"))
    val dels = dim.filter(pmod(col("key"), lit(11)) === 0).select(col("key"))
    val upds = dim
      .filter(pmod(col("key"), lit(7)) === 0 && pmod(col("key"), lit(11)) =!= 0)
      .select(col("key"), (col("bal_cents") + 10000L).as("new_bal"))
    val inserts = dim.filter(pmod(col("key"), lit(13)) === 0)
      .select((-(col("key") + 1)).as("key"),
        concat(lit("NEW#"), col("key")).as("name"),
        col("bal_cents"), lit("I").as("op"))
    val touched = dels.unionByName(upds.select(col("key")))
    val kept = dim.join(broadcast(touched), Seq("key"), "left_anti")
      .withColumn("op", lit("K"))
    val updated = dim.join(broadcast(upds), Seq("key"))
      .select(col("key"), col("name"), col("new_bal").as("bal_cents"),
        lit("U").as("op"))
    val deleted = dim.join(broadcast(dels), Seq("key"))
      .select(col("key"), col("name"), col("bal_cents"), lit("D").as("op"))
    kept.select("key", "name", "bal_cents", "op")
      .unionByName(updated).unionByName(deleted).unionByName(inserts)
      .orderBy(col("key"))
  }

  val mergeDeleteSql: String =
    """WITH dim AS (SELECT c_custkey AS key, c_name AS name,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer),
      |d AS (SELECT key FROM dim WHERE key % 11 = 0),
      |u AS (SELECT key, bal_cents + 10000 AS new_bal FROM dim
      |  WHERE key % 7 = 0 AND key % 11 <> 0)
      |SELECT dim.key, dim.name, dim.bal_cents, 'K' AS op
      |  FROM dim LEFT JOIN d USING (key) LEFT JOIN u USING (key)
      |  WHERE d.key IS NULL AND u.key IS NULL
      |UNION ALL
      |SELECT dim.key, dim.name, u.new_bal AS bal_cents, 'U' AS op
      |  FROM dim JOIN u USING (key)
      |UNION ALL
      |SELECT dim.key, dim.name, dim.bal_cents, 'D' AS op
      |  FROM dim JOIN d USING (key)
      |UNION ALL
      |SELECT -(key+1), 'NEW#' || CAST(key AS VARCHAR), bal_cents, 'I' AS op
      |  FROM dim WHERE key % 13 = 0
      |ORDER BY key""".stripMargin

  // -------------------------------------------------------- SCD2 history
  /** Slowly-changing-dimension (type 2) history: each order opens a new
    * version of its customer's "lifetime spend" attribute — valid_from
    * = the order day, valid_to = the next order's day (open-ended for
    * the current version), bal_cents = running total of order prices in
    * exact cents. One window pass partitioned by customer; ties broken
    * by orderkey so version numbering is total.
    *
    * == Scale design ==
    * Both windows (lead + running sum) share ONE partitioning —
    * hashpartitioning(custkey) — so the whole history materializes in a
    * single shuffle of the orders fact. No join back to the dim is
    * needed until serving time, where the dim broadcasts.
    */
  def dimScd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("custkey"), col("o_orderkey"),
        col("o_orderdate"), cents(col("o_totalprice")).as("price_cents"))
      .select(col("custkey"),
        row_number().over(w).cast("long").as("version"),
        sum(col("price_cents")).over(run).as("bal_cents"),
        fmtDay(col("o_orderdate")).as("valid_from"),
        coalesce(fmtDay(lead(col("o_orderdate"), 1).over(w)), lit("9999-12-31"))
          .as("valid_to"),
        when(lead(col("o_orderdate"), 1).over(w).isNull, 1L).otherwise(0L)
          .as("is_current"))
      .orderBy(col("custkey"), col("version"))
  }

  val dimScd2Sql: String =
    """WITH o AS (SELECT o_custkey AS custkey, o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_cents FROM orders)
      |SELECT custkey,
      |  CAST(row_number() OVER w AS BIGINT) AS version,
      |  CAST(sum(price_cents) OVER (PARTITION BY custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS bal_cents,
      |  strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
      |  coalesce(strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d'), '9999-12-31') AS valid_to,
      |  CAST(CASE WHEN lead(o_orderdate, 1) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM o
      |WINDOW w AS (PARTITION BY custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY custkey, version""".stripMargin

  // ---------------------------------------------- incremental aggregate
  /** Incremental view maintenance for a per-(day, type) aggregate:
    * the standing materialized base (events with event_id ≢ 0 mod 10,
    * "yesterday's agg") is REFRESHED by merging the late-arriving
    * delta's partial aggregates — count and cents-sum are algebraic,
    * so the merge is `sum of partials`, never a recompute of the base.
    * The oracle is the full recompute: partial-merge and recompute
    * must agree exactly (they do, because the partials are exact
    * integers — the same mergeability that makes the streaming CMS
    * and every map-side combine correct).
    *
    * == Scale design ==
    * At 100 TB this is THE pattern for maintained rollups: the base
    * aggregate is O(days × types) rows read back from storage, the
    * delta scan touches only the new files, and the merge shuffles
    * O(groups), not O(corpus). Here both legs derive from one corpus
    * scan (the mod-split stands in for "already materialized" vs
    * "new files"), so the plan shows the two grouped partials and the
    * O(groups) merge — the recompute-free shape, same result.
    */
  def aggIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(to_date(col("ts").cast("timestamp")).as("day"), col("event_type"),
        cents(col("value")).as("vc"), col("event_id"))
    def partial(leg: DataFrame): DataFrame = leg
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("pn"), sum(col("vc")).as("ps"))
    val base = partial(e.filter(pmod(col("event_id"), lit(10)) =!= 0))
    val delta = partial(e.filter(pmod(col("event_id"), lit(10)) === 0))
    base.unionByName(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("pn")).as("n_events"), (sum(col("ps")) / 100.0).as("sum_value"))
      .select(fmtDay(col("day")).as("day"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Oracle: the full recompute the incremental merge must equal. */
  val aggIncrementalSql: String =
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
      |  count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --------------------------------------------------- compaction plan
  /** Small-file compaction planner: documents are written in
    * (source, lang) groups; the planner packs those groups, in key
    * order, into target-size output files — next-fit by cumulative
    * byte offset, the same two-pass prefix-sum shape as
    * [[Curate.packSequential]]. Target size = max(64 KiB,
    * ceil(total/16)) in EXACT integer arithmetic, so both engines
    * compute identical bucket boundaries. A group whose cumulative
    * start lands in file f goes wholly to f — files can overshoot by
    * at most one group, the standard compaction trade for never
    * splitting a unit of work.
    *
    * == Scale design ==
    * The plan runs on the GROUP ledger (O(sources × langs) rows — the
    * grouped agg absorbs the corpus map-side), so the un-partitioned
    * ordering window touches only that tiny relation, never the docs.
    * The execution step this plans for is a `repartitionByRange(file_id)`
    * rewrite of the corpus — one shuffle keyed by the plan.
    */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
    val ord = Window.orderBy(col("source"), col("lang"))
    val before = coalesce(
      sum(col("bytes")).over(ord.rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val total = sum(col("bytes")).over(
      Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    g.withColumn("cum_before", before)
      .withColumn("total", total)
      .withColumn("target", greatest(lit(65536L), expr("(total + 15) div 16")))
      .withColumn("file_id", expr("cum_before div target"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n_docs")).as("n_docs"),
        sum(col("bytes")).as("bytes"),
        max(col("target")).as("target"))
      .withColumn("fill_ppm", expr("(bytes * 1000000) div target"))
      .select(col("file_id"), col("n_groups"), col("n_docs"), col("bytes"),
        col("fill_ppm"))
      .orderBy(col("file_id"))
  }

  val compactionPlanSql: String =
    """WITH g AS (SELECT source, lang, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM documents GROUP BY source, lang),
      |c AS (SELECT *,
      |    coalesce(CAST(sum(bytes) OVER (ORDER BY source, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before,
      |    CAST(sum(bytes) OVER () AS BIGINT) AS total
      |  FROM g),
      |f AS (SELECT *, greatest(65536, (total + 15) // 16) AS target,
      |    cum_before // greatest(65536, (total + 15) // 16) AS file_id
      |  FROM c)
      |SELECT file_id, count(*) AS n_groups,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(bytes) AS BIGINT) AS bytes,
      |  (CAST(sum(bytes) AS BIGINT) * 1000000) // max(target) AS fill_ppm
      |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin

  // --------------------------------------------------- compaction exec
  /** EXECUTE the compaction plan — [[compactionPlan]]'s missing half:
    * every document routes to its planned output file (the same
    * (source, lang) → file_id assignment the planner computed) and
    * the face emits the POST-compaction file manifest: per file the
    * group/doc/byte totals, the doc-id span, and an order-independent
    * content checksum (Σ poly-hash of each doc's text, reduced mod
    * the hash prime). Conservation is the contract: the manifest's
    * n_groups/n_docs/bytes must equal the plan's ledger row for row
    * (the spec compares them), and the checksum column proves the
    * rewrite moved every byte — the corpus-level checksum equals the
    * sum over files (spec-replayed), which no dropped or duplicated
    * document can fake.
    *
    * == Scale design ==
    * The plan's group→file map is O(groups) and BROADCASTS into the
    * one corpus scan (documents are touched once, routed map-side,
    * folded into per-file totals with map-side combine — exactly what
    * a real compaction job's shuffle-free bin-packing write does);
    * the checksum accumulates in DECIMAL(38,0) so ~10¹² docs × 10⁹
    * hash values cannot wrap.
    */
  /** The (source, lang) → file_id routing map [[compactionPlan]]'s
    * byte-packing implies — shared by [[compactionExec]] and
    * [[tableVacuumPlan]] so the two faces can never route a doc to
    * different files. O(groups) rows; the ordering window runs on the
    * group ledger, never the corpus.
    */
  private[graft] def compactionRouting(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_chars")).as("bytes"))
    val ord = Window.orderBy(col("source"), col("lang"))
    g.withColumn("cum_before", coalesce(
        sum(col("bytes")).over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("total", sum(col("bytes")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("target", greatest(lit(65536L), expr("(total + 15) div 16")))
      .select(col("source"), col("lang"), expr("cum_before div target").as("file_id"))
  }

  /** Shared oracle fragment for [[compactionRouting]]: `f(source,
    * lang, file_id)`. */
  private val compactionRoutingCtes: String =
    """g AS (SELECT source, lang, CAST(sum(n_chars) AS BIGINT) AS bytes
      |  FROM documents GROUP BY source, lang),
      |c AS (SELECT *,
      |    coalesce(CAST(sum(bytes) OVER (ORDER BY source, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before,
      |    CAST(sum(bytes) OVER () AS BIGINT) AS total
      |  FROM g),
      |f AS (SELECT source, lang,
      |    cum_before // greatest(65536, (total + 15) // 16) AS file_id
      |  FROM c)""".stripMargin

  def compactionExec(s: SparkSession, dir: String): DataFrame = {
    val routing = compactionRouting(s, dir)
    val h = polyHash(col("text"), 1000000007L)
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), h.as("h"))
      .join(broadcast(routing), Seq("source", "lang"))
      .groupBy(col("file_id"))
      .agg(countDistinct(col("source"), col("lang")).as("n_groups"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1000000007 AS BIGINT)")
          .as("checksum"))
      .orderBy(col("file_id"))
  }

  val compactionExecSql: String =
    s"""WITH $compactionRoutingCtes,
      |d AS (SELECT doc_id, source, lang, n_chars,
      |  ${polyHashSql("text", 1000000007L)} AS h
      |  FROM documents)
      |SELECT f.file_id,
      |  count(DISTINCT (d.source, d.lang)) AS n_groups,
      |  count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS bytes,
      |  min(d.doc_id) AS min_doc, max(d.doc_id) AS max_doc,
      |  CAST(sum(CAST(d.h AS HUGEINT)) % 1000000007 AS BIGINT) AS checksum
      |FROM d JOIN f ON f.source = d.source AND f.lang = d.lang
      |GROUP BY f.file_id ORDER BY f.file_id""".stripMargin

  /** Vacuum EXECUTION (r14 wave 33 — [[tableVacuumPlan]]'s rewrite
    * half, the plan→execute symmetry [[compactionPlan]]→
    * [[compactionExec]] already has): apply the plan — files at or
    * above the 30 % dead threshold are REWRITTEN without their dead
    * rows, kept files retain them (below threshold the rewrite costs
    * more than the bytes reclaim) — and emit the post-vacuum file
    * manifest: rows/bytes before and after, bytes actually reclaimed,
    * and the post-image content checksum ([[compactionExec]]'s
    * poly-hash-sum convention, over exactly the SURVIVING rows). The
    * spec proves conservation: live rows are never dropped, kept
    * files are byte-identical, and the rewritten files' checksums
    * equal an independent live-only replay.
    *
    * == Scale design ==
    * ONE corpus scan: both the plan decision and both post-image
    * variants fold as conditional sums in the SAME grouped aggregate
    * (dead/live row, byte and checksum lanes), so executing the plan
    * costs exactly the planning pass plus column math — no second
    * pass, no per-file job. Routing broadcasts; manifest O(files).
    */
  def tableVacuumExec(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(col("text"), 1000000007L)
    val dead = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"), (col("quality_score") < 0.5).cast("long").as("dead"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), h.as("h"))
      .join(broadcast(compactionRouting(s, dir)), Seq("source", "lang"))
      .join(dead, "doc_id")
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("dead")).as("n_dead"),
        sum(col("n_chars")).as("bytes_before"),
        sum(when(col("dead") === 1L, col("n_chars")).otherwise(0L)).as("bytes_dead"),
        expr("CAST(sum(CAST(h AS DECIMAL(38,0))) % 1000000007 AS BIGINT)")
          .as("cks_all"),
        expr("CAST(sum(CASE WHEN dead = 0 THEN CAST(h AS DECIMAL(38,0))" +
          " ELSE CAST(0 AS DECIMAL(38,0)) END) % 1000000007 AS BIGINT)")
          .as("cks_live"))
      .withColumn("action",
        when(expr("n_dead * 1000000 div n_rows") >= 300000L, "rewrite")
          .otherwise("keep"))
      .select(col("file_id"), col("action"), col("n_rows").as("rows_before"),
        when(col("action") === "rewrite", col("n_rows") - col("n_dead"))
          .otherwise(col("n_rows")).as("rows_after"),
        col("bytes_before"),
        when(col("action") === "rewrite", col("bytes_before") - col("bytes_dead"))
          .otherwise(col("bytes_before")).as("bytes_after"),
        when(col("action") === "rewrite", col("bytes_dead"))
          .otherwise(lit(0L)).as("bytes_reclaimed"),
        when(col("action") === "rewrite", col("cks_live"))
          .otherwise(col("cks_all")).as("checksum_after"))
      .orderBy(col("file_id"))
  }

  val tableVacuumExecSql: String =
    s"""WITH $compactionRoutingCtes,
      |q AS (SELECT doc_id, CASE WHEN quality_score < 0.5 THEN 1 ELSE 0 END AS dead
      |  FROM (${TextOps.textQualitySql})),
      |d AS (SELECT doc_id, source, lang, n_chars,
      |  ${polyHashSql("text", 1000000007L)} AS h
      |  FROM documents),
      |vg AS (SELECT f.file_id, count(*) AS n_rows,
      |    CAST(sum(q.dead) AS BIGINT) AS n_dead,
      |    CAST(sum(d.n_chars) AS BIGINT) AS bytes_before,
      |    CAST(sum(CASE WHEN q.dead = 1 THEN d.n_chars ELSE 0 END) AS BIGINT) AS bytes_dead,
      |    CAST(sum(CAST(d.h AS HUGEINT)) % 1000000007 AS BIGINT) AS cks_all,
      |    CAST(sum(CASE WHEN q.dead = 0 THEN CAST(d.h AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) % 1000000007 AS BIGINT) AS cks_live
      |  FROM d JOIN f ON f.source = d.source AND f.lang = d.lang
      |  JOIN q ON q.doc_id = d.doc_id
      |  GROUP BY f.file_id),
      |va AS (SELECT *, CASE WHEN n_dead * 1000000 // n_rows >= 300000
      |    THEN 'rewrite' ELSE 'keep' END AS action FROM vg)
      |SELECT file_id, action, n_rows AS rows_before,
      |  CASE WHEN action = 'rewrite' THEN n_rows - n_dead ELSE n_rows END AS rows_after,
      |  bytes_before,
      |  CASE WHEN action = 'rewrite' THEN bytes_before - bytes_dead
      |    ELSE bytes_before END AS bytes_after,
      |  CASE WHEN action = 'rewrite' THEN bytes_dead ELSE 0 END AS bytes_reclaimed,
      |  CASE WHEN action = 'rewrite' THEN cks_live ELSE cks_all END AS checksum_after
      |FROM va ORDER BY file_id""".stripMargin

  // ------------------------------------------------------- vacuum plan
  /** Retention/vacuum planning (r14 wave 11) — the third table-
    * maintenance face beside [[compactionPlan]]→[[compactionExec]]
    * (layout) and [[tableSnapshotDiff]] (history): after a logical
    * delete wave, which PHYSICAL files hold enough dead rows that
    * rewriting them reclaims real bytes? The delete wave here is the
    * curation gate itself ([[TextOps.textQuality]] < 0.5 — the
    * pipeline_curate drop set): per [[compactionRouting]] file, live
    * vs dead rows, dead ppm, reclaimable bytes, and the
    * rewrite-vs-keep decision at the 30 % dead threshold — the
    * vacuum scheduler's work list. Sharing the routing helper means
    * the plan can never disagree with [[compactionExec]] about which
    * file a doc lives in.
    *
    * == Scale design ==
    * The quality relation and the doc spine are two thin corpus
    * relations joined on doc_id (one shuffle); the O(groups) routing
    * broadcasts; the ledger is O(files). At 100 TB the dead flags
    * come from the curation run's persisted output — the join IS the
    * production shape, not an artifact.
    */
  def tableVacuumPlan(s: SparkSession, dir: String): DataFrame = {
    val dead = TextOps.textQualityShared(s, dir)
      .select(col("doc_id"), (col("quality_score") < 0.5).cast("long").as("dead"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
      .join(broadcast(compactionRouting(s, dir)), Seq("source", "lang"))
      .join(dead, "doc_id")
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("dead")).as("n_dead"),
        sum(when(col("dead") === 1L, col("n_chars")).otherwise(0L))
          .as("bytes_reclaimed"))
      .select(col("file_id"), col("n_rows"), col("n_dead"),
        expr("n_dead * 1000000 div n_rows").as("dead_ppm"),
        col("bytes_reclaimed"),
        when(expr("n_dead * 1000000 div n_rows") >= 300000L, "rewrite")
          .otherwise("keep").as("action"))
      .orderBy(col("file_id"))
  }

  val tableVacuumPlanSql: String =
    s"""WITH $compactionRoutingCtes,
      |q AS (SELECT doc_id, CASE WHEN quality_score < 0.5 THEN 1 ELSE 0 END AS dead
      |  FROM (${TextOps.textQualitySql})),
      |d AS (SELECT doc_id, source, lang, n_chars FROM documents)
      |SELECT f.file_id, count(*) AS n_rows,
      |  CAST(sum(q.dead) AS BIGINT) AS n_dead,
      |  CAST(sum(q.dead) AS BIGINT) * 1000000 // count(*) AS dead_ppm,
      |  CAST(sum(CASE WHEN q.dead = 1 THEN d.n_chars ELSE 0 END) AS BIGINT)
      |    AS bytes_reclaimed,
      |  CASE WHEN CAST(sum(q.dead) AS BIGINT) * 1000000 // count(*) >= 300000
      |    THEN 'rewrite' ELSE 'keep' END AS action
      |FROM d JOIN f ON f.source = d.source AND f.lang = d.lang
      |JOIN q ON q.doc_id = d.doc_id
      |GROUP BY f.file_id ORDER BY f.file_id""".stripMargin

  // ------------------------------------------------------------ registry
  // --------------------------------------------------- snapshot diff
  /** Time-travel snapshot diff — the Iceberg/Delta "what changed
    * between snapshot s0 and s1" read face. Snapshot 0 is the
    * customer dim as-is; snapshot 1 is the POST-image of exactly the
    * [[mergeDelete]] change batch (same %-rules), so the diff must
    * recover that batch's U/D/I rows — and ONLY those — from the two
    * table states alone, with no access to the change log. Emitted as
    * a change-log: `D` rows carry the s0 image, `U`/`I` rows the s1
    * image; unchanged rows are NOT emitted (at 100 TB the delta is
    * the product — re-emitting the full table would defeat the point
    * of a diff).
    *
    * == Scale design ==
    * One full-outer join on the snapshot key. Two same-table scans
    * here; in a real lake the two snapshots share bucketed layout on
    * the merge key, so the join is co-partitioned and shuffle-free —
    * the diff streams both manifests partition-aligned. The
    * changed-row filter runs inside the join's projection, so only
    * delta rows survive to the exchange feeding the output sort.
    */
  def tableSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        cents(col("c_acctbal")).as("bal_cents"))
    val post = dim.filter(pmod(col("key"), lit(11)) =!= 0)
      .select(col("key"), col("name"),
        when(pmod(col("key"), lit(7)) === 0, col("bal_cents") + 10000L)
          .otherwise(col("bal_cents")).as("bal_cents"))
      .unionByName(dim.filter(pmod(col("key"), lit(13)) === 0)
        .select((-(col("key") + 1)).as("key"),
          concat(lit("NEW#"), col("key")).as("name"), col("bal_cents")))
    dim.alias("a").join(post.alias("b"), col("a.key") === col("b.key"), "full_outer")
      .select(
        coalesce(col("a.key"), col("b.key")).as("key"),
        coalesce(col("b.name"), col("a.name")).as("name"),
        coalesce(col("b.bal_cents"), col("a.bal_cents")).as("bal_cents"),
        when(col("b.key").isNull, lit("D"))
          .when(col("a.key").isNull, lit("I"))
          .when(col("a.name") =!= col("b.name") ||
            col("a.bal_cents") =!= col("b.bal_cents"), lit("U"))
          .as("op"))
      .filter(col("op").isNotNull)
      .orderBy(col("key"))
  }

  val tableSnapshotDiffSql: String =
    """WITH dim AS (SELECT c_custkey AS key, c_name AS name,
      |    CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer),
      |post AS (SELECT key, name,
      |    CASE WHEN key % 7 = 0 THEN bal_cents + 10000 ELSE bal_cents END AS bal_cents
      |  FROM dim WHERE key % 11 <> 0
      |  UNION ALL
      |  SELECT -(key+1), 'NEW#' || CAST(key AS VARCHAR), bal_cents
      |  FROM dim WHERE key % 13 = 0),
      |d AS (SELECT COALESCE(a.key, b.key) AS key,
      |    COALESCE(b.name, a.name) AS name,
      |    COALESCE(b.bal_cents, a.bal_cents) AS bal_cents,
      |    CASE WHEN b.key IS NULL THEN 'D'
      |         WHEN a.key IS NULL THEN 'I'
      |         WHEN a.name <> b.name OR a.bal_cents <> b.bal_cents THEN 'U'
      |    END AS op
      |  FROM dim a FULL JOIN post b ON b.key = a.key)
      |SELECT key, name, bal_cents, op FROM d WHERE op IS NOT NULL
      |ORDER BY key""".stripMargin

  // ------------------------------------------------- data quality
  /** Deequ-style table profiling: one row per column of the event log
    * with row count, null count, exact distinct count, and min/max in
    * a deterministic string representation (longs as decimal strings,
    * money in integer cents, timestamps in the micros format the rest
    * of the suite uses, strings by binary order — both engines
    * collate binary, so the reprs hash-match). The table a pipeline
    * publishes beside every dataset version.
    *
    * == Scale design ==
    * ONE corpus scan: every metric is an aggregate in a single pass
    * (the 6 exact distincts plan as one Expand ×6 — still one scan,
    * map-side partial); the per-column rows come from unpivoting the
    * single aggregate row, so post-scan state is O(columns). At
    * 100 TB you'd swap the exact distincts for approx_count_distinct
    * and keep the identical shape — exact here because the oracle
    * hash-compares.
    */
  /** Zone-map clustering audit of the standing fact table (r14 wave
    * 27 — the layout_skipping discipline pointed at a REAL table: the
    * clustering-depth metric Delta/Iceberg OPTIMIZE decisions read):
    * lineitem is dealt into 64 equal files in its ingest order
    * (l_orderkey, l_linenumber — the deterministic stand-in for "the
    * order rows arrived"), each file's zone map (min/max) is taken for
    * two probe columns — the clustered ingest key and the UNCORRELATED
    * l_shipdate — and each file's `depth` counts how many files' zones
    * a point query hitting this file must also read (range-overlap
    * count, self included). The contrast IS the finding: orderkey
    * zones overlap only at file boundaries (depth ≤ 2) while shipdate
    * zones all span the whole date range (depth ≈ 64, nothing prunes) —
    * the one-table justification for re-clustering when shipdate
    * predicates dominate the workload.
    *
    * == Scale design ==
    * File assignment rides [[graft.operators.Analytics.globalRowPos]]'
    * two-phase range-partitioned rank (no single-task sort); zone maps
    * are one map-side-combinable fold onto O(files) keys; the overlap
    * join is O(files²) on a ≤128-row broadcast relation. At 100 TB the
    * zone relation comes free from parquet footers and the audit stays
    * O(files).
    */
  def tableZonemapAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"),
        datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("sday"),
        col("l_linenumber"))
    val pos = graft.operators.Analytics.globalRowPos(li, Seq.empty,
      Seq(col("okey"), col("l_linenumber")), "pos", "n")
    val f = pos.select(col("okey"), col("sday"),
      expr("(pos - 1) div ((n + 63) div 64)").as("fid"))
    val st = f.select(expr(
        "stack(2, 'orderkey', fid, okey, 'shipdate', fid, sday)" +
        " AS (probe, fid, v)"))
    // The ≤128-row zone relation feeds BOTH sides of the overlap join;
    // unmaterialized, each side re-runs the O(N) stack+fold over the
    // ranked rows (r22: measured two full passes in the plan). Both
    // consumers read the WHOLE relation — no slicing, so no pushdown
    // lost — and the checkpoint is O(files) tiny.
    import graft.plans.Checkpoints.StableSyntax
    val z = st.groupBy(col("probe"), col("fid"))
      .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .stableCheckpoint()
    val zb = z.select(col("probe").as("bprobe"), col("vmin").as("bmin"),
      col("vmax").as("bmax"))
    z.join(broadcast(zb), col("bprobe") === col("probe") &&
        col("bmin") <= col("vmax") && col("bmax") >= col("vmin"))
      .groupBy(col("probe"), col("fid"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("depth"))
      .select(col("probe"), col("fid").as("file_id"), col("vmin"),
        col("vmax"), col("depth"))
      .orderBy(col("probe"), col("file_id"))
  }

  /** DuckDB twin: one global rank (the oracle replays semantics, not
    * the distributed two-phase), same zones, same overlap count. */
  val tableZonemapAuditSql: String =
    """WITH r AS (SELECT l_orderkey AS okey,
      |    CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) AS sday,
      |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS pos,
      |    count(*) OVER () AS n
      |  FROM lineitem),
      |f AS (SELECT okey, sday, (pos - 1) // ((n + 63) // 64) AS fid FROM r),
      |st AS (SELECT 'orderkey' AS probe, fid, okey AS v FROM f
      |  UNION ALL SELECT 'shipdate', fid, sday FROM f),
      |z AS (SELECT probe, fid, min(v) AS vmin, max(v) AS vmax
      |  FROM st GROUP BY 1, 2),
      |d AS (SELECT a.probe, a.fid, count(*) AS depth
      |  FROM z a JOIN z b ON b.probe = a.probe
      |    AND b.vmin <= a.vmax AND b.vmax >= a.vmin
      |  GROUP BY 1, 2)
      |SELECT z.probe, CAST(z.fid AS BIGINT) AS file_id, z.vmin, z.vmax,
      |  CAST(d.depth AS BIGINT) AS depth
      |FROM z JOIN d ON d.probe = z.probe AND d.fid = z.fid
      |ORDER BY z.probe, file_id""".stripMargin

  def tableProfile(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val tsRepr = (c: Column) => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
    val reprs: Seq[(String, Column, Column => Column)] = Seq(
      ("event_id", col("event_id"), (c: Column) => c.cast("string")),
      ("event_type", col("event_type"), (c: Column) => c),
      ("props", col("props"), (c: Column) => c),
      ("ts", col("ts"), tsRepr),
      ("user_id", col("user_id"), (c: Column) => c.cast("string")),
      ("value", cents(col("value")), (c: Column) => c.cast("string")))
    val aggs = reprs.flatMap { case (n, c, repr) => Seq(
      count(c).as(s"nn_$n"),
      countDistinct(c).as(s"nd_$n"),
      repr(min(c)).as(s"mn_$n"),
      repr(max(c)).as(s"mx_$n"))
    }
    val stackArgs = reprs.map { case (n, _, _) =>
      s"'$n', nn_$n, nd_$n, mn_$n, mx_$n"
    }.mkString(", ")
    e.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(col("n_rows"), expr(
        s"stack(${reprs.size}, $stackArgs) AS (col_name, n_nonnull, n_distinct, min_repr, max_repr)"))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_nonnull")).as("n_nulls"),
        col("n_distinct"), col("min_repr"), col("max_repr"))
      .orderBy(col("col_name"))
  }

  val tableProfileSql: String = {
    val rows = Seq(
      ("event_id", "event_id", "CAST(min(event_id) AS VARCHAR)", "CAST(max(event_id) AS VARCHAR)"),
      ("event_type", "event_type", "min(event_type)", "max(event_type)"),
      ("props", "props", "min(props)", "max(props)"),
      ("ts", "ts", "strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f')", "strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f')"),
      ("user_id", "user_id", "CAST(min(user_id) AS VARCHAR)", "CAST(max(user_id) AS VARCHAR)"),
      ("value", "CAST(round(value*100) AS BIGINT)", // integer-cents repr
        "CAST(min(CAST(round(value*100) AS BIGINT)) AS VARCHAR)",
        "CAST(max(CAST(round(value*100) AS BIGINT)) AS VARCHAR)"))
      .map { case (n, c, mn, mx) =>
        s"""SELECT '$n' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct, $mn AS min_repr, $mx AS max_repr
           |FROM events""".stripMargin
      }
    rows.mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  /** Sketch twin of [[tableProfile]] (r17) — the 100 TB profile shape:
    * the exact face's six `countDistinct` lanes are the one profile
    * stage whose shuffle grows with column cardinality; this face
    * replaces them with six 64-register integer HLL sketches (the
    * [[graft.operators.Analytics.aggHllGrouped]] machinery keyed by
    * column name) whose estimate is hash-checkable on both engines.
    * Per column: exact row/null counts (free — they fold into the
    * same register aggregation: every non-null value lands in exactly
    * one register, nulls in the null register group), the empty-
    * register count `v_zero` (so a consumer can apply the standard
    * linear-counting small-range correction m·ln(m/V) — the float
    * step deliberately OUTSIDE the hash contract, same as the HLL
    * replay face), and the raw harmonic-mean estimate in exact
    * bigint millis. Column values map to sketch longs by each type's
    * canonical repr: ids as-is, value as integer cents, ts as
    * unix-micros, strings through the codegen'd poly_hash — then a
    * pmod into the affine-hash domain so no engine can overflow.
    *
    * == Scale design ==
    * ONE scan → 6-way column stack → groupBy (col, register): the
    * shuffle is O(6 × 65) AFTER map-side combine at ANY corpus size —
    * the flat decade slope the exact face cannot have (its distinct
    * lanes shuffle O(Σ column cardinalities)). The spec pins each
    * estimate against the exact profile within the documented
    * linear-counting consumer contract.
    */
  def tableProfileApprox(s: SparkSession, dir: String): DataFrame = {
    val g = profileRegisters(Tables.load(s, dir, "events"))
    profileTotals(g).join(broadcast(profileSums(g)), Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"), col("v_zero"),
        Analytics.hllEstMilli("s").as("nd_est_milli"))
      .orderBy(col("col_name"))
  }

  /** The profiled event columns with each one's sketch long on both
    * sides: ids as-is, value as integer cents, ts as unix-micros,
    * strings through poly_hash. */
  private def profileReprs: Seq[(String, Column, String)] = Seq(
    ("event_id", col("event_id"), "CAST(event_id AS BIGINT)"),
    ("event_type", polyHash(col("event_type"), 2147483647L),
      polyHashSql("event_type", 2147483647L)),
    ("props", polyHash(col("props"), 2147483647L), polyHashSql("props", 2147483647L)),
    ("ts", expr("unix_micros(cast(ts as timestamp))"), "epoch_us(ts)"),
    ("user_id", col("user_id"), "CAST(user_id AS BIGINT)"),
    ("value", cents(col("value")), "CAST(round(value*100) AS BIGINT)"))

  /** Per (col_name, j) of `events`' six stacked sketch longs, pmod into
    * the affine-hash domain: the row count c and the register max mj.
    * A NULL value lands in register j = NULL. */
  private def profileRegisters(events: DataFrame): DataFrame = {
    val stack = profileReprs.map { case (n, _, _) => s"'$n', u_$n" }
      .mkString(s"stack(${profileReprs.size}, ", ", ", ") AS (col_name, u)")
    events.select(profileReprs.map { case (n, c, _) => c.as(s"u_$n") }: _*)
      .select(expr(stack))
      .select(col("col_name") +: Analytics.hllRegister(pmod(col("u"), lit(2147483647L))): _*)
      .groupBy(col("col_name"), col("j"))
      .agg(count(lit(1)).as("c"), max(col("rho")).as("mj"))
  }

  /** Per column of a register block: n_rows and n_nulls. */
  private def profileTotals(g: DataFrame): DataFrame =
    g.groupBy(col("col_name")).agg(
      sum(col("c")).as("n_rows"),
      coalesce(sum(when(col("j").isNull, col("c"))), lit(0L)).as("n_nulls"))

  /** Per column of a register block: the harmonic sum s and v_zero over
    * all six columns' 64 registers, so a column with no rows counts. */
  private def profileSums(g: DataFrame): DataFrame = {
    import g.sparkSession.implicits._
    val cols = profileReprs.map(_._1).toDF("col_name")
    Analytics.hllSums(Analytics.hllDense(g.filter(col("j").isNotNull), Some(cols)),
      Seq("col_name"))
  }

  /** DuckDB twin of the register block over all of `events`: CTEs `g`,
    * `tot` and `sm` ([[profileRegisters]], [[profileTotals]],
    * [[profileSums]]). */
  private val profileSqlCtes: String = {
    val u = profileReprs.map { case (n, _, q) => s"SELECT '$n' AS col_name, $q AS u FROM events" }
      .mkString("\n  UNION ALL ")
    val cols = profileReprs.map(r => s"'${r._1}'").mkString(", ")
    s"""u AS (
       |  $u),
       |g AS (SELECT col_name, j, count(*) AS c, max(rho) AS mj
       |  FROM (SELECT col_name, ${Analytics.hllRegisterSql(
             "(((u % 2147483647) + 2147483647) % 2147483647)")} FROM u)
       |  GROUP BY 1, 2),
       |tot AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n_rows,
       |    CAST(COALESCE(sum(CASE WHEN j IS NULL THEN c END), 0) AS BIGINT) AS n_nulls
       |  FROM g GROUP BY 1),
       |cols AS (SELECT unnest([$cols]) AS col_name),
       |dense AS (${Analytics.hllDenseSql("g", Seq("col_name"), Some("cols"))}),
       |sm AS (${Analytics.hllSumsSql("dense", Seq("col_name"))})""".stripMargin
  }

  /** DuckDB twin: the same six canonical reprs stacked by UNION ALL
    * into the same register block. */
  val tableProfileApproxSql: String =
    s"""WITH $profileSqlCtes
       |SELECT tot.col_name, n_rows, n_nulls, v_zero,
       |  ${Analytics.hllEstMilliSql("sm.s")} AS nd_est_milli
       |FROM tot JOIN sm USING (col_name)
       |ORDER BY col_name""".stripMargin

  // ---------------------------------------- incremental stats merge
  /** Incrementally-maintained table profile (r17) — the delta face of
    * [[tableProfileApprox]], closing the profile family's maintenance
    * story: a nightly batch (event_id ≡ 0 mod 10, [[aggIncremental]]'s
    * delta convention) arrives and the profile is MERGED, not
    * recomputed — the standing leg's 6×64 HLL register block and row/
    * null counters combine with the delta leg's by pure sketch algebra
    * (registers: per-(col, j) `max`; counters: `sum`), which equals
    * the full recompute BY CONSTRUCTION (max/sum are associative over
    * any partition of the rows — that mergeability is the entire
    * point of sketch-backed stats). Ledger per column: leg row counts
    * (n_base/n_delta), merged n_rows/n_nulls, empty-register count
    * v_zero and the raw harmonic estimate in exact bigint millis —
    * the same consumer contract as the approx face.
    *
    * == Scale design ==
    * At 100 TB the base leg's registers are what you PERSIST (6×64
    * longs per table — bytes); the nightly job scans ONLY the delta
    * partition, folds it to its own 6×64 block map-side, and merges
    * two bounded blocks driver-side-free: cost is O(delta), flat in
    * the standing corpus. The registered face computes both legs from
    * the corpus (the test harness has no persisted register store) but
    * the merge path never touches a combined scan — the spec pins
    * merge ≡ [[tableProfileApprox]] recompute on every shared column.
    */
  def tableStatsIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val e = Tables.load(s, dir, "events")
    // the two leg blocks are the bounded artifact (2 × 6 × ≤65 rows);
    // checkpoint so the three consumers below read the materialized
    // registers, not three more pairs of corpus scans
    val legs = profileRegisters(e.filter(pmod(col("event_id"), lit(10)) =!= 0))
      .withColumn("leg", lit("base"))
      .unionByName(profileRegisters(e.filter(pmod(col("event_id"), lit(10)) === 0))
        .withColumn("leg", lit("delta")))
      .stableCheckpoint()
    // the merge: register max + counter sum over the two leg blocks
    val merged = legs.groupBy(col("col_name"), col("j"))
      .agg(sum(col("c")).as("c"), max(col("mj")).as("mj"))
    val legCounts = legs.groupBy(col("col_name")).agg(
      sum(when(col("leg") === "base", col("c")).otherwise(0L)).as("n_base"),
      sum(when(col("leg") === "delta", col("c")).otherwise(0L)).as("n_delta"))
    profileTotals(merged).join(broadcast(legCounts), Seq("col_name"))
      .join(broadcast(profileSums(merged)), Seq("col_name"))
      .select(col("col_name"), col("n_base"), col("n_delta"), col("n_rows"),
        col("n_nulls"), col("v_zero"), Analytics.hllEstMilli("s").as("nd_est_milli"))
      .orderBy(col("col_name"))
  }

  /** DuckDB twin: the full recompute the merge must equal
    * ([[aggIncrementalSql]]'s orientation) — [[tableProfileApproxSql]]'s
    * register chain over ALL rows plus the per-leg row counts. */
  val tableStatsIncrementalSql: String =
    s"""WITH $profileSqlCtes,
       |legc AS (SELECT
       |    CAST(sum(CASE WHEN event_id % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       |    CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
       |  FROM events)
       |SELECT tot.col_name, n_base, n_delta, n_rows, n_nulls, v_zero,
       |  ${Analytics.hllEstMilliSql("sm.s")} AS nd_est_milli
       |FROM tot JOIN sm USING (col_name) CROSS JOIN legc
       |ORDER BY col_name""".stripMargin

  /** Rule-based data-quality validation (the Deequ/Great-Expectations
    * constraint suite): completeness, key uniqueness, domain, range,
    * and freshness checks over the event log, each emitting its exact
    * integer-ppm metric and a pass flag (pass ⇔ ppm = 10⁶). One rule
    * (`value_under_100`) is deliberately strict enough to FAIL on
    * this data so the fail accounting is exercised, not just the
    * happy path.
    *
    * == Scale design ==
    * All rules fold into ONE aggregate pass over the scan (conditional
    * counts + one distinct); the emitted relation is O(rules). This is
    * the gate a 100 TB ingest runs before publishing a partition —
    * fail-fast, no second scan.
    */
  def dqRules(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val agg = e.agg(
      count(lit(1)).as("n_rows"),
      count(col("value")).as("c_value"),
      count(col("event_type")).as("c_type"),
      countDistinct(col("event_id")).as("d_eid"),
      count(when(col("value") >= 0, 1)).as("c_nonneg"),
      count(when(col("value") <= 100.0, 1)).as("c_under100"),
      count(when(col("event_type").isin("click", "error", "purchase", "signup", "view"), 1)).as("c_known"),
      count(when(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2026-01-01").cast("timestamp"), 1)).as("c_fresh"))
    val rules = Seq(
      ("complete_value", "c_value"), ("complete_type", "c_type"),
      ("unique_event_id", "d_eid"), ("nonneg_value", "c_nonneg"),
      ("value_under_100", "c_under100"), ("known_type", "c_known"),
      ("ts_in_range", "c_fresh"))
    val stackArgs = rules.map { case (r, c) =>
      s"'$r', 1000000 * $c div n_rows"
    }.mkString(", ")
    agg.select(expr(
        s"stack(${rules.size}, $stackArgs) AS (rule, metric_ppm)"))
      .select(col("rule"), col("metric_ppm"),
        (col("metric_ppm") === 1000000L).as("pass"))
      .orderBy(col("rule"))
  }

  val dqRulesSql: String =
    """WITH a AS (SELECT count(*) AS n_rows,
      |    count(value) AS c_value, count(event_type) AS c_type,
      |    count(DISTINCT event_id) AS d_eid,
      |    count(CASE WHEN value >= 0 THEN 1 END) AS c_nonneg,
      |    count(CASE WHEN value <= 100.0 THEN 1 END) AS c_under100,
      |    count(CASE WHEN event_type IN ('click','error','purchase','signup','view') THEN 1 END) AS c_known,
      |    count(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2026-01-01' THEN 1 END) AS c_fresh
      |  FROM events),
      |r AS (
      |  SELECT 'complete_value' AS rule, 1000000 * c_value // n_rows AS metric_ppm FROM a
      |  UNION ALL SELECT 'complete_type', 1000000 * c_type // n_rows FROM a
      |  UNION ALL SELECT 'unique_event_id', 1000000 * d_eid // n_rows FROM a
      |  UNION ALL SELECT 'nonneg_value', 1000000 * c_nonneg // n_rows FROM a
      |  UNION ALL SELECT 'value_under_100', 1000000 * c_under100 // n_rows FROM a
      |  UNION ALL SELECT 'known_type', 1000000 * c_known // n_rows FROM a
      |  UNION ALL SELECT 'ts_in_range', 1000000 * c_fresh // n_rows FROM a)
      |SELECT rule, metric_ppm, metric_ppm = 1000000 AS pass FROM r
      |ORDER BY rule""".stripMargin

  /** The fixed as-of probe dates the SCD2 lookup resolves (one per
    * mid-year across the order history). */
  private val scd2Probes: Seq[String] =
    (1995 to 2001).map(y => s"$y-07-01")

  /** Point-in-time lookup against the SCD2 dimension — the read side
    * of [[dimScd2]]: for every dimension key and each of seven fixed
    * mid-year as-of dates, the version whose [valid_from, valid_to)
    * interval covers the date, with its running balance — "what did
    * this customer's row say on 1998-07-01?", the query every
    * versioned-dimension consumer (fact enrichment, audit, ML
    * training-matrix build) runs. Validity bounds are ISO-date
    * strings, so the interval predicate is a lexicographic range both
    * engines compare identically (the `9999-12-31` open sentinel
    * included); probes before a customer's first version correctly
    * resolve to nothing.
    *
    * == Scale design ==
    * Probes derive from the dimension's own key set (×7 bounded
    * fan-out); the interval join is EQUALITY on the dimension key
    * plus a range predicate within the key's own few versions — a
    * partitioned range join with per-key cost O(versions), never a
    * cross product. At 100 TB the dim key partitions P-way and each
    * probe touches one partition.
    */
  def dimScd2Asof(s: SparkSession, dir: String): DataFrame = {
    val dim = dimScd2(s, dir)
    val probes = dim.select(col("custkey")).distinct()
      .select(col("custkey"),
        explode(array(scd2Probes.map(lit(_)): _*)).as("asof_date"))
    probes.join(dim, Seq("custkey"))
      .filter(col("valid_from") <= col("asof_date") &&
        col("asof_date") < col("valid_to"))
      .select(col("custkey"), col("asof_date"), col("version"),
        col("bal_cents"), col("is_current"))
      .orderBy(col("custkey"), col("asof_date"))
  }

  /** DuckDB twin: the dimension CTE replayed, same probe fan-out and
    * lexicographic interval predicate. */
  lazy val dimScd2AsofSql: String = {
    val probes = scd2Probes.map(p => s"'$p'").mkString(", ")
    s"""WITH dim AS (SELECT * FROM ($dimScd2Sql)),
       |p AS (SELECT custkey, unnest([$probes]) AS asof_date
       |  FROM (SELECT DISTINCT custkey FROM dim))
       |SELECT p.custkey, p.asof_date, dim.version, dim.bal_cents, dim.is_current
       |FROM p JOIN dim ON dim.custkey = p.custkey
       |WHERE dim.valid_from <= p.asof_date AND p.asof_date < dim.valid_to
       |ORDER BY p.custkey, p.asof_date""".stripMargin
  }

  // ------------------------------------------------------- freshness
  /** Feed-freshness audit (r14, completing the DQ quartet beside
    * [[dqRules]] / [[dqDrift]] / [[dqReferential]]): per event-type
    * feed, when data last arrived and whether the final day of the log
    * still carries its share — the first page of every pipeline
    * incident. Exact integers throughout: last arrival as epoch
    * micros, the trailing-day count vs the feed's all-time daily
    * average in exact ppm, and a stale flag (nothing in the final 24 h
    * of the log's span). The span anchor is max(ts) over the LOG (not
    * wall clock), so the audit is deterministic and replayable.
    *
    * == Scale design ==
    * ONE scan folded map-side onto O(types × days) keys, then
    * O(types) arithmetic; the global anchor rides a broadcast 1-row
    * aggregate — the [[dqRules]] shape.
    */
  def dqFreshness(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    // ONE fact scan: everything — per-type rollup, the global anchor,
    // and the final-day counts — derives from this checkpointed
    // O(types × days) grid (each cell carries its max arrival micros,
    // so last_us survives the day fold exactly)
    val daily = Tables.load(s, dir, "events")
      .withColumn("tts", col("ts").cast("timestamp"))
      .select(col("event_type"), unix_micros(col("tts")).as("us"),
        expr("unix_micros(tts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), max(col("us")).as("max_us"))
      .stableCheckpoint()
    val anchor = daily.agg(max(col("max_us")).as("log_end_us"),
      (max(col("day")) - min(col("day")) + 1L).as("n_days"),
      max(col("day")).as("end_day"))
    val perType = daily.groupBy(col("event_type"))
      .agg(max(col("max_us")).as("last_us"), sum(col("n")).as("n_total"))
    val lastDayN = daily.alias("d")
      .join(broadcast(anchor.select(col("end_day"))),
        col("d.day") === col("end_day"))
      .select(col("d.event_type").as("event_type"), col("d.n").as("n_last_day"))
    perType.join(broadcast(anchor), lit(true))
      .join(lastDayN, Seq("event_type"), "left")
      .na.fill(0L, Seq("n_last_day"))
      .select(col("event_type"), col("last_us"), col("n_total"),
        col("n_last_day"),
        expr("n_total div n_days").as("avg_daily_n"),
        expr("case when n_total div n_days = 0 then null else " +
          "n_last_day * 1000000 div (n_total div n_days) end").as("last_day_ppm"),
        (col("log_end_us") - col("last_us") >= 86400000000L).as("stale"))
      .orderBy(col("event_type"))
  }

  val dqFreshnessSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS us,
      |    epoch_us(ts) // 86400000000 AS day FROM events),
      |a AS (SELECT max(us) AS log_end_us,
      |    max(day) - min(day) + 1 AS n_days,
      |    max(us) // 86400000000 AS end_day FROM e),
      |d AS (SELECT event_type, day, count(*) AS n FROM e GROUP BY 1, 2),
      |t AS (SELECT event_type, max(us) AS last_us,
      |    CAST(count(*) AS BIGINT) AS n_total FROM e GROUP BY 1),
      |ld AS (SELECT d.event_type, d.n AS n_last_day
      |  FROM d JOIN a ON d.day = a.end_day)
      |SELECT t.event_type, t.last_us, t.n_total,
      |  CAST(COALESCE(ld.n_last_day, 0) AS BIGINT) AS n_last_day,
      |  t.n_total // a.n_days AS avg_daily_n,
      |  CASE WHEN t.n_total // a.n_days = 0 THEN NULL
      |    ELSE CAST(COALESCE(ld.n_last_day, 0) AS BIGINT) * 1000000 // (t.n_total // a.n_days) END AS last_day_ppm,
      |  a.log_end_us - t.last_us >= 86400000000 AS stale
      |FROM t CROSS JOIN a LEFT JOIN ld ON ld.event_type = t.event_type
      |ORDER BY t.event_type""".stripMargin

  /** Distribution-drift monitor between two epochs of the event log —
    * the check a production pipeline runs when a new data drop lands:
    * the first half of the month is the REFERENCE window, the rest is
    * CURRENT, and for every bucket of two features (the event-type
    * alphabet and six fixed value bands in integer cents) the monitor
    * reports both windows' counts, shares in exact integer ppm, and
    * the absolute share shift. Per feature, Σ drift_ppm / 2 is the
    * total-variation distance — the alarm threshold number. All-
    * integer (no PSI logarithm), so both engines agree bit-for-bit.
    *
    * == Scale design ==
    * ONE scan: each event contributes one row per feature via a
    * 2-row stack (conditional on the window), folded map-side onto
    * O(buckets) keys; window totals ride a broadcast 1-row aggregate.
    * At 100 TB this is a scan plus O(buckets) state — the same shape
    * as [[dqRules]], pointed at two time windows.
    */
  def dqDrift(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val e = Tables.load(s, dir, "events")
      .withColumn("cents", cents(col("value")))
      .withColumn("band",
        when(col("cents") < 1000, "v0").when(col("cents") < 2500, "v1")
          .when(col("cents") < 5000, "v2").when(col("cents") < 7500, "v3")
          .when(col("cents") < 10000, "v4").otherwise("v5"))
      .withColumn("is_ref", (col("ts") < cut).cast("long"))
      .select(col("is_ref"), expr(
        "stack(2, 'event_type', event_type, 'value_band', band) AS (feature, bucket)"))
    // window totals over the O(buckets) grouped relation — every
    // feature partitions the same events, so its bucket sums ARE the
    // window totals; this keeps the plan at ONE scan (a separate
    // totals aggregate would re-read the table)
    val perFeature = Window.partitionBy(col("feature"))
    e.groupBy(col("feature"), col("bucket"))
      .agg(sum(col("is_ref")).as("ref_n"),
        sum(lit(1L) - col("is_ref")).as("cur_n"))
      .withColumn("ref_total", sum(col("ref_n")).over(perFeature))
      .withColumn("cur_total", sum(col("cur_n")).over(perFeature))
      .select(col("feature"), col("bucket"), col("ref_n"), col("cur_n"),
        expr("(1000000 * ref_n) div ref_total").as("ref_ppm"),
        expr("(1000000 * cur_n) div cur_total").as("cur_ppm"),
        expr("abs((1000000 * ref_n) div ref_total - (1000000 * cur_n) div cur_total)")
          .as("drift_ppm"))
      .orderBy(col("feature"), col("bucket"))
  }

  // -------------------------------------------- PSI drift (integer bits)
  /** Population Stability Index across [[dqDrift]]'s epoch cut (r14
    * wave 19) — the industry-standard drift score beside the family's
    * TVD (banded) and KS (continuous) faces: PSI weights each bucket's
    * share shift by the LOG of the share ratio, so a bucket that
    * doubles from 1% to 2% scores like one that moves 30% → 60% —
    * multiplicative sensitivity TVD deliberately lacks. Computed in
    * EXACT integer "bits" via the text_collocations PMI staging:
    * log₂-ratio = length(bin(cur·ref_total)) − length(bin(ref·cur_total))
    * (floor-log₂ of the exact cross products — no float log), weighted
    * by the clamped-share ppm shift; clamping zero buckets to count 1
    * (the standard PSI practice) is applied to BOTH factors, and since
    * floor is monotone the two factors always agree in sign, so every
    * term is ≥ 0 and the sum is a true divergence. The page threshold
    * is the industry 0.2-nat rule converted to this unit: 0.2/ln 2 ≈
    * 0.2885 bits = 288539 ppm·bits.
    *
    * == Scale design ==
    * The identical ONE-scan 2-row-stack fold as [[dqDrift]] onto
    * O(buckets) keys; the PSI reduce runs on that bounded grid. Cross
    * products are exact to ~3·10⁹ events per window in int64
    * (documented bound; beyond that, shift both totals right by the
    * same k — the bit DIFFERENCE is shift-invariant up to the floor).
    */
  def dqPsi(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val e = Tables.load(s, dir, "events")
      .withColumn("cents", cents(col("value")))
      .withColumn("band",
        when(col("cents") < 1000, "v0").when(col("cents") < 2500, "v1")
          .when(col("cents") < 5000, "v2").when(col("cents") < 7500, "v3")
          .when(col("cents") < 10000, "v4").otherwise("v5"))
      .withColumn("is_ref", (col("ts") < cut).cast("long"))
      .select(col("is_ref"), expr(
        "stack(2, 'event_type', event_type, 'value_band', band) AS (feature, bucket)"))
    val perFeature = Window.partitionBy(col("feature"))
    e.groupBy(col("feature"), col("bucket"))
      .agg(sum(col("is_ref")).as("ref_n"),
        sum(lit(1L) - col("is_ref")).as("cur_n"))
      .withColumn("ref_total", sum(col("ref_n")).over(perFeature))
      .withColumn("cur_total", sum(col("cur_n")).over(perFeature))
      .withColumn("ref_c", greatest(col("ref_n"), lit(1L)))
      .withColumn("cur_c", greatest(col("cur_n"), lit(1L)))
      .withColumn("term", expr(
        """((1000000 * cur_c) div cur_total - (1000000 * ref_c) div ref_total)
          |* (length(bin(cur_c * ref_total)) - length(bin(ref_c * cur_total)))"""
          .stripMargin))
      .groupBy(col("feature"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("ref_total")).as("ref_total"),
        max(col("cur_total")).as("cur_total"),
        sum(col("term")).as("psi_micro_bits"))
      .select(col("feature"), col("n_buckets"), col("ref_total"),
        col("cur_total"), col("psi_micro_bits"),
        (col("psi_micro_bits") > 288539L).cast("long").as("drift_flag"))
      .orderBy(col("feature"))
  }

  /** DuckDB twin: same stacked fold, same clamped cross-product bit
    * staging. */
  val dqPsiSql: String =
    """WITH b AS (SELECT
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref,
      |    event_type,
      |    CASE WHEN round(value*100) < 1000 THEN 'v0'
      |         WHEN round(value*100) < 2500 THEN 'v1'
      |         WHEN round(value*100) < 5000 THEN 'v2'
      |         WHEN round(value*100) < 7500 THEN 'v3'
      |         WHEN round(value*100) < 10000 THEN 'v4' ELSE 'v5' END AS band
      |  FROM events),
      |e AS (SELECT is_ref, 'event_type' AS feature, event_type AS bucket FROM b
      |  UNION ALL SELECT is_ref, 'value_band', band FROM b),
      |g AS (SELECT feature, bucket, CAST(sum(is_ref) AS BIGINT) AS ref_n,
      |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_n
      |  FROM e GROUP BY feature, bucket),
      |t AS (SELECT *, CAST(sum(ref_n) OVER (PARTITION BY feature) AS BIGINT) AS ref_total,
      |    CAST(sum(cur_n) OVER (PARTITION BY feature) AS BIGINT) AS cur_total,
      |    greatest(ref_n, 1) AS ref_c, greatest(cur_n, 1) AS cur_c
      |  FROM g),
      |s AS (SELECT *,
      |    ((1000000 * cur_c) // cur_total - (1000000 * ref_c) // ref_total)
      |    * (length(bin(cur_c * ref_total)) - length(bin(ref_c * cur_total))) AS term
      |  FROM t)
      |SELECT feature, CAST(count(*) AS BIGINT) AS n_buckets,
      |  max(ref_total) AS ref_total, max(cur_total) AS cur_total,
      |  CAST(sum(term) AS BIGINT) AS psi_micro_bits,
      |  CAST(CASE WHEN sum(term) > 288539 THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
      |FROM s GROUP BY feature ORDER BY feature""".stripMargin

  // ------------------------------------------------- KS two-sample
  /** Exact two-sample Kolmogorov–Smirnov test on the purchase-value
    * distribution across [[dqDrift]]'s epoch cut (r14 wave 13) — the
    * CONTINUOUS-distribution face beside drift's banded TVD: banding
    * can hide a shift that moves mass within a band, the KS sup-gap
    * cannot. D = max over the merged cents grid of |CDF_ref −
    * CDF_cur| in exact ppm (integer-div CDFs, (gap desc, cents)
    * tie-break picks one attaining value), plus the α = 0.05 decision
    * by EXACT integer cross-multiplication — D²·n_ref·n_cur >
    * c²·10⁶·(n_ref+n_cur) with c² = 1.844164 staged as 1844164/10⁶ —
    * in DECIMAL(38,0)/HUGEINT so no float boundary and no overflow up
    * to ~10¹³ events per side.
    *
    * == Scale design ==
    * ONE scan folds events onto the O(distinct cents) grid (the value
    * domain is bounded — ≤ ~10⁴ distinct cents by generation); the
    * cumulative and max windows run un-partitioned on that bounded
    * ledger, never the event log (the compaction_plan precedent: the
    * single-partition warning fires on ~10⁴ rows, not events).
    */
  def dqKsValues(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("2024-01-16").cast("timestamp")
    val grid = Tables.load(s, dir, "events")
      .select(cents(col("value")).as("v"),
        (col("ts") < cut).cast("long").as("is_ref"))
      .groupBy(col("v"))
      .agg(sum(col("is_ref")).as("a"), sum(lit(1L) - col("is_ref")).as("b"))
    val wc = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    grid
      .withColumn("ca", sum(col("a")).over(wc))
      .withColumn("cb", sum(col("b")).over(wc))
      .withColumn("na", sum(col("a")).over(wAll))
      .withColumn("nb", sum(col("b")).over(wAll))
      .withColumn("d_ppm",
        expr("abs(ca * 1000000 div na - cb * 1000000 div nb)"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("d_ppm").desc, col("v"))))
      .filter(col("rn") === 1)
      .select(col("na").as("n_ref"), col("nb").as("n_cur"),
        col("d_ppm"), col("v").as("at_cents"),
        (expr("cast(d_ppm as decimal(38,0)) * d_ppm * na * nb") >
          expr("cast(1844164 as decimal(38,0)) * 1000000 * (na + nb)"))
          .cast("long").as("reject_05"))
  }

  val dqKsValuesSql: String =
    """WITH g AS (SELECT CAST(round(value*100) AS BIGINT) AS v,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END) AS BIGINT) AS b
      |  FROM events GROUP BY 1),
      |c AS (SELECT v,
      |    CAST(sum(a) OVER (ORDER BY v) AS BIGINT) AS ca,
      |    CAST(sum(b) OVER (ORDER BY v) AS BIGINT) AS cb,
      |    CAST(sum(a) OVER () AS BIGINT) AS na,
      |    CAST(sum(b) OVER () AS BIGINT) AS nb
      |  FROM g),
      |d AS (SELECT v, na, nb,
      |    abs(ca * 1000000 // na - cb * 1000000 // nb) AS d_ppm
      |  FROM c),
      |r AS (SELECT *, row_number() OVER (ORDER BY d_ppm DESC, v) AS rn FROM d)
      |SELECT na AS n_ref, nb AS n_cur, d_ppm, v AS at_cents,
      |  CAST(CASE WHEN CAST(d_ppm AS HUGEINT) * d_ppm * na * nb
      |      > CAST(1844164 AS HUGEINT) * 1000000 * (na + nb)
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_05
      |FROM r WHERE rn = 1""".stripMargin

  /** DuckDB twin: same two stacked features, same integer shares. */
  val dqDriftSql: String =
    """WITH b AS (SELECT
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref,
      |    event_type,
      |    CASE WHEN round(value*100) < 1000 THEN 'v0'
      |         WHEN round(value*100) < 2500 THEN 'v1'
      |         WHEN round(value*100) < 5000 THEN 'v2'
      |         WHEN round(value*100) < 7500 THEN 'v3'
      |         WHEN round(value*100) < 10000 THEN 'v4' ELSE 'v5' END AS band
      |  FROM events),
      |e AS (SELECT is_ref, 'event_type' AS feature, event_type AS bucket FROM b
      |  UNION ALL SELECT is_ref, 'value_band', band FROM b),
      |t AS (SELECT feature, CAST(sum(is_ref) AS BIGINT) AS ref_total,
      |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_total
      |  FROM e GROUP BY feature),
      |g AS (SELECT feature, bucket, CAST(sum(is_ref) AS BIGINT) AS ref_n,
      |    CAST(sum(1 - is_ref) AS BIGINT) AS cur_n
      |  FROM e GROUP BY feature, bucket)
      |SELECT feature, bucket, ref_n, cur_n,
      |  (1000000 * ref_n) // ref_total AS ref_ppm,
      |  (1000000 * cur_n) // cur_total AS cur_ppm,
      |  abs((1000000 * ref_n) // ref_total - (1000000 * cur_n) // cur_total) AS drift_ppm
      |FROM g JOIN t USING (feature)
      |ORDER BY feature, bucket""".stripMargin

  // ------------------------------------------ referential integrity
  /** Referential-integrity gate — the cross-table DQ rule
    * [[dqRules]]'s single-table pass cannot express: each foreign-key
    * edge of the star schema (lineitem→orders on orderkey,
    * orders→customer on custkey) audited for ORPHAN children whose
    * parent key does not exist, with exact ppm accounting. A publish
    * gate runs this after every load: orphans mean a partial parent
    * load or a broken CDC feed, and every join downstream silently
    * drops those rows. This corpus is referentially clean (both edges
    * read 0 — the green the gate certifies); the spec proves the gate
    * non-vacuous by planting an orphaned child fixture.
    *
    * == Scale design ==
    * One LEFT ANTI join per edge shuffled on the join key — the same
    * key the downstream joins use, so any skew here is skew they'd
    * hit too — folded to one count; the parent side could broadcast
    * for dimension-sized parents (customer) and shuffle for
    * fact-sized ones (orders), which is exactly what AQE picks.
    */
  def dqReferential(s: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: org.apache.spark.sql.DataFrame, ck: String,
             parent: org.apache.spark.sql.DataFrame, pk: String) =
      child.select(col(ck).as("ck"))
        .join(parent.select(col(pk).as("pk")).distinct(),
          col("ck") === col("pk"), "left")
        .agg(count(lit(1)).as("n_child"),
          count(when(col("pk").isNull, 1)).as("n_orphans"))
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"),
          expr("1000000 * n_orphans div n_child").as("orphan_ppm"),
          (col("n_orphans") === 0L).as("pass"))
    val li = Tables.load(s, dir, "lineitem")
    val ord = Tables.load(s, dir, "orders")
    val cust = Tables.load(s, dir, "customer")
    edge("lineitem_orders", li, "l_orderkey", ord, "o_orderkey")
      .union(edge("orders_customer", ord, "o_custkey", cust, "c_custkey"))
      .orderBy(col("fk_edge"))
  }

  val dqReferentialSql: String =
    """WITH e1 AS (SELECT count(*) AS n_child,
      |    count(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS n_orphans
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |e2 AS (SELECT count(*) AS n_child,
      |    count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_orphans
      |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey)
      |SELECT fk_edge, CAST(n_child AS BIGINT) AS n_child,
      |  CAST(n_orphans AS BIGINT) AS n_orphans,
      |  CAST(1000000 * n_orphans // n_child AS BIGINT) AS orphan_ppm,
      |  n_orphans = 0 AS pass
      |FROM (SELECT 'lineitem_orders' AS fk_edge, * FROM e1
      |      UNION ALL SELECT 'orders_customer', * FROM e2)
      |ORDER BY fk_edge""".stripMargin

  // -------------------------------------------- incremental compaction
  /** Incremental re-compaction ledger (r18 — [[compactionPlan]]'s
    * delta face, and the Maintain-family instance of the lesson
    * `pipeline_job_incremental` proves for manifests: GLOBALLY
    * byte-packed layouts are hostile to growth). A delta batch
    * (doc_id ≡ 0 mod 10, the family's convention) lands on the
    * standing corpus; the standing layout was packed with the
    * before-corpus target (frozen here, as real systems freeze their
    * file-size target — the plan face's adaptive total÷16 would
    * re-pack everything unconditionally and hide the effect); the
    * after-corpus re-packs with the SAME target, and the ledger diffs
    * the two layouts file by file: group/doc/byte totals and fill per
    * after-file, `groups_moved_in`, and `rewritten` — the file's group
    * SET changed (order-independent group-hash sum AND min/max extrema
    * + byte total + group count compared across legs), i.e. the file a
    * compactor must
    * physically rewrite. The constants carry the amplification:
    * `files_rewritten` ≫ files-the-delta-touched, because every grown
    * group shifts the cumulative byte offsets of every LATER group —
    * which is exactly why production compactors pack per partition,
    * not globally (the spec pins prefix preservation: files wholly
    * before the first grown group never rewrite).
    *
    * == Scale design ==
    * ONE corpus scan folds both legs' byte/doc totals per (source,
    * lang) map-side (the bounded group relation, ≪ docs); both
    * packings are windows ON that relation; the file ledgers and the
    * diff are O(files). At 100 TB the group ledger is the table's
    * stats file, and this plan never touches row data.
    */
  def compactionIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val gh = polyHash(concat(col("source"), lit("|"), col("lang")), 1000000007L)
    val ord = Window.orderBy(col("source"), col("lang"))
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val packed = Tables.load(s, dir, "documents")
      .withColumn("d", (pmod(col("doc_id"), lit(10)) === 0).cast("long"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(when(col("d") === 0L, col("n_chars")).otherwise(0L)).as("bytes_b"),
        sum(col("n_chars")).as("bytes_a"),
        sum(lit(1L) - col("d")).as("docs_b"), count(lit(1)).as("docs_a"))
      .withColumn("ghash", gh)
      .withColumn("cum_b", coalesce(sum(col("bytes_b")).over(prev), lit(0L)))
      .withColumn("cum_a", coalesce(sum(col("bytes_a")).over(prev), lit(0L)))
      .withColumn("total_b", sum(col("bytes_b")).over(wAll))
      .withColumn("target", greatest(lit(65536L), expr("(total_b + 15) div 16")))
      .withColumn("file_b", when(col("docs_b") > 0, expr("cum_b div target")))
      .withColumn("file_a", expr("cum_a div target"))
      // one corpus scan into the O(groups) packed relation — the two
      // file ledgers and the delta totals all read the materialization
      .stableCheckpoint()
    // group-SET digest per file: additive ghash sum PLUS the min/max
    // ghash extrema — a second order-independent statistic, so a group
    // swap would have to collide on sum, min, max, bytes AND count to
    // be missed (the additive sum alone is collision-prone in theory)
    val beforeF = packed.filter(col("docs_b") > 0)
      .groupBy(col("file_b").as("file_id"))
      .agg(sum(col("ghash")).as("dig_b"), min(col("ghash")).as("lo_b"),
        max(col("ghash")).as("hi_b"), sum(col("bytes_b")).as("bytes_bf"),
        count(lit(1)).as("groups_bf"))
    val afterF = packed.groupBy(col("file_a").as("file_id"))
      .agg(count(lit(1)).as("n_groups"), sum(col("docs_a")).as("n_docs"),
        sum(col("bytes_a")).as("bytes"), sum(col("ghash")).as("dig_a"),
        min(col("ghash")).as("lo_a"), max(col("ghash")).as("hi_a"),
        sum(when(col("file_b").isNull || col("file_b") =!= col("file_a"), 1L)
          .otherwise(0L)).as("groups_moved_in"),
        max(col("target")).as("target"))
    val led = afterF.join(broadcast(beforeF), Seq("file_id"), "left_outer")
      .withColumn("fill_ppm", expr("(bytes * 1000000) div target"))
      .withColumn("rewritten",
        (col("dig_b").isNull || col("dig_a") =!= col("dig_b") ||
          col("lo_a") =!= col("lo_b") || col("hi_a") =!= col("hi_b") ||
          col("bytes") =!= col("bytes_bf") ||
          col("n_groups") =!= col("groups_bf")).cast("long"))
    val delta = packed.agg(
      sum(col("docs_a") - col("docs_b")).as("delta_docs"),
      sum(col("bytes_a") - col("bytes_b")).as("delta_bytes"))
    val tot = led.agg(count(lit(1)).as("files_total"),
      sum(col("rewritten")).as("files_rewritten"))
    led.crossJoin(broadcast(tot)).crossJoin(broadcast(delta))
      .select(col("file_id"), col("n_groups"), col("n_docs"), col("bytes"),
        col("fill_ppm"), col("groups_moved_in"), col("rewritten"),
        col("files_total"), col("files_rewritten"),
        col("delta_docs"), col("delta_bytes"))
      .orderBy(col("file_id"))
  }

  /** DuckDB twin: the same two-leg group fold, frozen before-target,
    * both packings, digest-diffed file ledger. */
  val compactionIncrementalSql: String =
    s"""WITH g AS (SELECT source, lang,
      |    CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS bytes_b,
      |    CAST(sum(n_chars) AS BIGINT) AS bytes_a,
      |    CAST(sum(CASE WHEN doc_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS docs_b,
      |    count(*) AS docs_a,
      |    ${polyHashSql("source || '|' || lang", 1000000007L)} AS ghash
      |  FROM documents GROUP BY source, lang),
      |p AS (SELECT *,
      |    coalesce(CAST(sum(bytes_b) OVER (ORDER BY source, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_b,
      |    coalesce(CAST(sum(bytes_a) OVER (ORDER BY source, lang
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_a,
      |    CAST(sum(bytes_b) OVER () AS BIGINT) AS total_b
      |  FROM g),
      |f AS (SELECT *, greatest(65536, (total_b + 15) // 16) AS target,
      |    CASE WHEN docs_b > 0
      |      THEN cum_b // greatest(65536, (total_b + 15) // 16) END AS file_b,
      |    cum_a // greatest(65536, (total_b + 15) // 16) AS file_a
      |  FROM p),
      |bf AS (SELECT file_b AS file_id, CAST(sum(ghash) AS BIGINT) AS dig_b,
      |    CAST(min(ghash) AS BIGINT) AS lo_b, CAST(max(ghash) AS BIGINT) AS hi_b,
      |    CAST(sum(bytes_b) AS BIGINT) AS bytes_bf, count(*) AS groups_bf
      |  FROM f WHERE docs_b > 0 GROUP BY 1),
      |af AS (SELECT file_a AS file_id, count(*) AS n_groups,
      |    CAST(sum(docs_a) AS BIGINT) AS n_docs,
      |    CAST(sum(bytes_a) AS BIGINT) AS bytes,
      |    CAST(sum(ghash) AS BIGINT) AS dig_a,
      |    CAST(min(ghash) AS BIGINT) AS lo_a, CAST(max(ghash) AS BIGINT) AS hi_a,
      |    CAST(sum(CASE WHEN file_b IS NULL OR file_b <> file_a
      |      THEN 1 ELSE 0 END) AS BIGINT) AS groups_moved_in,
      |    max(target) AS target
      |  FROM f GROUP BY 1),
      |led AS (SELECT af.*, bf.dig_b, bf.lo_b, bf.hi_b, bf.bytes_bf, bf.groups_bf,
      |    (af.bytes * 1000000) // af.target AS fill_ppm,
      |    CASE WHEN bf.dig_b IS NULL OR af.dig_a <> bf.dig_b
      |      OR af.lo_a <> bf.lo_b OR af.hi_a <> bf.hi_b
      |      OR af.bytes <> bf.bytes_bf OR af.n_groups <> bf.groups_bf
      |      THEN 1 ELSE 0 END AS rewritten
      |  FROM af LEFT JOIN bf USING (file_id)),
      |d AS (SELECT CAST(sum(docs_a - docs_b) AS BIGINT) AS delta_docs,
      |    CAST(sum(bytes_a - bytes_b) AS BIGINT) AS delta_bytes FROM f),
      |t AS (SELECT count(*) AS files_total,
      |    CAST(sum(rewritten) AS BIGINT) AS files_rewritten FROM led)
      |SELECT file_id, n_groups, n_docs, bytes, fill_ppm, groups_moved_in,
      |  CAST(rewritten AS BIGINT) AS rewritten, files_total, files_rewritten,
      |  delta_docs, delta_bytes
      |FROM led CROSS JOIN t CROSS JOIN d ORDER BY file_id""".stripMargin

  // ------------------------------------------------- retention planner
  /** TTL retention planner (r18 — the deletion face of the maintenance
    * family: [[tableVacuumPlan]] reclaims files a rewrite orphaned,
    * [[compactionPlan]] packs small files; neither answers the
    * compliance question a 100 TB event table asks weekly: "expire
    * everything older than the TTL — what does that COST?"). Against a
    * mid-day cut (2024-01-10 12:00, deliberately intra-partition so
    * the plan always contains the hard case) the planner classifies
    * every day partition: `drop` (wholly expired — a metadata-only
    * partition drop, the cheap path), `keep` (wholly live — untouched),
    * `rewrite` (straddles the cut — the only partition that needs
    * row-level deletes, paying a copy of every SURVIVING row). The
    * per-partition ledger carries row/expired/live counts and the
    * action; the constant columns carry the plan totals and
    * `rewrite_amp_ppm` — surviving rows copied per expired row deleted
    * in rewrite partitions, the number that justifies partitioning ON
    * the retention column (amp → 0 as the cut aligns with boundaries).
    *
    * == Scale design ==
    * ONE fact scan folds map-side to the O(days) (day, expired?) ledger
    * — the classification, totals and amplification are all window/agg
    * math on that bounded relation. The drop set never reads row data
    * at deploy time (partition pruning IS the plan's cheap path), and
    * the single rewrite partition bounds the row-level work to one
    * day's data regardless of corpus age.
    */
  def tableRetentionPlan(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val cut = lit("2024-01-10 12:00:00").cast("timestamp")
    // ONE fact scan, folded map-side to the O(days) ledger and
    // checkpointed — the per-partition rows and the plan totals both
    // read the materialized relation
    val perDay = Tables.load(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        (col("ts") < cut).cast("long").as("exp"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("exp")).as("n_expired"))
      .withColumn("n_live", col("n_rows") - col("n_expired"))
      .withColumn("action",
        when(col("n_expired") === col("n_rows"), "drop")
          .when(col("n_expired") === 0L, "keep").otherwise("rewrite"))
      .stableCheckpoint()
    val tot = perDay.agg(
      count(lit(1)).as("partitions_total"),
      sum(when(col("action") === "drop", 1L).otherwise(0L)).as("n_drop"),
      sum(when(col("action") === "rewrite", 1L).otherwise(0L)).as("n_rewrite"),
      sum(when(col("action") === "drop", col("n_rows")).otherwise(0L))
        .as("rows_freed_by_drop"),
      sum(when(col("action") === "rewrite", col("n_expired")).otherwise(0L))
        .as("rows_deleted_in_rewrite"),
      sum(when(col("action") === "rewrite", col("n_live")).otherwise(0L))
        .as("rows_copied_in_rewrite"))
      .withColumn("rewrite_amp_ppm",
        expr("1000000 * rows_copied_in_rewrite div greatest(rows_deleted_in_rewrite, 1)"))
    perDay.crossJoin(broadcast(tot))
      .select(col("day"),
        expr("date_format(date_add(DATE'1970-01-01', CAST(day AS INT)), 'yyyy-MM-dd')")
          .as("partition_day"),
        col("n_rows"), col("n_expired"), col("n_live"), col("action"),
        col("partitions_total"), col("n_drop"), col("n_rewrite"),
        col("rows_freed_by_drop"), col("rows_deleted_in_rewrite"),
        col("rows_copied_in_rewrite"), col("rewrite_amp_ppm"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: same day fold, classification and plan totals. */
  val tableRetentionPlanSql: String =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n_rows,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-10 12:00:00'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
      |  FROM events GROUP BY 1),
      |c AS (SELECT *, n_rows - n_expired AS n_live,
      |    CASE WHEN n_expired = n_rows THEN 'drop'
      |         WHEN n_expired = 0 THEN 'keep' ELSE 'rewrite' END AS action
      |  FROM d),
      |t AS (SELECT count(*) AS partitions_total,
      |    CAST(sum(CASE WHEN action = 'drop' THEN 1 ELSE 0 END) AS BIGINT) AS n_drop,
      |    CAST(sum(CASE WHEN action = 'rewrite' THEN 1 ELSE 0 END) AS BIGINT) AS n_rewrite,
      |    CAST(sum(CASE WHEN action = 'drop' THEN n_rows ELSE 0 END) AS BIGINT) AS rows_freed_by_drop,
      |    CAST(sum(CASE WHEN action = 'rewrite' THEN n_expired ELSE 0 END) AS BIGINT) AS rows_deleted_in_rewrite,
      |    CAST(sum(CASE WHEN action = 'rewrite' THEN n_live ELSE 0 END) AS BIGINT) AS rows_copied_in_rewrite
      |  FROM c)
      |SELECT CAST(day AS BIGINT) AS day,
      |  strftime(DATE '1970-01-01' + CAST(day AS INT), '%Y-%m-%d') AS partition_day,
      |  n_rows, n_expired, n_live, action,
      |  partitions_total, n_drop, n_rewrite, rows_freed_by_drop,
      |  rows_deleted_in_rewrite, rows_copied_in_rewrite,
      |  1000000 * rows_copied_in_rewrite // greatest(rows_deleted_in_rewrite, 1)
      |    AS rewrite_amp_ppm
      |FROM c CROSS JOIN t ORDER BY day""".stripMargin

  // --------------------------------------------------- shuffle budget
  /** Batch shuffle capacity planner (r19 — the batch symmetry of
    * [[graft.streaming.EventStreams.streamStateBudget]]: that face
    * sizes the streams' long-lived STATE, this one sizes the engine's
    * recurring SHUFFLES — "what do `spark.sql.shuffle.partitions` and
    * the executor memory need to be on THIS corpus?" answered as a
    * query). One row per canonical shuffle relation — the key spaces
    * the operator families actually exchange on:
    *
    *  - `events_user_day`: the user-fold family's relation (sessions,
    *    retention, splits, experiment faces) — distinct (user, day);
    *  - `raster_day_cell`: the geo family's (day, px, py) relation,
    *    counted by the exact [[Geo.dayRaster]] binning;
    *  - `doc_word_pairs`: the tfidf/vocab family's (doc, token)
    *    distinct relation;
    *  - `doc_bigrams`: the phrase-vocab family's Heaps-bounded
    *    distinct-bigram relation ([[TextOps.bigramOccurrences]], the
    *    shared generator).
    *
    * Bytes per shuffle row = UnsafeRow accounting (8 B null bitmap +
    * 8 B per fixed-width field + 8 B string header + measured mean
    * string bytes for the two string-keyed relations) + 24 B shuffle
    * framing; `partitions_128mb` is the partition count that keeps
    * each shuffle partition at the classic 128 MiB target — the number
    * to compare against `spark.sql.shuffle.partitions` before running
    * the family at a new scale.
    *
    * == Scale design ==
    * Each relation is one column-pruned scan folded map-side to a
    * single-row count (the distinct IS the relation being sized — the
    * planner pays one pass of exactly the shuffle it is measuring,
    * which is also the cheapest possible honest measurement); the
    * 4-row ledger is a unionAll of scalar aggregates.
    */
  def shuffleBudget(s: SparkSession, dir: String): DataFrame = {
    val MB = 1048576L
    val PART = 134217728L
    def shape(name: String, agg: DataFrame): DataFrame =
      agg.select(lit(name).as("relation"), col("n_rows"), col("row_bytes"),
        expr(s"n_rows * row_bytes div $MB").as("total_mb"),
        expr(s"(n_rows * row_bytes + ${PART - 1}) div $PART").as("partitions_128mb"))
    val ev = Tables.load(s, dir, "events")
    val userDay = shape("events_user_day",
      ev.select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .distinct()
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("row_bytes", lit(8L + 16L + 24L)))
    val raster = shape("raster_day_cell",
      Geo.dayRaster(s, dir)
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("row_bytes", lit(8L + 32L + 24L)))
    val wordPairs = shape("doc_word_pairs",
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        .agg(count(lit(1)).as("n_rows"),
          expr("8 + 8 + 8 + sum(length(token)) div count(*) + 24").as("row_bytes")))
    val bigrams = shape("doc_bigrams",
      TextOps.bigramOccurrences(s, dir)
        .distinct()
        .agg(count(lit(1)).as("n_rows"),
          expr("8 + 8 + sum(length(bigram)) div count(*) + 24").as("row_bytes")))
    userDay.unionAll(raster).unionAll(wordPairs).unionAll(bigrams)
      .orderBy(col("relation"))
  }

  /** DuckDB twin: the same four distinct relations (the raster via the
    * shared [[Geo.rasterCellsCtes]] replay), identical byte accounting. */
  val shuffleBudgetSql: String = {
    val MB = 1048576L
    val PART = 134217728L
    s"""WITH ${graft.operators.Geo.rasterCellsCtes},
       |ud AS (SELECT count(*) AS n_rows, CAST(48 AS BIGINT) AS row_bytes FROM
       |  (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 FROM events)),
       |rc AS (SELECT count(*) AS n_rows, CAST(64 AS BIGINT) AS row_bytes FROM dr),
       |wp AS (SELECT count(*) AS n_rows,
       |    8 + 8 + 8 + CAST(sum(length(token)) AS BIGINT) // count(*) + 24 AS row_bytes FROM
       |  (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)),
       |bg AS (SELECT count(*) AS n_rows,
       |    8 + 8 + CAST(sum(length(bigram)) AS BIGINT) // count(*) + 24 AS row_bytes FROM
       |  (SELECT DISTINCT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bigram
       |   FROM (SELECT string_split(text, ' ') AS ws FROM documents))),
       |led(relation, n_rows, row_bytes) AS (
       |  SELECT 'events_user_day', n_rows, row_bytes FROM ud
       |  UNION ALL SELECT 'raster_day_cell', n_rows, row_bytes FROM rc
       |  UNION ALL SELECT 'doc_word_pairs', n_rows, row_bytes FROM wp
       |  UNION ALL SELECT 'doc_bigrams', n_rows, row_bytes FROM bg)
       |SELECT relation, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(row_bytes AS BIGINT) AS row_bytes,
       |  CAST(n_rows * row_bytes // $MB AS BIGINT) AS total_mb,
       |  CAST((n_rows * row_bytes + ${PART - 1}) // $PART AS BIGINT) AS partitions_128mb
       |FROM led ORDER BY relation""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "shuffle_budget" -> shuffleBudget,
    "table_retention_plan" -> tableRetentionPlan,
    "merge_upsert" -> mergeUpsert,
    "merge_delete" -> mergeDelete,
    "dim_scd2" -> dimScd2,
    "dim_scd2_asof" -> dimScd2Asof,
    "agg_incremental" -> aggIncremental,
    "compaction_plan" -> compactionPlan,
    "compaction_exec" -> compactionExec,
    "compaction_incremental" -> compactionIncremental,
    "table_vacuum_plan" -> tableVacuumPlan,
    "table_vacuum_exec" -> tableVacuumExec,
    "table_snapshot_diff" -> tableSnapshotDiff,
    "table_profile" -> tableProfile,
    "table_profile_approx" -> tableProfileApprox,
    "table_stats_incremental" -> tableStatsIncremental,
    "table_zonemap_audit" -> tableZonemapAudit,
    "dq_rules" -> dqRules,
    "dq_drift" -> dqDrift,
    "dq_ks_values" -> dqKsValues,
    "dq_psi" -> dqPsi,
    "dq_freshness" -> dqFreshness,
    "dq_referential" -> dqReferential)

  val oracles: Map[String, String] = Map(
    "shuffle_budget" -> shuffleBudgetSql,
    "table_retention_plan" -> tableRetentionPlanSql,
    "merge_upsert" -> mergeUpsertSql,
    "merge_delete" -> mergeDeleteSql,
    "dim_scd2" -> dimScd2Sql,
    "dim_scd2_asof" -> dimScd2AsofSql,
    "agg_incremental" -> aggIncrementalSql,
    "compaction_plan" -> compactionPlanSql,
    "compaction_exec" -> compactionExecSql,
    "compaction_incremental" -> compactionIncrementalSql,
    "table_vacuum_plan" -> tableVacuumPlanSql,
    "table_vacuum_exec" -> tableVacuumExecSql,
    "table_snapshot_diff" -> tableSnapshotDiffSql,
    "table_profile" -> tableProfileSql,
    "table_profile_approx" -> tableProfileApproxSql,
    "table_stats_incremental" -> tableStatsIncrementalSql,
    "table_zonemap_audit" -> tableZonemapAuditSql,
    "dq_rules" -> dqRulesSql,
    "dq_drift" -> dqDriftSql,
    "dq_ks_values" -> dqKsValuesSql,
    "dq_psi" -> dqPsiSql,
    "dq_freshness" -> dqFreshnessSql,
    "dq_referential" -> dqReferentialSql)
}
