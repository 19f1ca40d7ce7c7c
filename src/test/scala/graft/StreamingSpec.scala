package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev
import graft.operators.Analytics

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming window agg emits closed windows after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.windowAggStream(stream, watermark = "10 minutes")
      .writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)
      mem.addData((ts(0), 1L, "click"), (ts(5), 2L, "click"), (ts(59), 1L, "view"))
      q.processAllAvailable()
      // advance event time far past hour 10 so its window closes
      mem.addData((ts(200), 3L, "click"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n_events FROM winagg")
        .as[(String, Long)].collect().toSet
      assert(rows.contains(("click", 2L)), s"got $rows")
      assert(rows.contains(("view", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming parquet sink persists windowed output via checkpointed append") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.windowAggStream(stream, watermark = "10 minutes")
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/chk")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)
      mem.addData((ts(0), 1L, "click"), (ts(5), 2L, "click"))
      q.processAllAvailable()
      mem.addData((ts(200), 3L, "click")) // advances watermark, closes hour-10
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$base/out")
        .select("event_type", "n_events").as[(String, Long)].collect().toSet
      assert(rows.contains(("click", 2L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming content dedup keeps first arrival per normalized text") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val q = EventStreams.dedupContentStream(docs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("content_dedup")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)
      mem.addData(
        (ts(0), 1L, "alpha beta gamma"),
        (ts(1), 2L, "  alpha  beta gamma "), // normalizes to the same text → dup
        (ts(2), 3L, "delta epsilon"))
      q.processAllAvailable()
      mem.addData((ts(3), 4L, "alpha beta gamma")) // still within watermark → dup
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM content_dedup").as[Long].collect().toSet
      assert(ids == Set(1L, 3L), s"got $ids")
    } finally q.stop()
  }

  test("streaming minhash dedup drops signature-equal near-exact dups within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")
    val q = EventStreams.dedupMinhashStream(docs, watermark = "10 minutes")
      .writeStream.format("memory").queryName("minhash_dedup")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val spaced = "  alpha beta  gamma delta epsilon zeta eta theta iota kappa " // whitespace variant
      val other = "one two three four five six seven eight nine ten"
      val rows = Seq(
        (ts(0), 1L, base), (ts(1), 2L, spaced), (ts(2), 3L, other),
        (ts(3), 4L, base), (ts(4), 5L, "tiny doc"), (ts(5), 6L, "tiny  doc"))
      mem.addData(rows: _*)
      q.processAllAvailable()
      val ids = spark.sql("SELECT doc_id FROM minhash_dedup").as[Long].collect().toSet
      // model: first arrival per signature, signatures computed by the
      // same (batch-identical) function the operator uses
      val expected = rows.groupBy(r => graft.operators.Dedup.minhashSignature(r._3))
        .values.map(_.minBy(_._1.getTime)._2).toSet
      assert(ids == expected, s"got $ids expected $expected")
      // and the whitespace variants really did collapse
      assert(!ids.contains(2L) && !ids.contains(4L) && !ids.contains(6L), s"got $ids")
    } finally q.stop()
  }

  test("streaming corpus stats accumulate across batches to the batch ledger") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, Long, String)]
    val docs = mem.toDF().toDF("source", "lang", "n_chars", "text")
    val q = EventStreams.corpusStatsStream(docs)
      .writeStream.format("memory").queryName("corpus_live")
      .outputMode("complete").start()
    try {
      mem.addData(("s0", "en", 10L, "a b c"), ("s0", "de", 20L, "d e"))
      q.processAllAvailable()
      mem.addData(("s0", "en", 30L, "f"), ("s1", "fr", 5L, "g h i j"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT source, n_docs, total_tokens, total_chars, min_chars, max_chars, approx_langs FROM corpus_live")
        .as[(String, Long, Long, Long, Long, Long, Long)].collect()
        .map { case (s, a, b, c, d, e, f) => s -> ((a, b, c, d, e, f)) }.toMap
      assert(rows("s0") == ((3L, 6L, 60L, 10L, 30L, 2L)), s"got $rows")
      assert(rows("s1") == ((1L, 4L, 5L, 5L, 5L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("stream-stream interval join attributes events within the hour, both sides late-tolerant") {
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val eMem = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStreams.rangeJoinStream(
        pMem.toDF().toDF("p_user", "p_id", "p_ts"),
        eMem.toDF().toDF("e_user", "e_id", "e_ts"))
      .writeStream.format("memory").queryName("rjoin")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 100 + min * 60000L)
      pMem.addData((1L, 500L, ts(0)), (2L, 501L, ts(0)))
      q.processAllAvailable()
      // events arrive in a LATER batch than their purchase: the
      // buffered purchase side must still match them
      eMem.addData((1L, 10L, ts(30)), (1L, 11L, ts(61)), // 11: outside the hour
        (2L, 12L, ts(59)), (3L, 13L, ts(30)))            // 13: no purchase
      q.processAllAvailable()
      // and a purchase arriving AFTER its event: other side buffered too
      pMem.addData((3L, 502L, ts(25)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, p_id, e_id FROM rjoin")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 500L, 10L), (2L, 501L, 12L), (3L, 502L, 13L)),
        s"got $rows")
      // the SAME function in batch mode (watermarks no-op) attributes
      // identically — the contract the registered stream_interval_join
      // batch face rides on
      val pB = Seq((1L, 500L, ts(0)), (2L, 501L, ts(0)), (3L, 502L, ts(25)))
        .toDF("p_user", "p_id", "p_ts")
      val eB = Seq((1L, 10L, ts(30)), (1L, 11L, ts(61)),
        (2L, 12L, ts(59)), (3L, 13L, ts(30))).toDF("e_user", "e_id", "e_ts")
      val batch = EventStreams.rangeJoinStream(pB, eB)
        .select("user_id", "p_id", "e_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(batch == rows, s"batch face diverged: $batch vs $rows")
    } finally q.stop()
  }

  test("streaming upsert keeps latest-per-key and drops out-of-order regressions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Upsert]
    val q = EventStreams.upsertStream(mem.toDS())
      .writeStream.format("memory").queryName("scd1")
      .outputMode("append").start()
    try {
      mem.addData(EventStreams.Upsert(1L, 100L, 10L),
        EventStreams.Upsert(2L, 100L, 20L))
      q.processAllAvailable()
      // key 1: genuine update; key 2: LATE record (older stamp) must be
      // dropped, not regress the dimension
      mem.addData(EventStreams.Upsert(1L, 200L, 11L),
        EventStreams.Upsert(2L, 50L, 99L))
      q.processAllAvailable()
      // same stamp, same value -> no change row; newer stamp, same
      // value -> state advances silently (no spurious change row)
      mem.addData(EventStreams.Upsert(1L, 300L, 11L))
      q.processAllAvailable()
      mem.addData(EventStreams.Upsert(1L, 400L, 12L))
      q.processAllAvailable()
      val log = spark.sql("SELECT key, us, value FROM scd1")
        .as[(Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
      assert(log == Seq((1L, 100L, 10L), (1L, 200L, 11L), (1L, 400L, 12L),
        (2L, 100L, 20L)), s"got $log")
    } finally q.stop()
  }

  test("scd1 batch face equals the streamed change-log fed in per-key rank order") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Upsert
    // the registered batch face's own feed: the real corpus upsert log
    val feed = EventStreams.streamScd1(spark, sf) // forces same (key,us,value) derivation? no — use raw
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), unix_micros(col("ts")), round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, us, v) => Upsert(k, us, v) }
    // feed in per-key rank batches: batch i carries every key's i-th
    // record in (us, value) order — each key sees its records arrive
    // strictly in rank order, which is the in-order replay the batch
    // face models
    val byKey = raw.groupBy(_.key).view.mapValues(_.sortBy(r => (r.us, r.value)).toVector).toMap
    val rounds = byKey.values.map(_.length).max
    val mem = MemoryStream[Upsert]
    val q = EventStreams.upsertStream(mem.toDS())
      .writeStream.format("memory").queryName("scd1_replay")
      .outputMode("append").start()
    try {
      (0 until rounds).foreach { i =>
        val batch = byKey.values.flatMap(_.lift(i)).toSeq
        if (batch.nonEmpty) { mem.addData(batch: _*); q.processAllAvailable() }
      }
      val streamed = spark.sql("SELECT key, us, value FROM scd1_replay")
        .as[(Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2, r._3))
      val batchFace = feed.select("key", "us", "value")
        .as[(Long, Long, Long)].collect().toSeq
      assert(batchFace.nonEmpty, "vacuous scd1 replay")
      assert(streamed == batchFace,
        s"batch face diverged from the in-order streamed change-log: " +
          s"stream ${streamed.size} rows vs batch ${batchFace.size}")
    } finally q.stop()
  }

  test("scd2 batch history equals the streamed change-log's latest-per-version") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Upsert
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), unix_micros(col("ts")), round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, us, v) => Upsert(k, us, v) }
    val byKey = raw.groupBy(_.key).view
      .mapValues(_.sortBy(r => (r.us, r.value)).toVector).toMap
    val rounds = byKey.values.map(_.length).max
    val mem = MemoryStream[Upsert]
    val q = EventStreams.scd2Stream(mem.toDS())
      .writeStream.format("memory").queryName("scd2_replay")
      .outputMode("append").start()
    try {
      (0 until rounds).foreach { i =>
        val batch = byKey.values.flatMap(_.lift(i)).toSeq
        if (batch.nonEmpty) { mem.addData(batch: _*); q.processAllAvailable() }
      }
      // apply the change-log: the LAST row emitted per (key, version)
      // is that version's final state (closes supersede opens)
      val log = spark.sql(
        """SELECT key, version_n, value, valid_from_us, valid_to_us, is_current
          |FROM scd2_replay""".stripMargin)
        .as[(Long, Long, Long, Long, Option[Long], Long)].collect()
      val applied = log.groupBy(r => (r._1, r._2)).values.map { vs =>
        // a version emits at most an open then one close; close wins
        vs.minBy(_._6)
      }.toSeq.sortBy(r => (r._1, r._2))
      val batchFace = EventStreams.streamScd2(spark, sf)
        .as[(Long, Long, Long, Long, Option[Long], Long)].collect()
        .toSeq.sortBy(r => (r._1, r._2))
      assert(batchFace.nonEmpty, "vacuous scd2 history")
      assert(applied == batchFace,
        s"history diverged: stream ${applied.size} vs batch ${batchFace.size} rows")
      // interval algebra on the batch face: per key exactly one current
      // version, versions dense 1..n, and each close abuts its successor
      batchFace.groupBy(_._1).values.foreach { vs =>
        val sorted = vs.sortBy(_._2)
        assert(sorted.map(_._2) == (1L to sorted.length).toSeq, "version gap")
        assert(sorted.count(_._6 == 1L) == 1, "not exactly one current version")
        assert(sorted.last._6 == 1L && sorted.last._5.isEmpty)
        sorted.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a._5.contains(b._4), "close must abut the successor's open")
            assert(a._3 != b._3, "consecutive versions with equal value")
          case _ =>
        }
      }
    } finally q.stop()
  }

  test("merge-delete batch face equals the streamed change-log with tombstones") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Change
    val batchFace = EventStreams.streamMergeDelete(spark, sf)
      .as[(Long, Long, Long, String)].collect().toSeq
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), unix_micros(col("ts")), round(col("value") * 100).cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, us, v) => Change(k, us, v, "U") }
    val byKey = raw.groupBy(_.key).view
      .mapValues(_.sortBy(r => (r.us, r.value)).toVector).toMap
    val rounds = byKey.values.map(_.length).max
    val mem = MemoryStream[Change]
    val q = EventStreams.changeLogStream(mem.toDS())
      .writeStream.format("memory").queryName("chlog_replay")
      .outputMode("append").start()
    try {
      (0 until rounds).foreach { i =>
        val batch = byKey.values.flatMap(_.lift(i)).toSeq
        if (batch.nonEmpty) { mem.addData(batch: _*); q.processAllAvailable() }
      }
      // the tombstone round: one delete per key % 5 == 0, stamped
      // after that key's last upsert — the batch face's feed
      val dels = byKey.collect { case (k, rs) if k % 5 == 0 =>
        Change(k, rs.last.us + 1, 0L, "D") }.toSeq
      if (dels.nonEmpty) { mem.addData(dels: _*); q.processAllAvailable() }
      val streamed = spark.sql("SELECT key, us, value, op FROM chlog_replay")
        .as[(Long, Long, Long, String)].collect().toSeq
        .sortBy(r => (r._1, r._2, r._3))
      assert(batchFace.exists(_._4 == "D"), "vacuous: no tombstones in feed")
      assert(streamed == batchFace,
        s"batch face diverged: stream ${streamed.size} rows vs batch ${batchFace.size}")
    } finally q.stop()
  }

  test("streaming change-log applies newest-wins with delete tombstones") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Change
    val mem = MemoryStream[Change]
    val q = EventStreams.changeLogStream(mem.toDS())
      .writeStream.format("memory").queryName("chlog")
      .outputMode("append").start()
    try {
      mem.addData(Change(1L, 100L, 10L, "U"), Change(2L, 100L, 20L, "U"),
        Change(3L, 100L, 30L, "U"))
      q.processAllAvailable()
      // key 1 dies; key 2 gets a LATE delete (older stamp) → dropped;
      // key 4 gets a delete for a never-seen key → silent
      mem.addData(Change(1L, 200L, 0L, "D"), Change(2L, 50L, 0L, "D"),
        Change(4L, 100L, 0L, "D"))
      q.processAllAvailable()
      // key 1 re-inserts after its tombstone; key 3 updates in place;
      // a second delete for dead key 1 arrives LATE → dropped
      mem.addData(Change(1L, 300L, 11L, "U"), Change(3L, 200L, 31L, "U"),
        Change(1L, 250L, 0L, "D"))
      q.processAllAvailable()
      val log = spark.sql("SELECT key, us, value, op FROM chlog")
        .as[(Long, Long, Long, String)].collect().toSeq.sortBy(r => (r._1, r._2))
      assert(log == Seq(
        (1L, 100L, 10L, "U"), (1L, 200L, 0L, "D"), (1L, 300L, 11L, "U"),
        (2L, 100L, 20L, "U"),
        (3L, 100L, 30L, "U"), (3L, 200L, 31L, "U")), s"got $log")
    } finally q.stop()
  }

  test("streaming change-log net state converges to the batch mergeDelete dimension") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Change
    // replay the batch MERGE as a change stream over the real dim:
    // us=1 initial load, us=2 the update/delete batch (shuffled order)
    val dim = graft.sources.Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("long"))
      .as[(Long, Long)].collect()
    val load = dim.map { case (k, b) => Change(k, 1L, b, "U") }
    val changes = dim.flatMap { case (k, b) =>
      if (k % 11 == 0) Some(Change(k, 2L, 0L, "D"))
      else if (k % 7 == 0) Some(Change(k, 2L, b + 10000L, "U"))
      else None
    }
    val mem = MemoryStream[Change]
    val q = EventStreams.changeLogStream(mem.toDS())
      .writeStream.format("memory").queryName("chlog_net")
      .outputMode("append").start()
    try {
      mem.addData(load.toSeq: _*)
      q.processAllAvailable()
      mem.addData(scala.util.Random.shuffle(changes.toSeq): _*)
      q.processAllAvailable()
      // fold the log: last op per key wins; D removes the key
      val net = spark.sql("SELECT key, us, value, op FROM chlog_net")
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.maxBy(r => (r._2, r._4, r._3)))
        .collect { case (k, (_, _, v, "U")) => k -> v }.toMap
      // the batch MERGE's surviving K/U rows (inserts are batch-only:
      // the stream face keys on the dim key, negative mirrors don't flow)
      val want = graft.operators.Maintain.mergeDelete(spark, sf)
        .filter(col("op").isin("K", "U"))
        .select("key", "bal_cents").as[(Long, Long)].collect().toMap
      assert(net == want,
        s"diverged: extra=${(net.keySet diff want.keySet).take(5)} missing=${(want.keySet diff net.keySet).take(5)}")
    } finally q.stop()
  }

  test("streaming CMS cells converge to the batch sketch on a real corpus feed") {
    implicit val sqlCtx = spark.sqlContext
    val users = graft.sources.Tables.load(spark, sf, "events")
      .select("user_id").as[Long].collect()
    val (first, second) = users.splitAt(users.length / 2)
    val mem = MemoryStream[Long]
    val q = EventStreams.cmsStream(mem.toDF().toDF("user_id"))
      .writeStream.format("memory").queryName("cms_live")
      .outputMode("update").start()
    try {
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      // update mode re-emits a cell each time it grows; cell counts are
      // monotone, so the latest value per (lane, cell) is the max
      val streamed = spark.sql("SELECT lane, cell, max(c) AS c FROM cms_live GROUP BY 1, 2")
        .as[(Long, Long, Long)].collect().toSet
      val batch = EventStreams.cmsStream(
          users.toSeq.toDF("user_id"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streaming sketch diverged: ${(streamed diff batch).take(5)} vs ${(batch diff streamed).take(5)}")
      // the state really is sketch-sized
      assert(streamed.size <= 4096)
    } finally q.stop()
  }

  test("streaming HLL registers equal the batch sketch after a duplicate-heavy feed") {
    implicit val sqlCtx = spark.sqlContext
    val users = graft.sources.Tables.load(spark, sf, "events")
      .select("user_id").as[Long].collect()
    val (first, second) = users.splitAt(users.length / 2)
    val mem = MemoryStream[Long]
    val q = EventStreams.hllRegisterStream(mem.toDF().toDF("user_id"))
      .writeStream.format("memory").queryName("hll_live")
      .outputMode("update").start()
    try {
      // feed the raw event stream WITH duplicates, plus a replayed
      // batch — max-based registers must absorb both without dedup
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      mem.addData(first.take(20).toSeq: _*) // replay: re-delivery is a no-op
      q.processAllAvailable()
      val streamed = spark.sql("SELECT j, max(mj) AS mj FROM hll_live GROUP BY 1")
        .as[(Long, Long)].collect().toSet
      val batch = EventStreams.hllRegisterStream(users.toSeq.toDF("user_id"))
        .as[(Long, Long)].collect().toSet
      assert(streamed == batch, "streaming registers diverged from the batch sketch")
      assert(streamed.size <= 64, "state must stay register-bounded")
    } finally q.stop()
  }

  test("streaming histogram cells converge to the batch histogram on a split feed") {
    implicit val sqlCtx = spark.sqlContext
    val cents = graft.sources.Tables.load(spark, sf, "events")
      .select(round(col("value") * 100).cast("long")).as[Long].collect()
    val (first, second) = cents.splitAt(cents.length / 2)
    val mem = MemoryStream[Long]
    val q = EventStreams.histogramStream(mem.toDF().toDF("vc"))
      .writeStream.format("memory").queryName("hist_live")
      .outputMode("update").start()
    try {
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      // update mode re-emits a growing cell per batch; counts and sums
      // are monotone, min/max monotone in their own directions — the
      // converged value per bucket is the extremum of each column
      val streamed = spark.sql("""SELECT bucket, max(n_events), max(vc_sum),
          min(vc_min), max(vc_max) FROM hist_live GROUP BY 1""")
        .as[(Long, Long, java.math.BigDecimal, Long, Long)].collect()
        .map(r => (r._1, r._2, BigInt(r._3.toBigInteger), r._4, r._5)).toSet
      val batch = EventStreams.histogramStream(cents.toSeq.toDF("vc"))
        .as[(Long, Long, java.math.BigDecimal, Long, Long)].collect()
        .map(r => (r._1, r._2, BigInt(r._3.toBigInteger), r._4, r._5)).toSet
      assert(streamed == batch, "streaming histogram diverged from batch")
      assert(streamed.size <= 16, "state must stay O(buckets)")
    } finally q.stop()
  }

  test("live Holt forecaster equals the batch prequential ledger per closed day") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.FcEv
    val daily = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("event_type", "day").count()
      .as[(String, Long, Long)].collect()
      .map { case (t, d, n) => FcEv(t, d, n) }
    val days = daily.map(_.day).distinct.sorted
    val mem = MemoryStream[FcEv]
    val q = EventStreams.forecastStream(mem.toDS())
      .writeStream.format("memory").queryName("fc_live")
      .outputMode("append").start()
    try {
      // one batch per closed day, in day order — the closed-day feed
      // contract every monitor twin in this suite uses
      days.foreach { d =>
        mem.addData(daily.filter(_.day == d).toSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.sql(
          "SELECT event_type, day, n, pred_trend, abs_err FROM fc_live")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val batch = EventStreams.streamForecast(spark, sf)
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch, "live forecaster diverged from the batch ledger")
      assert(streamed.nonEmpty)
      // prequential honesty: the first observed day of a type never
      // emits (no prior state to predict from)
      val firstDays = daily.groupBy(_.event_type).map { case (t, rs) =>
        (t, rs.map(_.day).min) }.toSet
      assert(streamed.forall(r => !firstDays.contains((r._1, r._2))),
        "a first day was predicted — leakage from its own observation")
    } finally q.stop()
  }

  test("registered sketch faces: CMS cells conserve mass, HLL registers feed the estimate") {
    import graft.operators.Analytics
    val nEvents = graft.sources.Tables.load(spark, sf, "events").count()
    // CMS: each event lands in exactly one cell per lane — per-lane
    // cell sums conserve the corpus, the grid stays within 4x1024
    val cms = EventStreams.streamCmsCells(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(cms.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    cms.groupBy(_._1).foreach { case (lane, cells) =>
      assert(cells.map(_._3).sum == nEvents, s"lane $lane lost mass")
      assert(cells.forall(c => c._2 >= 0 && c._2 < 1024), s"lane $lane cell range")
    }
    assert(cms.length <= 4096, "grid must stay within 4x1024 cells")
    // HLL: the registered register table is exactly the relation
    // agg_hll_replay's estimate reads — recompute its est_milli from
    // these registers and pin it to the registered estimate face
    val regs = EventStreams.streamHllRegisters(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(regs.keys.forall(j => j >= 0 && j < 64) && regs.size <= 64)
    val s64 = (0L until 64L).map(j => 1L << (26 - regs.getOrElse(j, 0L)).toInt).sum
    val estMilli = (709L * 4096L * (1L << 26)) / s64
    val fromFace = Analytics.aggHllReplay(spark, sf)
      .select("est_milli").as[Long].head()
    assert(estMilli == fromFace,
      s"registers do not reproduce the estimate: $estMilli vs $fromFace")
  }

  test("streaming CAS dedup admits exactly the batch canonical set on an in-order feed") {
    implicit val sqlCtx = spark.sqlContext
    // the blob metadata feed in doc_id (append-only ingest) order;
    // ts is the doc_id-derived ingest stamp
    val blobs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        sha2(col("text"), 256).as("sha256"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    // per-digest rank waves (the scd1 feeding pattern): duplicates of a
    // digest never share a micro-batch, so arrival order — not
    // within-batch shuffle order, which dropDuplicates leaves
    // unspecified — decides the kept row, matching the ingest contract
    val waves = blobs.groupBy(_._3).values.toSeq
      .flatMap(_.sortBy(_._1).zipWithIndex)
      .groupBy(_._2).toSeq.sortBy(_._1).map(_._2.map(_._1))
    val mem = MemoryStream[(Long, String, String)]
    // stamp base offset keeps doc 0 off epoch 0 (= the initial
    // watermark, where the late-row filter would eat it)
    val feed = mem.toDF().toDF("doc_id", "kind", "sha256")
      .withColumn("ts", timestamp_micros((col("doc_id") + 86400L) * 1000000L))
    val q = EventStreams.casDedupStream(feed)
      .writeStream.format("memory").queryName("cas_live")
      .outputMode("append").start()
    try {
      waves.foreach { w =>
        mem.addData(w.toSeq: _*)
        q.processAllAvailable()
      }
      mem.addData(waves.head.take(20).toSeq: _*) // re-delivery is a no-op
      q.processAllAvailable()
      val streamed = spark.sql("SELECT doc_id, kind, sha256 FROM cas_live")
        .as[(Long, String, String)].collect().toSet
      val batch = EventStreams.streamCasDedup(spark, sf)
        .as[(Long, String, String)].collect().toSet
      assert(streamed == batch,
        s"streaming CAS admitted set diverged from batch: " +
          s"sizes ${streamed.size}/${batch.size}, " +
          s"stream-only ${(streamed -- batch).take(3)}, " +
          s"batch-only ${(batch -- streamed).take(3)}")
      // the dedup is real on this corpus or the face is vacuous here
      assert(streamed.size <= blobs.length)
    } finally q.stop()
  }

  test("decode drops malformed/keyless payloads and zero-fills missing value") {
    val raw = Seq(
      """{"user_id":1,"event_id":10,"ts":"2026-01-01 00:00:00","event_type":"click","value":2.5}""",
      """{"user_id":2,"event_id":20,"ts":"2026-01-01 00:00:01","event_type":"view"}""", // no value → 0.0
      """{"event_id":30,"ts":"2026-01-01 00:00:02","event_type":"view","value":1.0}""", // no user_id → dropped
      """{"user_id":4,"event_id":40,"event_type":"view","value":1.0}""",                // no ts → dropped
      "not json at all"                                                                  // malformed → dropped
    ).toDF("value")
    val out = graft.streaming.EventSource.decode(raw)
      .select("user_id", "event_id", "value").as[(Long, Long, Double)].collect().toSet
    assert(out == Set((1L, 10L, 2.5), (2L, 20L, 0.0)), s"got $out")
  }

  test("kafka-shaped json source drives the windowed aggregation unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    // MemoryStream[String].toDF gives the Kafka wire shape (a `value`
    // column) — EventSource.decode is the only adapter in between
    val events = graft.streaming.EventSource.decode(mem.toDF())
    val q = EventStreams.windowAggStream(events, watermark = "10 minutes")
      .writeStream.format("memory").queryName("kafka_win")
      .outputMode("append").start()
    try {
      def ev(min: Int, uid: Long, typ: String) =
        s"""{"user_id":$uid,"event_id":${min * 10 + uid},"ts":"1970-01-01 ${"%02d".format(10 + min / 60)}:${"%02d".format(min % 60)}:00","event_type":"$typ","value":1.5}"""
      mem.addData(ev(0, 1, "click"), ev(5, 2, "click"), ev(59, 1, "view"))
      q.processAllAvailable()
      mem.addData("not json at all", ev(200, 3, "click")) // malformed → dropped
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n_events FROM kafka_win")
        .as[(String, Long)].collect().toSet
      assert(rows.contains(("click", 2L)), s"got $rows")
      assert(rows.contains(("view", 1L)), s"got $rows")
    } finally q.stop()
  }

  test("kafka-shaped json source drives event-time sessionization unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val events = graft.streaming.EventSource.asEvT(
      graft.streaming.EventSource.decode(mem.toDF()))
    val q = EventStreams.sessionizeStreamEventTime(events, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("kafka_sess")
      .outputMode("append").start()
    try {
      def ev(sec: Int, uid: Long, id: Long, v: Double) =
        s"""{"user_id":$uid,"event_id":$id,"ts":"1970-01-02 ${"%02d".format(sec / 3600)}:${"%02d".format(sec % 3600 / 60)}:${"%02d".format(sec % 60)}","event_type":"click","value":$v}"""
      mem.addData(ev(0, 1, 1, 1.0), ev(60, 1, 2, 2.0))
      q.processAllAvailable()
      // watermark far past last+gap flushes the open session via timeout
      mem.addData(ev(3600, 2, 3, 9.0))
      q.processAllAvailable()
      mem.addData(ev(7200, 2, 4, 9.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, session_id, n_events, session_value FROM kafka_sess")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 0L, 2L, 3.0)), s"got $rows")
    } finally q.stop()
  }

  test("streaming sessionize emits a session once the gap elapses in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000000L
      mem.addData(Ev(1L, 1L, t0, 100), Ev(1L, 2L, t0 + 60L * 1000000, 200))
      q.processAllAvailable()
      // an event beyond the 30-min gap closes session 0 and opens session 1
      mem.addData(Ev(1L, 3L, t0 + 45L * 60 * 1000000, 300))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, session_id, n_events, session_value FROM sess")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 0L, 2L, 3.0)), s"got $rows")
    } finally q.stop()
  }

  test("cross-batch out-of-order event never moves the session backwards") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventStreams.sessionizeStream(mem.toDS())
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000000L
      mem.addData(Ev(1L, 1L, t0 + 120L * 1000000, 100))
      q.processAllAvailable()
      // a LATE event from an earlier instant arrives in the next batch:
      // it must extend the open session backwards (startUs) without
      // regressing lastUs — a lastUs regression would spuriously split
      // the session on the next in-order event or go negative-duration
      mem.addData(Ev(1L, 2L, t0, 50))
      q.processAllAvailable()
      mem.addData(Ev(1L, 3L, t0 + 240L * 1000000, 25))
      q.processAllAvailable()
      // close session 0 by crossing the gap
      mem.addData(Ev(1L, 4L, t0 + 45L * 60 * 1000000, 300))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, session_id, n_events, duration_sec, session_value FROM sess_ooo")
        .as[(Long, Long, Long, Double, Double)].collect().toSet
      // one session holding all three events, spanning t0..t0+240s
      assert(rows.contains((1L, 0L, 3L, 240.0, 1.75)), s"got $rows")
    } finally q.stop()
  }

  test("event-time timeout flushes the trailing open session once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.EvT]
    val q = EventStreams.sessionizeStreamEventTime(mem.toDS(), watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("sessevt")
      .outputMode("append").start()
    try {
      def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
      // user 1: two events 60s apart, then silence
      mem.addData(EventStreams.EvT(1L, 1L, ts(0), 100),
        EventStreams.EvT(1L, 2L, ts(60), 200))
      q.processAllAvailable()
      // another user's much later event advances the watermark far past
      // user 1's last event + 30-minute gap → timeout flush
      mem.addData(EventStreams.EvT(2L, 3L, ts(7200), 300))
      q.processAllAvailable()
      mem.addData(EventStreams.EvT(2L, 4L, ts(7300), 300))
      q.processAllAvailable()
      var rows = spark.sql("SELECT user_id, session_id, n_events, session_value FROM sessevt")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 0L, 2L, 3.0)), s"got $rows")
      // user 1 returns AFTER the timeout flush: numbering must continue
      // at session 1 (not reuse 0), and flush again on watermark pass
      mem.addData(EventStreams.EvT(1L, 5L, ts(7400), 500))
      q.processAllAvailable()
      mem.addData(EventStreams.EvT(2L, 6L, ts(12000), 100))
      q.processAllAvailable()
      mem.addData(EventStreams.EvT(2L, 7L, ts(12100), 100))
      q.processAllAvailable()
      rows = spark.sql("SELECT user_id, session_id, n_events, session_value FROM sessevt")
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(rows.contains((1L, 1L, 1L, 5.0)), s"expected continued session id 1, got $rows")
    } finally q.stop()
  }

  test("property: event-time sessionize with timeout flush equals the batch fold at random scale") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(1234)
    val base = 1700000000000L
    // 400 events over ~20 users with random inter-arrival gaps that
    // straddle the 30-min session gap, globally time-ordered so the
    // watermark never drops input; fed in 8 batches + 2 sentinel
    // batches that push the watermark past every open session's flush
    var tMs = base
    val evs = (1 to 400).map { i =>
      tMs += rnd.nextInt(8 * 60 * 1000).toLong // 0..8 min steps
      EventStreams.EvT(rnd.nextInt(20).toLong, i.toLong,
        new Timestamp(tMs), rnd.nextInt(10000).toLong)
    }
    val mem = MemoryStream[EventStreams.EvT]
    val q = EventStreams.sessionizeStreamEventTime(mem.toDS(), watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("sess_prop")
      .outputMode("append").start()
    try {
      evs.grouped(50).foreach { batch =>
        mem.addData(batch: _*); q.processAllAvailable()
      }
      // two far-future sentinels: the first advances the watermark, the
      // second lets the timeout fire in its micro-batch
      mem.addData(EventStreams.EvT(999L, 9999L, new Timestamp(tMs + 86400000L), 0L))
      q.processAllAvailable()
      mem.addData(EventStreams.EvT(999L, 10000L, new Timestamp(tMs + 2 * 86400000L), 0L))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT user_id, session_id, n_events, duration_sec, session_value FROM sess_prop")
        .as[(Long, Long, Long, Double, Double)].collect().toSet
        .filter(_._1 < 100L)
      // batch model: per-user (us, event_id) sort, 30-min-gap fold,
      // trailing sessions included (the timeout flushed them)
      val model = evs.groupBy(_.user_id).flatMap { case (uid, us) =>
        val sorted = us.sortBy(e => (e.ts.getTime, e.event_id))
        val sessions = scala.collection.mutable.ArrayBuffer.empty[Vector[EventStreams.EvT]]
        sorted.foreach { e =>
          if (sessions.nonEmpty &&
              (e.ts.getTime - sessions.last.last.ts.getTime) * 1000L <= EventStreams.GapUs)
            sessions(sessions.size - 1) = sessions.last :+ e
          else sessions += Vector(e)
        }
        sessions.zipWithIndex.map { case (s, i) =>
          (uid, i.toLong, s.size.toLong,
            (s.last.ts.getTime - s.head.ts.getTime) / 1000.0,
            s.map(_.vc).sum / 100.0)
        }
      }.toSet
      assert(got == model,
        s"extra=${got -- model}\nmissing=${model -- got}")
    } finally q.stop()
  }

  test("stream-static enrich joins the broadcast dim and keeps dimension-less events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = EventStreams.enrichStream(events, dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)
      mem.addData((ts(0), 1L, "click"), (ts(1), 2L, "view"), (ts(2), 7L, "click"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, event_type, tier FROM enriched")
        .as[(Long, String, Option[String])].collect().toSet
      assert(rows == Set((1L, "click", Some("gold")), (2L, "view", Some("silver")),
        (7L, "click", None)), s"got $rows")
    } finally q.stop()
  }

  test("native session_window stream merges gap-connected events and splits at the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val q = EventStreams.sessionWindowStream(events, watermark = "1 minute")
      .writeStream.format("memory").queryName("sess_native")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)
      // user 1: two events 10 min apart (one session), then 40 min gap
      // (new session); user 2: single event
      mem.addData((ts(0), 1L), (ts(10), 1L), (ts(50), 1L), (ts(5), 2L))
      q.processAllAvailable()
      mem.addData((ts(300), 9L)) // watermark far past every session end
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, session_start, session_end, n_events FROM sess_native")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
        .map { case (u, s, e, n) => (u, s.getTime, e.getTime, n) }.toSet
      def ms(min: Int) = 3600000L * 10 + min * 60000L
      assert(rows.contains((1L, ms(0), ms(10 + 30), 2L)), s"got $rows")
      assert(rows.contains((1L, ms(50), ms(50 + 30), 1L)), s"got $rows")
      assert(rows.contains((2L, ms(5), ms(5 + 30), 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming dedup keeps only the first arrival per key within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val stream = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = EventStreams.dedupStream(stream, watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    try {
      def ts(min: Int) = new Timestamp(3600000L * 100 + min * 60000L)
      mem.addData((ts(0), 1L, "click"), (ts(1), 1L, "click"), (ts(2), 1L, "view"),
        (ts(3), 2L, "click"))
      q.processAllAvailable()
      mem.addData((ts(4), 1L, "click")) // still duplicate, still in state
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, event_type FROM dedupstream")
        .as[(Long, String)].collect()
      assert(rows.length == 3, s"got ${rows.toSeq}")
      assert(rows.toSet == Set((1L, "click"), (1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("batch sessionize faces agree: flatMapGroups twin equals window-function twin") {
    val a = EventStreams.streamSessionize(spark, sf)
      .select("user_id", "session_id", "n_events", "duration_sec", "session_value")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    val b = Analytics.sessionize(spark, sf)
      .select("user_id", "session_id", "n_events", "duration_sec", "session_value")
      .as[(Long, Long, Long, Double, Double)].collect().toSet
    assert(a == b)
  }

  // micro-second-exact event ordering, so an in-order two-batch feed has
  // no cross-batch inversions (ms-only ordering could put two same-ms
  // events on opposite sides of the split in the wrong order)
  private def usOf(t: Timestamp): (Long, Int) =
    (t.toInstant.getEpochSecond, t.toInstant.getNano)

  test("streaming retention counters converge to the batch retention triangle") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts").cast("timestamp"))
      .as[(Long, Timestamp)].collect()
      .map { case (u, t) => EventStreams.RetEv(u, t) }
      .sortBy(e => usOf(e.ts))
    val mem = MemoryStream[EventStreams.RetEv]
    val q = EventStreams.retentionStream(mem.toDS())
      .writeStream.format("memory").queryName("ret_live")
      .outputMode("update").start()
    try {
      val (a, b) = evs.splitAt(evs.length / 2)
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      // the update sink logs every counter tick; counters only grow, so
      // the live value per (cohort, offset) is the max logged
      val live = spark.sql("SELECT cohort_day, day_offset, n_users FROM ret_live")
        .as[(String, Long, Long)].collect()
        .groupBy(r => (r._1, r._2))
        .map { case ((c, o), rs) => (c, o, rs.map(_._3).max) }.toSet
      val batch = Analytics.eventsRetention(spark, sf)
        .as[(String, Long, Long)].collect().toSet
      assert(live == batch,
        s"stream-only: ${live.diff(batch)}; batch-only: ${batch.diff(live)}")
    } finally q.stop()
  }

  test("streaming retention hit change-log equals the stream_retention batch face") {
    // The hit-level contract: with an in-order feed and a horizon wider
    // than the data span, retentionStreamEventTime emits exactly one
    // (user, cohort_day, day_offset) row per distinct active day — the
    // rows the registered batch face computes declaratively.
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts").cast("timestamp"))
      .as[(Long, Timestamp)].collect()
      .map { case (u, t) => EventStreams.RetEv(u, t) }
      .sortBy(e => usOf(e.ts))
    val mem = MemoryStream[EventStreams.RetEv]
    val q = EventStreams.retentionStreamEventTime(mem.toDS(),
        watermarkDelay = "1 hour", horizonDays = 100000)
      .writeStream.format("memory").queryName("ret_hits")
      .outputMode("append").start()
    try {
      val (a, b) = evs.splitAt(evs.length / 2)
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      val live = spark.sql("SELECT user_id, cohort_day, day_offset FROM ret_hits")
        .as[(Long, String, Long)].collect().toSet
      val batch = EventStreams.streamRetention(spark, sf)
        .as[(Long, String, Long)].collect().toSet
      assert(live == batch,
        s"stream-only: ${live.diff(batch)}; batch-only: ${batch.diff(live)}")
    } finally q.stop()
  }

  test("streaming frame churn transitions aggregate to the stream_frame_churn batch ledger") {
    implicit val sqlCtx = spark.sqlContext
    // the REAL per-frame lit-cell relation, fed one closed day per batch
    val cells = graft.operators.Geo.dayRaster(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val days = cells.map(_._1).distinct.sorted
    val mem = MemoryStream[EventStreams.CellEv]
    val q = EventStreams.frameChurnStream(mem.toDS())
      .writeStream.format("memory").queryName("churn_live")
      .outputMode("append").start()
    try {
      days.foreach { d =>
        val batch = cells.filter(_._1 == d).map { case (dk, px, py, cnt) =>
          EventStreams.CellEv(px, py, dk, cnt, new Timestamp(dk * 86400000L))
        }
        mem.addData(batch.toSeq: _*)
        q.processAllAvailable()
      }
      // advance the watermark past the final frame so every still-lit
      // cell's event-time timeout fires (the death a live pipeline
      // would emit once the next frame closes dark)
      mem.addData(EventStreams.CellEv(-1L, -1L, days.max + 5,
        0L, new Timestamp((days.max + 5) * 86400000L)))
      q.processAllAvailable()
      val daySet = days.toSet
      val live = spark.sql(
          "SELECT day, is_new, is_dead, cnt, prev_cnt FROM churn_live")
        .as[(Long, Boolean, Boolean, Long, Long)].collect()
        .filter(r => daySet.contains(r._1)) // the ledger counts observed frames
        .groupBy(_._1).map { case (d, rs) =>
          val nCur = rs.count(!_._3).toLong
          val nNew = rs.count(_._2).toLong
          val nDead = rs.count(_._3).toLong
          val nPrev = rs.count(r => !r._2 && !r._3).toLong + nDead
          val mass = rs.map(r => r._4 - r._5).sum
          (d, nCur, nPrev, nNew, nDead, mass,
            1000000L * (nNew + nDead) / (nPrev + nNew))
        }.toSeq.sortBy(_._1)
      val batch = EventStreams.streamFrameChurn(spark, sf)
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(live == batch,
        s"stream-only: ${live.diff(batch)}; batch-only: ${batch.diff(live)}")
      // the batch key must itself equal geo_frame_churn minus the date
      val g = graft.operators.Geo.geoFrameChurn(spark, sf)
        .select("day", "n_cur", "n_prev", "n_new", "n_dead", "mass_delta", "churn_ppm")
        .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(batch == g, "stream_frame_churn ledger diverges from geo_frame_churn")
      // non-vacuous: real deaths must exist, including timeout-emitted ones
      assert(batch.map(_._5).sum > 0, "no deaths — churn spec vacuous")
    } finally q.stop()
  }

  test("streaming enrich over the replayed event log equals the stream_enrich batch face") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .as[(Long, Long, String, Double)].collect()
    val dim = graft.sources.Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"),
        col("c_mktsegment"), col("c_nationkey"))
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = EventStreams.enrichStream(
        mem.toDF().toDF("event_id", "user_id", "event_type", "value"), dim)
      .writeStream.format("memory").queryName("enrich_replay")
      .outputMode("append").start()
    try {
      mem.addData(evs.toSeq: _*)
      q.processAllAvailable()
      val live = spark.sql(
        """SELECT event_id, user_id, event_type, value,
          |  c_name, c_mktsegment, c_nationkey FROM enrich_replay""".stripMargin)
        .as[(Long, Long, String, Double, String, String, Long)].collect().toSet
      val batch = EventStreams.streamEnrich(spark, sf)
        .as[(Long, Long, String, Double, String, String, Long)].collect().toSet
      assert(live == batch, s"sizes: live=${live.size} batch=${batch.size}")
    } finally q.stop()
  }

  test("bounded-horizon retention retires idle users and re-acquires them as new cohorts") {
    implicit val sqlCtx = spark.sqlContext
    def ev(day: Int, uid: Long) =
      EventStreams.RetEv(uid, new Timestamp(day * 86400000L + 3600000L))
    val mem = MemoryStream[EventStreams.RetEv]
    val qb = EventStreams.retentionStreamEventTime(mem.toDS(),
        watermarkDelay = "1 hour", horizonDays = 5)
      .writeStream.format("memory").queryName("ret_bounded")
      .outputMode("append").start()
    try {
      // user 1 active on days 0 and 2 (inside the horizon)
      mem.addData(ev(0, 1L), ev(2, 1L))
      qb.processAllAvailable()
      // user 2's far-future events push the watermark past day 2 + 5d,
      // timing user 1 out of the state store
      mem.addData(ev(20, 2L))
      qb.processAllAvailable()
      // user 1 returns past the horizon: counted as a NEW cohort at day
      // 21, not offset 21 of the day-0 cohort
      mem.addData(ev(21, 1L))
      qb.processAllAvailable()
      // fold the hit change-log into counters (the aggregation the
      // unbounded retentionStream face composes in-query)
      val hits = spark.sql("SELECT cohort_day, day_offset FROM ret_bounded")
        .as[(String, Long)].collect()
        .groupBy(identity).map { case ((c, o), rs) => (c, o, rs.size.toLong) }.toSet
      assert(hits == Set(
        ("1970-01-01", 0L, 1L), ("1970-01-01", 2L, 1L), // original cohort, inside horizon
        ("1970-01-21", 0L, 1L),                          // user 2's own cohort
        ("1970-01-22", 0L, 1L)),                         // user 1 re-acquired, NOT offset 21
        s"got $hits")
    } finally qb.stop()
  }

  test("streaming funnel change-log converges to the batch funnel rows") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"),
        col("event_type"))
      .as[(Long, Long, Timestamp, String)].collect()
      .map { case (u, id, t, ty) => EventStreams.FunEv(u, id, t, ty) }
      .sortBy(e => (usOf(e.ts), e.event_id))
    val mem = MemoryStream[EventStreams.FunEv]
    val q = EventStreams.funnelStream(mem.toDS())
      .writeStream.format("memory").queryName("funnel_live")
      .outputMode("append").start()
    try {
      val (a, b) = evs.splitAt(evs.length / 2)
      mem.addData(a.toSeq: _*); q.processAllAvailable()
      mem.addData(b.toSeq: _*); q.processAllAvailable()
      // stages only advance: the live row per user is the one with the
      // most stages filled (earlier-set stages never change)
      val live = spark.sql("SELECT user_id, t_view, t_click, t_purchase FROM funnel_live")
        .as[(Long, String, Option[String], Option[String])].collect()
        .groupBy(_._1)
        .map { case (_, rs) => rs.maxBy(r => r._3.size + r._4.size) }.toSet
      val batch = Analytics.eventsFunnel(spark, sf)
        .as[(Long, String, Option[String], Option[String])].collect().toSet
      assert(live == batch,
        s"stream-only: ${live.diff(batch)}; batch-only: ${batch.diff(live)}")
    } finally q.stop()
  }

  test("streamed funnel counters equal the stream_funnel cumulative face per closed day") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("ts").cast("timestamp"),
        col("event_type"))
      .as[(Long, Long, Timestamp, String)].collect()
      .map { case (u, id, t, ty) => EventStreams.FunEv(u, id, t, ty) }
    val byDay = evs
      .groupBy(e => java.lang.Math.floorDiv(usOf(e.ts)._1, 86400L))
      .toSeq.sortBy(_._1)
    val face = EventStreams.streamFunnel(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1)
    // conversion identity on the face itself
    face.foreach(r => assert(r._5 == r._4 * 1000000L / r._2))
    val mem = MemoryStream[EventStreams.FunEv]
    val q = EventStreams.funnelStream(mem.toDS())
      .writeStream.format("memory").queryName("funnel_cum_live")
      .outputMode("append").start()
    try {
      var checked = 0
      byDay.foreach { case (d, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
        // live counters = latest change-log row per user (stages only
        // advance, so the fullest row is the latest)
        val live = spark
          .sql("SELECT user_id, t_view, t_click, t_purchase FROM funnel_cum_live")
          .as[(Long, String, Option[String], Option[String])].collect()
          .groupBy(_._1)
          .map { case (_, rs) => rs.maxBy(r => r._3.size + r._4.size) }
        val nv = live.size.toLong
        val nc = live.count(_._3.isDefined).toLong
        val np = live.count(_._4.isDefined).toLong
        val dayStr = java.time.LocalDate.ofEpochDay(d).toString
        face.filter(_._1 <= dayStr).lastOption.foreach { r =>
          assert((r._2, r._3, r._4) == ((nv, nc, np)),
            s"closed day $dayStr: face (${r._2},${r._3},${r._4}) vs live ($nv,$nc,$np)")
          checked += 1
        }
      }
      assert(checked >= face.length, "some face days never checked")
    } finally q.stop()
  }

  test("streamed A/B monitor deltas accumulate to the stream_ab_lift face per closed day") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
      .map { case (u, id, us, ty) => EventStreams.AbEv(u, id, us, ty) }
    val byDay = evs.groupBy(_.us / 86400000000L).toSeq.sortBy(_._1)
    val face = EventStreams.streamAbLift(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val mem = MemoryStream[EventStreams.AbEv]
    val q = EventStreams.abLiftStream(mem.toDS())
      .writeStream.format("memory").queryName("ab_live")
      .outputMode("append").start()
    try {
      var checked = 0
      byDay.foreach { case (d, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
        // running sums of every delta emitted so far ARE the counters
        val deltas = spark.sql("SELECT armn, d_users, d_conv FROM ab_live")
          .as[(Long, Long, Long)].collect()
        val na = deltas.filter(_._1 == 0L).map(_._2).sum
        val nb = deltas.filter(_._1 == 1L).map(_._2).sum
        val ca = deltas.filter(_._1 == 0L).map(_._3).sum
        val cb = deltas.filter(_._1 == 1L).map(_._3).sum
        face.filter(_._1 <= d).lastOption.foreach { r =>
          assert((r._2, r._3, r._4, r._5) == ((na, nb, ca, cb)),
            s"closed day $d: face (${r._2},${r._3},${r._4},${r._5}) " +
              s"vs live ($na,$nb,$ca,$cb)")
          checked += 1
        }
      }
      assert(checked >= face.length, "some face days never checked")
    } finally q.stop()
    // the END-day row must equal events_ab_lift's one-row readout —
    // this face is the same experiment unrolled over time
    val last = face.last
    val lift = graft.operators.Analytics.eventsAbLift(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert((last._2, last._3, last._4, last._5) ==
      ((lift._1, lift._2, lift._3, lift._4)),
      "end-day counters diverge from events_ab_lift")
    assert(last._6 == lift._7 && last._7 == lift._8,
      "end-day lift/z diverge from events_ab_lift")
  }

  test("streamed uplift monitor deltas accumulate to the stream_uplift face per closed day") {
    implicit val sqlCtx = spark.sqlContext
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
      .map { case (u, id, us, ty) => EventStreams.UpEv(u, id, us, ty) }
    val byDay = evs.groupBy(_.us / 86400000000L).toSeq.sortBy(_._1)
    val face = EventStreams.streamUplift(spark, sf)
      .select("day", "seg", "n_a", "n_b", "conv_a", "conv_b")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    val mem = MemoryStream[EventStreams.UpEv]
    val q = EventStreams.upliftStream(mem.toDS())
      .writeStream.format("memory").queryName("uplift_live")
      .outputMode("append").start()
    try {
      var checked = 0
      byDay.foreach { case (d, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
        // running sums of the deltas per segment ARE the counters
        val deltas = spark
          .sql("SELECT seg, armn, d_users, d_conv FROM uplift_live")
          .as[(Long, Long, Long, Long)].collect()
        val live = deltas.groupBy(_._1).map { case (seg, ds) =>
          seg -> (ds.filter(_._2 == 0L).map(_._3).sum,
            ds.filter(_._2 == 1L).map(_._3).sum,
            ds.filter(_._2 == 0L).map(_._4).sum,
            ds.filter(_._2 == 1L).map(_._4).sum)
        }
        // the face's latest closed-day row per segment
        val faceAt = face.filter(_._1 <= d).groupBy(_._2)
          .map { case (seg, rs) => seg -> rs.maxBy(_._1) }
        faceAt.foreach { case (seg, r) =>
          assert(live.get(seg).contains((r._3, r._4, r._5, r._6)),
            s"closed day $d seg $seg: face (${r._3},${r._4},${r._5},${r._6}) " +
              s"vs live ${live.get(seg)}")
          checked += 1
        }
      }
      assert(checked > 0, "no face rows ever checked")
    } finally q.stop()
    // the end-of-window per-segment CONVERSION counts equal
    // events_uplift's exactly (a conversion implies in-window activity,
    // so both denominations see the same converters); segments the live
    // face never saw must be conversion-free in the batch readout
    val endDay = face.map(_._1).max
    val faceEnd = face.filter(_._1 == endDay).map(r => r._2 -> (r._5, r._6)).toMap
    val batch = graft.operators.Analytics.eventsUplift(spark, sf)
      .select("seg", "conv_a", "conv_b")
      .as[(Long, Long, Long)].collect()
    batch.foreach { case (seg, ca, cb) =>
      assert(faceEnd.getOrElse(seg, (0L, 0L)) == ((ca, cb)),
        s"seg $seg: end-day conversions diverge from events_uplift ($ca,$cb)")
    }
  }

  test("streamed DiD monitor deltas accumulate to the stream_did face; end-day row is events_did") {
    implicit val sqlCtx = spark.sqlContext
    val cutDay = 19738L
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")), col("event_type"))
      .as[(Long, Long, Long, String)].collect()
      .map { case (u, id, us, ty) => EventStreams.DidEv(u, id, us, ty) }
    val byDay = evs.groupBy(_.us / 86400000000L).toSeq.sortBy(_._1)
    val face = EventStreams.streamDid(spark, sf)
      .select("day", "days_a_pre", "conv_a_pre", "days_a_post", "conv_a_post",
        "days_b_pre", "conv_b_pre", "days_b_post", "conv_b_post")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1)
    val mem = MemoryStream[EventStreams.DidEv]
    val q = EventStreams.didStream(mem.toDS())
      .writeStream.format("memory").queryName("did_live")
      .outputMode("append").start()
    try {
      var checked = 0
      byDay.foreach { case (d, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
        // running delta sums keyed (arm, pre/post of the delta's day)
        // ARE the four cells
        val deltas = spark.sql("SELECT day, armn, d_units, d_conv FROM did_live")
          .as[(Long, Long, Long, Long)].collect()
        def cell(arm: Long, post: Boolean) = {
          val ds = deltas.filter(r => r._2 == arm && (r._1 >= cutDay) == post)
          (ds.map(_._3).sum, ds.map(_._4).sum)
        }
        val ((uap, cap), (uaq, caq)) = (cell(0L, false), cell(0L, true))
        val ((ubp, cbp), (ubq, cbq)) = (cell(1L, false), cell(1L, true))
        face.filter(_._1 <= d).lastOption.foreach { r =>
          assert((r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9) ==
            ((uap, cap, uaq, caq, ubp, cbp, ubq, cbq)),
            s"closed day $d: face vs live cells diverge")
          checked += 1
        }
      }
      assert(checked >= face.length, "some face days never checked")
    } finally q.stop()
    // the END-day row equals events_did's one-row readout exactly
    val last = EventStreams.streamDid(spark, sf).orderBy(col("day").desc).limit(1)
      .select("days_a_pre", "conv_a_pre", "days_a_post", "conv_a_post",
        "days_b_pre", "conv_b_pre", "days_b_post", "conv_b_post",
        "rate_a_pre_ppm", "rate_a_post_ppm", "rate_b_pre_ppm", "rate_b_post_ppm",
        "pre_gap_ppm", "post_gap_ppm", "did_ppm")
      .collect().head.toSeq
    val did = graft.operators.Analytics.eventsDid(spark, sf).collect().head.toSeq
    assert(last == did, "end-day row diverges from events_did")
  }

  test("didStream drops late events for closed days instead of double-counting") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, day: Long, ty: String) =
      EventStreams.DidEv(7L, id, day * 86400000000L + id, ty)
    val mem = MemoryStream[EventStreams.DidEv]
    val q = EventStreams.didStream(mem.toDS())
      .writeStream.format("memory").queryName("did_late")
      .outputMode("append").start()
    try {
      def deltas() = spark.sql("SELECT day, d_units, d_conv FROM did_late")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      mem.addData(ev(1L, 10L, "view")); q.processAllAvailable()
      assert(deltas() == Seq((10L, 1L, 0L)), "day-10 unit delta expected")
      // a purchase for ALREADY-CLOSED day 9 arrives late: the ordering
      // contract drops it — no unit re-emit, no state reset backwards
      mem.addData(ev(2L, 9L, "purchase")); q.processAllAvailable()
      assert(deltas() == Seq((10L, 1L, 0L)), "late closed-day event must be dropped")
      // state still remembers day 10 (not reset to 9): the day-10
      // purchase upgrades conv WITHOUT a second unit delta
      mem.addData(ev(3L, 10L, "purchase")); q.processAllAvailable()
      assert(deltas() == Seq((10L, 0L, 1L), (10L, 1L, 0L)),
        "day-10 conv upgrade must be delta-only (state was reset backwards?)")
    } finally q.stop()
  }

  test("stream_state_budget covers every stream twin and replays its drivers") {
    val rows7 = EventStreams.streamStateBudget(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    val rows = rows7.map(r => (r._1, r._2, r._3, r._4, r._5))
    // one row per registered stream key (except the budget itself)
    val registered = EventStreams.queries.keySet - "stream_state_budget"
    assert(rows.map(_._1).toSet == registered,
      "budget ledger must cover exactly the registered stream twins")
    // the sizing identities hold on every row, including the r20
    // bounded-state columns: bounded_keys never exceeds the live
    // upper bound, and only the three timeout twins tighten it
    rows7.foreach { case (k, _, nk, sb, kb, bk, bkb) =>
      assert(kb == nk * sb / 1024L, s"$k: state_total_kb arithmetic")
      assert(bkb == bk * sb / 1024L, s"$k: bounded_total_kb arithmetic")
      assert(nk >= 0L && sb >= 0L, s"$k: negative driver")
      assert(bk <= nk, s"$k: bounded keys exceed the live bound")
      val timeoutTwins = Set("stream_sessionize", "stream_retention", "stream_funnel")
      if (!timeoutTwins.contains(k))
        assert(bk == nk, s"$k: only the timeout twins have a tighter bound")
    }
    // drivers replay from the raw events: user-domain rows carry the
    // distinct user count, type-domain rows the type count, and the
    // quantile row's map bytes come from the measured max bucket day
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
        expr("cast(round(value*100) as bigint)").as("cents"))
      .as[(Long, String, Long, Long)].collect()
    val nUsers = ev.map(_._1).distinct.length.toLong
    val nTypes = ev.map(_._2).distinct.length.toLong
    val nDays = ev.map(_._3).distinct.length.toLong
    val maxBuckets = ev.groupBy(_._3)
      .map(_._2.map(_._4 / 64L).distinct.length).max.toLong
    rows.filter(_._2 == "user").foreach(r =>
      assert(r._3 == nUsers, s"${r._1}: user domain must be $nUsers"))
    rows.filter(_._2 == "event_type").foreach(r =>
      assert(r._3 == nTypes, s"${r._1}: type domain must be $nTypes"))
    rows.filter(_._2 == "day").foreach(r =>
      assert(r._3 == nDays, s"${r._1}: day domain must be $nDays"))
    val quant = rows.find(_._1 == "stream_quantile").get
    assert(quant._4 == 56L + 17L * maxBuckets,
      "quantile map bytes must come from the measured max bucket day")
    // the fixed-size constants are measured, not guessed: per state
    // class, constant == UnsafeRow encoder bytes + 48 B store overhead.
    // Variable-size states are measured at their steady-state size: a
    // 31-day retention window, a full 24-hour EWMA ring, a "click"
    // channel, a 16-digit Σx² string (sf0.1's largest has 15).
    def encBytes[T](v: T)(implicit e: org.apache.spark.sql.Encoder[T]): Long =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          e.asInstanceOf[org.apache.spark.sql.catalyst.encoders.AgnosticEncoder[T]])
        .createSerializer()(v)
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
        .getSizeInBytes.toLong
    val pinned = Seq(
      "stream_did" -> encBytes(EventStreams.DidState(1L, true)),
      "stream_funnel" -> encBytes(EventStreams.FunState(1L, 2L, 3L)),
      "stream_sessionize" -> encBytes(EventStreams.SessState(1L, 2L, 3L, 4L, 5L)),
      "stream_uplift" -> encBytes(EventStreams.UpState(1L, true, false, 2L)),
      "stream_dau" -> encBytes(new Array[Long](64)),
      "stream_retention" -> encBytes(EventStreams.RetState(1, (0 until 31).toList)),
      "stream_late_data" -> encBytes(EventStreams.HwmState(1L)),
      "stream_ab_lift" -> encBytes(EventStreams.AbState(true, false)),
      "stream_attribution" -> encBytes("click"),
      "stream_scd1" -> encBytes(EventStreams.UpsertState(1L, 2L)),
      "stream_scd2" -> encBytes(EventStreams.Scd2State(1L, 2L, 3L, 4L)),
      "stream_merge_delete" -> encBytes(EventStreams.ChangeState(1L, 2L, true)),
      "stream_forecast" -> encBytes(EventStreams.FcState(1L, 2L, 3L)),
      "stream_cusum" -> encBytes(EventStreams.CusumState(1L)),
      "stream_gap_fill" -> encBytes(1L),
      "stream_ewma" -> encBytes(EventStreams.EwmaSt(1L, 2L, Seq.fill(24)(3L))),
      "stream_anomaly" -> encBytes(EventStreams.AnomState(1L, 2L, "1234567890123456")),
      "stream_frame_churn" -> encBytes(EventStreams.CellState(1L, 2L)),
      "stream_pack" -> encBytes(EventStreams.PackSt(1L, 2L, 3L, 4L, 5L, 6L)),
      "stream_bandit" -> encBytes(EventStreams.BanditState(1L, 2L, 3L, 4L, 5L)))
    val off = pinned.map { case (k, measured) => (k, rows.find(_._1 == k).get._4, measured) }
      .collect { case (k, c, m) if c != m + 48L => s"$k: constant $c != measured UnsafeRow $m + 48" }
    assert(off.isEmpty, off.mkString("\n"))
    // the design property the ledger exists to show: no stream's state
    // grows with EVENTS — every n_keys is bounded by a sub-event driver
    val nEvents = ev.length.toLong
    rows.filter(r => r._2 != "event_buffer_watermark").foreach(r =>
      assert(r._3 <= math.max(nUsers * nTypes, 1400000L),
        s"${r._1}: state keys must not scale with raw events ($nEvents)"))
  }

  test("stream twins run on the RocksDB state store (the 100 TB provider) unchanged") {
    // SCALING.md's streaming section prescribes RocksDB for production
    // state (the default HDFS-backed provider keeps every user's state
    // on-heap); this pins that the FMGWS twins' case-class state
    // round-trips through RocksDB with batch-for-batch identical
    // output. Three users x three day-cadence batches exercises state
    // persistence across batches and a conv upgrade.
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, id: Long, day: Long, ty: String) =
      EventStreams.DidEv(u, id, day * 86400000000L + id, ty)
    val batches = Seq(
      Seq(ev(1L, 1L, 10L, "view"), ev(2L, 2L, 10L, "purchase")),
      Seq(ev(1L, 3L, 11L, "purchase"), ev(3L, 4L, 11L, "view")),
      Seq(ev(2L, 5L, 12L, "view"), ev(3L, 6L, 12L, "purchase")))
    def run(tag: String): Seq[(Long, Long, Long, Long)] = {
      val mem = MemoryStream[EventStreams.DidEv]
      val q = EventStreams.didStream(mem.toDS())
        .writeStream.format("memory").queryName(s"did_ssp_$tag")
        .outputMode("append").start()
      try {
        batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        spark.sql(s"SELECT day, armn, d_units, d_conv FROM did_ssp_$tag")
          .as[(Long, Long, Long, Long)].collect().toSeq.sorted
      } finally q.stop()
    }
    val dflt = run("hdfs")
    assert(dflt.nonEmpty)
    val key = "spark.sql.streaming.stateStore.providerClass"
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      assert(run("rocks") == dflt,
        "RocksDB state store must replay the default provider's output exactly")
    } finally spark.conf.unset(key)
  }

  test("streamed decayed bandit equals the batch HOF fold at daily cadence") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.BanditEv
    // the per-(day, arm) distinct-user feed the batch face folds,
    // rebuilt here independently from the raw events
    val armOf = (u: Long) =>
      ("ab|" + u).foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L) % 2
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000"),
        col("event_type"))
      .as[(Long, Long, String)].collect()
    val feed = evs.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, rs) =>
      def stats(arm: Long) = {
        val us = rs.filter(r => armOf(r._1) == arm)
        (us.map(_._1).distinct.length.toLong,
          us.filter(_._3 == "purchase").map(_._1).distinct.length.toLong)
      }
      val ((nA, cA), (nB, cB)) = (stats(0L), stats(1L))
      BanditEv(d, nA, nB, cA, cB)
    }
    val mem = MemoryStream[BanditEv]
    val q = EventStreams.banditStream(mem.toDS())
      .writeStream.format("memory").queryName("bandit_live")
      .outputMode("append").start()
    try {
      // one batch per closed day — the allocator's natural cadence
      feed.foreach { r => mem.addData(r); q.processAllAvailable() }
      val live = spark.sql(
        "SELECT day, dn_a, dn_b, dconv_a, dconv_b, leader, leader_rate_ppm, " +
          "best_rate_ppm, regret_ppm, cum_regret_ppm FROM bandit_live")
        .as[(Long, Long, Long, Long, Long, String, Long, Long, Long, Long)]
        .collect().toSet
      val batch = EventStreams.streamBandit(spark, sf)
        .as[(Long, Long, Long, Long, Long, String, Long, Long, Long, Long)]
        .collect().toSet
      assert(live == batch,
        s"sequential fold vs HOF fold: stream-only ${live.diff(batch).take(3)}; " +
          s"batch-only ${batch.diff(live).take(3)}")
    } finally q.stop()
  }

  test("streamed sequential CUSUM equals the batch closed form on the real series") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.CusumEv
    // the batch face's own dense daily series, with targets
    val series = EventStreams.streamCusum(spark, sf)
      .select("event_type", "day", "cents", "target_cents")
      .as[(String, Long, Long, Long)].collect()
      .map { case (t, d, c, tg) => CusumEv(t, d, c, tg) }
    val byDay = series.groupBy(_.day).toSeq.sortBy(_._1)
    val mem = MemoryStream[CusumEv]
    val q = EventStreams.cusumStream(mem.toDS())
      .writeStream.format("memory").queryName("cusum_live")
      .outputMode("append").start()
    try {
      // one batch per closed day — the cadence a daily monitor runs
      byDay.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT event_type, day, cents, target_cents, dev_cents, cusum_cents, alarm FROM cusum_live")
        .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSet
      val batch = EventStreams.streamCusum(spark, sf)
        .as[(String, Long, Long, Long, Long, Long, Boolean)].collect().toSet
      assert(live == batch,
        s"fold vs closed form: stream-only ${live.diff(batch).take(3)}; " +
          s"batch-only ${batch.diff(live).take(3)}")
    } finally q.stop()
  }

  test("streamed drift monitor equals the batch TVD series at daily cadence") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.DriftEv
    // the reference profile ships to the stream as broadcast model
    // state — built here from the same pre-cut epoch the batch face uses
    val cutUs = java.sql.Timestamp.valueOf("2024-01-16 00:00:00").getTime * 1000L
    def band(cents: Long): String =
      if (cents < 1000) "v0" else if (cents < 2500) "v1"
      else if (cents < 5000) "v2" else if (cents < 7500) "v3"
      else if (cents < 10000) "v4" else "v5"
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(unix_micros(col("ts")), col("event_type"),
        expr("CAST(round(value*100) AS BIGINT)"))
      .as[(Long, String, Long)].collect()
      .flatMap { case (us, t, vc) =>
        Seq((us, "event_type", t), (us, "value_band", band(vc)))
      }
    val refProfile = raw.filter(_._1 < cutUs)
      .groupBy(r => (r._2, r._3)).view.mapValues(_.length.toLong).toMap
    val refTotals = refProfile.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val curEvs = raw.filter(_._1 >= cutUs)
      .map { case (us, f, b) => DriftEv(us / 86400000000L, f, b) }
    val byDay = curEvs.groupBy(_.day).toSeq.sortBy(_._1)
    val mem = MemoryStream[DriftEv]
    val q = EventStreams.driftStream(mem.toDS(), refProfile, refTotals)
      .writeStream.format("memory").queryName("drift_live")
      .outputMode("append").start()
    try {
      // one batch per closed day — each (day, feature) key emits once
      byDay.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT day, feature, n_events, tvd_ppm FROM drift_live")
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = EventStreams.streamDrift(spark, sf)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
      // the monitor must read a real signal: drift is nonzero somewhere
      assert(batch.exists(_._4 > 0), "TVD zero everywhere — monitor vacuous")
    } finally q.stop()
  }

  test("streamed daily top-k leaderboard equals the batch face at daily cadence") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.TopkEv
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(expr("unix_micros(ts) div 86400000000"), col("event_type"))
      .as[(Long, String)].collect()
      .map { case (d, t) => TopkEv(d, t) }
    val byDay = evs.groupBy(_.day).toSeq.sortBy(_._1)
    val mem = MemoryStream[TopkEv]
    val q = EventStreams.topkStream(mem.toDS())
      .writeStream.format("memory").queryName("topk_live")
      .outputMode("append").start()
    try {
      // one batch per closed day — each day's leaderboard emits once
      byDay.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT day, event_type, n_events, rnk FROM topk_live")
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = EventStreams.streamTopk(spark, sf)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
    } finally q.stop()
  }

  test("late-data stream equals the batch face fed in per-user arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.LateEv
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long, Long)].collect()
      .map { case (u, id, us0) =>
        // the shared planted-disorder fixture (see streamLateData)
        val us = us0 - (if (id % 17 == 0) (id % 5 + 1) * 172800000000L else 0L)
        LateEv(u, id, us)
      }
    // batch i carries every user's i-th event in arrival (event_id)
    // order — each key's records arrive strictly in ingest order,
    // split across MANY batches so state genuinely carries over
    val byKey = raw.groupBy(_.user).view.mapValues(_.sortBy(_.eventId).toVector).toMap
    val rounds = byKey.values.map(_.length).max
    val mem = MemoryStream[LateEv]
    val q = EventStreams.lateDataStream(mem.toDS())
      .writeStream.format("memory").queryName("late_live")
      .outputMode("append").start()
    try {
      (0 until rounds).foreach { i =>
        val batch = byKey.values.flatMap(_.lift(i)).toSeq
        if (batch.nonEmpty) { mem.addData(batch: _*); q.processAllAvailable() }
      }
      val live = spark.sql("SELECT user_id, event_id, us, late_by_us FROM late_live")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batchFace = EventStreams.streamLateData(spark, sf)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(live.nonEmpty, "no late events in the corpus feed — vacuous")
      assert(live == batchFace,
        s"stream-only: ${live.diff(batchFace).take(3)}; batch-only: ${batchFace.diff(live).take(3)}")
    } finally q.stop()
  }

  test("streamed quantile sketch equals the batch grid estimates at daily cadence") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.QuantEv
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(expr("unix_micros(ts) div 86400000000"),
        expr("CAST(round(value*100) AS BIGINT)"))
      .as[(Long, Long)].collect()
      .map { case (d, c) => QuantEv(d, c) }
    val byDay = evs.groupBy(_.day).toSeq.sortBy(_._1)
    val mem = MemoryStream[QuantEv]
    val q = EventStreams.quantileStream(mem.toDS())
      .writeStream.format("memory").queryName("quant_live")
      .outputMode("append").start()
    try {
      byDay.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT day, n_events, p50_est_cents, p90_est_cents FROM quant_live")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = EventStreams.streamQuantile(spark, sf)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
      // grid geometry: estimates sit on register midpoints, p50 <= p90
      batch.foreach { case (d, n, p50, p90) =>
        assert(n > 0 && p50 % 64 == 32 && p90 % 64 == 32, s"day $d off-grid")
        assert(p50 <= p90, s"day $d p50 $p50 > p90 $p90")
      }
    } finally q.stop()
  }

  test("streamed gap filling equals the per-type dense batch grid") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.GapEv
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"),
        expr("CAST(round(value*100) AS BIGINT)"))
      .as[(String, Long, Long)].collect()
      .map { case (t, h, c) => GapEv(t, h, c) }
    val byHour = evs.groupBy(_.hi).toSeq.sortBy(_._1)
    val mem = MemoryStream[GapEv]
    val q = EventStreams.gapFillStream(mem.toDS())
      .writeStream.format("memory").queryName("gap_live")
      .outputMode("append").start()
    try {
      byHour.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT hour_idx, event_type, n_events, cents, filled FROM gap_live")
        .as[(Long, String, Long, Long, Long)].collect().toSet
      val batch = EventStreams.streamGapFill(spark, sf)
        .as[(Long, String, Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty)
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
      // non-vacuous: the corpus must actually have gaps to fill, and
      // every filled row is an exact zero
      assert(batch.exists(_._5 == 1L), "no gaps in the corpus feed — vacuous")
      batch.filter(_._5 == 1L).foreach(r =>
        assert(r._3 == 0L && r._4 == 0L, "a filled hour carried data"))
      // per type the grid is dense between its own bounds
      batch.groupBy(_._2).values.foreach { rows =>
        val hs = rows.map(_._1).toSeq.sorted
        assert(hs == (hs.head to hs.last), "per-type grid has holes")
      }
    } finally q.stop()
  }

  test("streamed EWMA equals the batch trailing-25 kernel per closed hour") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.EwmaEv
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000"))
      .as[(String, Long)].collect()
      .map { case (t, h) => EwmaEv(t, h) }
    val byHour = evs.groupBy(_.hi).toSeq.sortBy(_._1)
    val mem = MemoryStream[EwmaEv]
    val q = EventStreams.ewmaStream(mem.toDS())
      .writeStream.format("memory").queryName("ewma_live")
      .outputMode("append").start()
    try {
      byHour.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT hour_idx, event_type, n_events, ewma_scaled FROM ewma_live")
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = EventStreams.streamEwma(spark, sf)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(batch.nonEmpty)
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
      // the open hour never emits: per type, exactly [h0, h1) appears
      val lastObs = evs.groupBy(_.event_type).map { case (t, xs) =>
        t -> (xs.map(_.hi).min, xs.map(_.hi).max) }
      batch.groupBy(_._2).foreach { case (t, rows) =>
        val hs = rows.map(_._1).toSeq.sorted
        val (h0, h1) = lastObs(t)
        assert(hs == (h0 until h1), s"$t grid != [h0, h1)")
      }
      // kernel identity: scaled EWMA replayed from the closed counts
      batch.groupBy(_._2).foreach { case (t, rows) =>
        val byH = rows.toSeq.sortBy(_._1)
        val counts = byH.map(_._3)
        byH.zipWithIndex.foreach { case ((h, _, _, got), i) =>
          val want = (0 to 24).map(k =>
            (if (i - k >= 0) counts(i - k) else 0L) << (24 - k)).sum
          assert(got == want, s"$t hour $h scaled kernel")
        }
      }
    } finally q.stop()
  }

  test("streamed packing emits exactly the batch closed-window ledger") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.PackDoc
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .as[(Long, Long)].collect().sortBy(_._1)
      .map { case (id, n) => PackDoc(id, n) }
    val mem = MemoryStream[PackDoc]
    val q = EventStreams.packStream(mem.toDS())
      .writeStream.format("memory").queryName("pack_live")
      .outputMode("append").start()
    try {
      // in-order arrival in uneven batches — the append-only ingest
      docs.grouped(37).foreach { b =>
        mem.addData(b.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT bin_id, n_docs, first_doc, last_doc, tokens_started FROM pack_live")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = EventStreams.streamPack(spark, sf)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(batch.nonEmpty, "no closed windows at this SF — vacuous")
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
      // window spans tile: each closed window's doc span is contiguous
      // with the next (the packer never skips a doc)
      val sorted = batch.toSeq.sortBy(_._1)
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b._3 == a._4 + 1, s"doc span gap between bins ${a._1} and ${b._1}")
      }
    } finally q.stop()
  }

  test("streamed attribution credits equal the batch daily ledger") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.AttrEv
    val raw = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")),
        col("event_type"), expr("CAST(round(value*100) AS BIGINT)"))
      .as[(Long, Long, Long, String, Long)].collect()
      .map { case (u, e, us, t, c) => AttrEv(u, e, us, t, c) }
    // per-key rank batches: each user's events arrive in (us, event_id)
    // order — the in-order replay the batch window models
    val byKey = raw.groupBy(_.user_id).view
      .mapValues(_.sortBy(r => (r.us, r.event_id)).toVector).toMap
    val rounds = byKey.values.map(_.length).max
    val mem = MemoryStream[AttrEv]
    val q = EventStreams.attributionStream(mem.toDS())
      .writeStream.format("memory").queryName("attr_live")
      .outputMode("append").start()
    try {
      (0 until rounds).foreach { i =>
        val batch = byKey.values.flatMap(_.lift(i)).toSeq
        if (batch.nonEmpty) { mem.addData(batch: _*); q.processAllAvailable() }
      }
      // the live change-log's per-(day, channel) sums ARE the ledger
      val live = spark.sql(
        """SELECT day, attributed, count(*) AS n, sum(cents) AS cents
          |FROM attr_live GROUP BY day, attributed""".stripMargin)
        .as[(Long, String, Long, Long)].collect().toSet
      val batchFace = EventStreams.streamAttribution(spark, sf)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(batchFace.nonEmpty, "no purchases — vacuous")
      assert(live == batchFace,
        s"stream-only ${live.diff(batchFace).take(3)}; batch-only ${batchFace.diff(live).take(3)}")
      // every channel value is a real one
      assert(batchFace.forall(r => Set("click", "view", "direct")(r._2)))
    } finally q.stop()
  }

  test("streamed anomaly monitor equals the prequential batch face; planted spike pages") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.AnomEv
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000"),
        expr("CAST(round(value*100) AS BIGINT)"))
      .as[(String, Long, Long)].collect()
      .map { case (t, d, c) => AnomEv(t, d, c) }
    val byDay = evs.groupBy(_.day).toSeq.sortBy(_._1)
    val mem = MemoryStream[AnomEv]
    val q = EventStreams.anomalyStream(mem.toDS())
      .writeStream.format("memory").queryName("anom_live")
      .outputMode("append").start()
    try {
      byDay.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql(
        "SELECT day, event_type, cents, n_prior, z2_micro, anomaly FROM anom_live")
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      val batch = EventStreams.streamAnomaly(spark, sf)
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
    } finally q.stop()
    // planted near-constant series with a 5× spike: exact prequential
    // replay in BigInt; the spike day is the ONLY page, and the crafted
    // day-2 score of exactly 9·10⁶ sits ON the boundary without paging
    val series = Seq(100L, 102L, 98L, 101L, 99L, 500L)
    val mem2 = MemoryStream[AnomEv]
    val q2 = EventStreams.anomalyStream(mem2.toDS())
      .writeStream.format("memory").queryName("anom_plant")
      .outputMode("append").start()
    try {
      series.zipWithIndex.foreach { case (c, d) =>
        mem2.addData(AnomEv("spend", d.toLong, c)); q2.processAllAvailable()
      }
      val rows = spark.sql(
        "SELECT day, n_prior, z2_micro, anomaly FROM anom_plant")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(rows.length == series.length)
      var (k, s, ss) = (BigInt(0), BigInt(0), BigInt(0))
      series.zipWithIndex.foreach { case (c, d) =>
        val varN = k * ss - s * s
        val z2 = if (k < 2 || varN <= 0) BigInt(0)
          else BigInt(1000000) * (k * c - s) * (k * c - s) / varN
        val row = rows(d)
        assert(row._2 == k.toLong, s"day $d n_prior")
        assert(BigInt(row._3) == z2, s"day $d z2 diverges from the replay")
        assert((row._4 == 1L) == (z2 > 9000000), s"day $d verdict")
        k += 1; s += c; ss += BigInt(c) * c
      }
      assert(rows.count(_._4 == 1L) == 1 && rows.last._4 == 1L,
        "the spike day must be the only page")
      assert(rows(2)._3 == 9000000L && rows(2)._4 == 0L,
        "the on-boundary day-2 score must not page")
    } finally q2.stop()
  }

  test("streamed DAU sketch equals the batch HLL estimates at daily cadence") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.DauEv
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(expr("unix_micros(ts) div 86400000000"), col("user_id"))
      .as[(Long, Long)].collect()
      .map { case (d, u) => DauEv(d, u) }
    val byDay = evs.groupBy(_.day).toSeq.sortBy(_._1)
    val mem = MemoryStream[DauEv]
    val q = EventStreams.dauStream(mem.toDS())
      .writeStream.format("memory").queryName("dau_live")
      .outputMode("append").start()
    try {
      byDay.foreach { case (_, rows) =>
        mem.addData(rows.toSeq: _*); q.processAllAvailable()
      }
      val live = spark.sql("SELECT day, v_zero, est_milli FROM dau_live")
        .as[(Long, Long, Long)].collect().toSet
      val batch = EventStreams.streamDau(spark, sf)
        .select("day", "v_zero", "est_milli")
        .as[(Long, Long, Long)].collect().toSet
      assert(live == batch,
        s"stream-only ${live.diff(batch).take(3)}; batch-only ${batch.diff(live).take(3)}")
      // accuracy under the documented consumer contract (the
      // agg_hll_replay spec's rule): linear counting from v_zero in
      // the small range, raw HLL otherwise, corrected within ±35%
      val full = EventStreams.streamDau(spark, sf)
        .as[(Long, Long, Long, Long)].collect()
      full.foreach { case (d, exact, vz, est) =>
        val corrected =
          if (est / 1000.0 <= 2.5 * 64 && vz > 0) 64.0 * math.log(64.0 / vz)
          else est / 1000.0
        assert(math.abs(corrected - exact) <= 0.35 * exact,
          s"day $d corrected $corrected vs exact $exact outside 35%")
      }
    } finally q.stop()
  }

  test("event-time-timeout funnel retires a stale user and re-acquires a fresh funnel") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.FunEv]
    // 1-day horizon so the retire fires inside a short feed
    val q = EventStreams.funnelStreamEventTime(mem.toDS(),
        watermarkDelay = "1 second", horizonDays = 1)
      .writeStream.format("memory").queryName("funevt")
      .outputMode("append").start()
    try {
      def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
      // user 1 advances view -> click
      mem.addData(EventStreams.FunEv(1L, 1L, ts(0), "view"),
        EventStreams.FunEv(1L, 2L, ts(60), "click"))
      q.processAllAvailable()
      var rows = spark.sql("SELECT user_id, t_click, t_purchase FROM funevt")
        .as[(Long, Option[String], Option[String])].collect()
      assert(rows.exists(r => r._1 == 1L && r._2.isDefined && r._3.isEmpty),
        s"expected the view->click advance, got ${rows.toSeq}")
      // two sentinel batches push the watermark >1 day past user 1's
      // last advance: the first advances the watermark, the second
      // lets the timeout fire -> user 1's funnel RETIRES (state gone)
      mem.addData(EventStreams.FunEv(999L, 3L, ts(3 * 86400L), "view"))
      q.processAllAvailable()
      mem.addData(EventStreams.FunEv(999L, 4L, ts(3 * 86400L + 60), "view"))
      q.processAllAvailable()
      // a purchase from user 1 now must NOT complete the old funnel —
      // the retired state is gone and a fresh funnel needs a view first
      mem.addData(EventStreams.FunEv(1L, 5L, ts(3 * 86400L + 120), "purchase"))
      q.processAllAvailable()
      rows = spark.sql("SELECT user_id, t_click, t_purchase FROM funevt")
        .as[(Long, Option[String], Option[String])].collect()
      assert(!rows.exists(r => r._1 == 1L && r._3.isDefined),
        s"purchase after retirement must not attach to the retired funnel: ${rows.toSeq}")
      // re-acquire: a new view starts a FRESH funnel (t_click unset)
      mem.addData(EventStreams.FunEv(1L, 6L, ts(3 * 86400L + 180), "view"))
      q.processAllAvailable()
      val fresh = spark.sql("SELECT user_id, t_view, t_click FROM funevt")
        .as[(Long, String, Option[String])].collect()
        .filter(r => r._1 == 1L)
      assert(fresh.nonEmpty, "expected a fresh funnel row for the returning user")
      // the fresh funnel's view timestamp is the NEW event's (3 days
      // past the epoch base), not the retired funnel's original view
      val lastView = fresh.maxBy(_._2)
      assert(lastView._3.isEmpty,
        s"fresh funnel must restart from the view stage: $lastView")
      assert(lastView._2 > fresh.minBy(_._2)._2 || fresh.length == 2,
        s"fresh funnel should carry the new view time: ${fresh.toSeq}")
    } finally q.stop()
  }
}
