package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.Tables
import graft.operators.Analytics
import graft.functions.HashExpressions.{polyHash, polyHashSql}

/** Structured Streaming operators (SURVEY.md §2, streaming block).
  *
  * Each operator has two faces sharing one semantics:
  *  - a batch face registered in SparkEntry.queries (checkable by the
  *    DuckDB oracle / against the batch Analytics twin), and
  *  - a streaming face ([[windowAggStream]] / [[sessionizeStream]])
  *    driven by the ScalaTest spec through MemoryStream.
  *
  * At scale the streaming path is the incremental version of the same
  * plan: watermark bounds state, the tumbling-window agg is partial-
  * aggregated before shuffle, and sessionization state lives in the
  * state store keyed by user — AQE/skew notes from the batch twins
  * carry over.
  */
object EventStreams {

  case class Ev(user_id: Long, event_id: Long, us: Long, vc: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        duration_sec: Double, session_value: Double)
  case class SessState(sessionId: Long, startUs: Long, lastUs: Long,
                               nEv: Long, sumCents: Long)

  val GapUs: Long = 1800L * 1000000L // 30-minute session gap

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").withColumn("ts", col("ts").cast("timestamp"))

  // ------------------------------------------------------- window agg
  /** Batch face: tumbling 1-hour window + per-window distinct users.
    * Same plan shape the streaming face produces incrementally.
    */
  def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        date_format(col("window.end"), "yyyy-MM-dd HH:mm:ss").as("window_end"),
        col("event_type"), col("n_events"), col("n_users"))
      .orderBy(col("window_start"), col("event_type"))

  val streamWindowAggSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  strftime(date_trunc('hour', ts) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
      |  event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin

  /** Streaming face: watermarked tumbling-window agg over a streaming
    * DataFrame with (ts TIMESTAMP, user_id, event_type) — state is
    * bounded by the watermark, emitted on window close (Append).
    */
  def windowAggStream(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"))

  /** Streaming face of corpus_stats: the per-source corpus ledger as
    * an incrementally-maintained streaming aggregation (Complete/
    * Update mode) — the live counters a continuous ingest pipeline
    * exposes. Same aggregates as the batch query except language
    * breadth: exact countDistinct is unsupported in streaming (it
    * would need unbounded per-group state), so the face reports the
    * mergeable HLL sketch instead — the 100 TB answer to the same
    * question. State per source is one fixed-size row.
    */
  def corpusStatsStream(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        approx_count_distinct(col("lang")).as("approx_langs"))

  /** Streaming face of the NATIVE session_window operator: the same
    * expression as the batch query (Analytics.eventsSessionWindow),
    * watermarked — Spark merges open session state incrementally and
    * emits a session once the watermark passes its end. The built-in
    * alternative to the flatMapGroupsWithState fold below: less
    * control (no custom continuity guards), zero custom state code.
    */
  def sessionWindowStream(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Stream-static enrichment: join each streamed event to a STATIC
    * dimension (user → attribute) — the standard enrich-on-ingest
    * shape. The static side is broadcast per micro-batch (no stream
    * state), so at 100 TB/day the stream never shuffles for the dim;
    * events with no dim row pass through with nulls (left join) so
    * ingest never drops data on a late dimension.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Batch face of [[enrichStream]] (registered as `stream_enrich`):
    * the SAME function applied to the batch event log and the customer
    * dimension — `enrichStream` is mode-agnostic, so the oracle-checked
    * batch plan (BroadcastHashJoin LeftOuter, zero stream-side
    * exchanges) is literally the per-micro-batch plan the streaming
    * face executes. Left semantics keep dimension-less events.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_name"),
        col("c_mktsegment"), col("c_nationkey"))
    enrichStream(
      events(s, dir).select(col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      dim)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_name"), col("c_mktsegment"), col("c_nationkey"))
      .orderBy(col("event_id"))
  }

  val streamEnrichSql: String =
    """SELECT e.event_id, e.user_id, e.event_type, e.value,
      |  c.c_name, c.c_mktsegment, c.c_nationkey
      |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  // ------------------------------------------------------ sessionize
  private def foldSessions(userId: Long, evs: Iterator[Ev]): Iterator[SessionOut] = {
    val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Vector.newBuilder[SessionOut]
      var st = SessState(0L, sorted.head.us, sorted.head.us, 0L, 0L)
      def emit(): Unit = out += SessionOut(userId, st.sessionId, st.nEv,
        (st.lastUs - st.startUs) / 1000000.0, st.sumCents / 100.0)
      sorted.foreach { e =>
        if (e.us - st.lastUs > GapUs) {
          emit()
          st = SessState(st.sessionId + 1, e.us, e.us, 1L, e.vc)
        } else {
          st = st.copy(lastUs = e.us, nEv = st.nEv + 1,
            sumCents = st.sumCents + e.vc,
            startUs = if (st.nEv == 0) e.us else st.startUs)
        }
      }
      emit()
      out.result().iterator
    }
  }

  /** Batch face: gap sessionization via typed groupByKey →
    * flatMapGroups running the same fold the streaming state machine
    * runs. Rows-only check; the spec asserts equality with the
    * window-function twin (operators.Analytics.sessionize).
    */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("vc"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups((uid: Long, it: Iterator[Ev]) => foldSessions(uid, it))
      .toDF()
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Streaming face: flatMapGroupsWithState gap sessionization. A
    * session is emitted when a later event crosses the 30-minute gap;
    * the trailing open session stays in state (a production deployment
    * would add an event-time timeout flush — kept out here so the
    * micro-batch loop stays quiescent between inputs).
    * Input: Dataset[Ev] from a stream.
    */
  def sessionizeStream(stream: Dataset[Ev]): Dataset[SessionOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(
            SessState(0L, -1L, Long.MinValue / 4, 0L, 0L))
          val out = Vector.newBuilder[SessionOut]
          sorted.foreach { e =>
            if (st.nEv > 0 && e.us - st.lastUs > GapUs) {
              out += SessionOut(uid, st.sessionId, st.nEv,
                (st.lastUs - st.startUs) / 1000000.0, st.sumCents / 100.0)
              st = SessState(st.sessionId + 1, e.us, e.us, 1L, e.vc)
            } else if (st.nEv == 0) {
              st = SessState(st.sessionId, e.us, e.us, 1L, e.vc)
            } else {
              // cross-batch out-of-order: never move lastUs backwards —
              // that would split the session spuriously on the next
              // in-order event or yield a negative duration; extend
              // startUs backwards instead so the session span covers
              // the late event. NOTE this face has no watermark, so
              // lateness is unbounded and an arbitrarily old event
              // merges into the open session (diverging from the
              // batch twin, which sorts globally); the production face
              // with BOUNDED lateness is sessionizeStreamEventTime,
              // where the watermark drops older-than-delay input.
              st = st.copy(lastUs = math.max(st.lastUs, e.us),
                startUs = math.min(st.startUs, e.us),
                nEv = st.nEv + 1, sumCents = st.sumCents + e.vc)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Event-time input row for the watermarked streaming face. */
  case class EvT(user_id: Long, event_id: Long, ts: java.sql.Timestamp, vc: Long)

  private def micros(ts: java.sql.Timestamp): Long =
    ts.toInstant.getEpochSecond * 1000000L + ts.toInstant.getNano / 1000L

  /** Streaming face with the production trailing-session flush: an
    * event-time timeout fires once the WATERMARK passes lastSeen+gap,
    * emitting the open session even if the user never returns. Unlike
    * a processing-time timeout, this is driven purely by data (the
    * watermark), so tests and replays are deterministic and the
    * micro-batch loop stays quiescent between inputs.
    */
  def sessionizeStreamEventTime(stream: Dataset[EvT],
                                watermarkDelay: String = "10 seconds"): Dataset[SessionOut] = {
    import stream.sparkSession.implicits._
    stream
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[EvT], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            // keep a tombstone with the NEXT session id so later events
            // continue the per-user numbering instead of reusing id 0
            // (one tiny record per user — same state bound as dedup)
            state.update(SessState(st.sessionId + 1, -1L, Long.MinValue / 4, 0L, 0L))
            Iterator.single(SessionOut(uid, st.sessionId, st.nEv,
              (st.lastUs - st.startUs) / 1000000.0, st.sumCents / 100.0))
          } else {
            val sorted = evs.toVector
              .map(e => Ev(e.user_id, e.event_id, micros(e.ts), e.vc))
              .sortBy(e => (e.us, e.event_id))
            var st = state.getOption.getOrElse(
              SessState(0L, -1L, Long.MinValue / 4, 0L, 0L))
            val out = Vector.newBuilder[SessionOut]
            sorted.foreach { e =>
              if (st.nEv > 0 && e.us - st.lastUs > GapUs) {
                out += SessionOut(uid, st.sessionId, st.nEv,
                  (st.lastUs - st.startUs) / 1000000.0, st.sumCents / 100.0)
                st = SessState(st.sessionId + 1, e.us, e.us, 1L, e.vc)
              } else if (st.nEv == 0) {
                st = SessState(st.sessionId, e.us, e.us, 1L, e.vc)
              } else {
                // same cross-batch out-of-order guard as above
                st = st.copy(lastUs = math.max(st.lastUs, e.us),
                  startUs = math.min(st.startUs, e.us),
                  nEv = st.nEv + 1, sumCents = st.sumCents + e.vc)
              }
            }
            state.update(st)
            // flush the open session when the watermark passes last+gap
            if (st.nEv > 0)
              state.setTimeoutTimestamp(st.lastUs / 1000L + GapUs / 1000L)
            out.result().iterator
          }
      }
  }

  // ---------------------------------------------------------- dedup
  /** Batch face: first event per (user, type) — deterministic
    * event-order dedup (row_number over us, event_id).
    */
  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val streamDedupSql: String =
    """SELECT user_id, event_type, event_id, us FROM (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events)
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  /** Streaming face: stateful exact dedup on (user_id, event_type)
    * bounded by the watermark — Spark's dropDuplicatesWithinWatermark
    * keeps first-arrival state only until the watermark passes, so
    * state is bounded at 100 TB/day event volumes.
    */
  def dedupStream(stream: DataFrame, watermark: String = "1 hour"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming CONTENT dedup: first arrival per normalized-text
    * signature within the watermark — the streaming face of
    * dedup_exact. The signature is the codegen'd poly_hash of the
    * whitespace-normalized text (the same engine-portable hash the
    * batch dedup family uses), so state per doc is one long + the
    * watermark bound, not the text itself.
    */
  def dedupContentStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val sig = polyHash(
        regexp_replace(trim(col("text")), " +", " "), 1000000007L)
    docs
      .withColumn("content_sig", sig)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_sig")
  }

  /** Streaming NEAR-dup dedup face (SURVEY §9.5): first arrival per
    * full banded MinHash signature within the watermark. The signature
    * is [[graft.operators.Dedup.minhashSignature]] — the 32 batch LSH
    * lane minima folded into one long with identical arithmetic, so
    * stream and batch agree on what a (near-)exact dup is. It is
    * computed per row in a typed map (no aggregation upstream), so the
    * query carries a single stateful operator whose state is one long
    * per surviving doc within the watermark. Catches exact and
    * near-exact dups (all lanes equal); lower-similarity near-dups are
    * the batch LSH pipeline's job — any-band matching needs cross-band
    * state that streaming dedup cannot express in bounded form.
    */
  def dedupMinhashStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftSqlShim
    // column-native signature: the codegen'd minhash_sig expression —
    // no typed-encoder round trip in the streaming hot path
    val sig = GraftSqlShim.column(graft.functions.StringMinHashSig(
      GraftSqlShim.expression(col("text"))))
    docs
      .withColumn("minhash_sig", sig)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("minhash_sig")
  }

  // ------------------------------------------- retention / funnel faces
  /** Streaming-face input rows (SURVEY §9.4). */
  case class RetEv(user_id: Long, ts: java.sql.Timestamp)
  case class RetState(cohortDay: Int, seenDays: List[Int])
  case class RetHit(user_id: Long, cohort_day: String, day_offset: Long)
  case class FunEv(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
                   event_type: String)
  case class FunState(tView: Long, tClick: Long, tPurchase: Long) // -1 = unset
  case class FunRow(user_id: Long, t_view: String, t_click: String,
                    t_purchase: String)

  private def fmtUs(us: Long): String =
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochSecond(
        math.floorDiv(us, 1000000L), math.floorMod(us, 1000000L) * 1000L),
      java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  /** Streaming face of events_retention (SURVEY §9.4): update-mode
    * incremental cohort counters. Stage 1 is a per-user state machine
    * (flatMapGroupsWithState, Append) that fixes the user's cohort at
    * the first day OBSERVED and emits one (cohort_day, day_offset) hit
    * per NEW active day — each (user, day) emits exactly once, so the
    * downstream count is an incrementally-maintained distinct-user
    * counter without distinct state. Run with outputMode Update: the
    * retention triangle's counters tick up in place as batches arrive.
    * Per-user state is one int + the user's distinct active days
    * (bounded by the analysis horizon; a production deployment adds an
    * event-time timeout to retire users idle past the horizon). With
    * in-order feeds the final counters equal the batch
    * [[graft.operators.Analytics.eventsRetention]] triangle
    * (spec-asserted); unbounded out-of-order arrival shifts a cohort
    * only if a user's very first day arrives late — the same
    * first-observed semantics every incremental retention system has.
    */
  def retentionStream(stream: Dataset[RetEv]): DataFrame = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[RetEv], state: GroupState[RetState]) =>
          val days = evs.map(e => math.floorDiv(micros(e.ts), 86400000000L).toInt)
            .toVector.distinct.sorted
          if (days.isEmpty) Iterator.empty
          else {
            var st = state.getOption.getOrElse(RetState(days.head, Nil))
            val out = Vector.newBuilder[RetHit]
            days.foreach { d =>
              if (!st.seenDays.contains(d)) {
                st = st.copy(seenDays = d :: st.seenDays)
                out += RetHit(uid,
                  java.time.LocalDate.ofEpochDay(st.cohortDay.toLong).toString,
                  (d - st.cohortDay).toLong)
              }
            }
            state.update(st)
            out.result().iterator
          }
      }
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Production variant of [[retentionStream]] with BOUNDED state: an
    * event-time timeout retires a user once the watermark passes their
    * last active day plus `horizonDays`, and the per-user day set is
    * pruned to the horizon — state is O(horizonDays) ints per ACTIVE
    * user instead of growing with history. Semantics change exactly as
    * a bounded-horizon retention system's do: a user returning after
    * the horizon is counted as a NEW cohort (re-acquisition); inside
    * the horizon the hits match [[retentionStream]] / the batch
    * triangle (spec-asserted).
    *
    * Returns the per-(user, day) HIT change-log rather than the
    * aggregated counters: Spark's global-watermark correctness checker
    * (rightly) refuses a watermarked flatMapGroupsWithState feeding
    * another stateful aggregation in one query — the supported shape
    * is hits → sink, with the counter aggregation downstream (exactly
    * the composition [[retentionStream]] demonstrates).
    */
  def retentionStreamEventTime(stream: Dataset[RetEv],
                               watermarkDelay: String = "1 hour",
                               horizonDays: Int = 30): Dataset[RetHit] = {
    import stream.sparkSession.implicits._
    val dayUs = 86400000000L
    stream
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[RetEv], state: GroupState[RetState]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed: retire the user entirely
            Iterator.empty
          } else {
            val days = evs.map(e => math.floorDiv(micros(e.ts), dayUs).toInt)
              .toVector.distinct.sorted
            if (days.isEmpty) Iterator.empty
            else {
              var st = state.getOption.getOrElse(RetState(days.head, Nil))
              val out = Vector.newBuilder[RetHit]
              days.foreach { d =>
                if (!st.seenDays.contains(d)) {
                  st = st.copy(seenDays = d :: st.seenDays)
                  out += RetHit(uid,
                    java.time.LocalDate.ofEpochDay(st.cohortDay.toLong).toString,
                    (d - st.cohortDay).toLong)
                }
              }
              val maxDay = st.seenDays.max
              // prune days that can no longer dedup anything inside the
              // horizon — bounds state at O(horizonDays) per user
              st = st.copy(seenDays = st.seenDays.filter(_ >= maxDay - horizonDays))
              state.update(st)
              val endOfLastDayMs = (maxDay.toLong + 1) * 86400000L
              state.setTimeoutTimestamp(math.max(
                endOfLastDayMs + horizonDays.toLong * 86400000L,
                state.getCurrentWatermarkMs() + 1))
              out.result().iterator
            }
          }
      }
  }

  /** Batch face of the retention HIT change-log (registered as
    * `stream_retention`): one row per distinct (user, active day),
    * carrying the user's cohort day and offset — exactly what
    * [[retentionStreamEventTime]] emits (and [[retentionStream]]
    * aggregates in-query) given in-order feeds, since cohort = first
    * observed = min day. The aggregate triangle face is
    * `events_retention`; THIS face pins the user-level emission
    * contract a downstream counter sink applies.
    *
    * Scale: the distinct is a map-side-combinable (user, day) partial;
    * the cohort is a user-keyed window (per-user state is O(active
    * days), bounded by the analysis horizon — high key cardinality, no
    * alphabet funnel).
    */
  def streamRetention(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir)
      .select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
    d.withColumn("cohort", min(col("day")).over(w))
      .select(col("user_id"),
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_day"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .orderBy(col("user_id"), col("day_offset"))
  }

  val streamRetentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort FROM d)
      |SELECT user_id, strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |  date_diff('day', cohort, day) AS day_offset
      |FROM c ORDER BY user_id, day_offset""".stripMargin

  /** Streaming face of events_funnel: per-user staged-progression state
    * machine emitting the user's funnel row whenever a stage advances
    * (a change-log; the latest row per user is the live funnel). Stage
    * rules are the batch query's: first view, first click strictly
    * after it, first purchase strictly after that. State is three
    * longs per user — fixed size, no event retention. With in-order
    * feeds the final row per user equals the batch
    * [[graft.operators.Analytics.eventsFunnel]] output (spec-asserted).
    */
  def funnelStream(stream: Dataset[FunEv]): Dataset[FunRow] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunState, FunRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[FunEv], state: GroupState[FunState]) =>
          val sorted = evs.toVector.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(FunState(-1L, -1L, -1L))
          var changed = false
          sorted.foreach { e =>
            val us = micros(e.ts)
            e.event_type match {
              case "view" if st.tView < 0 =>
                st = st.copy(tView = us); changed = true
              case "click" if st.tView >= 0 && st.tClick < 0 && us > st.tView =>
                st = st.copy(tClick = us); changed = true
              case "purchase" if st.tClick >= 0 && st.tPurchase < 0 && us > st.tClick =>
                st = st.copy(tPurchase = us); changed = true
              case _ =>
            }
          }
          state.update(st)
          if (changed && st.tView >= 0)
            Iterator.single(FunRow(uid, fmtUs(st.tView),
              if (st.tClick >= 0) fmtUs(st.tClick) else null,
              if (st.tPurchase >= 0) fmtUs(st.tPurchase) else null))
          else Iterator.empty
      }
  }

  /** Event-time-timeout funnel (r20) — [[funnelStream]] with the
    * BOUNDED per-user state [[streamStateBudget]]'s bounded column
    * prices: a user's funnel RETIRES once the watermark passes their
    * last stage advance + `horizonDays` (the attribution horizon —
    * a funnel that hasn't advanced in 30 days is dead, exactly the
    * retire rule [[retentionStreamEventTime]] applies), and a user
    * returning after retirement RE-ACQUIRES a fresh funnel from the
    * view stage (the spec pins both halves of that contract). Timeout
    * is event-time (watermark-driven, the sessionize/retention twins'
    * pattern) so replays are deterministic and the micro-batch loop
    * stays quiescent between inputs.
    */
  def funnelStreamEventTime(stream: Dataset[FunEv],
                            watermarkDelay: String = "1 hour",
                            horizonDays: Int = 30): Dataset[FunRow] = {
    import stream.sparkSession.implicits._
    stream
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunState, FunRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[FunEv], state: GroupState[FunState]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed with no advance: retire
            Iterator.empty
          } else {
            val sorted = evs.toVector.sortBy(e => (micros(e.ts), e.event_id))
            var st = state.getOption.getOrElse(FunState(-1L, -1L, -1L))
            var changed = false
            sorted.foreach { e =>
              val us = micros(e.ts)
              e.event_type match {
                case "view" if st.tView < 0 =>
                  st = st.copy(tView = us); changed = true
                case "click" if st.tView >= 0 && st.tClick < 0 && us > st.tView =>
                  st = st.copy(tClick = us); changed = true
                case "purchase" if st.tClick >= 0 && st.tPurchase < 0 && us > st.tClick =>
                  st = st.copy(tPurchase = us); changed = true
                case _ =>
              }
            }
            state.update(st)
            val lastUs = math.max(st.tView, math.max(st.tClick, st.tPurchase))
            if (lastUs >= 0)
              state.setTimeoutTimestamp(math.max(
                lastUs / 1000L + horizonDays.toLong * 86400000L,
                state.getCurrentWatermarkMs() + 1))
            if (changed && st.tView >= 0)
              Iterator.single(FunRow(uid, fmtUs(st.tView),
                if (st.tClick >= 0) fmtUs(st.tClick) else null,
                if (st.tPurchase >= 0) fmtUs(st.tPurchase) else null))
            else Iterator.empty
          }
      }
  }

  /** Stream-stream interval join — the live twin of
    * [[graft.operators.Analytics.joinRange]]'s batch interval join:
    * attribute each event to purchases by the same user within the
    * following hour, with BOTH sides watermarked so Spark can bound
    * the join state (a side's buffered rows are dropped once the other
    * side's watermark passes the interval; without the time condition
    * + watermarks the state is unbounded and the query is rejected for
    * append mode). This is the two-sided stateful operator none of the
    * single-input faces exercise.
    */
  def rangeJoinStream(purchases: DataFrame, events: DataFrame,
                      watermark: String = "2 hours"): DataFrame = {
    val p = purchases.withWatermark("p_ts", watermark)
    val e = events.withWatermark("e_ts", watermark)
    p.join(e,
      expr("""p_user = e_user AND
              e_ts > p_ts AND e_ts <= p_ts + interval 1 hour"""))
      .select(col("p_user").as("user_id"), col("p_id"), col("e_id"),
        col("p_ts"), col("e_ts"))
  }

  /** Batch face of [[rangeJoinStream]] (registered as
    * `stream_interval_join`): the SAME mode-agnostic function applied
    * to the batch event log — `withWatermark` collapses to a no-op on
    * a batch Dataset (EliminateEventTimeWatermark), so the
    * oracle-checked batch plan IS the per-pair logic the streaming
    * query evaluates against its watermark-bounded buffers. Purchases
    * attribute the same user's events in the following hour; micros
    * longs out (exact cross-engine, same convention as `join_range`,
    * whose bucketized batch twin this face's live operator replaces).
    *
    * == Scale design ==
    * In batch the condition plans as a user-keyed equi-join with the
    * time bound as a post-condition — hash/SMJ on user_id, never BNL.
    * In streaming the same condition lets Spark bound BOTH sides'
    * state: a buffered purchase dies once the event-side watermark
    * passes its hour, a buffered event once the purchase side passes
    * it — state O(window × rate), independent of stream length.
    */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("ts").as("p_ts"))
    val e = ev.select(col("user_id").as("e_user"), col("event_id").as("e_id"),
      col("ts").as("e_ts"))
    rangeJoinStream(p, e)
      .select(col("user_id"), col("p_id"), col("e_id"),
        unix_micros(col("p_ts")).as("p_us"), unix_micros(col("e_ts")).as("e_us"))
      .orderBy(col("user_id"), col("p_id"), col("e_id"))
  }

  val streamIntervalJoinSql: String =
    """SELECT p.user_id AS user_id, p.event_id AS p_id, e.event_id AS e_id,
      |  epoch_us(p.ts) AS p_us, epoch_us(e.ts) AS e_us
      |FROM events p JOIN events e
      |  ON p.event_type = 'purchase' AND e.user_id = p.user_id
      |  AND epoch_us(e.ts) > epoch_us(p.ts)
      |  AND epoch_us(e.ts) <= epoch_us(p.ts) + 3600000000
      |ORDER BY user_id, p_id, e_id""".stripMargin

  /** One upsert record: a keyed value stamped with its event time. */
  case class Upsert(key: Long, us: Long, value: Long)
  /** One change-log row: the key's new current value + its stamp. */
  case class UpsertOut(key: Long, us: Long, value: Long)
  case class UpsertState(us: Long, value: Long)

  /** Streaming SCD1 face — the live twin of [[graft.operators.Maintain
    * .mergeUpsert]]'s batch MERGE: per-key latest-value state emitting
    * a change-log row whenever a NEWER record changes the current
    * value. Out-of-order protection is the SCD1 invariant: a late
    * record with an older stamp than the current state is discarded
    * (never regresses the dimension), ties on stamp resolve to the
    * larger value deterministically. State is one (stamp, value) pair
    * per key; the change-log is what a downstream table sink applies —
    * the same "return the change-log, aggregate/apply downstream"
    * shape the retention face uses, because FMGWS output can't feed
    * another stateful agg in one query.
    */
  def upsertStream(stream: Dataset[Upsert]): Dataset[UpsertOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.key)
      .flatMapGroupsWithState[UpsertState, UpsertOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, recs: Iterator[Upsert], state: GroupState[UpsertState]) =>
          // newest-first within the batch; (us, value) total order
          val best = recs.maxBy(r => (r.us, r.value))
          val cur = state.getOption
          val newer = cur.forall(c =>
            best.us > c.us || (best.us == c.us && best.value > c.value))
          if (newer && cur.forall(_.value != best.value)) {
            state.update(UpsertState(best.us, best.value))
            Iterator.single(UpsertOut(key, best.us, best.value))
          } else {
            if (newer) state.update(UpsertState(best.us, best.value))
            Iterator.empty
          }
      }
  }

  /** Batch face of [[upsertStream]] (registered as `stream_scd1`): the
    * in-order replay of the SCD1 change-log over a deterministic
    * upsert feed derived from the event log (key = user, stamp =
    * event-time micros, value = exact cents). Replayed in the state
    * machine's own (us, value) total order, the per-key state after
    * record k is simply record k's value — so the emitted change-log
    * is "rows whose value differs from the previous record's" (first
    * row always emits), one lag window per key. Exactly what the
    * streaming face emits when fed in rank order: a same-(us,value)
    * duplicate is not-newer (no emit, no state move) and lag compares
    * the duplicate's value identically; a newer same-value record
    * advances state silently in both. The spec replays the REAL corpus
    * feed through MemoryStream in per-key rank batches and pins
    * equality row-for-row.
    *
    * == Scale design ==
    * One user-keyed window (high-cardinality partition key, O(1)
    * state/row) — the same single-shuffle shape as sessionize; at
    * 100 TB the change-log compaction is exactly this plan. The
    * streaming face holds one (stamp, value) pair per key in the state
    * store — the live twin never re-reads history.
    */
  def streamScd1(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("us"), col("value"))
    events(s, dir)
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("value"))
      .withColumn("pv", lag(col("value"), 1).over(w))
      .filter(col("pv").isNull || col("value") =!= col("pv"))
      .select(col("key"), col("us"), col("value"))
      .orderBy(col("key"), col("us"), col("value"))
  }

  val streamScd1Sql: String =
    """WITH u AS (SELECT user_id AS key, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS value FROM events),
      |r AS (SELECT key, us, value,
      |    lag(value) OVER (PARTITION BY key ORDER BY us, value) AS pv FROM u)
      |SELECT key, us, value FROM r WHERE pv IS NULL OR value <> pv
      |ORDER BY key, us, value""".stripMargin

  /** Batch face of [[changeLogStream]] (registered as
    * `stream_merge_delete`): the SCD1 replay of [[streamScd1]] extended
    * with DELETE tombstones — the full CDC ingest shape. The change
    * feed is the corpus upsert log plus one tombstone per key ≡ 0
    * (mod 5), stamped strictly after that key's last upsert (the same
    * derive-the-mutation-feed-from-the-corpus move the batch MERGE
    * faces make with their %7 updates and %13 inserts). In rank order
    * the tombstone is each deleted key's final record and the key is
    * live when it lands, so the replayed log is exactly the scd1
    * value-change rows plus one trailing 'D' (value 0) per deleted
    * key — which is what [[changeLogStream]] emits fed in order
    * (spec-pinned on the real corpus feed).
    *
    * == Scale design ==
    * Same single user-keyed window as [[streamScd1]] plus an
    * O(users) tombstone aggregate — both map-side-combinable /
    * single-shuffle; the streaming face's state stays one
    * (stamp, value, alive) triple per key.
    */
  def streamMergeDelete(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("us"), col("value"))
    val ups = events(s, dir)
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("value"))
    val uLog = ups.withColumn("pv", lag(col("value"), 1).over(w))
      .filter(col("pv").isNull || col("value") =!= col("pv"))
      .select(col("key"), col("us"), col("value"), lit("U").as("op"))
    val dels = ups.groupBy(col("key"))
      .agg((max(col("us")) + 1).as("us"))
      .filter(pmod(col("key"), lit(5)) === 0)
      .select(col("key"), col("us"), lit(0L).as("value"), lit("D").as("op"))
    uLog.unionByName(dels)
      .orderBy(col("key"), col("us"), col("value"))
  }

  val streamMergeDeleteSql: String =
    """WITH u AS (SELECT user_id AS key, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS value FROM events),
      |r AS (SELECT key, us, value,
      |    lag(value) OVER (PARTITION BY key ORDER BY us, value) AS pv FROM u),
      |ul AS (SELECT key, us, value, 'U' AS op FROM r WHERE pv IS NULL OR value <> pv),
      |d AS (SELECT key, max(us) + 1 AS us, CAST(0 AS BIGINT) AS value, 'D' AS op
      |  FROM u GROUP BY key HAVING key % 5 = 0)
      |SELECT key, us, value, op FROM (SELECT * FROM ul UNION ALL SELECT * FROM d)
      |ORDER BY key, us, value""".stripMargin

  /** SCD2 emission: one row per (key, version) state transition — an
    * OPEN row (valid_to None, is_current 1) when a version starts and a
    * CLOSE row (valid_to = the successor's valid_from, is_current 0)
    * when the next version supersedes it. Latest row per (key, version)
    * IS the history table. */
  case class Scd2Out(key: Long, version_n: Long, value: Long,
                     valid_from_us: Long, valid_to_us: Option[Long],
                     is_current: Long)
  case class Scd2State(us: Long, value: Long, version: Long, from: Long)

  /** Streaming SCD2 face (r14 wave 19) — the VERSIONED-history live twin
    * completing the dimension trio ([[upsertStream]] keeps latest-only,
    * [[graft.operators.Maintain.dimScd2]] builds history in batch; this
    * is the history a live pipeline maintains): per-key state is one
    * (stamp, value, version, valid_from) tuple; a newer value-change
    * emits the old version's CLOSE row and the new version's OPEN row,
    * a newer same-value record advances the stamp silently (no version
    * churn), and a LATE record older than the state is discarded — the
    * same out-of-order invariants as SCD1. Downstream applies
    * latest-per-(key, version), so the change-log converges to exactly
    * the batch history table.
    */
  def scd2Stream(stream: Dataset[Upsert]): Dataset[Scd2Out] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.key)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, recs: Iterator[Upsert], state: GroupState[Scd2State]) =>
          val sorted = recs.toVector.sortBy(r => (r.us, r.value))
          var st = state.getOption
          val out = scala.collection.mutable.ArrayBuffer[Scd2Out]()
          sorted.foreach { r =>
            val newer = st.forall(c =>
              r.us > c.us || (r.us == c.us && r.value > c.value))
            if (newer) st match {
              case Some(c) if c.value != r.value =>
                out += Scd2Out(key, c.version, c.value, c.from, Some(r.us), 0L)
                out += Scd2Out(key, c.version + 1, r.value, r.us, None, 1L)
                st = Some(Scd2State(r.us, r.value, c.version + 1, r.us))
              case Some(c) =>
                st = Some(c.copy(us = r.us))
              case None =>
                out += Scd2Out(key, 1L, r.value, r.us, None, 1L)
                st = Some(Scd2State(r.us, r.value, 1L, r.us))
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Batch face of [[scd2Stream]] (registered as `stream_scd2`): the
    * SCD2 history table of the corpus upsert feed — [[streamScd1]]'s
    * value-change rows promoted to versions with [valid_from, valid_to)
    * intervals (valid_to = the next change's stamp, NULL while
    * current). In rank order the streamed change-log's
    * latest-per-(key, version) row equals this table row-for-row
    * (spec-pinned): a version's OPEN row survives only if nothing
    * superseded it, otherwise its CLOSE row carries the successor's
    * valid_from — which is exactly `lead(us)` here.
    *
    * == Scale design ==
    * The scd1 change-log windows plus one lead/row_number pass — all
    * on the SAME user-keyed partitioning, so Catalyst reuses one
    * exchange (single shuffle, O(1) state per row). The streaming twin
    * holds one 4-field tuple per key.
    */
  def streamScd2(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("key")).orderBy(col("us"), col("value"))
    val changes = events(s, dir)
      .select(col("user_id").as("key"), unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("value"))
      .withColumn("pv", lag(col("value"), 1).over(w))
      .filter(col("pv").isNull || col("value") =!= col("pv"))
      .select(col("key"), col("us"), col("value"))
    val wc = Window.partitionBy(col("key")).orderBy(col("us"), col("value"))
    changes
      .withColumn("version_n", row_number().over(wc).cast("long"))
      .withColumn("valid_to_us", lead(col("us"), 1).over(wc))
      .select(col("key"), col("version_n"), col("value"),
        col("us").as("valid_from_us"), col("valid_to_us"),
        when(col("valid_to_us").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy(col("key"), col("version_n"))
  }

  val streamScd2Sql: String =
    """WITH u AS (SELECT user_id AS key, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS value FROM events),
      |r AS (SELECT key, us, value,
      |    lag(value) OVER (PARTITION BY key ORDER BY us, value) AS pv FROM u),
      |c AS (SELECT key, us, value FROM r WHERE pv IS NULL OR value <> pv)
      |SELECT key,
      |  CAST(row_number() OVER w AS BIGINT) AS version_n, value,
      |  us AS valid_from_us,
      |  lead(us) OVER w AS valid_to_us,
      |  CAST(CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM c
      |WINDOW w AS (PARTITION BY key ORDER BY us, value)
      |ORDER BY key, version_n""".stripMargin

  /** One upstream change record: op 'U' (upsert value) or 'D' (delete). */
  case class Change(key: Long, us: Long, value: Long, op: String)
  /** Emitted change-log row: op 'U' (new current value) or 'D' (tombstone). */
  case class ChangeOut(key: Long, us: Long, value: Long, op: String)
  case class ChangeState(us: Long, value: Long, alive: Boolean)

  /** Streaming MERGE face — the live twin of [[graft.operators.Maintain
    * .mergeDelete]]: [[upsertStream]]'s per-key latest-value state
    * extended with DELETE tombstones. Records rank by the (us, op,
    * value) total order — an update outranks a same-stamp delete
    * deterministically — and only a record outranking the one that set
    * the current state applies; late records with older stamps are
    * discarded, so a delete can never resurrect-then-drop state out of
    * order. Emits 'U' rows when the current value changes (including
    * re-insert after a delete) and one 'D' tombstone when a live key
    * dies; a delete for an already-dead or never-seen key is silent
    * (idempotent, exactly what a downstream MERGE applier needs).
    * State is one (stamp, value, alive) triple per key.
    */
  def changeLogStream(stream: Dataset[Change]): Dataset[ChangeOut] = {
    import stream.sparkSession.implicits._
    val ord = implicitly[Ordering[(Long, String, Long)]]
    def rank(us: Long, op: String, value: Long) = (us, op, value)
    stream
      .groupByKey(_.key)
      .flatMapGroupsWithState[ChangeState, ChangeOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, recs: Iterator[Change], state: GroupState[ChangeState]) =>
          val best = recs.maxBy(r => rank(r.us, r.op, r.value))(ord)
          val cur = state.getOption
          val newer = cur.forall(c => ord.gt(
            rank(best.us, best.op, best.value),
            rank(c.us, if (c.alive) "U" else "D", c.value)))
          if (!newer) Iterator.empty
          else if (best.op == "D") {
            val wasAlive = cur.exists(_.alive)
            // keep the dead value: it stays the rank tie-breaker for
            // same-stamp records arriving after the tombstone
            state.update(ChangeState(best.us, cur.map(_.value).getOrElse(0L), alive = false))
            if (wasAlive) Iterator.single(ChangeOut(key, best.us, 0L, "D"))
            else Iterator.empty
          } else {
            val changed = cur.forall(c => !c.alive || c.value != best.value)
            state.update(ChangeState(best.us, best.value, alive = true))
            if (changed) Iterator.single(ChangeOut(key, best.us, best.value, "U"))
            else Iterator.empty
          }
      }
  }

  /** Streaming face of the [[graft.operators.Analytics.aggHeavyHitters]]
    * count-min sketch: the 4×1024 cell table maintained as an
    * update-mode streaming aggregation over a (user_id) stream. CMS is
    * mergeable by CELL-WISE ADDITION, so the streaming state IS the
    * sketch — ≤4096 rows forever, independent of stream length and key
    * cardinality, no watermark needed (the key space is bounded by
    * construction, not by time). Frequency estimates read
    * min-over-lanes off the live cell table at any point; batch and
    * stream converge to identical cells on the same data
    * (spec-asserted), which is exactly the property that lets a 100 TB
    * backfill sketch and a live ingest sketch be unioned cell-wise.
    */
  def cmsStream(stream: DataFrame): DataFrame = {
    stream.select(Analytics.cmsLaneCells(col("user_id")).as("lc"))
      .select(col("lc.lane").as("lane"), col("lc.cell").as("cell"))
      .groupBy(col("lane"), col("cell"))
      .agg(count(lit(1)).as("c"))
  }

  /** Batch face of [[cmsStream]] (registered as `stream_cms_cells`,
    * r16): the live 4×1024 count-min cell table as the SAME
    * `cmsStream` function applied to the corpus user feed — the
    * [[streamValueHistogram]] promotion pattern, closing the last of
    * the r7-era spec-only sketch faces. This is the state table the
    * update-mode aggregation maintains live; frequency estimates read
    * min-over-lanes off it ([[graft.operators.Analytics
    * .aggHeavyHitters]] consumes exactly these cells).
    *
    * == Scale design ==
    * Counting registers are ADDITIVE: a 100 TB backfill sketch and the
    * live table union by summing cells, and streaming state is ≤ 4096
    * rows forever. One scan, 4-way cell fan-out, map-side combine onto
    * the fixed grid.
    */
  def streamCmsCells(s: SparkSession, dir: String): DataFrame =
    cmsStream(events(s, dir).select(col("user_id")))
      .orderBy(col("lane"), col("cell"))

  val streamCmsCellsSql: String =
    s"""WITH l AS (${Analytics.cmsLanesSql})
      |SELECT CAST(l.lane AS BIGINT) AS lane,
      |  CAST(((l.a * e.user_id + l.b) % 2147483647) % 1024 AS BIGINT) AS cell,
      |  count(*) AS c
      |FROM events e CROSS JOIN l
      |GROUP BY 1, 2 ORDER BY lane, cell""".stripMargin

  /** Streaming face of [[graft.operators.Analytics.aggHllReplay]]'s
    * register table: a live distinct-user sketch as an update-mode
    * 64-key max aggregation. No upstream dropDuplicates is needed —
    * max over register ranks is DUPLICATE-INSENSITIVE (re-observing a
    * user re-derives the same (j, rho) and max absorbs it), which is
    * exactly why HLL is the streaming cardinality sketch: state is 64
    * longs forever, no watermark, no per-user state, and the register
    * table equals the batch sketch after any prefix of the feed.
    */
  def hllRegisterStream(stream: DataFrame): DataFrame =
    Analytics.hllMax(stream, Nil, col("user_id"))

  /** Batch face of [[hllRegisterStream]] (registered as
    * `stream_hll_registers`, r16): the live 64-register HLL table as
    * the SAME function applied to the raw (duplicate-heavy) corpus
    * user feed — duplicate-insensitivity means no distinct is needed
    * on the way in, which is the whole reason this sketch streams.
    * [[graft.operators.Analytics.aggHllReplay]] consumes exactly
    * these registers for its estimate; only occupied registers appear
    * (the estimate face densifies the 64-row frame).
    *
    * == Scale design ==
    * Max-registers merge by max: backfill ∪ live = cell-wise max, the
    * same union algebra [[graft.operators.Analytics.aggHllUnion]]
    * certifies. One scan onto ≤ 64 keys, map-side combine absorbs the
    * corpus; streaming state is 64 longs forever.
    */
  def streamHllRegisters(s: SparkSession, dir: String): DataFrame =
    hllRegisterStream(events(s, dir).select(col("user_id")))
      .orderBy(col("j"))

  val streamHllRegistersSql: String =
    s"${Analytics.hllMaxSql("events", Nil, "user_id")} ORDER BY j"

  /** Streaming face of
    * [[graft.operators.Analytics.eventsValueHistogram]]: the live
    * equi-width histogram as an update-mode O(buckets) aggregation
    * over exact integer cents (bucket = vc div 5000 — integer
    * division, same key as the batch face). Counts and sums are
    * ADDITIVE per cell, so a 100 TB backfill histogram and a live
    * ingest histogram union by summing per-bucket cells; state is
    * O(buckets) forever, no watermark and no per-key eviction needed.
    * Batch and stream converge to identical cells on the same data
    * (spec-asserted), the same contract as [[cmsStream]].
    */
  def histogramStream(stream: DataFrame): DataFrame =
    stream.select(expr("vc div 5000").as("bucket"), col("vc"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("vc").cast("decimal(38,0)")).as("vc_sum"),
        min(col("vc")).as("vc_min"), max(col("vc")).as("vc_max"))

  /** Batch face of [[histogramStream]] (registered as
    * `stream_value_histogram`, r16 — the last of the three r7-era
    * spec-only sketch faces promoted to a registered key): the SAME
    * `histogramStream` function applied to the corpus cents feed, so
    * the oracle checks the per-micro-batch plan literally (the
    * [[enrichStream]] promotion pattern); only a final column-shaping
    * select (DECIMAL(38,0) accumulator → BIGINT cents) sits on top.
    * The MemoryStream spec pins stream ≡ batch cell-for-cell on a
    * split feed.
    *
    * == Scale design ==
    * The canonical additive sketch: one scan folds map-side onto
    * O(buckets) cells; counts/sums add and min/max merge per cell, so
    * a 100 TB backfill histogram and the live table union cell-wise.
    * Streaming state is O(buckets) forever — no watermark, no per-key
    * eviction.
    */
  def streamValueHistogram(s: SparkSession, dir: String): DataFrame =
    histogramStream(events(s, dir)
        .select(expr("CAST(round(value*100) AS BIGINT)").as("vc")))
      .select(col("bucket"), col("n_events"),
        col("vc_sum").cast("long").as("vc_sum_cents"),
        col("vc_min").as("vc_min_cents"), col("vc_max").as("vc_max_cents"))
      .orderBy(col("bucket"))

  val streamValueHistogramSql: String =
    """SELECT CAST(round(value*100) AS BIGINT) // 5000 AS bucket,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS vc_sum_cents,
      |  min(CAST(round(value*100) AS BIGINT)) AS vc_min_cents,
      |  max(CAST(round(value*100) AS BIGINT)) AS vc_max_cents
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------- streaming CAS dedup
  /** Batch face of [[casDedupStream]] (registered as `stream_cas_dedup`,
    * r16 — the multimodal family's first live face): the admitted-blob
    * change-log of a content-addressed ingest — FIRST arrival per
    * sha256 digest under the append-only doc_id ingest order (the
    * [[packStream]] arrival contract), with its modality kind. This is
    * [[graft.operators.Multimodal.mmDedupBlob]]'s canonical set viewed
    * as the change-log a live ingest emits.
    *
    * == Scale design ==
    * Batch: one digest-keyed shuffle (row_number over the ingest
    * stamp); digests are collision-resistant ⇒ uniform, cannot skew.
    * Streaming: `dropDuplicatesWithinWatermark` on the digest — state
    * holds only digests younger than the watermark, so a 100 TB/day
    * blob firehose carries O(rate × horizon) state, not the unbounded
    * all-time seen-set (a byte-identical copy arriving PAST the
    * horizon re-admits — the documented bounded-state trade, same as
    * the event-dedup face; the nightly batch CAS sweep reconciles).
    */
  def streamCasDedup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sha256")).orderBy(col("doc_id"))
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        sha2(col("text"), 256).as("sha256"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("kind"), col("sha256"))
      .orderBy(col("doc_id"))
  }

  val streamCasDedupSql: String =
    """SELECT doc_id, kind, sha256 FROM (
      |  SELECT doc_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    sha256(text) AS sha256,
      |    row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Streaming face: first arrival per digest within the watermark.
    * The feed carries (doc_id, kind, sha256, ts) where ts is the
    * ingest stamp (doc_id-derived in the spec — the append-only
    * contract makes first-arrival = min doc_id, which is exactly the
    * batch face's rule, pinned by the MemoryStream spec).
    */
  def casDedupStream(stream: DataFrame, watermark: String = "30 days"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sha256")

  // ------------------------------------------------ live forecasting
  /** One closed day of a type's count series for the forecast monitor. */
  case class FcEv(event_type: String, day: Long, n: Long)
  /** Emitted per-day forecast row: prediction BEFORE seeing the day. */
  case class FcOut(event_type: String, day: Long, n: Long,
                   pred_trend: Long, abs_err: Long)
  case class FcState(lv: Long, tr: Long, init: Long)

  /** Batch face of [[forecastStream]] (registered as `stream_forecast`,
    * r16 — the forecast family's live face, the monitoring-family
    * pattern [[cusumStream]]/[[streamAnomaly]] applied to prediction):
    * the PREQUENTIAL Holt error ledger — every observed (type, day)
    * cell with ≥ 1 prior observed day is predicted from the integer
    * Holt state folded over STRICTLY PRIOR days
    * ([[graft.operators.Analytics.holtFold]], the exact fold the
    * ladder's trend rung uses), then scored |n − pred|. Where
    * `ml_forecast_trend` evaluates the final week for model selection,
    * this face emits the full dashboard series a live monitor charts.
    *
    * == Scale design ==
    * The forecast ladder's one-scan O(types × days) checkpointed grid
    * and prior-day window collect (`AnalyticsForecast.dailyGrid`,
    * `priorCells`); the fold is a codegen'd higher-order aggregate;
    * output O(types × days). The streaming twin's state is THREE
    * LONGS per type — the whole point of exponential smoothing as the
    * streaming forecaster.
    */
  def streamForecast(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Analytics.{dailyGrid, holtFold, holtPred, priorCells, wFlat}
    dailyGrid(s, dir)
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("prior", priorCells)
      .filter(col("cum_d") >= 1)
      .withColumn("st", expr(holtFold))
      .withColumn("pred_trend", holtPred)
      .select(col("event_type"), col("day"), col("n"), col("pred_trend"),
        abs(col("n") - col("pred_trend")).as("abs_err"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB twin: the ladder's grid and prior-day list + the plain Holt
    * list fold, applied to EVERY prior-bearing day instead of the
    * final-week eval filter. */
  lazy val streamForecastSql: String = {
    import graft.operators.Analytics.{cumD, duckHolt, holtPredSql, ladderSql, priorList}
    s"""${ladderSql("d", cumD, priorList)},
       |e AS (SELECT *, $duckHolt AS st FROM c WHERE cum_d >= 1),
       |f AS (SELECT event_type, day, n, $holtPredSql AS pred_trend FROM e)
       |SELECT event_type, CAST(day AS BIGINT) AS day, n, pred_trend,
       |  abs(n - pred_trend) AS abs_err
       |FROM f ORDER BY event_type, day""".stripMargin
  }

  /** Live prequential Holt forecaster: per type, predict each closed
    * day from the CURRENT three-long state (skip while uninitialized),
    * then fold the day in — the exact integer recurrence the batch
    * face replays, so stream ≡ batch row-for-row (spec-pinned).
    */
  def forecastStream(stream: Dataset[FcEv]): Dataset[FcOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[FcState, FcOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (t: String, recs: Iterator[FcEv], state: GroupState[FcState]) =>
          var st = state.getOption.getOrElse(FcState(0L, 0L, 0L))
          val out = recs.toSeq.sortBy(_.day).flatMap { r =>
            val o = if (st.init == 1L) {
              val pred = Math.floorDiv(st.lv + st.tr, 1000L)
              Some(FcOut(t, r.day, r.n, pred, math.abs(r.n - pred)))
            } else None
            st =
              if (st.init == 0L) FcState(1000L * r.n, 0L, 1L)
              else {
                val lv2 = Math.floorDiv(1000L * r.n + st.lv + st.tr, 2L)
                FcState(lv2, Math.floorDiv(lv2 - st.lv + st.tr, 2L), 1L)
              }
            o
          }
          state.update(st)
          out.iterator
      }
  }

  /** One closed day of a metric series for the CUSUM monitor. */
  case class CusumEv(etype: String, day: Long, cents: Long, target: Long)
  /** Emitted per-day CUSUM state row. */
  case class CusumOut(event_type: String, day: Long, cents: Long,
                      target_cents: Long, dev_cents: Long,
                      cusum_cents: Long, alarm: Boolean)
  case class CusumState(s: Long)

  /** Live CUSUM drift monitor — the streaming twin of
    * [[graft.operators.Analytics.eventsCusum]]: per metric key, the
    * TEXTBOOK sequential recurrence s ← max(0, s + dev) carried as one
    * long of state, one output row per closed day. Where the batch
    * face distributes the recurrence through its closed windowed form
    * (prefix − clamped running min), the live face just folds it —
    * the MemoryStream spec pins the two implementations equal on the
    * real series, so the closed-form identity is re-proven end to end
    * across both execution modes.
    */
  def cusumStream(stream: Dataset[CusumEv]): Dataset[CusumOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.etype)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (etype: String, recs: Iterator[CusumEv], state: GroupState[CusumState]) =>
          var s = state.getOption.map(_.s).getOrElse(0L)
          val out = recs.toSeq.sortBy(_.day).map { r =>
            s = math.max(0L, s + (r.cents - r.target))
            CusumOut(etype, r.day, r.cents, r.target, r.cents - r.target,
              s, s > r.target)
          }
          state.update(CusumState(s))
          out.iterator
      }
  }

  /** Batch face of [[cusumStream]] (registered as `stream_cusum`): the
    * closed-form CUSUM relation with the day as an epoch-day long (the
    * feed's own key — the streaming face never formats dates). The
    * spec replays the daily series through MemoryStream in day-order
    * batches and pins row-for-row equality: sequential fold (stream)
    * == windowed closed form (batch).
    */
  def streamCusum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(s, dir).select(col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      round(col("value") * 100).cast("long").as("vc"))
    val daily = e.groupBy(col("event_type"), col("day"))
      .agg(sum(col("vc")).as("cents"))
    val bounds = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val target = dense.groupBy(col("event_type"))
      .agg(expr("sum(cents) div count(1)").as("target_cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(broadcast(target), Seq("event_type"))
      .withColumn("dev_cents", col("cents") - col("target_cents"))
      .withColumn("prefix", sum(col("dev_cents")).over(w))
      .withColumn("cusum_cents",
        col("prefix") - least(lit(0L), min(col("prefix")).over(w)))
      .select(col("event_type"), col("day"), col("cents"), col("target_cents"),
        col("dev_cents"), col("cusum_cents"),
        (col("cusum_cents") > col("target_cents")).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  val streamCusumSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |daily AS (SELECT event_type, day, CAST(sum(vc) AS BIGINT) AS cents
      |  FROM e GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |grid AS (SELECT t.event_type, d0 + i AS day
      |  FROM (SELECT DISTINCT event_type FROM e) t
      |  CROSS JOIN b, unnest(range(0, d1 - d0 + 1)) u(i)),
      |dense AS (SELECT g.event_type, g.day, COALESCE(daily.cents, 0) AS cents
      |  FROM grid g LEFT JOIN daily ON daily.event_type = g.event_type AND daily.day = g.day),
      |tgt AS (SELECT event_type, CAST(sum(cents) AS BIGINT) // count(*) AS target_cents
      |  FROM dense GROUP BY 1),
      |p1 AS (SELECT d.event_type, d.day, d.cents, tgt.target_cents,
      |    d.cents - tgt.target_cents AS dev_cents,
      |    CAST(sum(d.cents - tgt.target_cents) OVER w AS BIGINT) AS prefix
      |  FROM dense d JOIN tgt USING (event_type)
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |p AS (SELECT *, CAST(min(prefix) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS minp
      |  FROM p1)
      |SELECT event_type, CAST(day AS BIGINT) AS day, cents, target_cents, dev_cents,
      |  prefix - least(0, minp) AS cusum_cents,
      |  prefix - least(0, minp) > target_cents AS alarm
      |FROM p ORDER BY event_type, day""".stripMargin

  /** One lit raster cell of one closed frame day (the feed the
    * rasterizer's map-side fold emits per frame). `ts` carries the
    * frame day as an event-time timestamp for the watermark. */
  case class CellEv(px: Long, py: Long, day: Long, cnt: Long,
                    ts: java.sql.Timestamp)
  /** Emitted per-cell churn transition: exactly one non-dead row per
    * (lit cell, day), plus one dead row the day a cell goes dark. */
  case class CellChurnOut(day: Long, px: Long, py: Long, is_new: Boolean,
                          is_dead: Boolean, cnt: Long, prev_cnt: Long)
  /** One long of count plus the day it was observed. */
  case class CellState(lastDay: Long, lastCnt: Long)

  /** Live frame-over-frame raster churn — the streaming twin of
    * [[graft.operators.Geo.geoFrameChurn]] (the Geo family's first
    * live face): FMGWS keyed by CELL, state one (day, count) pair,
    * fed the per-frame lit-cell relation one closed frame day at a
    * time. A cell's arrival emits its transition (new if the previous
    * frame didn't light it, survived with the signed count delta if
    * it did); a cell that goes dark emits its dead row either lazily
    * (when it relights after a gap) or via EVENT-TIME TIMEOUT when
    * the watermark passes the frame after its last appearance — the
    * bounded-state move [[retentionStreamEventTime]] uses, so state
    * is O(currently-lit cells ≤ canvas), never history. Downstream,
    * the per-day aggregation of these transitions IS the batch churn
    * ledger (spec-pinned): n_cur = non-dead rows, n_new/n_dead =
    * flags, n_prev = survived + dead, mass_delta = Σ (cnt − prev).
    */
  def frameChurnStream(stream: Dataset[CellEv],
                       watermarkDelay: String = "0 seconds"): Dataset[CellChurnOut] = {
    import stream.sparkSession.implicits._
    stream
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => (e.px, e.py))
      .flatMapGroupsWithState[CellState, CellChurnOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((px, py), recs, state) =>
          if (state.hasTimedOut) {
            // the frame after the cell's last appearance closed with
            // the cell dark: emit its death, retire the state
            val st = state.get
            state.remove()
            Iterator.single(CellChurnOut(st.lastDay + 1, px, py,
              is_new = false, is_dead = true, 0L, st.lastCnt))
          } else {
            val out = Vector.newBuilder[CellChurnOut]
            var st = state.getOption
            recs.toSeq.sortBy(_.day).foreach { r =>
              st match {
                case Some(p) if p.lastDay == r.day => // idempotent re-delivery
                case Some(p) if p.lastDay == r.day - 1 =>
                  out += CellChurnOut(r.day, px, py, is_new = false,
                    is_dead = false, r.cnt, p.lastCnt)
                  st = Some(CellState(r.day, r.cnt))
                case Some(p) => // gap: died after last frame, new now
                  out += CellChurnOut(p.lastDay + 1, px, py, is_new = false,
                    is_dead = true, 0L, p.lastCnt)
                  out += CellChurnOut(r.day, px, py, is_new = true,
                    is_dead = false, r.cnt, 0L)
                  st = Some(CellState(r.day, r.cnt))
                case None =>
                  out += CellChurnOut(r.day, px, py, is_new = true,
                    is_dead = false, r.cnt, 0L)
                  st = Some(CellState(r.day, r.cnt))
              }
            }
            st.foreach { p =>
              state.update(p)
              // fire once the frame after lastDay has closed
              state.setTimeoutTimestamp(math.max((p.lastDay + 2) * 86400000L,
                state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Batch face of [[frameChurnStream]] (registered as
    * `stream_frame_churn`): the geo_frame_churn ledger with the frame
    * day as an epoch-day long (the feed's own key — the streaming
    * face never formats dates). The spec replays the REAL per-day
    * lit-cell relation through MemoryStream one closed frame day per
    * batch and pins that the aggregated transition change-log equals
    * this ledger row-for-row.
    */
  def streamFrameChurn(s: SparkSession, dir: String): DataFrame =
    graft.operators.Geo.frameChurnLedger(s, dir)
      .select(col("dkey").as("day"), col("n_cur"), col("n_prev"),
        col("n_new"), col("n_dead"), col("mass_delta"), col("churn_ppm"))
      .orderBy(col("day"))

  val streamFrameChurnSql: String = graft.operators.Geo.frameChurnDaysSql

  /** One arriving event for the daily top-k leaderboard. */
  case class TopkEv(day: Long, etype: String)
  /** One emitted leaderboard row (a snapshot per processed batch). */
  case class TopkOut(day: Long, event_type: String, n_events: Long, rnk: Long)

  /** Live daily heavy-hitters leaderboard — the streaming twin of the
    * `stream_topk` batch face: keyed by closed day, the per-type count
    * map is the FMGWS state (bounded by event-type cardinality, NOT
    * event volume), and every processed batch emits the day's current
    * top-k snapshot — a leaderboard CHANGELOG in append mode. Fed one
    * batch per closed day (the monitor's cadence), the emitted rows
    * are exactly the batch face's relation; fed finer batches, the
    * final snapshot per day still converges to it (counts only grow).
    */
  def topkStream(stream: Dataset[TopkEv], k: Int = 3): Dataset[TopkOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.day)
      .flatMapGroupsWithState[Map[String, Long], TopkOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (day: Long, recs: Iterator[TopkEv], state: GroupState[Map[String, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[String, Long])
          recs.foreach { r =>
            m = m.updated(r.etype, m.getOrElse(r.etype, 0L) + 1L)
          }
          state.update(m)
          m.toSeq.sortBy { case (t, n) => (-n, t) }.take(k).zipWithIndex
            .map { case ((t, n), i) => TopkOut(day, t, n, i + 1L) }
            .iterator
      }
  }

  /** Batch face of [[topkStream]] (registered as `stream_topk`): the
    * per-day top-3 event types by exact count, (count desc, type asc)
    * tiebreak. The ranking runs on the (days × types) daily aggregate
    * — already tiny at any scale after the map-side-combinable count
    * — through the same TopKPerGroup physical operator the samplers
    * use (per-partition per-group heaps, no corpus-wide window).
    */
  def streamTopk(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    graft.plans.GraftOps.topKPerGroup(daily, Seq("day"),
        Seq("n_events" -> true, "event_type" -> false), k = 3,
        rankName = "rnk")
      .select(col("day"), col("event_type"), col("n_events"), col("rnk"))
      .orderBy(col("day"), col("rnk"))
  }

  val streamTopkSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day
      |    FROM events),
      |d AS (SELECT day, event_type, count(*) AS n_events FROM e GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY day
      |    ORDER BY n_events DESC, event_type) AS rnk FROM d)
      |SELECT CAST(day AS BIGINT) AS day, event_type,
      |  CAST(n_events AS BIGINT) AS n_events, CAST(rnk AS BIGINT) AS rnk
      |FROM r WHERE rnk <= 3 ORDER BY day, rnk""".stripMargin

  /** One arriving event for the late-data monitor. */
  case class LateEv(user: Long, eventId: Long, us: Long)
  /** Emitted late-event row: how far behind the key's high-water mark. */
  case class LateOut(user_id: Long, event_id: Long, us: Long, late_by_us: Long)
  case class HwmState(hwm: Long)

  /** Live late-data monitor — the streaming twin of the
    * [[graft.operators.Analytics.eventsLateData]] audit: per user
    * (keyed FMGWS state = ONE high-water-mark long), every arriving
    * event whose event time lags the key's max-seen event time by more
    * than the 24-hour allowed lateness is emitted to the late-event
    * change-log as it happens — the rows a `withWatermark` pipeline
    * would silently drop, surfaced as a monitorable stream. Records
    * are folded in arrival order (event_id) within each batch, so fed
    * in order the emitted log is exactly the batch face's relation.
    */
  def lateDataStream(stream: Dataset[LateEv],
                     toleranceUs: Long = 86400000000L): Dataset[LateOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.user)
      .flatMapGroupsWithState[HwmState, LateOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, recs: Iterator[LateEv], state: GroupState[HwmState]) =>
          var hwm = state.getOption.map(_.hwm).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[LateOut]
          recs.toSeq.sortBy(_.eventId).foreach { r =>
            if (hwm != Long.MinValue && hwm - r.us > toleranceUs)
              out += LateOut(user, r.eventId, r.us, hwm - r.us)
            if (r.us > hwm) hwm = r.us
          }
          state.update(HwmState(hwm))
          out.iterator
      }
  }

  /** Batch face of [[lateDataStream]] (registered as
    * `stream_late_data`): the in-order replay of the late-event
    * change-log — one row per event arriving >24 h behind its
    * user's running event-time high-water mark, with the exact micros
    * disorder. This is [[graft.operators.Analytics.eventsLateData]]
    * BEFORE its per-user rollup: the audit aggregates it, the live
    * face streams it, and the spec pins the streamed log equal to
    * this relation on the real corpus feed.
    *
    * == Scale design ==
    * One user-keyed shuffle + per-partition rows-frame window (same
    * plan as the audit face); the streaming twin holds ONE long per
    * key in the state store.
    */
  def streamLateData(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us0"))
      // the eventsLateData planted-disorder fixture (every 17th event
      // backdated 2-10 days) — the synthetic log is otherwise in order
      .withColumn("us", expr(
        "us0 - CASE WHEN event_id % 17 = 0 THEN (event_id % 5 + 1) * 172800000000 ELSE 0 END"))
      .withColumn("hwm", max(col("us")).over(w))
      .withColumn("late_by_us", col("hwm") - col("us"))
      .filter(col("late_by_us") > 86400000000L)
      .select(col("user_id"), col("event_id"), col("us"), col("late_by_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val streamLateDataSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(ts) - CASE WHEN event_id % 17 = 0 THEN (event_id % 5 + 1) * 172800000000 ELSE 0 END AS us
      |  FROM events),
      |h AS (SELECT user_id, event_id, us,
      |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM e)
      |SELECT user_id, event_id, us, hwm - us AS late_by_us
      |FROM h WHERE hwm - us > 86400000000
      |ORDER BY user_id, event_id""".stripMargin

  /** One arriving event for the live drift monitor (pre-bucketed). */
  case class DriftEv(day: Long, feature: String, bucket: String)
  /** Emitted per-(day, feature) drift snapshot. */
  case class DriftOut(day: Long, feature: String, n_events: Long, tvd_ppm: Long)

  /** Live distribution-drift monitor — the streaming twin of
    * [[graft.operators.Maintain.dqDrift]], closing the monitoring
    * family's last batch-only asymmetry (cusum and late_data already
    * have live twins): the REFERENCE profile (per-feature bucket
    * counts from the pre-cut epoch) ships to the stream as broadcast
    * model state — a deployment trains it offline exactly like a
    * tokenizer vocab — and each (closed day, feature) key holds its
    * bucket-count map as FMGWS state (bounded by the BUCKET ALPHABET:
    * event types + six value bands, never event volume). Every
    * processed batch emits the key's current total-variation distance
    * vs the reference in exact integer ppm — the same
    * Σ|ref_share − cur_share| / 2 the batch face computes, so fed one
    * batch per closed day the emitted rows are exactly the batch
    * relation (the spec pins it). Buckets outside the union of the
    * reference and the key's own state contribute zero on both faces,
    * which is what makes the per-key emission equal the batch grid.
    */
  def driftStream(stream: Dataset[DriftEv],
                  refProfile: Map[(String, String), Long],
                  refTotals: Map[String, Long]): Dataset[DriftOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(r => (r.day, r.feature))
      .flatMapGroupsWithState[Map[String, Long], DriftOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), recs: Iterator[DriftEv],
         state: GroupState[Map[String, Long]]) =>
          val (day, feature) = key
          var m = state.getOption.getOrElse(Map.empty[String, Long])
          recs.foreach { r =>
            m = m.updated(r.bucket, m.getOrElse(r.bucket, 0L) + 1L)
          }
          state.update(m)
          val curTotal = m.values.sum
          val refTotal = refTotals.getOrElse(feature, 0L)
          val buckets = m.keySet ++
            refProfile.keysIterator.filter(_._1 == feature).map(_._2)
          val tvd = buckets.toSeq.map { b =>
            val rp = if (refTotal == 0) 0L
              else 1000000L * refProfile.getOrElse((feature, b), 0L) / refTotal
            val cp = if (curTotal == 0) 0L
              else 1000000L * m.getOrElse(b, 0L) / curTotal
            math.abs(rp - cp)
          }.sum / 2
          Iterator.single(DriftOut(day, feature, curTotal, tvd))
      }
  }

  /** Batch face of [[driftStream]] (registered as `stream_drift`):
    * per CURRENT day (≥ the [[graft.operators.Maintain.dqDrift]]
    * epoch cut) and stacked feature, the day's total-variation
    * distance vs the pre-cut reference profile in exact integer ppm —
    * dq_drift's two-window readout turned into the daily series a
    * live monitor pages on.
    *
    * == Scale design ==
    * ONE stacked events scan folds map-side onto O(days × buckets)
    * keys (the reference leg onto O(buckets)); the drift grid —
    * days × (ref ∪ cur buckets) — is bounded by alphabet × days, so
    * everything past the scan is tiny-relation arithmetic. The
    * streaming twin's per-key state is one bucket-count map.
    */
  def streamDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val cut = lit("2024-01-16").cast("timestamp")
    // ONE events scan: everything folds map-side onto the
    // O(days × buckets) grouped relation, which is checkpointed so
    // the reference rollup, the per-day totals and the bucket-universe
    // derivations all read the tiny materialized table instead of
    // re-scanning the fact (the epoch cut is midnight-aligned, so
    // is_ref is a function of the day key)
    val g = events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("band",
        when(col("cents") < 1000, "v0").when(col("cents") < 2500, "v1")
          .when(col("cents") < 5000, "v2").when(col("cents") < 7500, "v3")
          .when(col("cents") < 10000, "v4").otherwise("v5"))
      .withColumn("is_ref", col("ts") < cut)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .select(col("day"), col("is_ref"), expr(
        "stack(2, 'event_type', event_type, 'value_band', band) AS (feature, bucket)"))
      .groupBy(col("day"), col("is_ref"), col("feature"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .stableCheckpoint()
    val ref = g.filter(col("is_ref"))
      .groupBy(col("feature"), col("bucket")).agg(sum(col("n")).as("ref_n"))
    val reft = ref.groupBy(col("feature")).agg(sum(col("ref_n")).as("ref_total"))
    val cur = g.filter(!col("is_ref"))
      .groupBy(col("day"), col("feature"), col("bucket"))
      .agg(sum(col("n")).as("cur_n"))
    val curt = cur.groupBy(col("day"), col("feature"))
      .agg(sum(col("cur_n")).as("cur_total"))
    val grid = cur.select(col("day")).distinct()
      .crossJoin(ref.select(col("feature"), col("bucket"))
        .union(cur.select(col("feature"), col("bucket"))).distinct())
      .join(ref, Seq("feature", "bucket"), "left")
      .join(broadcast(reft), Seq("feature"))
      .join(cur, Seq("day", "feature", "bucket"), "left")
      .join(curt, Seq("day", "feature"))
      .na.fill(0L, Seq("ref_n", "cur_n"))
    grid
      .withColumn("d", expr(
        "abs((1000000 * ref_n) div ref_total - (1000000 * cur_n) div cur_total)"))
      .groupBy(col("day"), col("feature"))
      .agg(max(col("cur_total")).as("n_events"),
        expr("sum(d) div 2").as("tvd_ppm"))
      .orderBy(col("day"), col("feature"))
  }

  val streamDriftSql: String =
    """WITH b0 AS (SELECT
      |    epoch_us(ts) // 86400000000 AS day,
      |    ts < TIMESTAMP '2024-01-16' AS is_ref,
      |    event_type,
      |    CASE WHEN round(value*100) < 1000 THEN 'v0'
      |         WHEN round(value*100) < 2500 THEN 'v1'
      |         WHEN round(value*100) < 5000 THEN 'v2'
      |         WHEN round(value*100) < 7500 THEN 'v3'
      |         WHEN round(value*100) < 10000 THEN 'v4' ELSE 'v5' END AS band
      |  FROM events),
      |b AS (SELECT day, is_ref, 'event_type' AS feature, event_type AS bucket FROM b0
      |  UNION ALL SELECT day, is_ref, 'value_band', band FROM b0),
      |ref AS (SELECT feature, bucket, CAST(count(*) AS BIGINT) AS ref_n
      |  FROM b WHERE is_ref GROUP BY 1, 2),
      |reft AS (SELECT feature, CAST(sum(ref_n) AS BIGINT) AS ref_total
      |  FROM ref GROUP BY 1),
      |cur AS (SELECT day, feature, bucket, CAST(count(*) AS BIGINT) AS cur_n
      |  FROM b WHERE NOT is_ref GROUP BY 1, 2, 3),
      |curt AS (SELECT day, feature, CAST(sum(cur_n) AS BIGINT) AS cur_total
      |  FROM cur GROUP BY 1, 2),
      |allb AS (SELECT DISTINCT feature, bucket FROM
      |  (SELECT feature, bucket FROM ref UNION ALL SELECT feature, bucket FROM cur)),
      |grid AS (SELECT d.day, a.feature, a.bucket,
      |    COALESCE(ref.ref_n, 0) AS ref_n, reft.ref_total,
      |    COALESCE(cur.cur_n, 0) AS cur_n, curt.cur_total
      |  FROM (SELECT DISTINCT day FROM cur) d
      |  CROSS JOIN allb a
      |  LEFT JOIN ref ON ref.feature = a.feature AND ref.bucket = a.bucket
      |  JOIN reft ON reft.feature = a.feature
      |  LEFT JOIN cur ON cur.day = d.day AND cur.feature = a.feature AND cur.bucket = a.bucket
      |  JOIN curt ON curt.day = d.day AND curt.feature = a.feature)
      |SELECT CAST(day AS BIGINT) AS day, feature,
      |  max(cur_total) AS n_events,
      |  CAST(sum(abs((1000000 * ref_n) // ref_total - (1000000 * cur_n) // cur_total)) // 2 AS BIGINT) AS tvd_ppm
      |FROM grid GROUP BY 1, 2 ORDER BY day, feature""".stripMargin

  // -------------------------------------------------- live DAU sketch
  case class DauEv(day: Long, user: Long)
  case class DauOut(day: Long, v_zero: Long, est_milli: Long)

  /** Live daily-distinct-users monitor (r14 — the dashboard
    * [[graft.operators.Analytics.aggHllGrouped]] computes per type,
    * keyed by day and kept LIVE; the one distinct-count face the
    * streaming family was missing, and the reason sketches exist in a
    * stream at all: exact per-key distinct needs an unbounded user
    * set, the HLL register array is 64 longs forever): FMGWS state per
    * closed day = the register maxes of the shared integer-HLL
    * (identical hash/j/rho/estimate arithmetic, so stream ≡ batch
    * bit-for-bit), emitting the day's current milli-estimate per
    * batch.
    */
  def dauStream(stream: Dataset[DauEv]): Dataset[DauOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.day)
      .flatMapGroupsWithState[Array[Long], DauOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (day: Long, recs: Iterator[DauEv], state: GroupState[Array[Long]]) =>
          val regs = state.getOption.getOrElse(new Array[Long](64))
          recs.foreach { r =>
            val h = (1103515245L * r.user + 12345L) % 2147483647L
            val j = (h % 64L).toInt
            val rho = 26L - java.lang.Long.toBinaryString((h >> 6) + 1L).length
            if (rho > regs(j)) regs(j) = rho
          }
          state.update(regs)
          val s = regs.map(mj => 1L << (26 - mj).toInt).sum
          Iterator.single(DauOut(day, regs.count(_ == 0L).toLong,
            709L * 4096L * (1L << 26) / s))
      }
  }

  /** Batch face of [[dauStream]] (registered as `stream_dau`): per day
    * the exact distinct-user count (the honesty column) beside the
    * integer-HLL milli-estimate — [[graft.operators.Analytics
    * .aggHllGrouped]]'s replayable register chain keyed by day.
    *
    * == Scale design ==
    * ONE scan dedupes to (day, user) — then registers fold map-side
    * onto O(days × 64) keys; the exact leg shuffles the same thin
    * dedupe. The streaming twin's per-key state is 64 longs, never
    * the user set.
    */
  def streamDau(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val ud = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id").as("u"))
      .distinct()
      .stableCheckpoint()
    val m = Analytics.hllMax(ud, Seq("day"), col("u"))
    val sums = Analytics.hllSums(
      Analytics.hllDense(m, Some(m.select(col("day")).distinct())), Seq("day"))
    ud.groupBy(col("day")).agg(count(lit(1)).as("n_exact"))
      .join(broadcast(sums), "day")
      .select(col("day"), col("n_exact"), col("v_zero"),
        Analytics.hllEstMilli("s").as("est_milli"))
      .orderBy(col("day"))
  }

  val streamDauSql: String =
    s"""WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
      |    user_id AS u FROM events),
      |m AS (${Analytics.hllMaxSql("ud", Seq("day"), "u")}),
      |dy AS (SELECT DISTINCT day FROM m),
      |regs AS (${Analytics.hllDenseSql("m", Seq("day"), Some("dy"))}),
      |s AS (${Analytics.hllSumsSql("regs", Seq("day"))}),
      |ex AS (SELECT day, CAST(count(*) AS BIGINT) AS n_exact FROM ud GROUP BY 1)
      |SELECT ex.day, ex.n_exact, s.v_zero, ${Analytics.hllEstMilliSql("s.s")} AS est_milli
      |FROM ex JOIN s ON s.day = ex.day
      |ORDER BY ex.day""".stripMargin

  // ------------------------------------------------ live funnel rollup
  /** Batch face of [[funnelStream]] (registered as `stream_funnel`,
    * r14 wave 8 — the funnel face was the one FMGWS state machine
    * still spec-only): the DAY-level cumulative funnel dashboard the
    * change-log drives. Per stage-advance day: how many users have
    * reached each stage (first view / first strictly-later click /
    * first strictly-later purchase — `events_funnel`'s exact rule) by
    * the end of that day, plus view→purchase conversion in exact ppm.
    * A day appears when some user ADVANCES a stage on it — precisely
    * the days [[funnelStream]] emits change-log rows for, so the spec
    * can feed the corpus one day per batch and pin the live counters
    * to this face row-for-row per closed day.
    *
    * == Scale design ==
    * The stage relations are `events_funnel`'s user-keyed min-aggs
    * (three filtered scans collapsing immediately to O(users));
    * everything after — the stage-day hits, the per-day sums, the
    * cumulative window — runs on the O(days × 3) bounded relation
    * (the documented bounded-relation single-partition window). The
    * streaming twin holds three longs per user, never event history.
    */
  def streamFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("uc"), col("ts").as("tsc"))
    val c = v.join(clicks, col("uc") === col("user_id") && col("tsc") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("tsc")).as("t_click"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("up"), col("ts").as("tsp"))
    val p = c.join(purchases, col("up") === col("user_id") && col("tsp") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("tsp")).as("t_purchase"))
    val hits = v.select(lit(1L).as("v"), lit(0L).as("c"), lit(0L).as("p"),
        col("t_view").cast("date").as("day"))
      .unionAll(c.select(lit(0L), lit(1L), lit(0L), col("t_click").cast("date")))
      .unionAll(p.select(lit(0L), lit(0L), lit(1L), col("t_purchase").cast("date")))
    val daily = hits.groupBy(col("day"))
      .agg(sum(col("v")).as("dv"), sum(col("c")).as("dc"), sum(col("p")).as("dp"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        sum(col("dv")).over(w).as("n_view"),
        sum(col("dc")).over(w).as("n_click"),
        sum(col("dp")).over(w).as("n_purchase"))
      .withColumn("conv_ppm", expr("n_purchase * 1000000 div n_view"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: `events_funnel`'s v/c/p CTEs rolled up to stage-day
    * hits and cumulated over the bounded day relation. */
  val streamFunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT v.user_id, min(e.ts) AS t_click FROM v JOIN events e
      |  ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t_view
      |  GROUP BY v.user_id),
      |p AS (SELECT c.user_id, min(e.ts) AS t_purchase FROM c JOIN events e
      |  ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t_click
      |  GROUP BY c.user_id),
      |hits AS (
      |  SELECT CAST(1 AS BIGINT) AS v, CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS p,
      |    CAST(t_view AS DATE) AS day FROM v
      |  UNION ALL SELECT 0, 1, 0, CAST(t_click AS DATE) FROM c
      |  UNION ALL SELECT 0, 0, 1, CAST(t_purchase AS DATE) FROM p),
      |daily AS (SELECT day, sum(v) AS dv, sum(c) AS dc, sum(p) AS dp
      |  FROM hits GROUP BY day),
      |cum AS (SELECT strftime(day, '%Y-%m-%d') AS day,
      |    CAST(sum(dv) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_view,
      |    CAST(sum(dc) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_click,
      |    CAST(sum(dp) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_purchase
      |  FROM daily)
      |SELECT day, n_view, n_click, n_purchase,
      |  (n_purchase * 1000000) // n_view AS conv_ppm
      |FROM cum ORDER BY day""".stripMargin

  // ------------------------------------------------ live A/B monitor
  case class AbEv(user_id: Long, event_id: Long, us: Long, event_type: String)
  case class AbState(seen: Boolean, conv: Boolean)
  case class AbDelta(day: Long, armn: Long, d_users: Long, d_conv: Long)

  /** Live A/B experiment monitor (r14 wave 17) — the streaming twin of
    * [[graft.operators.Analytics.eventsAbLift]], the face an
    * experiment dashboard actually watches: per-user FMGWS state is
    * TWO BOOLEANS (ever seen, ever converted — never event history);
    * each batch emits the enrollment / conversion transition deltas,
    * and the day-keyed running sums of those deltas ARE the cumulative
    * per-arm counters the batch face computes. Arm = the family's
    * "ab|" salted fold, derived from the group key inside the state
    * function, so assignment can never drift between faces.
    */
  def abLiftStream(stream: Dataset[AbEv]): Dataset[AbDelta] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[AbState, AbDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[AbEv], state: GroupState[AbState]) =>
          val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(AbState(false, false))
          val arm = ("ab|" + uid)
            .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L) % 2
          val out = scala.collection.mutable.ArrayBuffer[AbDelta]()
          sorted.foreach { e =>
            val day = e.us / 86400000000L
            if (!st.seen) {
              st = st.copy(seen = true); out += AbDelta(day, arm, 1L, 0L)
            }
            if (e.event_type == "purchase" && !st.conv) {
              st = st.copy(conv = true); out += AbDelta(day, arm, 0L, 1L)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[abLiftStream]] (registered as `stream_ab_lift`):
    * the day-level cumulative experiment dashboard — per epoch day,
    * users enrolled and converted per hash arm BY THE END of that day
    * (enrollment = first event, conversion = first `purchase`), with
    * lift in exact ppm and the pooled z in milli-units via
    * `events_ab_lift`'s staged integer form. The END-day row equals
    * the lift face's single row exactly (the spec pins it) — this
    * face is the same readout unrolled over time, which is what makes
    * peeking bias visible: the z column wanders before it settles.
    *
    * == Scale design ==
    * ONE fact scan folds to the checkpointed per-user firsts relation
    * (map-side combinable on user_id); deltas, daily sums, cumulative
    * windows and the z arithmetic all run on the O(days) ledger (the
    * documented bounded-relation single-partition window). The
    * streaming twin holds two booleans per user.
    */
  def streamAbLift(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val firsts = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"),
        min(when(col("event_type") === "purchase", col("day")))
          .as("first_purch_day"))
      .select(col("first_day"), col("first_purch_day"), (h % 2L).as("armn"))
      .stableCheckpoint()
    val deltas = firsts.select(col("first_day").as("day"),
        when(col("armn") === 0L, 1L).otherwise(0L).as("da"),
        when(col("armn") === 1L, 1L).otherwise(0L).as("db"),
        lit(0L).as("dca"), lit(0L).as("dcb"))
      .unionAll(firsts.filter(col("first_purch_day").isNotNull)
        .select(col("first_purch_day"), lit(0L), lit(0L),
          when(col("armn") === 0L, 1L).otherwise(0L),
          when(col("armn") === 1L, 1L).otherwise(0L)))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    deltas.groupBy(col("day"))
      .agg(sum(col("da")).as("da"), sum(col("db")).as("db"),
        sum(col("dca")).as("dca"), sum(col("dcb")).as("dcb"))
      .select(col("day"),
        sum(col("da")).over(w).as("n_a"), sum(col("db")).over(w).as("n_b"),
        sum(col("dca")).over(w).as("conv_a"),
        sum(col("dcb")).over(w).as("conv_b"))
      .withColumn("lift_ppm", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 THEN 0
          |ELSE (1000000 * conv_b) div n_b - (1000000 * conv_a) div n_a END"""
          .stripMargin))
      .withColumn("z2_micro", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
          |    OR conv_a + conv_b = n_a + n_b THEN 0
          |ELSE ((CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
          |      * (CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
          |      div (n_a * n_b)) * 1000000 * (n_a + n_b)
          |      div ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) END"""
          .stripMargin))
      .withColumn("r0", expr(
        "CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT)"))
      .select(col("day"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("lift_ppm"),
        expr("""CASE WHEN r0*r0 > z2_micro THEN r0-1
                WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END""")
          .as("z_milli"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: same firsts fold, same delta union, same staged z. */
  val streamAbLiftSql: String =
    s"""WITH u AS (SELECT user_id,
      |    min(epoch_us(ts) // 86400000000) AS first_day,
      |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) // 86400000000 END) AS first_purch_day,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events GROUP BY user_id),
      |del AS (
      |  SELECT first_day AS day,
      |    CASE WHEN armn = 0 THEN 1 ELSE 0 END AS da,
      |    CASE WHEN armn = 1 THEN 1 ELSE 0 END AS db,
      |    0 AS dca, 0 AS dcb FROM u
      |  UNION ALL
      |  SELECT first_purch_day, 0, 0,
      |    CASE WHEN armn = 0 THEN 1 ELSE 0 END,
      |    CASE WHEN armn = 1 THEN 1 ELSE 0 END
      |  FROM u WHERE first_purch_day IS NOT NULL),
      |daily AS (SELECT day, sum(da) AS da, sum(db) AS db,
      |    sum(dca) AS dca, sum(dcb) AS dcb FROM del GROUP BY day),
      |cum AS (SELECT day,
      |    CAST(sum(da) OVER w AS HUGEINT) AS n_a,
      |    CAST(sum(db) OVER w AS HUGEINT) AS n_b,
      |    CAST(sum(dca) OVER w AS HUGEINT) AS conv_a,
      |    CAST(sum(dcb) OVER w AS HUGEINT) AS conv_b
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |z AS (SELECT *,
      |    CASE WHEN n_a = 0 OR n_b = 0 THEN 0
      |      ELSE (1000000 * conv_b) // n_b - (1000000 * conv_a) // n_a END AS lift_ppm,
      |    CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
      |        OR conv_a + conv_b = n_a + n_b THEN 0
      |      ELSE ((conv_b * n_a - conv_a * n_b)
      |            * (conv_b * n_a - conv_a * n_b)
      |            // (n_a * n_b)) * 1000000 * (n_a + n_b)
      |            // ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) END AS z2_micro
      |  FROM cum),
      |r AS (SELECT *, CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT) AS r0 FROM z)
      |SELECT CAST(day AS BIGINT) AS day, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b, CAST(conv_a AS BIGINT) AS conv_a,
      |  CAST(conv_b AS BIGINT) AS conv_b, CAST(lift_ppm AS BIGINT) AS lift_ppm,
      |  CAST(CASE WHEN r0*r0 > z2_micro THEN r0-1
      |       WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END AS BIGINT) AS z_milli
      |FROM r ORDER BY day""".stripMargin

  // ------------------------------------------------ live uplift monitor
  case class UpEv(user_id: Long, event_id: Long, us: Long, event_type: String)
  case class UpState(preCnt: Long, enrolled: Boolean, conv: Boolean, seg: Long)
  case class UpDelta(day: Long, seg: Long, armn: Long, d_users: Long, d_conv: Long)

  private val upCutUs: Long =
    java.time.LocalDate.of(2024, 1, 16).toEpochDay * 86400000000L
  private val upWkEndUs: Long =
    java.time.LocalDate.of(2024, 1, 23).toEpochDay * 86400000000L

  /** Live segment-uplift monitor (r18) — the streaming twin of
    * [[graft.operators.Analytics.eventsUplift]], completing the
    * experiment family's live symmetry ([[abLiftStream]] watches the
    * pooled lift, [[banditStream]] the adaptive allocation; this
    * watches WHERE the effect lives). Per-user FMGWS state is the
    * pre-period counter plus two booleans (activity count before the
    * cut, enrolled, converted — never event history); the segment is
    * FROZEN at the user's first in-window event (pre-treatment
    * activity bucketed `least(pre_cnt div 10, 4)` — by then every
    * pre-cut event has been processed, so the live segment equals the
    * batch one), and each batch emits (day, seg, arm) enrollment /
    * conversion deltas whose running sums ARE the per-segment
    * dashboard counters. Arm = the family's "ab|" salted fold derived
    * from the group key, so assignment can never drift between faces.
    * Events at or after the outcome-window end mutate nothing.
    *
    * ORDERING CONTRACT: per user, events must be delivered in
    * event-time order across batches (the closed-day cadence the whole
    * family replays) — the segment freezes at the first in-window
    * event on the premise that every pre-cut event has already been
    * counted. A pre-cut event arriving AFTER enrollment is ignored
    * (the branch guards on `!st.enrolled`), so under out-of-order
    * delivery the live segment can sit one bucket below the batch
    * face's. A deployment that cannot guarantee per-user ordering
    * must either delay enrollment past the pre-period watermark or
    * emit a re-segment correction delta (−1 on the old segment, +1 on
    * the new) when a late pre-cut event lands before the window ends.
    */
  def upliftStream(stream: Dataset[UpEv]): Dataset[UpDelta] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[UpState, UpDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[UpEv], state: GroupState[UpState]) =>
          val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(UpState(0L, false, false, -1L))
          val arm = ("ab|" + uid)
            .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L) % 2
          val out = scala.collection.mutable.ArrayBuffer[UpDelta]()
          sorted.foreach { e =>
            if (e.us < upCutUs) {
              if (!st.enrolled) st = st.copy(preCnt = st.preCnt + 1)
            } else if (e.us < upWkEndUs) {
              val day = e.us / 86400000000L
              if (!st.enrolled) {
                st = st.copy(enrolled = true,
                  seg = math.min(st.preCnt / 10L, 4L))
                out += UpDelta(day, st.seg, arm, 1L, 0L)
              }
              if (e.event_type == "purchase" && !st.conv) {
                st = st.copy(conv = true)
                out += UpDelta(day, st.seg, arm, 0L, 1L)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[upliftStream]] (registered as `stream_uplift`):
    * the per-segment experiment dashboard unrolled over the outcome
    * week — per closed (epoch day, pre-treatment segment), the users
    * enrolled (first in-window event) and converted (first in-window
    * `purchase`) per hash arm BY THE END of that day, with exact-ppm
    * per-arm rates and the segment's running `uplift_ppm` (B − A).
    * [[graft.operators.Analytics.eventsUplift]] reads this ledger's
    * final frame with the all-users denominator; this face is the
    * in-window-active readout a live dashboard can actually know, and
    * its end-day per-segment CONVERSION counts equal the batch face's
    * exactly (the spec pins it).
    *
    * == Scale design ==
    * ONE fact scan folds to the checkpointed per-user firsts relation
    * (map-side combinable on user_id; pre-count, window firsts and the
    * arm in one pass); deltas, the (days × ≤5 segs) grid and the
    * per-segment cumulative windows all ride the O(days × segs)
    * ledger. The streaming twin holds one counter + two booleans per
    * user.
    */
  def streamUplift(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val cut = lit("2024-01-16").cast("timestamp")
    val wkEnd = lit("2024-01-23").cast("timestamp")
    val perUser = events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("pre_cnt"),
        min(when(col("ts") >= cut && col("ts") < wkEnd,
          expr("unix_micros(ts) div 86400000000"))).as("first_day"),
        min(when(col("event_type") === "purchase" &&
          col("ts") >= cut && col("ts") < wkEnd,
          expr("unix_micros(ts) div 86400000000"))).as("first_purch_day"))
      .filter(col("first_day").isNotNull)
      .select(col("first_day"), col("first_purch_day"),
        least(expr("pre_cnt div 10"), lit(4L)).as("seg"), (h % 2L).as("armn"))
      .stableCheckpoint()
    val deltas = perUser.select(col("first_day").as("day"), col("seg"),
        when(col("armn") === 0L, 1L).otherwise(0L).as("da"),
        when(col("armn") === 1L, 1L).otherwise(0L).as("db"),
        lit(0L).as("dca"), lit(0L).as("dcb"))
      .unionAll(perUser.filter(col("first_purch_day").isNotNull)
        .select(col("first_purch_day"), col("seg"), lit(0L), lit(0L),
          when(col("armn") === 0L, 1L).otherwise(0L),
          when(col("armn") === 1L, 1L).otherwise(0L)))
    val daily = deltas.groupBy(col("day"), col("seg"))
      .agg(sum(col("da")).as("da"), sum(col("db")).as("db"),
        sum(col("dca")).as("dca"), sum(col("dcb")).as("dcb"))
    // closed-day × segment dashboard grid: every segment already seen
    // is carried forward on each closed day
    val days = daily.select(col("day")).distinct()
    val segs = daily.select(col("seg")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
      .orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    days.crossJoin(segs)
      .join(daily, Seq("day", "seg"), "left_outer")
      .na.fill(0L, Seq("da", "db", "dca", "dcb"))
      .select(col("day"), col("seg"),
        sum(col("da")).over(w).as("n_a"), sum(col("db")).over(w).as("n_b"),
        sum(col("dca")).over(w).as("conv_a"),
        sum(col("dcb")).over(w).as("conv_b"))
      .filter(col("n_a") + col("n_b") > 0L)
      .withColumn("rate_a_ppm",
        expr("CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) div n_a END"))
      .withColumn("rate_b_ppm",
        expr("CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) div n_b END"))
      .withColumn("uplift_ppm", col("rate_b_ppm") - col("rate_a_ppm"))
      .orderBy(col("day"), col("seg"))
  }

  /** DuckDB twin: same per-user firsts fold, delta union, day × seg
    * grid, per-segment cumulative windows. */
  val streamUpliftSql: String =
    s"""WITH u AS (SELECT user_id,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS pre_cnt,
      |    min(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND ts < TIMESTAMP '2024-01-23'
      |      THEN epoch_us(ts) // 86400000000 END) AS first_day,
      |    min(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
      |      AND ts < TIMESTAMP '2024-01-23'
      |      THEN epoch_us(ts) // 86400000000 END) AS first_purch_day,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events GROUP BY user_id),
      |e AS (SELECT CAST(least(pre_cnt // 10, 4) AS BIGINT) AS seg,
      |    first_day, first_purch_day, armn
      |  FROM u WHERE first_day IS NOT NULL),
      |del AS (
      |  SELECT first_day AS day, seg,
      |    CASE WHEN armn = 0 THEN 1 ELSE 0 END AS da,
      |    CASE WHEN armn = 1 THEN 1 ELSE 0 END AS db,
      |    0 AS dca, 0 AS dcb FROM e
      |  UNION ALL
      |  SELECT first_purch_day, seg, 0, 0,
      |    CASE WHEN armn = 0 THEN 1 ELSE 0 END,
      |    CASE WHEN armn = 1 THEN 1 ELSE 0 END
      |  FROM e WHERE first_purch_day IS NOT NULL),
      |daily AS (SELECT day, seg, sum(da) AS da, sum(db) AS db,
      |    sum(dca) AS dca, sum(dcb) AS dcb FROM del GROUP BY 1, 2),
      |grid AS (SELECT d.day, s.seg,
      |    COALESCE(da, 0) AS da, COALESCE(db, 0) AS db,
      |    COALESCE(dca, 0) AS dca, COALESCE(dcb, 0) AS dcb
      |  FROM (SELECT DISTINCT day FROM daily) d
      |  CROSS JOIN (SELECT DISTINCT seg FROM daily) s
      |  LEFT JOIN daily ON daily.day = d.day AND daily.seg = s.seg),
      |cum AS (SELECT day, seg,
      |    CAST(sum(da) OVER w AS BIGINT) AS n_a,
      |    CAST(sum(db) OVER w AS BIGINT) AS n_b,
      |    CAST(sum(dca) OVER w AS BIGINT) AS conv_a,
      |    CAST(sum(dcb) OVER w AS BIGINT) AS conv_b
      |  FROM grid
      |  WINDOW w AS (PARTITION BY seg ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r AS (SELECT *,
      |    CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) // n_a END AS rate_a_ppm,
      |    CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) // n_b END AS rate_b_ppm
      |  FROM cum WHERE n_a + n_b > 0)
      |SELECT CAST(day AS BIGINT) AS day, seg, n_a, n_b, conv_a, conv_b,
      |  rate_a_ppm, rate_b_ppm, rate_b_ppm - rate_a_ppm AS uplift_ppm
      |FROM r ORDER BY day, seg""".stripMargin

  // ------------------------------------------------- live DiD monitor
  case class DidEv(user_id: Long, event_id: Long, us: Long, event_type: String)
  case class DidState(lastDay: Long, conv: Boolean)
  case class DidDelta(day: Long, armn: Long, d_units: Long, d_conv: Long)

  /** Live difference-in-differences monitor (r18 — the last experiment
    * face without a live twin after `stream_uplift`:
    * [[graft.operators.Analytics.eventsDid]] reads the four-cell DiD
    * once, after the fact; a rollout watches the estimate SETTLE).
    * The unit is the (user, active-day) pair, so per-user FMGWS state
    * is two fields (last active day, converted that day): each closed
    * day's batch emits one unit delta per active user (conv upgrades
    * within the day emit a conv-only delta), and the running sums of
    * those deltas keyed (arm, pre/post of the delta's own day) ARE the
    * cumulative 2×2 cells. Arm = the family's "ab|" salted fold from
    * the group key.
    *
    * ORDERING CONTRACT: per user, batches must arrive in day order
    * (the closed-day cadence every face in this family replays). The
    * two-field state cannot re-open a closed day, so an event for a
    * day EARLIER than the state's lastDay is DROPPED — emitting it
    * would double-count the (user, day) unit and reset lastDay
    * backwards. A deployment with genuinely late days needs a bounded
    * seen-day set (or a dead-letter channel) in place of lastDay.
    */
  def didStream(stream: Dataset[DidEv]): Dataset[DidDelta] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[DidState, DidDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[DidEv], state: GroupState[DidState]) =>
          val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(DidState(-1L, false))
          val arm = ("ab|" + uid)
            .foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L) % 2
          val out = scala.collection.mutable.ArrayBuffer[DidDelta]()
          sorted.foreach { e =>
            val d = e.us / 86400000000L
            val p = e.event_type == "purchase"
            if (d > st.lastDay) {
              st = DidState(d, p)
              out += DidDelta(d, arm, 1L, if (p) 1L else 0L)
            } else if (d == st.lastDay && p && !st.conv) {
              st = st.copy(conv = true)
              out += DidDelta(d, arm, 0L, 1L)
            }
            // d < lastDay: late event for a closed day — dropped (see
            // the ordering contract above; re-emitting would
            // double-count the unit and reset the state backwards)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[didStream]] (registered as `stream_did`): the DiD
    * dashboard unrolled over time — per closed epoch day, the
    * cumulative (user, active-day) units and conversions in all four
    * (arm × pre/post) cells BY THE END of that day, the four exact-ppm
    * rates (zero-guarded: post cells are empty before the cut), the
    * parallel-trends gap both sides, and the running `did_ppm`. The
    * END-day row equals [[graft.operators.Analytics.eventsDid]]'s
    * one-row readout exactly (the spec pins it); the pre-cut rows make
    * the design's assumption VISIBLE — `pre_gap_ppm` is the
    * parallel-trends baseline settling before treatment begins.
    *
    * == Scale design ==
    * ONE fact scan folds map-side to the (user, day) dedupe (the
    * family's bounded fold, user-keyed — the only corpus-sized
    * shuffle), immediately reduced to the O(days) four-cell daily
    * ledger; the cumulative windows and DiD arithmetic ride that
    * bounded relation. The streaming twin holds two fields per user.
    */
  def streamDid(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val cutDay = 19738L // 2024-01-16 in epoch days
    val daily = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("day")).agg(max(col("p")).as("conv"))
      .select(col("day"), (h % 2L).as("armn"), col("conv"))
      .groupBy(col("day"))
      .agg(sum(when(col("armn") === 0L, 1L).otherwise(0L)).as("ua"),
        sum(when(col("armn") === 0L, col("conv")).otherwise(0L)).as("ca"),
        sum(when(col("armn") === 1L, 1L).otherwise(0L)).as("ub"),
        sum(when(col("armn") === 1L, col("conv")).otherwise(0L)).as("cb"))
      .withColumn("post", (col("day") >= cutDay).cast("long"))
      .stableCheckpoint()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def cum(cond: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      sum(when(cond, v).otherwise(0L)).over(w)
    daily.select(col("day"),
        cum(col("post") === 0L, col("ua")).as("days_a_pre"),
        cum(col("post") === 0L, col("ca")).as("conv_a_pre"),
        cum(col("post") === 1L, col("ua")).as("days_a_post"),
        cum(col("post") === 1L, col("ca")).as("conv_a_post"),
        cum(col("post") === 0L, col("ub")).as("days_b_pre"),
        cum(col("post") === 0L, col("cb")).as("conv_b_pre"),
        cum(col("post") === 1L, col("ub")).as("days_b_post"),
        cum(col("post") === 1L, col("cb")).as("conv_b_post"))
      .withColumn("rate_a_pre_ppm",
        expr("CASE WHEN days_a_pre = 0 THEN 0 ELSE (1000000 * conv_a_pre) div days_a_pre END"))
      .withColumn("rate_a_post_ppm",
        expr("CASE WHEN days_a_post = 0 THEN 0 ELSE (1000000 * conv_a_post) div days_a_post END"))
      .withColumn("rate_b_pre_ppm",
        expr("CASE WHEN days_b_pre = 0 THEN 0 ELSE (1000000 * conv_b_pre) div days_b_pre END"))
      .withColumn("rate_b_post_ppm",
        expr("CASE WHEN days_b_post = 0 THEN 0 ELSE (1000000 * conv_b_post) div days_b_post END"))
      .withColumn("pre_gap_ppm", col("rate_b_pre_ppm") - col("rate_a_pre_ppm"))
      .withColumn("post_gap_ppm", col("rate_b_post_ppm") - col("rate_a_post_ppm"))
      .withColumn("did_ppm", col("post_gap_ppm") - col("pre_gap_ppm"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: same (user, day) dedupe, daily four-cell fold,
    * cumulative windows and guarded DiD arithmetic. */
  val streamDidSql: String =
    s"""WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT day,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn,
      |    conv FROM ud),
      |daily AS (SELECT day,
      |    CAST(sum(CASE WHEN armn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ua,
      |    CAST(sum(CASE WHEN armn = 0 THEN conv ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN armn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ub,
      |    CAST(sum(CASE WHEN armn = 1 THEN conv ELSE 0 END) AS BIGINT) AS cb,
      |    CASE WHEN day >= 19738 THEN 1 ELSE 0 END AS post
      |  FROM t GROUP BY day),
      |c AS (SELECT day,
      |    CAST(sum(CASE WHEN post = 0 THEN ua ELSE 0 END) OVER w AS BIGINT) AS days_a_pre,
      |    CAST(sum(CASE WHEN post = 0 THEN ca ELSE 0 END) OVER w AS BIGINT) AS conv_a_pre,
      |    CAST(sum(CASE WHEN post = 1 THEN ua ELSE 0 END) OVER w AS BIGINT) AS days_a_post,
      |    CAST(sum(CASE WHEN post = 1 THEN ca ELSE 0 END) OVER w AS BIGINT) AS conv_a_post,
      |    CAST(sum(CASE WHEN post = 0 THEN ub ELSE 0 END) OVER w AS BIGINT) AS days_b_pre,
      |    CAST(sum(CASE WHEN post = 0 THEN cb ELSE 0 END) OVER w AS BIGINT) AS conv_b_pre,
      |    CAST(sum(CASE WHEN post = 1 THEN ub ELSE 0 END) OVER w AS BIGINT) AS days_b_post,
      |    CAST(sum(CASE WHEN post = 1 THEN cb ELSE 0 END) OVER w AS BIGINT) AS conv_b_post
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r AS (SELECT *,
      |    CASE WHEN days_a_pre = 0 THEN 0 ELSE (1000000 * conv_a_pre) // days_a_pre END AS rate_a_pre_ppm,
      |    CASE WHEN days_a_post = 0 THEN 0 ELSE (1000000 * conv_a_post) // days_a_post END AS rate_a_post_ppm,
      |    CASE WHEN days_b_pre = 0 THEN 0 ELSE (1000000 * conv_b_pre) // days_b_pre END AS rate_b_pre_ppm,
      |    CASE WHEN days_b_post = 0 THEN 0 ELSE (1000000 * conv_b_post) // days_b_post END AS rate_b_post_ppm
      |  FROM c)
      |SELECT day, days_a_pre, conv_a_pre, days_a_post, conv_a_post,
      |  days_b_pre, conv_b_pre, days_b_post, conv_b_post,
      |  rate_a_pre_ppm, rate_a_post_ppm, rate_b_pre_ppm, rate_b_post_ppm,
      |  rate_b_pre_ppm - rate_a_pre_ppm AS pre_gap_ppm,
      |  rate_b_post_ppm - rate_a_post_ppm AS post_gap_ppm,
      |  (rate_b_post_ppm - rate_a_post_ppm) - (rate_b_pre_ppm - rate_a_pre_ppm) AS did_ppm
      |FROM r ORDER BY day""".stripMargin

  // ---------------------------------------------- live quantile sketch
  case class QuantEv(day: Long, cents: Long)
  case class QuantOut(day: Long, n_events: Long,
                      p50_est_cents: Long, p90_est_cents: Long)

  /** Live per-day quantile monitor (r14, the streaming twin of
    * [[graft.operators.Analytics.aggQuantileReplay]]'s mergeable
    * 64-cent grid — the quantile face of the cusum/late-data/drift
    * monitor family): FMGWS state per closed day is the grid's
    * bucket-count map — O(value-domain/64) registers, never event
    * volume — and each processed batch emits the day's current p50/p90
    * estimate (midpoint of the first register whose cumulative count
    * reaches rank ⌈q·N⌉, the identical rank rule as the batch sketch).
    * Fed one batch per closed day the emission IS the batch relation
    * (the spec pins it).
    */
  def quantileStream(stream: Dataset[QuantEv]): Dataset[QuantOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_.day)
      .flatMapGroupsWithState[Map[Long, Long], QuantOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (day: Long, recs: Iterator[QuantEv],
         state: GroupState[Map[Long, Long]]) =>
          var m = state.getOption.getOrElse(Map.empty[Long, Long])
          recs.foreach { r =>
            val b = r.cents / 64L
            m = m.updated(b, m.getOrElse(b, 0L) + 1L)
          }
          state.update(m)
          val n = m.values.sum
          def est(qPermille: Long): Long = {
            val target = (qPermille * n + 999L) / 1000L
            var cum = 0L
            val hit = m.keys.toSeq.sorted.find { b =>
              cum += m(b); cum >= target
            }.getOrElse(Long.MaxValue)
            hit * 64L + 32L
          }
          Iterator.single(QuantOut(day, n, est(500L), est(900L)))
      }
  }

  /** Batch face of [[quantileStream]] (registered as `stream_quantile`):
    * per-day p50/p90 grid-sketch estimates over value cents — the
    * daily latency/value-distribution dashboard a monitor pages on,
    * from the same mergeable O(domain/64) register state the union
    * face (`agg_quantile_union`) adds across windows.
    *
    * == Scale design ==
    * ONE events scan folds map-side onto O(days × domain/64) register
    * keys (checkpointed); the cumulative windows and rank picks run
    * entirely on that bounded relation. The streaming twin's per-key
    * state is one register map.
    */
  def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    import org.apache.spark.sql.expressions.Window
    val g = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(round(value * 100) as bigint) div 64").as("b"))
      .groupBy(col("day"), col("b")).agg(count(lit(1)).as("cnt"))
      .stableCheckpoint()
    val wCum = Window.partitionBy(col("day")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDay = Window.partitionBy(col("day"))
    g.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wDay))
      .withColumn("t50", expr("(500 * n + 999) div 1000"))
      .withColumn("t90", expr("(900 * n + 999) div 1000"))
      .groupBy(col("day"))
      .agg(max(col("n")).as("n_events"),
        (min(when(col("cum") >= col("t50"), col("b"))) * 64L + 32L)
          .as("p50_est_cents"),
        (min(when(col("cum") >= col("t90"), col("b"))) * 64L + 32L)
          .as("p90_est_cents"))
      .orderBy(col("day"))
  }

  val streamQuantileSql: String =
    """WITH g AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) // 64 AS b, count(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT *,
      |    CAST(sum(cnt) OVER (PARTITION BY day ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
      |  FROM g)
      |SELECT CAST(day AS BIGINT) AS day, max(n) AS n_events,
      |  min(CASE WHEN cum >= (500 * n + 999) // 1000 THEN b END) * 64 + 32 AS p50_est_cents,
      |  min(CASE WHEN cum >= (900 * n + 999) // 1000 THEN b END) * 64 + 32 AS p90_est_cents
      |FROM c GROUP BY day ORDER BY day""".stripMargin

  // ----------------------------------------------- live gap filling
  case class GapEv(event_type: String, hi: Long, cents: Long)
  case class GapOut(hour_idx: Long, event_type: String, n_events: Long,
                    cents: Long, filled: Long)

  /** Live hourly gap filling (r14 wave 19) — the densify face a
    * streaming dashboard needs before any rate math
    * ([[graft.operators.Analytics.eventsGapFill]] densifies in batch
    * against GLOBAL bounds a live pipeline cannot know; this twin uses
    * the per-type live-computable contract: fill from each type's
    * FIRST seen hour): FMGWS state per type is ONE LONG (the last
    * emitted hour); when an hour closes with a later arrival, the
    * intervening empty hours emit as zero rows with `filled = 1`.
    * Hours at-or-before the state are DROPPED (the watermark rule —
    * an already-filled hour cannot be retracted in append mode).
    */
  def gapFillStream(stream: Dataset[GapEv]): Dataset[GapOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.event_type)
      .flatMapGroupsWithState[Long, GapOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, evs: Iterator[GapEv], state: GroupState[Long]) =>
          val byHour = evs.toVector.groupBy(_.hi).toVector.sortBy(_._1)
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer[GapOut]()
          byHour.foreach { case (h, rs) =>
            if (last == Long.MinValue || h > last) {
              if (last != Long.MinValue) {
                var g = last + 1
                while (g < h) { out += GapOut(g, typ, 0L, 0L, 1L); g += 1 }
              }
              out += GapOut(h, typ, rs.length.toLong, rs.map(_.cents).sum, 0L)
              last = h
            }
          }
          state.update(last)
          out.iterator
      }
  }

  /** Batch face of [[gapFillStream]] (registered as `stream_gap_fill`):
    * the per-type dense hourly series — each type's grid runs from its
    * own first to its own last hour (the live-computable bounds), with
    * exact integer cents (a live ledger re-aggregates downstream).
    *
    * == Scale design ==
    * One scan folds map-side onto the O(types × hours) hourly ledger;
    * the per-type bounds aggregate is O(types), and the grid explode
    * is ledger-sized. The streaming twin holds one long per type.
    */
  def streamGapFill(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("hi"),
        col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
    val hourly = e.groupBy(col("hi"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sc"))
    val bounds = e.groupBy(col("event_type"))
      .agg(min(col("hi")).as("h0"), max(col("hi")).as("h1"))
    bounds
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hi"))
      .join(hourly, Seq("hi", "event_type"), "left")
      .select(col("hi").as("hour_idx"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("sc"), lit(0L)).as("cents"),
        when(col("n").isNull, 1L).otherwise(0L).as("filled"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  val streamGapFillSql: String =
    """WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hi, event_type,
      |    CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |hourly AS (SELECT hi, event_type, count(*) AS n,
      |    CAST(sum(vc) AS BIGINT) AS sc FROM e GROUP BY 1, 2),
      |b AS (SELECT event_type, min(hi) AS h0, max(hi) AS h1 FROM e GROUP BY 1),
      |grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS hi FROM b)
      |SELECT CAST(g.hi AS BIGINT) AS hour_idx, g.event_type,
      |  coalesce(n, 0) AS n_events, coalesce(sc, 0) AS cents,
      |  CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
      |FROM grid g LEFT JOIN hourly h ON h.hi = g.hi AND h.event_type = g.event_type
      |ORDER BY g.event_type, hour_idx""".stripMargin

  // ------------------------------------------------------- live EWMA
  case class EwmaEv(event_type: String, hi: Long)
  /** hi = the OPEN hour; n = its running count; ring = the ≤24 most
    * recent CLOSED hourly counts, most recent first — 26 longs of
    * state per type, the whole memory of the trailing-25 kernel. */
  case class EwmaSt(hi: Long, n: Long, ring: Seq[Long])
  case class EwmaOut(hour_idx: Long, event_type: String, n_events: Long,
                     ewma_scaled: Long)

  /** Live trailing-25 dyadic EWMA (the streaming twin
    * [[graft.operators.Analytics.eventsEwma]] lacked — the smoothed
    * volume curve a monitoring dashboard draws as events arrive): an
    * hour's row emits the moment a LATER hour's first event closes it
    * (the open hour is still accumulating, so its EWMA is not yet
    * defined — the closed-hour contract every live face here uses),
    * gap hours close as exact zeros on the way (the
    * [[gapFillStream]] densification), and the scaled estimate is the
    * same pure-integer Σ n_{t−k}·2^{24−k} as the batch face — no
    * float state, so stream ≡ batch bit-for-bit per closed hour.
    */
  def ewmaStream(stream: Dataset[EwmaEv]): Dataset[EwmaOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaSt, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, evs: Iterator[EwmaEv], state: GroupState[EwmaSt]) =>
          val byHour = evs.toVector.groupBy(_.hi).toVector.sortBy(_._1)
          var st = state.getOption.getOrElse(EwmaSt(Long.MinValue, 0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer[EwmaOut]()
          def scaled(n: Long, ring: Seq[Long]): Long =
            (n << 24) + ring.zipWithIndex.map { case (v, i) => v << (23 - i) }.sum
          byHour.foreach { case (h, rs) =>
            if (st.hi == Long.MinValue) st = EwmaSt(h, rs.length.toLong, Nil)
            else if (h == st.hi) st = st.copy(n = st.n + rs.length)
            else {
              out += EwmaOut(st.hi, typ, st.n, scaled(st.n, st.ring))
              var ring = (st.n +: st.ring).take(24)
              var g = st.hi + 1
              while (g < h) {
                out += EwmaOut(g, typ, 0L, scaled(0L, ring))
                ring = (0L +: ring).take(24)
                g += 1
              }
              st = EwmaSt(h, rs.length.toLong, ring)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[ewmaStream]] (registered as `stream_ewma`): the
    * per-type dense hourly grid over [h0, h1) — the final observed
    * hour is EXCLUDED because it is still open on the live face — with
    * the trailing-25 scaled EWMA as one 25-lag window expression,
    * [[graft.operators.Analytics.eventsEwma]]'s kernel on
    * [[streamGapFill]]'s live-computable per-type bounds.
    *
    * == Scale design ==
    * One scan folds map-side onto the O(types × hours) hourly ledger;
    * the grid explode and the 25-lag window ride that ledger
    * partitioned by type. The live twin holds 26 longs per type.
    */
  def streamEwma(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(s, dir)
      .select(expr("unix_micros(ts) div 3600000000").as("hi"), col("event_type"))
    val hourly = e.groupBy(col("hi"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.groupBy(col("event_type"))
      .agg(min(col("hi")).as("h0"), max(col("hi")).as("h1"))
    val grid = bounds.filter(col("h1") > col("h0"))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1") - 1)).as("hi"))
      .join(hourly, Seq("hi", "event_type"), "left")
      .select(col("hi"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hi"))
    val scaled = (0 to 24).map(k =>
      coalesce(lag(col("n"), k).over(w), lit(0L)) * lit(1L << (24 - k)))
      .reduce(_ + _)
    grid.select(col("hi").as("hour_idx"), col("event_type"),
        col("n").as("n_events"), scaled.as("ewma_scaled"))
      .orderBy(col("event_type"), col("hour_idx"))
  }

  val streamEwmaSql: String = {
    val terms = (0 to 24).map(k =>
      s"coalesce(lag(n, $k) OVER w, 0) * ${1L << (24 - k)}").mkString(" + ")
    s"""WITH e AS (SELECT epoch_us(ts) // 3600000000 AS hi, event_type FROM events),
       |hourly AS (SELECT hi, event_type, count(*) AS n FROM e GROUP BY 1, 2),
       |b AS (SELECT event_type, min(hi) AS h0, max(hi) AS h1 FROM e GROUP BY 1),
       |grid AS (SELECT event_type, unnest(range(h0, h1)) AS hi
       |  FROM b WHERE h1 > h0),
       |g2 AS (SELECT g.hi, g.event_type, coalesce(n, 0) AS n
       |  FROM grid g LEFT JOIN hourly h
       |    ON h.hi = g.hi AND h.event_type = g.event_type)
       |SELECT CAST(hi AS BIGINT) AS hour_idx, event_type,
       |  CAST(n AS BIGINT) AS n_events, CAST($terms AS BIGINT) AS ewma_scaled
       |FROM g2 WINDOW w AS (PARTITION BY event_type ORDER BY hi)
       |ORDER BY event_type, hour_idx""".stripMargin
  }

  // ------------------------------------------------------ live packing
  case class PackDoc(doc_id: Long, n_tokens: Long)
  case class PackSt(off: Long, bin: Long, nDocs: Long, first: Long,
                    last: Long, toks: Long)
  case class PackOut(bin_id: Long, n_docs: Long, first_doc: Long,
                     last_doc: Long, tokens_started: Long)

  /** Live sequence packing (the streaming twin of the packing family):
    * documents arrive in doc_id order (the append-only ingest
    * contract), the packer keeps ONE running token offset and the
    * open 2048-token window's accumulators as state, and emits a
    * window's ledger row the moment a document STARTS past it — the
    * tail-append a kafka-to-training-shards writer actually performs.
    * A document spanning several windows closes only the window it
    * started in (start-offset assignment, [[graft.operators.Curate
    * .packSequential]]'s rule), so skipped interior windows emit
    * nothing on both faces. The final partial window stays open
    * forever — the batch face excludes it for exactly that reason.
    */
  def packStream(stream: Dataset[PackDoc]): Dataset[PackOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_ => 0)
      .flatMapGroupsWithState[PackSt, PackOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, docs: Iterator[PackDoc], state: GroupState[PackSt]) =>
          val sorted = docs.toVector.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(PackSt(0L, 0L, 0L, -1L, -1L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[PackOut]()
          sorted.foreach { d =>
            val startBin = st.off / 2048
            if (startBin > st.bin) {
              if (st.nDocs > 0)
                out += PackOut(st.bin, st.nDocs, st.first, st.last, st.toks)
              st = st.copy(bin = startBin, nDocs = 0L, first = -1L,
                last = -1L, toks = 0L)
            }
            st = PackSt(st.off + d.n_tokens, st.bin, st.nDocs + 1,
              if (st.nDocs == 0L) d.doc_id else st.first, d.doc_id,
              st.toks + d.n_tokens)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[packStream]] (registered as `stream_pack`): the
    * CLOSED-window ledger — per 2048-token window (by start offset,
    * the [[graft.operators.Curate.packSequential]] rule, its offsets
    * helper shared so the faces cannot drift): starting-doc count, the
    * doc-id span, and the started token mass, excluding the final
    * still-open window.
    *
    * == Scale design ==
    * Rides packedOffsets' two-phase range-partitioned prefix sum (no
    * single-task global window); the max-bin aggregate is one scalar
    * broadcast; the rollup is map-side combinable per window. The
    * streaming twin holds six longs of state total.
    */
  def streamPack(s: SparkSession, dir: String): DataFrame = {
    val off = graft.operators.Curate.packedOffsets(s, dir)
      .withColumn("bin_id", expr("tok_offset div 2048"))
    val mb = off.agg(max(col("bin_id")).as("mb"))
    off.crossJoin(broadcast(mb)).filter(col("bin_id") < col("mb"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("n_tokens")).as("tokens_started"))
      .orderBy(col("bin_id"))
  }

  val streamPackSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
      |c AS (SELECT doc_id, n,
      |    sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - n AS off FROM d),
      |s AS (SELECT doc_id, n, CAST(off // 2048 AS BIGINT) AS bin_id FROM c),
      |m AS (SELECT max(bin_id) AS mb FROM s)
      |SELECT bin_id, count(*) AS n_docs, min(doc_id) AS first_doc,
      |  max(doc_id) AS last_doc, CAST(sum(n) AS BIGINT) AS tokens_started
      |FROM s CROSS JOIN m WHERE bin_id < mb GROUP BY 1 ORDER BY bin_id""".stripMargin

  // ------------------------------------------- live revenue attribution
  case class AttrEv(user_id: Long, event_id: Long, us: Long,
                    event_type: String, cents: Long)
  case class AttrOut(day: Long, attributed: String, cents: Long)

  /** Live last-touch revenue attribution (r14 wave 19) — the streaming
    * twin of [[graft.operators.Analytics.eventsAttribution]], the
    * real-time "which channel is earning right now" dashboard: FMGWS
    * state per user is ONE STRING (the last click/view channel seen);
    * each purchase emits a (day, attributed channel, exact cents)
    * credit row, and the running per-(day, channel) sums of those
    * emissions ARE the batch face's daily ledger. State never holds
    * event history — the last-touch rule is Markov by construction.
    */
  def attributionStream(stream: Dataset[AttrEv]): Dataset[AttrOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.user_id)
      .flatMapGroupsWithState[String, AttrOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[AttrEv], state: GroupState[String]) =>
          val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse("")
          val out = scala.collection.mutable.ArrayBuffer[AttrOut]()
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              out += AttrOut(e.us / 86400000000L,
                if (st.isEmpty) "direct" else st, e.cents)
            else if (e.event_type == "click" || e.event_type == "view")
              st = e.event_type
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[attributionStream]] (registered as
    * `stream_attribution`): the per-(day, channel) credited-purchase
    * ledger — `events_attribution`'s identical running last-touch
    * window, grouped by purchase day instead of rolled up corpus-wide,
    * in exact integer cents (the all-time face emits dollars; a live
    * ledger must re-aggregate downstream, so it stays integer).
    *
    * == Scale design ==
    * One user-keyed window over the fact (the attribution family's
    * single shuffle), then a map-side-combinable (day, channel) fold —
    * O(days × channels) out. The streaming twin holds one string per
    * user.
    */
  def streamAttribution(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"), col("event_type"))
    events(s, dir)
      .withColumn("attributed",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("direct")))
      .filter(col("event_type") === "purchase")
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("attributed"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .groupBy(col("day"), col("attributed"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("vc")).as("cents"))
      .orderBy(col("day"), col("attributed"))
  }

  /** DuckDB twin: the shared IGNORE NULLS running-last-touch frame,
    * grouped by day. */
  val streamAttributionSql: String =
    """WITH tagged AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value*100) AS BIGINT) AS vc,
      |    coalesce(last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS attributed
      |  FROM events)
      |SELECT CAST(day AS BIGINT) AS day, attributed, count(*) AS n_purchases,
      |  CAST(sum(vc) AS BIGINT) AS cents
      |FROM tagged WHERE event_type = 'purchase'
      |GROUP BY day, attributed ORDER BY day, attributed""".stripMargin

  // ---------------------------------------------- live anomaly monitor
  case class AnomEv(event_type: String, day: Long, cents: Long)
  case class AnomState(k: Long, s: Long, ss: String)
  case class AnomOut(day: Long, event_type: String, cents: Long,
                     n_prior: Long, z2_micro: Long, anomaly: Long)

  /** Live daily-volume anomaly monitor (r14 wave 19) — the anomaly
    * family's missing live face ([[graft.operators.Analytics.eventsAnomaly]]
    * ranks per-EVENT outliers against full-corpus moments, which a live
    * monitor cannot know): per (event type, closed day), the day's
    * total cents scored against the PREQUENTIAL moments — mean and
    * variance of the type's PRIOR days only, so no future leakage and
    * the score stream is exactly replayable. z² is staged as the exact
    * integer (k·x − S)² · 10⁶ div (k·SS − S²) (the k² scale cancels;
    * numerator squared so always non-negative, no floor-div shift
    * needed); the page fires at z² > 9·10⁶ (|z| > 3). FMGWS state per
    * type is the (k, Σx, Σx²) register triple — Σx² carried as a
    * BigInt string so the live face matches the batch DECIMAL(38,0)
    * staging bit-for-bit at any magnitude.
    */
  def anomalyStream(stream: Dataset[AnomEv]): Dataset[AnomOut] = {
    import stream.sparkSession.implicits._
    stream.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, evs: Iterator[AnomEv], state: GroupState[AnomState]) =>
          // a batch normally carries one closed day, but fold any
          // catch-up days in order so replays stay deterministic
          val byDay = evs.toVector.groupBy(_.day).toVector.sortBy(_._1)
          var st = state.getOption.getOrElse(AnomState(0L, 0L, "0"))
          val out = scala.collection.mutable.ArrayBuffer[AnomOut]()
          byDay.foreach { case (day, rs) =>
            val x = rs.map(_.cents).sum
            val k = BigInt(st.k); val sPri = BigInt(st.s)
            val ssPri = BigInt(st.ss)
            val varN = k * ssPri - sPri * sPri
            val z2 = if (st.k < 2 || varN <= 0) BigInt(0)
              else (BigInt(1000000) * (k * x - sPri) * (k * x - sPri)) / varN
            out += AnomOut(day, typ, x, st.k, z2.toLong,
              if (z2 > 9000000) 1L else 0L)
            st = AnomState(st.k + 1, st.s + x, (ssPri + BigInt(x) * x).toString)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[anomalyStream]] (registered as `stream_anomaly`):
    * the identical prequential score via expanding windows — each
    * (type, day) row scored against the type's prior-day moments.
    *
    * == Scale design ==
    * ONE events scan folds map-side onto the O(types × days) daily
    * ledger (checkpointed); the expanding windows partition by the
    * bounded type alphabet. Products run in DECIMAL(38,0) — exact to
    * ~10¹² daily cents over ~3000 days (documented bound; the BigInt
    * stream state is unbounded). The streaming twin holds three
    * registers per type.
    */
  def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    import org.apache.spark.sql.expressions.Window
    val g = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("cast(round(value * 100) as bigint)").as("vc"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vc")).as("cents"))
      .stableCheckpoint()
    val wPrior = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("n_prior", count(lit(1)).over(wPrior))
      .withColumn("s_prior",
        coalesce(sum(col("cents")).over(wPrior), lit(0L)).cast("decimal(38,0)"))
      .withColumn("ss_prior",
        coalesce(sum(col("cents").cast("decimal(38,0)") * col("cents")
          .cast("decimal(38,0)")).over(wPrior), lit(0).cast("decimal(38,0)")))
      .withColumn("z2_micro", expr(
        """CASE WHEN n_prior < 2
          |    OR n_prior * ss_prior - s_prior * s_prior <= 0 THEN 0
          |ELSE CAST((1000000 * (n_prior * CAST(cents AS DECIMAL(38,0)) - s_prior)
          |           * (n_prior * CAST(cents AS DECIMAL(38,0)) - s_prior))
          |     div (n_prior * ss_prior - s_prior * s_prior) AS BIGINT) END"""
          .stripMargin))
      .select(col("day"), col("event_type"), col("cents"),
        col("n_prior"), col("z2_micro"),
        when(col("z2_micro") > 9000000L, 1L).otherwise(0L).as("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB twin: same daily fold, same excluded-current expanding
    * window, same HUGEINT staging. */
  val streamAnomalySql: String =
    """WITH g AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |p AS (SELECT *,
      |    CAST(count(*) OVER w AS BIGINT) AS n_prior,
      |    CAST(coalesce(sum(cents) OVER w, 0) AS HUGEINT) AS s_prior,
      |    CAST(coalesce(sum(CAST(cents AS HUGEINT) * cents) OVER w, 0) AS HUGEINT) AS ss_prior
      |  FROM g
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT *,
      |    CASE WHEN n_prior < 2
      |        OR n_prior * ss_prior - s_prior * s_prior <= 0 THEN 0
      |      ELSE CAST((1000000 * (n_prior * CAST(cents AS HUGEINT) - s_prior)
      |                 * (n_prior * CAST(cents AS HUGEINT) - s_prior))
      |           // (n_prior * ss_prior - s_prior * s_prior) AS BIGINT) END AS z2_micro
      |  FROM p)
      |SELECT CAST(day AS BIGINT) AS day, event_type, cents,
      |  n_prior, z2_micro,
      |  CAST(CASE WHEN z2_micro > 9000000 THEN 1 ELSE 0 END AS BIGINT) AS anomaly
      |FROM z ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------ decayed bandit
  /** One closed day of the experiment's per-arm distinct-user ledger
    * (the per-(day, arm) fold the batch experiment faces compute). */
  case class BanditEv(day: Long, nA: Long, nB: Long, cA: Long, cB: Long)
  /** Emitted per-day decayed-bandit allocation row: post-update decayed
    * evidence, the day's leader, realized/best rates and regret. */
  case class BanditOut(day: Long, dn_a: Long, dn_b: Long, dconv_a: Long,
                       dconv_b: Long, leader: String, leader_rate_ppm: Long,
                       best_rate_ppm: Long, regret_ppm: Long,
                       cum_regret_ppm: Long)
  case class BanditState(na: Long, ca: Long, nb: Long, cb: Long,
                         cumRegret: Long)

  /** Live nonstationary greedy bandit — the DECAYED twin of
    * [[graft.operators.Analytics.eventsAbBandit]]: the batch face's
    * cumulative posterior assumes a stationary effect, but a live
    * allocator must forget — a regime change would otherwise take as
    * long to un-learn as it took to learn. This face decays the
    * evidence by the dyadic factor ¾ per closed day (⌊s·3/4⌋, exact
    * integer, ≈2.4-day half-life) before folding in the day's counts,
    * so the posterior-mean leader tracks the RECENT effect; the
    * interleaved floors make the recurrence genuinely sequential (no
    * windowed closed form — Σ⌊·⌋ ≠ ⌊Σ·⌋), which is exactly what the
    * five-long FMGWS state is for. Leader reads the PRE-update state
    * (yesterday's evidence allocates today), emitted evidence is
    * post-update; regret accounting is the batch face's.
    *
    * State: five longs under a single group key — the feed is the
    * O(days) closed-day ledger, not the event stream, so the single
    * partition sees ≤ calendar-days rows total.
    */
  def banditStream(stream: Dataset[BanditEv]): Dataset[BanditOut] = {
    import stream.sparkSession.implicits._
    stream
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[BanditState, BanditOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, recs: Iterator[BanditEv], state: GroupState[BanditState]) =>
          var st = state.getOption.getOrElse(BanditState(0L, 0L, 0L, 0L, 0L))
          val out = recs.toSeq.sortBy(_.day).map { r =>
            val leader =
              if ((1 + st.ca) * (2 + st.nb) >= (1 + st.cb) * (2 + st.na)) "a"
              else "b"
            val rA = if (r.nA == 0) 0L else 1000000L * r.cA / r.nA
            val rB = if (r.nB == 0) 0L else 1000000L * r.cB / r.nB
            val lr = if (leader == "a") rA else rB
            val best = math.max(rA, rB)
            st = BanditState(st.na * 3 / 4 + r.nA, st.ca * 3 / 4 + r.cA,
              st.nb * 3 / 4 + r.nB, st.cb * 3 / 4 + r.cB,
              st.cumRegret + (best - lr))
            BanditOut(r.day, st.na, st.nb, st.ca, st.cb, leader, lr, best,
              best - lr, st.cumRegret)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch face of [[banditStream]] (registered as `stream_bandit`):
    * the same decayed recurrence distributed as a higher-order
    * `aggregate` fold over the sorted prior-day array (the
    * [[graft.operators.Analytics.holtFold]] pattern — the interleaved
    * floors have no windowed closed form, so the batch face folds the
    * recurrence too, over the O(days) ledger). One events scan → the
    * per-(day, arm) distinct-user fold (the only corpus-sized
    * shuffle); the calendar-bounded prior arrays, fold, and regret
    * windows all ride the O(days) relation.
    */
  def streamBandit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val byDay = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"),
        (h % 2L).as("armn"), col("event_type"))
      .groupBy(col("day"), col("armn"))
      .agg(countDistinct(col("user_id")).as("n"),
        countDistinct(when(col("event_type") === "purchase", col("user_id")))
          .as("conv"))
      .groupBy(col("day"))
      .agg(
        sum(when(col("armn") === 0L, col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("armn") === 1L, col("n")).otherwise(0L)).as("n_b"),
        sum(when(col("armn") === 0L, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("armn") === 1L, col("conv")).otherwise(0L)).as("conv_b"))
    val wPrior = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("prior", sort_array(collect_list(struct(col("day"),
        col("n_a"), col("conv_a"), col("n_b"), col("conv_b"))).over(wPrior)))
      .withColumn("stp", expr(
        """aggregate(prior,
          |  named_struct('na', CAST(0 AS BIGINT), 'ca', CAST(0 AS BIGINT),
          |               'nb', CAST(0 AS BIGINT), 'cb', CAST(0 AS BIGINT)),
          |  (acc, p) -> named_struct(
          |    'na', (acc.na * 3) div 4 + p.n_a,
          |    'ca', (acc.ca * 3) div 4 + p.conv_a,
          |    'nb', (acc.nb * 3) div 4 + p.n_b,
          |    'cb', (acc.cb * 3) div 4 + p.conv_b))""".stripMargin))
      .withColumn("leader",
        when((lit(1L) + expr("stp.ca")) * (lit(2L) + expr("stp.nb")) >=
          (lit(1L) + expr("stp.cb")) * (lit(2L) + expr("stp.na")), lit("a"))
          .otherwise(lit("b")))
      .withColumn("rate_a_ppm",
        expr("CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) div n_a END"))
      .withColumn("rate_b_ppm",
        expr("CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) div n_b END"))
      .withColumn("leader_rate_ppm",
        when(col("leader") === "a", col("rate_a_ppm")).otherwise(col("rate_b_ppm")))
      .withColumn("best_rate_ppm", greatest(col("rate_a_ppm"), col("rate_b_ppm")))
      .withColumn("regret_ppm", col("best_rate_ppm") - col("leader_rate_ppm"))
      .withColumn("cum_regret_ppm", sum(col("regret_ppm")).over(wRun))
      .select(col("day"),
        expr("(stp.na * 3) div 4 + n_a").as("dn_a"),
        expr("(stp.nb * 3) div 4 + n_b").as("dn_b"),
        expr("(stp.ca * 3) div 4 + conv_a").as("dconv_a"),
        expr("(stp.cb * 3) div 4 + conv_b").as("dconv_b"),
        col("leader"), col("leader_rate_ppm"), col("best_rate_ppm"),
        col("regret_ppm"), col("cum_regret_ppm"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: list-accumulator decayed fold (the struct-accumulator
    * staleness workaround the forecast twins document), same leader
    * cross-multiplication and regret windows. All state nonnegative, so
    * truncating `//` IS floor. */
  val streamBanditSql: String =
    s"""WITH e AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, user_id, event_type,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events),
      |g AS (SELECT day, armn,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS n,
      |    CAST(count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS BIGINT) AS conv
      |  FROM e GROUP BY 1, 2),
      |d AS (SELECT day,
      |    CAST(sum(CASE WHEN armn = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN armn = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM g GROUP BY 1),
      |c AS (SELECT *,
      |    list_reduce(
      |      list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
      |                    CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
      |        COALESCE(list_sort(list([day, n_a, conv_a, n_b, conv_b]) OVER wp),
      |                 CAST([] AS BIGINT[][]))),
      |      (acc, x) -> [CAST(0 AS BIGINT),
      |        (acc[2] * 3) // 4 + x[2], (acc[3] * 3) // 4 + x[3],
      |        (acc[4] * 3) // 4 + x[4], (acc[5] * 3) // 4 + x[5]]) AS stp
      |  FROM d
      |  WINDOW wp AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |l AS (SELECT *,
      |    CASE WHEN (1 + stp[3]) * (2 + stp[4]) >= (1 + stp[5]) * (2 + stp[2])
      |      THEN 'a' ELSE 'b' END AS leader,
      |    CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) // n_a END AS rate_a_ppm,
      |    CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) // n_b END AS rate_b_ppm
      |  FROM c),
      |r AS (SELECT *,
      |    CASE WHEN leader = 'a' THEN rate_a_ppm ELSE rate_b_ppm END AS leader_rate_ppm,
      |    greatest(rate_a_ppm, rate_b_ppm) AS best_rate_ppm
      |  FROM l)
      |SELECT day,
      |  (stp[2] * 3) // 4 + n_a AS dn_a,
      |  (stp[4] * 3) // 4 + n_b AS dn_b,
      |  (stp[3] * 3) // 4 + conv_a AS dconv_a,
      |  (stp[5] * 3) // 4 + conv_b AS dconv_b,
      |  leader, leader_rate_ppm, best_rate_ppm,
      |  best_rate_ppm - leader_rate_ppm AS regret_ppm,
      |  CAST(sum(best_rate_ppm - leader_rate_ppm) OVER
      |    (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_regret_ppm
      |FROM r ORDER BY day""".stripMargin

  // ------------------------------------------- state capacity planner
  /** Streaming state budget (r19 — SCALING.md's streaming-leg table as
    * a REGISTERED, oracle-checked face: "will this corpus's streams
    * fit the state store?" is a capacity question a deployment asks of
    * the DATA, so the engine answers it as a query instead of a doc).
    * One row per registered `stream_*` twin: its state-key domain, the
    * MEASURED key cardinality on this corpus (for NoTimeout FMGWS
    * twins the live upper bound; for watermarked ops the max single-day
    * bound, ≥ any watermark window here), the per-key state-row size
    * (MEASURED UnsafeRow encoder bytes per state class, pinned by
    * StreamingSpec — plus ~48 B store key/version overhead;
    * the two map-valued states, topk's per-type count map and
    * quantile's bucket map, are sized from their measured 17 B/entry
    * rate and the corpus's own bucket drivers), and the
    * product — total live state per stream. The design lesson the
    * ledger makes visible: every per-user state is O(1) fields, so the
    * budget is linear in USERS and never in events — the property that
    * makes a 100 TB event stream hold ~GBs of state, not TBs.
    *
    * r20 adds the BOUNDED-STATE columns: for the user-keyed twins with
    * an event-time-timeout variant ([[sessionizeStreamEventTime]],
    * [[retentionStreamEventTime]], [[funnelStreamEventTime]]),
    * `bounded_keys` prices the live key set AFTER retirement — the
    * max single-day distinct users for the gap-flushed sessionizer,
    * the max trailing-30-day distinct users for the horizon-retired
    * retention/funnel — instead of the all-time user count; every
    * other row's bound is its n_keys (already bounded by key domain
    * or watermark). The gap between state_total_kb and
    * bounded_total_kb is what the timeout twins buy.
    *
    * == Scale design ==
    * TWO column-pruned fact scans — the global and per-day distinct
    * folds group differently, and at 100 TB re-scanning a 4-column
    * projection twice beats materializing a corpus-sized intermediate
    * (the stableCheckpoint convention is for BOUNDED folds, not raw
    * projections) — plus one documents scan for the content-digest
    * count; all three folds are map-side combinable and the per-day
    * maxima ride the bounded day relation. The 31-row stream spec is a
    * broadcast literal and everything after the folds is O(streams)
    * arithmetic. Pairs with the RocksDB provider config SCALING.md
    * prescribes (and StreamingSpec pins).
    */
  def streamStateBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select(
      col("user_id"), col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("cast(round(value*100) as bigint)").as("cents"))
    val dayMax = ev.groupBy(col("day"))
      .agg(count(lit(1)).as("ev_c"),
        countDistinct(col("user_id"), col("event_type")).as("ut_c"),
        countDistinct(expr("cents div 64")).as("qb_c"),
        countDistinct(col("user_id")).as("du_c"))
      .agg(max(col("ev_c")).as("max_day_events"),
        max(col("ut_c")).as("max_day_user_type"),
        max(col("qb_c")).as("max_day_buckets"),
        max(col("du_c")).as("max_day_users"))
    // bounded-state driver for the 30-day-horizon timeout twins
    // (retentionStreamEventTime / funnelStreamEventTime): the max
    // trailing-30-day distinct-user count — the live key set once
    // retired users leave the store. The (user, day) dedupe is the
    // thin relation; the window join rides the bounded day list.
    val ud = ev.select(col("user_id"), col("day")).distinct()
    val m30 = ud.select(col("day").as("d")).distinct()
      .join(ud, col("day").between(col("d") - 29L, col("d")))
      .groupBy(col("d")).agg(countDistinct(col("user_id")).as("u30"))
      .agg(max(col("u30")).as("max_30d_users"))
    val glob = ev.agg(
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_types"),
      countDistinct(col("day")).as("n_days"),
      countDistinct(col("day"), col("event_type")).as("n_day_types"),
      countDistinct(expr("cents div 5000")).as("n_vbuckets"))
    val sha = graft.sources.Tables.load(s, dir, "documents")
      .agg(countDistinct(sha2(col("text"), 256)).as("n_digests"))
    val drivers = glob.crossJoin(dayMax).crossJoin(sha).crossJoin(m30)
    // (stream key, state-key domain, cardinality driver, bytes/key);
    // bytes 0 = map-valued state, sized from measured drivers below
    val spec = Seq(
      ("stream_sessionize", "user", "n_users", 96L, "max_day_users"),
      ("stream_retention", "user", "n_users", 216L, "max_30d_users"),
      ("stream_funnel", "user", "n_users", 80L, "max_30d_users"),
      ("stream_late_data", "user", "n_users", 64L, "live"),
      ("stream_ab_lift", "user", "n_users", 72L, "live"),
      ("stream_uplift", "user", "n_users", 88L, "live"),
      ("stream_did", "user", "n_users", 72L, "live"),
      ("stream_attribution", "user", "n_users", 72L, "live"),
      ("stream_merge_delete", "user", "n_users", 80L, "live"),
      ("stream_scd1", "user", "n_users", 72L, "live"),
      ("stream_scd2", "user", "n_users", 88L, "live"),
      ("stream_dedup", "user_type_watermark", "max_day_user_type", 88L, "live"),
      ("stream_interval_join", "event_buffer_watermark", "max_day_events", 96L, "live"),
      ("stream_cas_dedup", "content_digest", "n_digests", 128L, "live"),
      ("stream_forecast", "event_type", "n_types", 80L, "live"),
      ("stream_cusum", "event_type", "n_types", 64L, "live"),
      ("stream_gap_fill", "event_type", "n_types", 64L, "live"),
      ("stream_ewma", "event_type", "n_types", 288L, "live"),
      ("stream_anomaly", "event_type", "n_types", 96L, "live"),
      ("stream_window_agg", "live_hour_windows", "windows_live", 80L, "live"),
      ("stream_dau", "day", "n_days", 592L, "live"),
      ("stream_quantile", "day", "n_days", 0L, "live"),
      ("stream_topk", "day", "n_days", 0L, "live"),
      ("stream_drift", "day_feature", "n_day_types", 80L, "live"),
      ("stream_value_histogram", "value_bucket", "n_vbuckets", 104L, "live"),
      ("stream_cms_cells", "sketch_cells", "cms", 80L, "live"),
      ("stream_hll_registers", "sketch_registers", "hll", 80L, "live"),
      ("stream_frame_churn", "canvas_cell", "canvas", 72L, "live"),
      ("stream_pack", "global", "global", 104L, "live"),
      ("stream_bandit", "global", "global", 96L, "live"),
      ("stream_enrich", "stateless", "zero", 0L, "live"))
      .toDF("stream_key", "key_domain", "driver", "bytes0", "bdriver")
    broadcast(spec).crossJoin(drivers)
      .withColumn("n_keys",
        when(col("driver") === "n_users", col("n_users"))
          .when(col("driver") === "n_types", col("n_types"))
          .when(col("driver") === "n_days", col("n_days"))
          .when(col("driver") === "n_day_types", col("n_day_types"))
          .when(col("driver") === "n_vbuckets", col("n_vbuckets"))
          .when(col("driver") === "n_digests", col("n_digests"))
          .when(col("driver") === "max_day_events", col("max_day_events"))
          .when(col("driver") === "max_day_user_type", col("max_day_user_type"))
          .when(col("driver") === "windows_live", lit(3L) * col("n_types"))
          .when(col("driver") === "cms", lit(4096L))
          .when(col("driver") === "hll", lit(64L))
          .when(col("driver") === "canvas", lit(1400L * 1000L))
          .when(col("driver") === "global", lit(1L))
          .otherwise(lit(0L)))
      .withColumn("state_bytes",
        when(col("stream_key") === "stream_topk",
          lit(56L) + lit(17L) * col("n_types"))
          .when(col("stream_key") === "stream_quantile",
            lit(56L) + lit(17L) * col("max_day_buckets"))
          .otherwise(col("bytes0")))
      .withColumn("bounded_keys",
        when(col("bdriver") === "max_day_users", col("max_day_users"))
          .when(col("bdriver") === "max_30d_users", col("max_30d_users"))
          .otherwise(col("n_keys")))
      .select(col("stream_key"), col("key_domain"), col("n_keys"),
        col("state_bytes"),
        expr("n_keys * state_bytes div 1024").as("state_total_kb"),
        col("bounded_keys"),
        expr("bounded_keys * state_bytes div 1024").as("bounded_total_kb"))
      .orderBy(col("stream_key"))
  }

  /** DuckDB twin: the same two cardinality folds and the identical
    * 31-row literal spec, joined and sized with the same arithmetic. */
  val streamStateBudgetSql: String = {
    val rows = Seq(
      ("stream_sessionize", "user", "n_users", 96L, "max_day_users"),
      ("stream_retention", "user", "n_users", 216L, "max_30d_users"),
      ("stream_funnel", "user", "n_users", 80L, "max_30d_users"),
      ("stream_late_data", "user", "n_users", 64L, "live"),
      ("stream_ab_lift", "user", "n_users", 72L, "live"),
      ("stream_uplift", "user", "n_users", 88L, "live"),
      ("stream_did", "user", "n_users", 72L, "live"),
      ("stream_attribution", "user", "n_users", 72L, "live"),
      ("stream_merge_delete", "user", "n_users", 80L, "live"),
      ("stream_scd1", "user", "n_users", 72L, "live"),
      ("stream_scd2", "user", "n_users", 88L, "live"),
      ("stream_dedup", "user_type_watermark", "max_day_user_type", 88L, "live"),
      ("stream_interval_join", "event_buffer_watermark", "max_day_events", 96L, "live"),
      ("stream_cas_dedup", "content_digest", "n_digests", 128L, "live"),
      ("stream_forecast", "event_type", "n_types", 80L, "live"),
      ("stream_cusum", "event_type", "n_types", 64L, "live"),
      ("stream_gap_fill", "event_type", "n_types", 64L, "live"),
      ("stream_ewma", "event_type", "n_types", 288L, "live"),
      ("stream_anomaly", "event_type", "n_types", 96L, "live"),
      ("stream_window_agg", "live_hour_windows", "windows_live", 80L, "live"),
      ("stream_dau", "day", "n_days", 592L, "live"),
      ("stream_quantile", "day", "n_days", 0L, "live"),
      ("stream_topk", "day", "n_days", 0L, "live"),
      ("stream_drift", "day_feature", "n_day_types", 80L, "live"),
      ("stream_value_histogram", "value_bucket", "n_vbuckets", 104L, "live"),
      ("stream_cms_cells", "sketch_cells", "cms", 80L, "live"),
      ("stream_hll_registers", "sketch_registers", "hll", 80L, "live"),
      ("stream_frame_churn", "canvas_cell", "canvas", 72L, "live"),
      ("stream_pack", "global", "global", 104L, "live"),
      ("stream_bandit", "global", "global", 96L, "live"),
      ("stream_enrich", "stateless", "zero", 0L, "live"))
      .map { case (k, d, dr, b, bd) => s"('$k', '$d', '$dr', $b, '$bd')" }
      .mkString(",\n    ")
    s"""WITH ev AS (SELECT user_id, event_type,
       |    epoch_us(ts) // 86400000000 AS day,
       |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
       |pd AS (SELECT day, count(*) AS ev_c,
       |    count(DISTINCT (user_id, event_type)) AS ut_c,
       |    count(DISTINCT cents // 64) AS qb_c,
       |    count(DISTINCT user_id) AS du_c FROM ev GROUP BY day),
       |dm AS (SELECT max(ev_c) AS max_day_events,
       |    max(ut_c) AS max_day_user_type,
       |    max(qb_c) AS max_day_buckets,
       |    max(du_c) AS max_day_users FROM pd),
       |ud AS (SELECT DISTINCT user_id, day FROM ev),
       |m30 AS (SELECT max(u30) AS max_30d_users FROM (
       |    SELECT d, count(DISTINCT user_id) AS u30
       |    FROM (SELECT DISTINCT day AS d FROM ud) dys
       |    JOIN ud ON ud.day BETWEEN d - 29 AND d GROUP BY d)),
       |g AS (SELECT count(DISTINCT user_id) AS n_users,
       |    count(DISTINCT event_type) AS n_types,
       |    count(DISTINCT day) AS n_days,
       |    count(DISTINCT (day, event_type)) AS n_day_types,
       |    count(DISTINCT cents // 5000) AS n_vbuckets FROM ev),
       |sh AS (SELECT count(DISTINCT sha256(text)) AS n_digests FROM documents),
       |d AS (SELECT * FROM g CROSS JOIN dm CROSS JOIN sh CROSS JOIN m30),
       |spec(stream_key, key_domain, driver, bytes0, bdriver) AS (VALUES
       |    $rows),
       |r AS (SELECT s.stream_key, s.key_domain,
       |    CAST(CASE s.driver
       |      WHEN 'n_users' THEN d.n_users
       |      WHEN 'n_types' THEN d.n_types
       |      WHEN 'n_days' THEN d.n_days
       |      WHEN 'n_day_types' THEN d.n_day_types
       |      WHEN 'n_vbuckets' THEN d.n_vbuckets
       |      WHEN 'n_digests' THEN d.n_digests
       |      WHEN 'max_day_events' THEN d.max_day_events
       |      WHEN 'max_day_user_type' THEN d.max_day_user_type
       |      WHEN 'windows_live' THEN 3 * d.n_types
       |      WHEN 'cms' THEN 4096
       |      WHEN 'hll' THEN 64
       |      WHEN 'canvas' THEN 1400000
       |      WHEN 'global' THEN 1
       |      ELSE 0 END AS BIGINT) AS n_keys,
       |    CAST(CASE s.stream_key
       |      WHEN 'stream_topk' THEN 56 + 17 * d.n_types
       |      WHEN 'stream_quantile' THEN 56 + 17 * d.max_day_buckets
       |      ELSE s.bytes0 END AS BIGINT) AS state_bytes,
       |    CAST(CASE s.bdriver
       |      WHEN 'max_day_users' THEN d.max_day_users
       |      WHEN 'max_30d_users' THEN d.max_30d_users
       |      ELSE NULL END AS BIGINT) AS bk0
       |  FROM spec s CROSS JOIN d)
       |SELECT stream_key, key_domain, n_keys, state_bytes,
       |  n_keys * state_bytes // 1024 AS state_total_kb,
       |  COALESCE(bk0, n_keys) AS bounded_keys,
       |  COALESCE(bk0, n_keys) * state_bytes // 1024 AS bounded_total_kb
       |FROM r ORDER BY stream_key""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_state_budget" -> streamStateBudget,
    "stream_bandit" -> streamBandit,
    "stream_anomaly" -> streamAnomaly,
    "stream_attribution" -> streamAttribution,
    "stream_gap_fill" -> streamGapFill,
    "stream_ewma" -> streamEwma,
    "stream_quantile" -> streamQuantile,
    "stream_value_histogram" -> streamValueHistogram,
    "stream_cas_dedup" -> streamCasDedup,
    "stream_forecast" -> streamForecast,
    "stream_cms_cells" -> streamCmsCells,
    "stream_hll_registers" -> streamHllRegisters,
    "stream_dau" -> streamDau,
    "stream_ab_lift" -> streamAbLift,
    "stream_uplift" -> streamUplift,
    "stream_did" -> streamDid,
    "stream_funnel" -> streamFunnel,
    "stream_drift" -> streamDrift,
    "stream_pack" -> streamPack,
    "stream_late_data" -> streamLateData,
    "stream_cusum" -> streamCusum,
    "stream_frame_churn" -> streamFrameChurn,
    "stream_topk" -> streamTopk,
    "stream_window_agg" -> streamWindowAgg,
    "stream_sessionize" -> streamSessionize,
    "stream_dedup" -> streamDedup,
    "stream_enrich" -> streamEnrich,
    "stream_retention" -> streamRetention,
    "stream_interval_join" -> streamIntervalJoin,
    "stream_scd1" -> streamScd1,
    "stream_scd2" -> streamScd2,
    "stream_merge_delete" -> streamMergeDelete)

  /** DuckDB twin of the flatMapGroups fold: the window-function
    * formulation produces the same sessions, so the stateful batch
    * face is oracle-checked too.
    */
  val streamSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |f AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM e),
      |g AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  (max(us) - min(us))/1000000.0 AS duration_sec,
      |  sum(vc)/100.0 AS session_value
      |FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "stream_state_budget" -> streamStateBudgetSql,
    "stream_anomaly" -> streamAnomalySql,
    "stream_attribution" -> streamAttributionSql,
    "stream_gap_fill" -> streamGapFillSql,
    "stream_ewma" -> streamEwmaSql,
    "stream_quantile" -> streamQuantileSql,
    "stream_value_histogram" -> streamValueHistogramSql,
    "stream_cas_dedup" -> streamCasDedupSql,
    "stream_bandit" -> streamBanditSql,
    "stream_forecast" -> streamForecastSql,
    "stream_cms_cells" -> streamCmsCellsSql,
    "stream_hll_registers" -> streamHllRegistersSql,
    "stream_dau" -> streamDauSql,
    "stream_ab_lift" -> streamAbLiftSql,
    "stream_uplift" -> streamUpliftSql,
    "stream_did" -> streamDidSql,
    "stream_funnel" -> streamFunnelSql,
    "stream_drift" -> streamDriftSql,
    "stream_pack" -> streamPackSql,
    "stream_late_data" -> streamLateDataSql,
    "stream_cusum" -> streamCusumSql,
    "stream_frame_churn" -> streamFrameChurnSql,
    "stream_topk" -> streamTopkSql,
    "stream_window_agg" -> streamWindowAggSql,
    "stream_sessionize" -> streamSessionizeSql,
    "stream_dedup" -> streamDedupSql,
    "stream_enrich" -> streamEnrichSql,
    "stream_retention" -> streamRetentionSql,
    "stream_interval_join" -> streamIntervalJoinSql,
    "stream_scd1" -> streamScd1Sql,
    "stream_scd2" -> streamScd2Sql,
    "stream_merge_delete" -> streamMergeDeleteSql)
}
