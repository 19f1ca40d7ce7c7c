package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.Checkpoints.StableSyntax

/** Behavioral / event-session operators: sessionization, funnels,
  * retention/cohort/LTV, lifecycle, survival, Markov paths, attribution,
  * RFM, co-occurrence, event-property pivots and late-data audits.
  * Mixed into [[Analytics]]; split from Analytics.scala in r17 (pure
  * refactor).
  */
trait AnalyticsSessions extends AnalyticsBase {
  /** Pivot event_type → columns. Expressed as conditional aggregation
    * (what Pivot lowers to) so empty cells are 0 on both engines.
    */
  def pivotEvents(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val aggs = types.map(tp =>
      sum(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"n_$tp")) :+
      (sum(cents(col("value"))) / 100.0).as("total_value")
    events(s, dir).groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("user_id"))
  }

  val pivotEventsSql: String =
    """SELECT user_id,
      |  CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ----------------------------------------------------------- rollup
  /** Tumbling 1-hour window aggregation over event time. Bounded key
    * space (hours × types) ⇒ map-side partial agg absorbs the stream.
    */
  def eventsTumbling(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("sum_value"))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val eventsTumblingSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Sliding 1-hour window (15-min slide) aggregation: each event
    * contributes to 4 windows. Spark's window() generator handles the
    * fan-out; the oracle replays it by unnesting slide indices 0..3.
    * Key space stays bounded (windows × types) ⇒ map-side combine.
    */
  def eventsSliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val eventsSlidingSql: String =
    """WITH slid AS (
      |  SELECT event_type, value,
      |    to_timestamp((epoch_us(ts) // 900000000)*900 - k.k*900) AS window_start
      |  FROM events, (SELECT unnest(range(4)) AS k) k)
      |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
      |FROM slid GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Gap-based sessionization, 30-minute gap: lag → new-session flag →
    * cumulative sum ⇒ session id; then one grouped agg per session.
    * Micros are exact integers on both engines. Skewed hot users are
    * handled by AQE skew-join/partition split at scale.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val order = Seq(col("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(order: _*)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"), cents(col("value")).as("vc"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        fmtTs(min(col("ts"))).as("session_start"),
        fmtTs(max(col("ts"))).as("session_end"),
        ((max(col("us")) - min(col("us"))) / 1000000.0).as("duration_sec"),
        (sum(col("vc")) / 100.0).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |g AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
      |  (max(us) - min(us))/1000000.0 AS duration_sec,
      |  sum(vc)/100.0 AS session_value
      |FROM g GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // --------------------------------------------------------- as-of join
  /** Cohort retention matrix: users bucketed by first-activity day,
    * counted per (cohort day, day offset) — the classic retention
    * triangle. Two grouped passes over (user, day) distinct pairs;
    * shuffle keys are bounded (users, then days²/2).
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val d = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    d.join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(fmtDay(col("cohort_day")).as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val eventsRetentionSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
      |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
      |  date_diff('day', c.cohort_day, d.day) AS day_offset,
      |  count(DISTINCT d.user_id) AS n_users
      |FROM d JOIN c ON c.user_id = d.user_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------------- cohort LTV
  /** Cohort LTV curve (r14 wave 10) — the MONEY face of
    * [[eventsRetention]]'s activity triangle: per first-activity-day
    * cohort × day offset, purchase revenue in exact integer cents,
    * the running cumulative, and cumulative LTV per cohort user
    * (integer-cents div) — the payback-curve table growth finance
    * reads against acquisition cost. Offsets appear where the cohort
    * actually purchased; the cumulative window makes each row the
    * authoritative "LTV through day o".
    *
    * == Scale design ==
    * One scan feeds both the O(users) cohort fold and the purchase
    * leg; the cumulative window partitions on cohort_day over the
    * O(days²/2) grouped triangle — never event-sized; cohort sizes
    * (O(days)) broadcast onto it.
    */
  def eventsCohortLtv(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    // ONE fact scan folds to the checkpointed (user, day) grain —
    // purchase cents pre-summed per day — feeding the cohort fold,
    // the sizes, and the purchase triangle (was 6 parquet scans)
    val d = events(s, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "purchase", cents(col("value")))
        .otherwise(0L)).as("v"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"))
      .stableCheckpoint()
    val cohort = d.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = cohort.groupBy(col("cohort_day")).agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    d.filter(col("np") > 0)
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(sum(col("v")).as("cents"))
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .join(broadcast(sizes), "cohort_day")
      .select(fmtDay(col("cohort_day")).as("cohort_day"), col("day_offset"),
        col("n_users"), col("cents"), col("cum_cents"),
        expr("cum_cents div n_users").as("ltv_cents_per_user"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val eventsCohortLtvSql: String =
    """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1),
      |sz AS (SELECT cohort_day, count(*) AS n_users FROM c GROUP BY 1),
      |p AS (SELECT c.cohort_day,
      |    date_diff('day', c.cohort_day, d.day) AS day_offset,
      |    CAST(sum(v) AS BIGINT) AS cents
      |  FROM d JOIN c ON c.user_id = d.user_id
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |cum AS (SELECT *, CAST(sum(cents) OVER (PARTITION BY cohort_day
      |    ORDER BY day_offset) AS BIGINT) AS cum_cents FROM p)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
      |  n_users, cents, cum_cents, cum_cents // n_users AS ltv_cents_per_user
      |FROM cum JOIN sz USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin

  // -------------------------------------------- growth accounting
  /** Daily growth accounting — the new / retained / resurrected /
    * churned decomposition of the active-user curve (the standard
    * DAU-quality report): per calendar day, how many active users are
    * first-ever-seen (`n_new`), were active yesterday (`n_retained`),
    * return after a gap (`n_resurrected`); `n_churned(d)` counts users
    * active on d−1 but not d, so each day's identity
    * `active(d) = active(d−1) + new + resurrected − churned` holds.
    * The final day's drop-off lands on max_day+1 — a churn-only row.
    *
    * == Scale design ==
    * distinct (user, day) is one map-side-combinable shuffle; the
    * lag/lead classification windows partition on user_id —
    * high-cardinality, skew-free, never a global sort; the day rollup
    * is a bounded-alphabet aggregate (O(days) rows). One event scan
    * feeds everything.
    */
  def eventsUserLifecycle(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val x = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("next_day", lead(col("day"), 1).over(w))
    val act = x.groupBy(col("day")).agg(
      sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(datediff(col("day"), col("prev_day")) === 1, 1L)
        .otherwise(0L)).as("n_retained"),
      sum(when(col("prev_day").isNotNull
          && datediff(col("day"), col("prev_day")) > 1, 1L)
        .otherwise(0L)).as("n_resurrected"))
    val churn = x
      .filter(col("next_day").isNull
        || datediff(col("next_day"), col("day")) > 1)
      .groupBy(date_add(col("day"), 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "full_outer")
      .select(fmtDay(col("day")).as("day"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  val eventsUserLifecycleSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |x AS (SELECT user_id, day,
      |  lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
      |  lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day FROM d),
      |a AS (SELECT day,
      |  CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  CAST(sum(CASE WHEN date_diff('day', prev_day, day) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |  CAST(sum(CASE WHEN prev_day IS NOT NULL AND date_diff('day', prev_day, day) > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM x GROUP BY day),
      |c AS (SELECT day + 1 AS day, count(*) AS n_churned FROM x
      |  WHERE next_day IS NULL OR date_diff('day', day, next_day) > 1 GROUP BY 1)
      |SELECT strftime(coalesce(a.day, c.day), '%Y-%m-%d') AS day,
      |  coalesce(n_new, 0) AS n_new, coalesce(n_retained, 0) AS n_retained,
      |  coalesce(n_resurrected, 0) AS n_resurrected,
      |  coalesce(n_churned, 0) AS n_churned
      |FROM a FULL OUTER JOIN c ON a.day = c.day
      |ORDER BY day""".stripMargin

  // ----------------------------------------------------- survival
  /** Discrete survival curve with right-CENSORING (r14) — the
    * Kaplan-Meier-flavored counting face beside [[eventsRetention]]'s
    * cohort triangle: per day offset o (0..13), the users AT RISK
    * (first activity ≥ o days before the log end, so their o-day
    * outcome is observable) versus the users whose activity span
    * (last − first day) reached o, and survival in exact ppm. The
    * censoring discipline is the point: a user who first appeared 3
    * days before the log end never counts against 7-day survival —
    * naive lifespan histograms understate survival exactly by that
    * censored mass, which is why churn dashboards built on them read
    * low in every growing product.
    *
    * == Scale design ==
    * ONE event scan folds to the O(users) first/last relation
    * (map-side combinable min/max); that folds again onto the
    * O(first-day × lifespan) joint grid — bounded by days², corpus
    * independent — and the 14-row offset relation cross-joins the
    * GRID, not the users. The 1-row log-end aggregate broadcasts.
    */
  def eventsSurvival(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    // checkpointed: the O(users) span relation feeds both the joint
    // grid and the log-end anchor — one fact scan, not two
    val u = events(s, dir)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("fd"), max(to_date(col("ts"))).as("ld"))
      .stableCheckpoint()
    val grid = u
      .groupBy(col("fd"), datediff(col("ld"), col("fd")).cast("long").as("lifespan"))
      .agg(count(lit(1)).as("n_users"))
    val logend = u.agg(max(col("ld")).as("logend"))
    val offs = s.range(0, 14).select(col("id").as("day_offset"))
    grid.crossJoin(broadcast(logend)).crossJoin(broadcast(offs))
      .filter(datediff(col("logend"), col("fd")) >= col("day_offset"))
      .groupBy(col("day_offset"))
      .agg(sum(col("n_users")).as("n_at_risk"),
        sum(when(col("lifespan") >= col("day_offset"), col("n_users"))
          .otherwise(0L)).as("n_survived"))
      .select(col("day_offset"), col("n_at_risk"), col("n_survived"),
        expr("n_survived * 1000000 div n_at_risk").as("survival_ppm"))
      .orderBy(col("day_offset"))
  }

  val eventsSurvivalSql: String =
    """WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS fd,
      |    max(CAST(ts AS DATE)) AS ld FROM events GROUP BY 1),
      |le AS (SELECT max(ld) AS logend FROM u),
      |o AS (SELECT unnest(range(0, 14)) AS day_offset)
      |SELECT o.day_offset, count(*) AS n_at_risk,
      |  CAST(sum(CASE WHEN date_diff('day', fd, ld) >= o.day_offset
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_survived,
      |  (CAST(sum(CASE WHEN date_diff('day', fd, ld) >= o.day_offset
      |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // count(*) AS survival_ppm
      |FROM u CROSS JOIN le CROSS JOIN o
      |WHERE date_diff('day', fd, logend) >= o.day_offset
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------- funnel
  /** Ordered conversion funnel per user: first `view`, first `click`
    * AFTER that view, first `purchase` after that click — the staged
    * progression query product analytics runs. Three stages, each a
    * user-keyed equi-join whose left side is O(users) (the per-user
    * stage timestamps), with the event-type filters pushed to the
    * scans; users stalled at a stage carry nulls.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
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
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        fmtTs(col("t_view")).as("t_view"),
        fmtTs(col("t_click")).as("t_click"),
        fmtTs(col("t_purchase")).as("t_purchase"))
      .orderBy(col("user_id"))
  }

  val eventsFunnelSql: String =
    """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT v.user_id, min(e.ts) AS t_click FROM v JOIN events e
      |  ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t_view GROUP BY v.user_id),
      |p AS (SELECT c.user_id, min(e.ts) AS t_purchase FROM c JOIN events e
      |  ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY c.user_id)
      |SELECT v.user_id,
      |  strftime(v.t_view, '%Y-%m-%d %H:%M:%S.%f') AS t_view,
      |  strftime(c.t_click, '%Y-%m-%d %H:%M:%S.%f') AS t_click,
      |  strftime(p.t_purchase, '%Y-%m-%d %H:%M:%S.%f') AS t_purchase
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      |LEFT JOIN p ON p.user_id = v.user_id
      |ORDER BY v.user_id""".stripMargin

  // ------------------------------------------- conversion velocity
  /** Conversion-velocity report (r14 wave 12) — the TIME dimension of
    * [[eventsFunnel]]'s staged progression: for each stage pair
    * (view→click, click→purchase, view→purchase), how many users
    * converted and the p50/p90 latency in whole seconds at the exact
    * rank ⌈q·n⌉ ([[stream_quantile]]'s convention, fully tie-broken by
    * (latency, user_id)) — the dashboard that distinguishes "the
    * funnel converts" from "the funnel converts this quarter".
    * Latencies derive from the same first-view/first-click-after/
    * first-purchase-after stage times the funnel face pins.
    *
    * == Scale design ==
    * The stage relations collapse to O(users) min-aggregations (the
    * funnel shape already audited); the three-pair stack and its rank
    * windows run on ≤3×users thin rows partitioned by stage pair —
    * never the event log.
    */
  def eventsFunnelTime(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t_view"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("uc"), unix_micros(col("ts")).as("tsc"))
    val c = v.join(clicks, col("uc") === col("user_id") && col("tsc") > col("t_view"))
      .groupBy(col("user_id"), col("t_view")).agg(min(col("tsc")).as("t_click"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("up"), unix_micros(col("ts")).as("tsp"))
    val p = c.join(purchases, col("up") === col("user_id") && col("tsp") > col("t_click"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(col("tsp")).as("t_purchase"))
    val lat = c.select(lit("view_click").as("stage_pair"), col("user_id"),
        expr("(t_click - t_view) div 1000000").as("lat_s"))
      .unionByName(p.select(lit("click_purchase").as("stage_pair"), col("user_id"),
        expr("(t_purchase - t_click) div 1000000").as("lat_s")))
      .unionByName(p.select(lit("view_purchase").as("stage_pair"), col("user_id"),
        expr("(t_purchase - t_view) div 1000000").as("lat_s")))
    val wr = Window.partitionBy(col("stage_pair")).orderBy(col("lat_s"), col("user_id"))
    lat.withColumn("rk", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("stage_pair"))))
      .groupBy(col("stage_pair"))
      .agg(max(col("n")).cast("long").as("n_users"),
        max(when(col("rk") === expr("(n + 1) div 2"), col("lat_s"))).as("p50_s"),
        max(when(col("rk") === expr("(9 * n + 9) div 10"), col("lat_s"))).as("p90_s"))
      .orderBy(col("stage_pair"))
  }

  val eventsFunnelTimeSql: String =
    """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t_view FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT v.user_id, v.t_view, min(epoch_us(e.ts)) AS t_click
      |  FROM v JOIN events e ON e.user_id = v.user_id
      |    AND e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
      |  GROUP BY v.user_id, v.t_view),
      |p AS (SELECT c.user_id, c.t_view, c.t_click, min(epoch_us(e.ts)) AS t_purchase
      |  FROM c JOIN events e ON e.user_id = c.user_id
      |    AND e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
      |  GROUP BY c.user_id, c.t_view, c.t_click),
      |lat AS (
      |  SELECT 'view_click' AS stage_pair, user_id, (t_click - t_view) // 1000000 AS lat_s FROM c
      |  UNION ALL
      |  SELECT 'click_purchase', user_id, (t_purchase - t_click) // 1000000 FROM p
      |  UNION ALL
      |  SELECT 'view_purchase', user_id, (t_purchase - t_view) // 1000000 FROM p),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY stage_pair ORDER BY lat_s, user_id) AS rk,
      |    count(*) OVER (PARTITION BY stage_pair) AS n FROM lat)
      |SELECT stage_pair, CAST(max(n) AS BIGINT) AS n_users,
      |  max(CASE WHEN rk = (n + 1) // 2 THEN lat_s END) AS p50_s,
      |  max(CASE WHEN rk = (9 * n + 9) // 10 THEN lat_s END) AS p90_s
      |FROM r GROUP BY stage_pair ORDER BY stage_pair""".stripMargin

  // ------------------------------------------ markov steady state
  /** 6-step state distribution of the session transition chain (r14
    * wave 12) — [[graphPagerank]]'s fixed-point discipline applied to
    * [[eventsMarkov]]'s matrix: starting uniform over the observed
    * types, push mass through the exact integer transition recurrence
    * π_{k+1}(t) = Σ_f π_k(f)·n(f,t) div rowtotal(f) for 6 rounds in
    * pico units — "where do sessions end up", the long-run engagement
    * mix behind the one-step matrix. Fixed rounds make the contract
    * replayable (no convergence test to diverge across engines);
    * integer-division dust decays Σπ slightly per round, exactly as
    * the pagerank face documents. Types with no outgoing transitions
    * evaporate their mass by the same recurrence on both engines.
    *
    * == Scale design ==
    * ONE fact scan (the lag window) folds to the checkpointed
    * O(types²) matrix; all 6 rounds run on that and the O(types)
    * vector — broadcast-scale, corpus-free. π·n products ride
    * DECIMAL(38,0)/HUGEINT (pico-mass × corpus-sized counts overflows
    * int64 past ~10⁷ transitions).
    */
  def eventsMarkovSteady(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val PI = 1000000000000L
    val GAP = 1800000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val trans = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("from_type").isNotNull && col("us") - col("prev_us") <= GAP)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rt", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .stableCheckpoint()
    // states is referenced by EVERY power-iteration layer (and pi's
    // plan nests 6 deep), so without materialization the union +
    // distinct subtree re-executes per layer — checkpointing the
    // O(|alphabet|) relation collapses 12 duplicated subtrees
    val states = trans.select(col("from_type").as("t"))
      .union(trans.select(col("to_type"))).distinct()
      .stableCheckpoint()
    val nn = states.agg(count(lit(1)).as("k"))
    var pi = states.crossJoin(broadcast(nn))
      .select(col("t"), expr(s"${PI}L div k").as("pi"))
    for (_ <- 1 to 6) {
      val inflow = trans.join(pi, col("from_type") === col("t"))
        .groupBy(col("to_type"))
        .agg(sum(expr("cast(pi as decimal(38,0)) * n div rt")).as("pin"))
      pi = states.join(inflow, states("t") === col("to_type"), "left")
        .select(col("t"), coalesce(col("pin"), lit(0L)).as("pi"))
    }
    pi.select(col("t").as("event_type"), col("pi").as("pi_pico"),
        expr("pi div 1000000").as("pi_ppm"))
      .orderBy(col("event_type"))
  }

  val eventsMarkovSteadySql: String = {
    val iters = (1 to 6).map { k =>
      s"p$k AS (SELECT s.t, coalesce(i.pin, 0) AS pi FROM s LEFT JOIN " +
        s"(SELECT t.to_type, CAST(sum(CAST(p${k - 1}.pi AS HUGEINT) * t.n // t.rt) AS BIGINT) AS pin" +
        s" FROM t JOIN p${k - 1} ON t.from_type = p${k - 1}.t GROUP BY t.to_type) i" +
        s" ON i.to_type = s.t)"
    }.mkString(",\n")
    s"""WITH x AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS from_type,
       |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
       |  FROM events),
       |tr AS (SELECT from_type, event_type AS to_type, count(*) AS n FROM x
       |  WHERE from_type IS NOT NULL AND us - prev_us <= 1800000000
       |  GROUP BY 1, 2),
       |t AS MATERIALIZED (SELECT *,
       |    CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS rt FROM tr),
       |s AS (SELECT DISTINCT from_type AS t FROM t
       |  UNION SELECT DISTINCT to_type FROM t),
       |kk AS (SELECT count(*) AS k FROM s),
       |p0 AS (SELECT s.t, 1000000000000 // kk.k AS pi FROM s CROSS JOIN kk),
       |$iters
       |SELECT t AS event_type, CAST(pi AS BIGINT) AS pi_pico,
       |  CAST(pi AS BIGINT) // 1000000 AS pi_ppm
       |FROM p6 ORDER BY event_type""".stripMargin
  }

  // ----------------------------------------------- gap histogram
  /** Inter-event gap histogram in log₂ buckets (r14 wave 14) — the
    * knob-setting query behind the 30-minute session gap every
    * session-bounded face ([[sessionize]], [[eventsMarkov]],
    * [[eventsPaths]]) hard-codes: per-user consecutive gaps in whole
    * seconds, bucketed by ⌊log₂(gap+1)⌋ (binary-digit counting, no
    * float log), with exact-ppm share, ascending cumulative, and the
    * per-bucket share of gaps above the 1800 s cut — the table that
    * shows whether the cut sits in the valley of the bimodal
    * within-session / between-session gap distribution (the same
    * justify-the-constant discipline as [[Dedup.dedupThresholdCurve]]).
    *
    * == Scale design ==
    * ONE fact scan through the user-partitioned lag window (the
    * markov shuffle); the fold lands on ≤ ~40 log buckets map-side,
    * and every share/cumulative runs on that O(40) ledger.
    */
  def eventsGapHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(expr("(us - prev_us) div 1000000").as("gap_s"))
    val hist = gaps
      .groupBy((length(bin(col("gap_s") + 1)) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("gap_s") > 1800L, 1L).otherwise(0L)).as("n_over_cut"))
    val cum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("tot", sum(col("n")).over(wAll))
      .withColumn("cn", sum(col("n")).over(cum))
      .select(col("bucket"),
        (pow(lit(2), col("bucket")).cast("long") - 1).as("lo_s"),
        col("n"), col("n_over_cut"),
        expr("n * 1000000 div tot").as("share_ppm"),
        expr("cn * 1000000 div tot").as("cum_ppm"))
      .orderBy(col("bucket"))
  }

  val eventsGapHistogramSql: String =
    """WITH x AS (SELECT user_id, event_id, epoch_us(ts) AS us,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events),
      |g AS (SELECT (us - prev_us) // 1000000 AS gap_s FROM x
      |  WHERE prev_us IS NOT NULL),
      |h AS (SELECT CAST(length(bin(gap_s + 1)) - 1 AS BIGINT) AS bucket,
      |    count(*) AS n,
      |    CAST(sum(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cut
      |  FROM g GROUP BY 1),
      |c AS (SELECT *,
      |    CAST(sum(n) OVER () AS BIGINT) AS tot,
      |    CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS cn
      |  FROM h)
      |SELECT bucket, CAST(power(2, bucket) AS BIGINT) - 1 AS lo_s,
      |  n, n_over_cut,
      |  n * 1000000 // tot AS share_ppm,
      |  cn * 1000000 // tot AS cum_ppm
      |FROM c ORDER BY bucket""".stripMargin

  // ----------------------------------------- native session windows
  /** Gap sessionization via Spark's NATIVE `session_window` operator —
    * the built-in face beside the explicit lag/cumsum [[sessionize]]
    * (and the streaming flatMapGroupsWithState fold): one
    * SessionWindow aggregation, mergeable and watermark-compatible, so
    * the identical expression runs batch and streaming. Session end is
    * last event + gap (Spark's window semantics: a new event merges
    * while it starts strictly BEFORE the current window end, i.e. a
    * gap ≥ 30 min splits).
    */
  def eventsSessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        (sum(cents(col("value"))) / 100.0).as("session_value"))
      .select(col("user_id"),
        fmtTs(col("session_window.start")).as("session_start"),
        fmtTs(col("session_window.end")).as("session_end"),
        col("n_events"), col("session_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Oracle: the lag/cumsum gap fold with the NATIVE boundary rule
    * (split at gap ≥ 30 min, window end = last + 30 min). */
  val eventsSessionWindowSql: String =
    """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us,
      |  CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |f AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000 THEN 1 ELSE 0 END AS new_s FROM e),
      |g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
      |SELECT user_id,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
      |  count(*) AS n_events, sum(vc)/100.0 AS session_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // --------------------------------------------- partition-pruned scan
  /** Markov transition matrix over session paths: for every consecutive
    * same-session event pair (≤30-min gap, the [[sessionize]] contract),
    * count (from_type → to_type) transitions and the per-from-state
    * probability in exact integer ppm — the path-analysis aggregate
    * behind "what do users do after a view?". Probabilities are
    * n·10⁶ div Σn (both positive, so floor = truncate and the engines
    * agree bit-for-bit).
    *
    * == Scale design ==
    * ONE window shuffle on user_id produces the lagged pairs (the same
    * partitioning every session op rides); the transition aggregate
    * collapses map-side onto O(types²) ≤ 25 keys, and the row-total
    * window runs on that tiny relation — nothing after the lag scales
    * with the corpus.
    */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame = {
    val GAP = 1800000000L // 30 min in micros
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val e = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
    val trans = e
      .filter(col("from_type").isNotNull && col("us") - col("prev_us") <= GAP)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000000 div row_total").as("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  // ---------------------------------------------------- active users
  /** Rolling active-user dashboard (r14 — the DAU/WAU page every
    * product log feeds, exact, beside [[eventsRetention]]'s cohort
    * view): per observed day, distinct daily actives (DAU), distinct
    * trailing-7-day actives (WAU), and DAU/WAU stickiness in exact
    * ppm. The window is computed by CONTRIBUTION, not by self-join:
    * each (user, active day) row fans out to the ≤7 future days it
    * keeps the user active for, and WAU is a distinct count per
    * target day — no day-range join against the fact, no
    * O(days²) grid.
    *
    * == Scale design ==
    * ONE scan dedupes to the (user, day) relation — bounded by
    * users × days, far below event volume — then the ×7 fan-out and
    * both distinct counts shuffle only that thin relation. Days
    * outside the observed span are clipped via a broadcast 1-row
    * max-day.
    */
  def eventsMauWau(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val ud = events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
      .stableCheckpoint()
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud
      .select(col("user_id"), col("day"),
        explode(sequence(col("day"), col("day") + 6)).as("target"))
      .join(broadcast(maxDay), lit(true))
      .filter(col("target") <= col("max_day"))
      .groupBy(col("target").as("day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("1000000 * dau div wau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  val eventsMauWauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS day FROM events),
      |md AS (SELECT max(day) AS max_day FROM ud),
      |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM ud GROUP BY 1),
      |f AS (SELECT DISTINCT user_id, day + unnest(range(0, 7)) AS target FROM ud),
      |wau AS (SELECT f.target AS day, CAST(count(DISTINCT f.user_id) AS BIGINT) AS wau
      |  FROM f CROSS JOIN md WHERE f.target <= md.max_day GROUP BY 1)
      |SELECT dau.day, dau.dau, wau.wau,
      |  (1000000 * dau.dau) // wau.wau AS stickiness_ppm
      |FROM dau JOIN wau ON wau.day = dau.day
      |ORDER BY dau.day""".stripMargin

  // ------------------------------------------------- forecast backtest
  /** Top user-journey paths (r14): the three-step sequence report
    * behind [[eventsMarkov]]'s one-step transition matrix — the
    * product question "what do users actually DO, in order?" answered
    * as the top-20 session-bounded event-type trigrams with exact
    * counts and exact-ppm share of all qualifying trigrams. The same
    * 30-minute step gap as the Markov face bounds each hop, so a path
    * never spans a session boundary; ranking is a total order
    * (n desc, then the three steps) so both engines pick one list.
    *
    * == Scale design ==
    * ONE user-keyed shuffle (the window); trigram enumeration is two
    * `lead`s inside that single window pass — no self-join on the
    * fact. The path relation is bounded by |type-alphabet|³, so the
    * count rollup, the share total and the rank all run on a tiny
    * relation; only the window touches event volume.
    */
  def eventsPaths(s: SparkSession, dir: String): DataFrame = {
    val GAP = 1800000000L // 30 min in micros
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val e = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("us2", lead(col("us"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .withColumn("us3", lead(col("us"), 2).over(w))
    val paths = e
      .filter(col("t3").isNotNull &&
        col("us2") - col("us") <= GAP && col("us3") - col("us2") <= GAP)
      .groupBy(col("event_type").as("step1"), col("t2").as("step2"),
        col("t3").as("step3"))
      .agg(count(lit(1)).as("n"))
    val rw = Window.orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
    paths
      .withColumn("share_ppm", expr("n * 1000000 div sum(n) over ()"))
      .withColumn("rank", row_number().over(rw).cast("long"))
      .filter(col("rank") <= 20)
      .select(col("rank"), col("step1"), col("step2"), col("step3"),
        col("n"), col("share_ppm"))
      .orderBy(col("rank"))
  }

  val eventsPathsSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |f AS (SELECT *,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t2,
      |    lead(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS us2,
      |    lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS t3,
      |    lead(us, 2) OVER (PARTITION BY user_id ORDER BY us, event_id) AS us3
      |  FROM e),
      |p AS (SELECT event_type AS step1, t2 AS step2, t3 AS step3, count(*) AS n
      |  FROM f WHERE t3 IS NOT NULL AND us2 - us <= 1800000000 AND us3 - us2 <= 1800000000
      |  GROUP BY 1, 2, 3),
      |r AS (SELECT *,
      |    (n * 1000000) // CAST(sum(n) OVER () AS BIGINT) AS share_ppm,
      |    CAST(row_number() OVER (ORDER BY n DESC, step1, step2, step3) AS BIGINT) AS rank
      |  FROM p)
      |SELECT rank, step1, step2, step3, n, share_ppm
      |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin

  val eventsMarkovSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |f AS (SELECT *,
      |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type,
      |    lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
      |  FROM e),
      |t AS (SELECT from_type, event_type AS to_type, count(*) AS n
      |  FROM f WHERE from_type IS NOT NULL AND us - prev_us <= 1800000000
      |  GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  (n * 1000000) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
      |FROM t ORDER BY from_type, to_type""".stripMargin

  // -------------------------------------------------- AQE-ready hot join
  /** Market-basket co-occurrence over sessions: which event types show
    * up together in the same session, with support (sessions containing
    * both) and integer-ppm lift (observed co-rate over the
    * independence-assumption rate). Session assignment is the same
    * 30-minute-gap rule as [[sessionize]]. Lift is computed entirely in
    * integer arithmetic — support·N·10⁶ runs through DECIMAL(38,0)
    * (HUGEINT on the oracle side) before the integral division, so no
    * intermediate overflows at any corpus size and both engines emit
    * the same bigint.
    *
    * == Scale design ==
    * The distinct (session, type) relation is the only corpus-sized
    * intermediate; the pair join self-joins WITHIN a session key
    * (user_id, session_id), so its cost is Σ k²  per session over
    * k ≤ |event-type alphabet| — bounded per session, shuffle keyed by
    * session. The per-type counts and session total are tiny aggregates
    * broadcast back onto the O(alphabet²) pair relation.
    */
  def eventsCooccurrence(s: SparkSession, dir: String): DataFrame = {
    val GAP = 1800000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) > GAP, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
      // eager localCheckpoint, not .cache(): four consumers (tot,
      // perType, both self-join sides) share one materialization and
      // ContextCleaner frees the blocks when the plan is GC'd — no
      // CacheManager entry to leak across an inventory replay
      .stableCheckpoint()
    val tot = sess.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val perType = sess.groupBy(col("event_type")).agg(count(lit(1)).as("nt"))
    sess.as("a")
      .join(sess.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.session_id") === col("b.session_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("support"))
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("nt").as("na"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("nt").as("nb"))), Seq("type_b"))
      .crossJoin(broadcast(tot))
      // divisor widened too: na·nb in bare LONG wraps past ~3·10⁹
      // sessions per type (Spark wraps silently, DuckDB errors — the
      // one divergence class the exact-integer contract must avoid)
      .select(col("type_a"), col("type_b"), col("support"),
        expr("CAST(support AS DECIMAL(38,0)) * n_sessions * 1000000" +
          " div (CAST(na AS DECIMAL(38,0)) * nb)").as("lift_ppm"))
      .orderBy(col("support").desc, col("type_a"), col("type_b"))
  }

  val eventsCooccurrenceSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
      |f AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |g AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f),
      |s AS (SELECT DISTINCT user_id, session_id, event_type FROM g),
      |tot AS (SELECT count(*) AS n_sessions
      |  FROM (SELECT DISTINCT user_id, session_id FROM s)),
      |pt AS (SELECT event_type, count(*) AS nt FROM s GROUP BY 1),
      |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS support
      |  FROM s a JOIN s b ON a.user_id = b.user_id
      |    AND a.session_id = b.session_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, support,
      |  CAST((CAST(support AS HUGEINT) * t.n_sessions * 1000000)
      |    // (CAST(pa.nt AS HUGEINT) * pb.nt) AS BIGINT) AS lift_ppm
      |FROM pr CROSS JOIN tot t
      |JOIN pt pa ON pa.event_type = type_a
      |JOIN pt pb ON pb.event_type = type_b
      |ORDER BY support DESC, type_a, type_b""".stripMargin

  // ------------------------------------------------------ HLL replay
  /** A HyperLogLog whose ESTIMATE is hash-checkable: 64 registers over
    * an affine hash (the [[aggHeavyHitters]] lane family), register
    * rank from binary-digit counting, and the harmonic mean computed
    * EXACTLY — Σ 2^(−M[j]) is held as the integer Σ 2^(26−M[j]) over
    * the common denominator 2²⁶, so the α·m² correction is one integer
    * division and both engines emit the same bigint milli-estimate.
    * This is the full-replay complement to the native
    * `approx_count_distinct` sketch (declared rows-only): same sketch
    * idea, zero opaque state. The empty-register count v_empty is
    * emitted alongside so a consumer can apply the standard
    * linear-counting small-range correction (m·ln(m/V) — a float step
    * that deliberately stays OUT of the hash-checked contract).
    *
    * == Scale design ==
    * The register table is 64 rows built by one map-side-combinable
    * max-aggregation over the distinct-user relation; everything after
    * is O(m). State is fixed at any corpus size — the whole point of
    * the sketch. (The affine hash wraps past ~10⁹ user ids — same
    * stated bound as the CMS face.)
    */
  /** Association drift: [[eventsCooccurrence]]'s lift re-computed per
    * DAY (sessions bounded to their calendar day) with each pair's
    * day-over-day change — the "did this behavioral association shift"
    * monitor a pipeline runs between snapshots. The delta compares
    * against the pair's previous OBSERVED day (lag over observed rows,
    * not a dense calendar); the first observation emits null prev/delta.
    * All lift math stays exact integer ppm through DECIMAL(38,0) /
    * HUGEINT as in the parent face.
    *
    * == Scale design ==
    * The session window gains `day` in its partition key (finer
    * partitions than the parent — strictly better parallelism); all
    * per-day marginals group the distinct (day, session, type) relation
    * and broadcast back onto the O(days · alphabet²) pair relation, and
    * the drift lag windows over THAT bounded relation, never the
    * corpus.
    */
  def eventsCooccurrenceDrift(s: SparkSession, dir: String): DataFrame = {
    val GAP = 1800000000L
    val w = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), fmtDay(col("ts")).as("day"))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) > GAP, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(wRun))
      .select(col("day"), col("user_id"), col("session_id"), col("event_type"))
      .distinct()
      // eager localCheckpoint, not .cache() — same leak-free sharing
      // rationale as the parent co-occurrence face
      .stableCheckpoint()
    val tot = sess.select(col("day"), col("user_id"), col("session_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_sessions"))
    val perType = sess.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("nt"))
    val lift = sess.as("a")
      .join(sess.as("b"),
        col("a.day") === col("b.day")
          && col("a.user_id") === col("b.user_id")
          && col("a.session_id") === col("b.session_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.day").as("day"),
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("support"))
      .join(broadcast(perType.select(col("day"), col("event_type").as("type_a"),
        col("nt").as("na"))), Seq("day", "type_a"))
      .join(broadcast(perType.select(col("day"), col("event_type").as("type_b"),
        col("nt").as("nb"))), Seq("day", "type_b"))
      .join(broadcast(tot), Seq("day"))
      .select(col("day"), col("type_a"), col("type_b"), col("support"),
        expr("CAST(support AS DECIMAL(38,0)) * n_sessions * 1000000" +
          " div (CAST(na AS DECIMAL(38,0)) * nb)").as("lift_ppm"))
    val wDrift = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("day"))
    lift
      .withColumn("prev_lift_ppm", lag(col("lift_ppm"), 1).over(wDrift))
      .withColumn("delta_ppm", col("lift_ppm") - col("prev_lift_ppm"))
      .orderBy(col("type_a"), col("type_b"), col("day"))
  }

  val eventsCooccurrenceDriftSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    strftime(ts, '%Y-%m-%d') AS day FROM events),
      |f AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id, day ORDER BY us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |g AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id, day ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f),
      |s AS (SELECT DISTINCT day, user_id, session_id, event_type FROM g),
      |tot AS (SELECT day, count(*) AS n_sessions
      |  FROM (SELECT DISTINCT day, user_id, session_id FROM s) GROUP BY 1),
      |pt AS (SELECT day, event_type, count(*) AS nt FROM s GROUP BY 1, 2),
      |pr AS (SELECT a.day, a.event_type AS type_a, b.event_type AS type_b,
      |    count(*) AS support
      |  FROM s a JOIN s b ON a.day = b.day AND a.user_id = b.user_id
      |    AND a.session_id = b.session_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2, 3),
      |lf AS (SELECT pr.day, type_a, type_b, support,
      |    CAST((CAST(support AS HUGEINT) * t.n_sessions * 1000000)
      |      // (CAST(pa.nt AS HUGEINT) * pb.nt) AS BIGINT) AS lift_ppm
      |  FROM pr JOIN tot t ON t.day = pr.day
      |  JOIN pt pa ON pa.day = pr.day AND pa.event_type = type_a
      |  JOIN pt pb ON pb.day = pr.day AND pb.event_type = type_b)
      |SELECT day, type_a, type_b, support, lift_ppm,
      |  lag(lift_ppm) OVER (PARTITION BY type_a, type_b ORDER BY day) AS prev_lift_ppm,
      |  lift_ppm - lag(lift_ppm) OVER (PARTITION BY type_a, type_b ORDER BY day) AS delta_ppm
      |FROM lf ORDER BY type_a, type_b, day""".stripMargin

  // -------------------------------------------------------- grouping sets
  /** Scan-side JSON path extraction over the events `props` column —
    * the semi-structured face every log pipeline needs: pull `$.k`
    * out of the JSON blob at scan time, then aggregate it exactly
    * (all-integer stats, so the oracle hash-matches bit-for-bit).
    *
    * == Scale design ==
    * `get_json_object` is a codegen'd expression evaluated inside the
    * scan's projection — the JSON never survives past the map side,
    * and the aggregation state is O(event types). At 100 TB the blob
    * parse is the dominant cost and it is embarrassingly parallel;
    * nothing here shuffles more than the final tiny exchange.
    */
  def eventsPropsJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), count(col("k")).as("n_with_k"),
        sum(col("k")).as("k_sum"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"))
      .orderBy(col("event_type"))

  // TRY_CAST, not CAST: Spark's non-ANSI cast yields NULL on a
  // non-numeric `$.k`, so the oracle must null-on-invalid too — strict
  // CAST would error where the operator quietly skips, and the two
  // would diverge on the first malformed blob.
  val eventsPropsJsonSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      |  CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
      |  min(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
      |  max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  // ------------------------------------------- equi-width histogram
  /** Equi-width value histogram: 50-dollar buckets over the event
    * value, bucket id by EXACT integer division of cents (values are
    * non-negative, so long division IS floor — no float boundary can
    * misfile a row, unlike width_bucket on doubles).
    *
    * == Scale design ==
    * The canonical map-side-combinable shape: per-partition partial
    * counts over O(buckets) cells, one tiny final exchange. This is
    * the histogram you compute over 100 TB without thinking about it;
    * the exact-cents bucket key is what keeps the cross-engine hash
    * stable.
    */
  def eventsValueHistogram(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(expr("CAST(round(value*100) AS BIGINT) div 5000").as("bucket"),
        cents(col("value")).as("vc"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc").cast("decimal(38,0)")).cast("double") / 100.0).as("value_sum"),
        (min(col("vc")) / 100.0).as("value_min"),
        (max(col("vc")) / 100.0).as("value_max"))
      .orderBy(col("bucket"))

  val eventsValueHistogramSql: String =
    """SELECT CAST(round(value*100) AS BIGINT) // 5000 AS bucket,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(CAST(round(value*100) AS BIGINT) AS HUGEINT)) AS DOUBLE)/100.0 AS value_sum,
      |  min(CAST(round(value*100) AS BIGINT))/100.0 AS value_min,
      |  max(CAST(round(value*100) AS BIGINT))/100.0 AS value_max
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // --------------------------------------------- last-touch attribution
  /** Last-touch conversion attribution: each purchase is credited to
    * the user's most recent PRECEDING click or view (ties broken by
    * event_id), or "direct" when no touch precedes it. The canonical
    * marketing-analytics shape: one windowed pass tags every event with
    * its running last touch, then only purchases survive into a tiny
    * grouped rollup (credited purchases, exact-cents value, distinct
    * users per channel).
    *
    * == Scale design ==
    * ONE shuffle on user_id feeds the window (running `last` over an
    * UNBOUNDED PRECEDING..1 PRECEDING frame is O(1) state per row —
    * no frame rescans), and the rollup that follows is
    * map-side-combinable into O(channels)=3 rows. No self-join of
    * events against events, which is the naive formulation that
    * explodes quadratically on power users at 100 TB.
    */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin("click", "view"), col("event_type"))
    events(s, dir)
      .withColumn("attributed",
        coalesce(last(touch, ignoreNulls = true).over(w), lit("direct")))
      .filter(col("event_type") === "purchase")
      .groupBy(col("attributed"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(cents(col("value")).cast("decimal(38,0)")).cast("double") / 100.0)
          .as("attributed_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("attributed"))
  }

  /** DuckDB twin: `last_value(x IGNORE NULLS)` over the identical
    * frame; the (ts, event_id) tiebreak makes the running last touch
    * engine-exact even under equal timestamps.
    */
  val eventsAttributionSql: String =
    """WITH tagged AS (
      |  SELECT event_type, user_id, CAST(round(value*100) AS BIGINT) AS vc,
      |    coalesce(last_value(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS attributed
      |  FROM events)
      |SELECT attributed, count(*) AS n_purchases,
      |  CAST(sum(CAST(vc AS HUGEINT)) AS DOUBLE)/100.0 AS attributed_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM tagged WHERE event_type = 'purchase'
      |GROUP BY attributed ORDER BY attributed""".stripMargin

  // ----------------------------------------- multi-touch attribution
  /** Multi-touch attribution — the production question behind
    * [[eventsAttribution]]'s last-touch shortcut: every purchase's
    * value is SPLIT across all its prior touches (click/view events
    * of the same user within a 7-day lookback), under two standard
    * credit schemes emitted side by side:
    *
    *   - `linear`  — equal weight per touch;
    *   - `decay`   — weight ∝ the touch's time-order position (later
    *     touches earn proportionally more — the exact-integer
    *     rendition of time-decay credit).
    *
    * Credits are EXACT INTEGER CENTS via the largest-remainder
    * machinery ([[graft.operators.Curate.sampleQuota]]'s Hamilton
    * apportionment applied per purchase): base = ⌊V·w/W⌋, the
    * leftover cents go to the largest fractional remainders
    * ((rem desc, position) tiebreak), so per purchase the credits sum
    * to the purchase cents EXACTLY — the spec replays the
    * conservation law per scheme. Touchless purchases credit
    * `direct` whole.
    *
    * == Scale design ==
    * The touch enumeration is a user-keyed range join (the
    * [[joinRange]] shape) with the 7-day lookback bounding the
    * fan-out — the window every production attribution job caps at.
    * All credit windows partition on (scheme, purchase id) — maximal
    * key cardinality, P-way parallel, one hash partitioning reused
    * across the three window passes. V·w stays far inside int64 (V ≤
    * 10⁶ cents, w ≤ touches-per-purchase).
    */
  def eventsAttributionMulti(s: SparkSession, dir: String): DataFrame = {
    val LOOKBACK_US = 7L * 24 * 3600 * 1000000
    val e = events(s, dir).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"), col("event_type"), cents(col("value")).as("vc"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_eid"), col("us").as("p_us"), col("vc"))
    val t = e.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("t_eid"), col("us").as("t_us"),
        col("event_type").as("channel"))
    // the touch enumeration is checkpointed: the credit windows, the
    // direct-purchase anti join and the final rollup all reuse it
    // instead of re-running the range join (three consumers)
    val j = p.join(t, Seq("user_id"))
      .filter(col("t_us") < col("p_us") && col("t_us") >= col("p_us") - LOOKBACK_US)
      .select(col("p_eid"), col("vc"), col("channel"), col("t_us"), col("t_eid"))
      .stableCheckpoint()
    val perP = Window.partitionBy(col("p_eid"))
    val k = j.withColumn("k", count(lit(1)).over(perP))
      .withColumn("r", row_number().over(
        perP.orderBy(col("t_us"), col("t_eid"))).cast("long"))
    val st = k.select(col("p_eid"), col("vc"), col("channel"), col("r"), expr(
      "stack(2, 'linear', CAST(1 AS BIGINT), k, 'decay', r, k * (k + 1) div 2)" +
        " AS (scheme, w, tw)"))
      .select(col("p_eid"), col("vc"), col("channel"), col("r"),
        col("scheme"), col("w"), col("tw"))
    val perSP = Window.partitionBy(col("scheme"), col("p_eid"))
    val cr = st
      .withColumn("base", expr("(vc * w) div tw"))
      .withColumn("rem", expr("(vc * w) % tw"))
      .withColumn("leftover", col("vc") - sum(col("base")).over(perSP))
      .withColumn("rr", row_number().over(
        perSP.orderBy(col("rem").desc, col("r"))).cast("long"))
      .select(col("scheme"), col("channel"), col("p_eid"),
        (col("base") + when(col("rr") <= col("leftover"), 1L).otherwise(0L))
          .as("credit"))
    val schemes = s.createDataFrame(Seq(Tuple1("linear"), Tuple1("decay")))
      .toDF("scheme")
    val direct = p.join(j.select(col("p_eid")).distinct(), Seq("p_eid"), "left_anti")
      .crossJoin(broadcast(schemes))
      .select(col("scheme"), lit("direct").as("channel"), col("p_eid"),
        col("vc").as("credit"))
    cr.union(direct)
      .groupBy(col("scheme"), col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        countDistinct(col("p_eid")).as("n_purchases"),
        sum(col("credit")).as("credit_cents"))
      .orderBy(col("scheme"), col("channel"))
  }

  /** DuckDB twin: same lookback join, same per-purchase Hamilton
    * split, same two stacked schemes. */
  val eventsAttributionMultiSql: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
      |    CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |p AS (SELECT user_id, event_id AS p_eid, us AS p_us, vc FROM e
      |  WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_id AS t_eid, us AS t_us, event_type AS channel
      |  FROM e WHERE event_type IN ('click','view')),
      |j AS (SELECT p.p_eid, p.vc, t.channel, t.t_us, t.t_eid
      |  FROM p JOIN t ON t.user_id = p.user_id
      |   AND t.t_us < p.p_us AND t.t_us >= p.p_us - 604800000000),
      |k AS (SELECT *, CAST(count(*) OVER (PARTITION BY p_eid) AS BIGINT) AS k,
      |    CAST(row_number() OVER (PARTITION BY p_eid ORDER BY t_us, t_eid) AS BIGINT) AS r
      |  FROM j),
      |st AS (SELECT p_eid, vc, channel, r, 'linear' AS scheme,
      |    CAST(1 AS BIGINT) AS w, k AS tw FROM k
      |  UNION ALL SELECT p_eid, vc, channel, r, 'decay', r, k*(k+1)//2 FROM k),
      |c AS (SELECT *, (vc * w) // tw AS base, (vc * w) % tw AS rem FROM st),
      |l AS (SELECT *,
      |    vc - CAST(sum(base) OVER (PARTITION BY scheme, p_eid) AS BIGINT) AS leftover,
      |    CAST(row_number() OVER (PARTITION BY scheme, p_eid ORDER BY rem DESC, r) AS BIGINT) AS rr
      |  FROM c),
      |cr AS (SELECT scheme, channel, p_eid,
      |    base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS credit FROM l),
      |d AS (SELECT s.scheme, 'direct' AS channel, p.p_eid, p.vc AS credit
      |  FROM p CROSS JOIN (SELECT 'linear' AS scheme UNION ALL SELECT 'decay') s
      |  WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.p_eid = p.p_eid)),
      |a AS (SELECT * FROM cr UNION ALL SELECT * FROM d)
      |SELECT scheme, channel, count(*) AS n_credits,
      |  count(DISTINCT p_eid) AS n_purchases,
      |  CAST(sum(credit) AS BIGINT) AS credit_cents
      |FROM a GROUP BY 1, 2 ORDER BY scheme, channel""".stripMargin

  // ----------------------------------------------------- RFM segments
  /** RFM user segmentation: recency (calendar days from the user's
    * last event to the corpus max, both cast to DATE so day counting
    * is integer on both engines), frequency (purchase count) and
    * monetary (exact purchase cents) quintile-scored with ntile(5)
    * under fully tiebroken total orders, concatenated into the classic
    * "545"-style segment label.
    *
    * == Scale design ==
    * One grouped pass over events (map-side combinable into one row
    * per user), a broadcast of the single-row max-ts anchor, then ONE
    * quintile scoring of the USER table. The user table is much
    * smaller than the event log but NOT bounded (~10⁸ users at 100 TB
    * of events), so a global `ntile(5)` window — which funnels every
    * user into ONE sort task, three times over — is replaced by the
    * two-phase range-partitioned rank ([[globalRowPos]]). Rather than
    * three chained rank passes (whose ~4 shuffle stages each would
    * SERIALIZE into a 12-stage critical path), the per-user relation
    * is melted into one row per (user, metric) — recency negated so
    * all three orders read ascending — and a single [[globalRowPos]]
    * with `partKeys = __metric` ranks all three metrics in one
    * range pass: slices span metric boundaries freely because the
    * offset ledger is keyed per (slice, metric). Quintiles are then
    * [[ntileAt]] bucket arithmetic on (position, n) and a groupBy
    * pivot folds the three scores back to one row per user. Critical
    * path = ONE rank pass regardless of metric count; the melt
    * triples the ranked relation (3U rows) but every stage stays
    * P-way parallel. The ntile SQL stays as the oracle. The
    * (metric, value, user_id) tiebreaks make every quintile boundary
    * deterministic cross-engine.
    */
  /** Revenue-concentration audit (r14 wave 27 — the inequality lens
    * beside [[aggHeavyHitters]]' who-are-the-whales list: HOW
    * concentrated is the spend, per event type): per type, each
    * user's revenue cents ranked ascending under the (x, user_id)
    * total order, the Gini coefficient computed EXACTLY as
    * 10⁶·(2·Σi·xᵢ − (n+1)·Σxᵢ) div (n·Σxᵢ) — the closed form of the
    * sorted-values Gini, staged in DECIMAL(38,0)/HUGEINT so the
    * Σi·xᵢ cross product survives any corpus decade — beside the
    * top-decile revenue share in exact ppm (the "top 10 % of users
    * drive X % of revenue" number a monetization review quotes). A
    * type whose gini rises epoch-over-epoch is concentrating risk
    * into fewer payers; the exact-integer staging is what lets that
    * comparison be a hash-stable diff rather than a float drift.
    *
    * == Scale design ==
    * ONE scan folds map-side onto the checkpointed O(types × users)
    * per-user revenue relation; the rank window partitions BY TYPE
    * (parallel across types — at one hot type the same rank
    * decomposes through [[globalRowPos]]); the ledger is O(types).
    */
  def eventsGini(s: SparkSession, dir: String): DataFrame = {
    val ux = events(s, dir)
      .select(col("event_type"), col("user_id"), cents(col("value")).as("vc"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("vc")).as("x"))
      .stableCheckpoint()
    val w = Window.partitionBy(col("event_type")).orderBy(col("x"), col("user_id"))
    val r = ux
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("nt", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    r.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_users"),
        sum(col("x")).as("total_cents"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * i")).as("a"),
        sum(when(col("i") > col("nt") - expr("nt div 10"), col("x"))
          .otherwise(0L)).as("topx"))
      .select(col("event_type"), col("n_users"), col("total_cents"),
        expr("CAST((2 * a - (n_users + 1) * CAST(total_cents AS DECIMAL(38,0)))" +
          " * 1000000 div (n_users * CAST(total_cents AS DECIMAL(38,0))) AS BIGINT)")
          .as("gini_ppm"),
        expr("CAST(CAST(topx AS DECIMAL(38,0)) * 1000000" +
          " div CAST(total_cents AS DECIMAL(38,0)) AS BIGINT)").as("top_decile_ppm"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: same total order, same closed form, HUGEINT staged. */
  val eventsGiniSql: String =
    """WITH e AS (SELECT event_type, user_id,
      |    CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |ux AS (SELECT event_type, user_id, CAST(sum(vc) AS BIGINT) AS x
      |  FROM e GROUP BY 1, 2),
      |r AS (SELECT *,
      |    row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i,
      |    count(*) OVER (PARTITION BY event_type) AS nt FROM ux)
      |SELECT event_type, count(*) AS n_users,
      |  CAST(sum(x) AS BIGINT) AS total_cents,
      |  CAST((2 * sum(CAST(x AS HUGEINT) * i)
      |      - (count(*) + 1) * CAST(sum(x) AS HUGEINT)) * 1000000
      |    // (count(*) * CAST(sum(x) AS HUGEINT)) AS BIGINT) AS gini_ppm,
      |  CAST(CAST(sum(CASE WHEN i > nt - nt // 10 THEN x ELSE 0 END) AS HUGEINT)
      |    * 1000000 // CAST(sum(x) AS HUGEINT) AS BIGINT) AS top_decile_ppm
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val anchor = e.agg(max(col("ts")).as("t_max"))
    val per = e.groupBy(col("user_id")).agg(
      max(col("ts")).as("t_last"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("frequency"),
      sum(when(col("event_type") === "purchase", cents(col("value"))).otherwise(0L))
        .as("monetary_c"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        datediff(col("t_max").cast("date"), col("t_last").cast("date"))
          .cast("long").as("recency_days"),
        col("frequency"), col("monetary_c"))
    // Melt to (user, metric, sort value); recency quintiles order DESC,
    // so its sort value is negated (safe: day counts never reach
    // Long.MinValue) to share the one ascending range pass.
    val melted = per.select(col("user_id"), explode(array(
        struct(lit("r").as("m"), (-col("recency_days")).as("v")),
        struct(lit("f").as("m"), col("frequency").as("v")),
        struct(lit("m").as("m"), col("monetary_c").as("v")))).as("x"))
      .select(col("user_id"), col("x.m").as("__metric"), col("x.v").as("__v"))
    val scores = globalRowPos(melted, Seq("__metric"),
        Seq(col("__v"), col("user_id")), "__p", "__n")
      .withColumn("__s", ntileAt("__p", "__n", 5).cast("long"))
      .groupBy(col("user_id"))
      .agg(max(when(col("__metric") === "r", col("__s"))).as("r_score"),
        max(when(col("__metric") === "f", col("__s"))).as("f_score"),
        max(when(col("__metric") === "m", col("__s"))).as("m_score"))
    per.join(scores, "user_id")
      .select(col("user_id"), col("recency_days"), col("frequency"),
        (col("monetary_c") / 100.0).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")).as("segment"))
      .orderBy(col("user_id"))
  }

  /** DuckDB twin: ntile is SQL-standard positional bucketing, so with
    * the same tiebroken ORDER BY both engines cut the quintiles at the
    * same rows.
    */
  val eventsRfmSql: String =
    """WITH anchor AS (SELECT max(ts) AS t_max FROM events),
      |per AS (
      |  SELECT user_id,
      |    date_diff('day', CAST(max(ts) AS DATE), CAST((SELECT t_max FROM anchor) AS DATE)) AS recency_days,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS frequency,
      |    sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS monetary_c
      |  FROM events GROUP BY user_id),
      |scored AS (
      |  SELECT user_id, recency_days, frequency, monetary_c,
      |    ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
      |    ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
      |    ntile(5) OVER (ORDER BY monetary_c, user_id) AS m_score
      |  FROM per)
      |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
      |  CAST(frequency AS BIGINT) AS frequency,
      |  CAST(monetary_c AS BIGINT)/100.0 AS monetary,
      |  CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment
      |FROM scored ORDER BY user_id""".stripMargin

  // ------------------------------------------------ Count-Min sketch
  /** Late-arrival accounting — the watermark-sizing audit a streaming
    * ingest runs over its own history: replay each user's events in
    * ARRIVAL order (event_id, the monotone ingest sequence) and flag
    * every event whose event time lags the maximum event time already
    * seen for that user by more than the 24-hour allowed lateness —
    * exactly the rows a `withWatermark("ts", "1 day")` daily-batch
    * pipeline keyed by user would drop. Output per user: event count, late count, and
    * the worst observed disorder in exact micros — the number that
    * tells you what watermark delay the topology actually needs.
    *
    * The synthetic log is ingest-ordered (event_id follows event
    * time), so disorder is PLANTED deterministically — every 17th
    * event's event time is backdated by (event_id % 5 + 1)·2 days
    * (2–10 days — sized to the log's multi-day per-user event gaps,
    * so ~6% of events land genuinely late at every scale factor) — the same planted-fixture move as
    * [[TextOps.textRedact]]: the operator under test is the
    * watermark accounting, and the plant makes it non-vacuous and
    * oracle-checkable at every scale factor.
    *
    * == Scale design ==
    * One shuffle on the natural user key, then a per-user sort inside
    * each partition (the running max is a rows-frame window — no
    * global ordering anywhere), folded straight into an O(users)
    * aggregate. High-cardinality key ⇒ P-way parallel at any scale.
    */
  def eventsLateData(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us0"))
      .withColumn("us", expr(
        "us0 - CASE WHEN event_id % 17 = 0 THEN (event_id % 5 + 1) * 172800000000 ELSE 0 END"))
      .withColumn("hwm", max(col("us")).over(w))
      .withColumn("late_by",
        when(col("hwm") - col("us") > 86400000000L, col("hwm") - col("us"))
          .otherwise(lit(0L)))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_by") > 0L, 1L).otherwise(0L)).as("n_late"),
        max(col("late_by")).as("max_lateness_us"))
      .orderBy(col("user_id"))
  }

  /** DuckDB twin: same plant, same arrival-order window, same cut. */
  val eventsLateDataSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(ts) - CASE WHEN event_id % 17 = 0 THEN (event_id % 5 + 1) * 172800000000 ELSE 0 END AS us
      |  FROM events),
      |h AS (SELECT user_id, us,
      |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM e),
      |l AS (SELECT user_id,
      |    CASE WHEN hwm - us > 86400000000 THEN hwm - us ELSE 0 END AS late_by
      |  FROM h)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN late_by > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(max(late_by) AS BIGINT) AS max_lateness_us
      |FROM l GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Watermark-delay sweep (r14 wave 29 — the justify-the-constant
    * table behind [[eventsLateData]]'s hard-coded 24 h cut, the
    * dedup_threshold_curve discipline pointed at watermarks): the same
    * planted-disorder arrival replay, but instead of ONE cut the full
    * price curve — for W ∈ {1 h, 6 h, 24 h, 72 h}, how many events a
    * `withWatermark("ts", W)` pipeline would DROP, in counts and exact
    * ppm, beside the disorder mass (any lateness > 0) and the worst
    * observed disorder. A tighter watermark bounds state and latency
    * but silently sheds the tail this table prices; the production W
    * is chosen where the drop curve flattens, not assumed. The plant
    * (every 17th event backdated 2–10 days) is shared VERBATIM with
    * the parent face so the curves cannot drift.
    *
    * == Scale design ==
    * ONE user-keyed window pass (the parent's shape) computes per-event
    * lateness; all four thresholds fold as conditional sums in the
    * SAME aggregate — no per-config fan-out of the corpus — and the
    * 4-row curve is a stack of that one ledger row.
    */
  def eventsWatermarkCurve(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hours = Seq(1L, 6L, 24L, 72L)
    val lateness = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us0"))
      .withColumn("us", expr(
        "us0 - CASE WHEN event_id % 17 = 0 THEN (event_id % 5 + 1) * 172800000000 ELSE 0 END"))
      .withColumn("hwm", max(col("us")).over(w))
      .select(greatest(coalesce(col("hwm") - col("us"), lit(0L)), lit(0L)).as("lb"))
    val aggs = Seq(count(lit(1)).as("n_events"),
      sum(when(col("lb") > 0L, 1L).otherwise(0L)).as("n_disordered"),
      max(col("lb")).as("max_lateness_us")) ++ hours.map(h =>
      sum(when(col("lb") > h * 3600000000L, 1L).otherwise(0L)).as(s"d$h"))
    val one = lateness.agg(aggs.head, aggs.tail: _*)
    one.select(expr("stack(4, " + hours.map(h =>
        s"CAST($h AS BIGINT), d$h").mkString(", ") +
        ") AS (wm_hours, n_dropped)"),
        col("n_events"), col("n_disordered"), col("max_lateness_us"))
      .select(col("wm_hours"), col("n_events"), col("n_disordered"),
        col("n_dropped"),
        expr("1000000 * n_dropped div n_events").as("dropped_ppm"),
        col("max_lateness_us"))
      .orderBy(col("wm_hours"))
  }

  /** DuckDB twin: same plant, same single-pass conditional sums. */
  val eventsWatermarkCurveSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(ts) - CASE WHEN event_id % 17 = 0 THEN (event_id % 5 + 1) * 172800000000 ELSE 0 END AS us
      |  FROM events),
      |h AS (SELECT user_id, us,
      |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
      |  FROM e),
      |l AS (SELECT greatest(coalesce(hwm - us, 0), 0) AS lb FROM h),
      |a AS (SELECT count(*) AS n_events,
      |    CAST(sum(CASE WHEN lb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_disordered,
      |    CAST(max(lb) AS BIGINT) AS max_lateness_us,
      |    CAST(sum(CASE WHEN lb > 1 * 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(sum(CASE WHEN lb > 6 * 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d6,
      |    CAST(sum(CASE WHEN lb > 24 * 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d24,
      |    CAST(sum(CASE WHEN lb > 72 * 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d72
      |  FROM l),
      |c AS (
      |  SELECT CAST(1 AS BIGINT) AS wm_hours, n_events, n_disordered, d1 AS n_dropped, max_lateness_us FROM a
      |  UNION ALL SELECT 6, n_events, n_disordered, d6, max_lateness_us FROM a
      |  UNION ALL SELECT 24, n_events, n_disordered, d24, max_lateness_us FROM a
      |  UNION ALL SELECT 72, n_events, n_disordered, d72, max_lateness_us FROM a)
      |SELECT wm_hours, n_events, n_disordered, n_dropped,
      |  1000000 * n_dropped // n_events AS dropped_ppm, max_lateness_us
      |FROM c ORDER BY wm_hours""".stripMargin

  // ------------------------------------------------ lag features
}
