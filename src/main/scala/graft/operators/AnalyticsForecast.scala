package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.plans.Checkpoints.StableSyntax
import graft.functions.HashExpressions.{polyHash, polyHashSql}

/** Time-series / ML-adjacent operators: gap-fill, EWMA, anomaly
  * (z-score + robust), CUSUM, changepoint, seasonality, the Holt /
  * damped / Holt-Winters forecast ladder with backtest + champion
  * selection, lag/PIT/target-encode feature builds and the composed
  * feature pipeline. Mixed into [[Analytics]]; split from
  * Analytics.scala in r17 (pure refactor).
  */
trait AnalyticsForecast extends AnalyticsBase {
  /** TPC-H Q6 (forecast revenue change), completing the q1/q3/q5
    * family: a tight scan-bound filter-sum — ship year window,
    * discount band, quantity cap — whose whole point is PUSHDOWN (all
    * three predicates reach the parquet scan; the query reads 4
    * columns and aggregates to one row, no shuffle beyond the final
    * single-partial merge). Revenue = Σ price·discount in exact
    * integer cents × percent-points (DECIMAL(38,0) accumulator; one
    * exact 10⁴ division at the end).
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_quantity") < 24)
    val dc = cents(col("l_discount"))
    l.filter(dc >= 5 && dc <= 7)
      .agg(count(lit(1)).as("n_items"),
        (sum((cents(col("l_extendedprice")) * dc).cast("decimal(38,0)"))
          .cast("double") / 10000.0).as("revenue"))
  }

  val q6ForecastRevenueSql: String =
    """SELECT count(*) AS n_items,
      |  sum(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_discount*100) AS BIGINT))/10000.0 AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_quantity < 24
      |  AND CAST(round(l_discount*100) AS BIGINT) BETWEEN 5 AND 7""".stripMargin

  // ------------------------------------------------------ gap filling
  /** Time-series gap filling: the dense (hour × event_type) grid over
    * the corpus's observed hour range, zero-filled where no events
    * occurred and flagged `filled` — the densification step every
    * downstream window/forecast consumer needs (sparse aggregates make
    * lag/lead and moving averages silently skip missing periods).
    *
    * == Scale design ==
    * The corpus collapses map-side into the O(hours × types) hourly
    * relation; the grid is generated from a 1-row bounds aggregate
    * (`sequence` + explode — no driver loop) and cross-joined with the
    * tiny type dim, so the fill join touches only grid-sized
    * relations. Nothing here re-reads events after the first grouped
    * pass.
    */
  def eventsGapFill(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(date_trunc("hour", col("ts")).as("h"),
      col("event_type"), cents(col("value")).as("vc"))
    val hourly = e.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("sc"))
    val bounds = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = bounds
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      .crossJoin(e.select(col("event_type")).distinct())
    grid.join(hourly, Seq("h", "event_type"), "left")
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        (coalesce(col("sc"), lit(0L)) / 100.0).as("sum_value"),
        when(col("n_events").isNull, 1L).otherwise(0L).as("filled"))
      .orderBy(col("hour"), col("event_type"))
  }

  val eventsGapFillSql: String =
    """WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type,
      |    CAST(round(value*100) AS BIGINT) AS vc FROM events),
      |hourly AS (SELECT h, event_type, count(*) AS n, CAST(sum(vc) AS BIGINT) AS sc
      |  FROM e GROUP BY 1, 2),
      |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
      |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
      |g2 AS (SELECT grid.h, t.event_type
      |  FROM grid CROSS JOIN (SELECT DISTINCT event_type FROM e) t)
      |SELECT strftime(g2.h, '%Y-%m-%d %H:%M:%S') AS hour,
      |  g2.event_type AS event_type,
      |  coalesce(n, 0) AS n_events, coalesce(sc, 0)/100.0 AS sum_value,
      |  CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
      |FROM g2 LEFT JOIN hourly ON hourly.h = g2.h AND hourly.event_type = g2.event_type
      |ORDER BY hour, g2.event_type""".stripMargin

  // ------------------------------------------------------ dyadic EWMA
  /** Exponentially-weighted moving average of hourly event counts per
    * type, on the DENSIFIED grid (rides [[eventsGapFill]]'s shape —
    * EWMA over a sparse series would silently treat a gap as "no time
    * passed"). α = 1/2 is deliberate: the weights 2⁻ᵏ are exact powers
    * of two, so the whole recurrence is computed in EXACT integer
    * arithmetic — ewma_scaled = Σₖ n_{t−k}·2^{24−k} over the trailing
    * 25 hours (truncation error ≤ 2⁻²⁵ of the oldest term, below the
    * emitted precision), and the emitted double is that integer divided
    * by 2²⁴, which is exact dyadic scaling. No libm pow, no float
    * accumulation order — both engines produce identical bits.
    *
    * == Scale design ==
    * The 25 lag expressions share ONE window spec (single Window
    * operator, one shuffle on event_type) over the O(hours × types)
    * grid — corpus-independent after the first grouped pass.
    */
  def eventsEwma(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(date_trunc("hour", col("ts")).as("h"),
      col("event_type"))
    val hourly = e.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = bounds
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      .crossJoin(e.select(col("event_type")).distinct())
      .join(hourly, Seq("h", "event_type"), "left")
      .select(col("h"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val scaled = (0 to 24).map(k =>
      coalesce(lag(col("n"), k).over(w), lit(0L)) * lit(1L << (24 - k)))
      .reduce(_ + _)
    grid.select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n").as("n_events"),
        scaled.as("ewma_scaled"))
      .withColumn("ewma", col("ewma_scaled") / 16777216.0)
      .orderBy(col("hour"), col("event_type"))
  }

  val eventsEwmaSql: String = {
    val terms = (0 to 24).map(k =>
      s"coalesce(lag(n, $k) OVER w, 0) * ${1L << (24 - k)}").mkString(" + ")
    s"""WITH e AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
       |hourly AS (SELECT h, event_type, count(*) AS n FROM e GROUP BY 1, 2),
       |b AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
       |grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
       |g2 AS (SELECT grid.h, t.event_type,
       |    coalesce(n, 0) AS n
       |  FROM grid CROSS JOIN (SELECT DISTINCT event_type FROM e) t
       |  LEFT JOIN hourly ON hourly.h = grid.h AND hourly.event_type = t.event_type),
       |sc AS (SELECT h, event_type, n, CAST($terms AS BIGINT) AS ewma_scaled
       |  FROM g2 WINDOW w AS (PARTITION BY event_type ORDER BY h))
       |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       |  CAST(n AS BIGINT) AS n_events, ewma_scaled,
       |  ewma_scaled / 16777216.0 AS ewma
       |FROM sc ORDER BY hour, event_type""".stripMargin
  }

  // -------------------------------------------- dynamic partition pruning
  /** Value-anomaly detection: the 100 events whose value deviates most
    * from their event-type's mean, in global-σ units. All moments come
    * from EXACT integer sums — count and Σc as bigint, Σc² accumulated
    * in DECIMAL(38,0) so it cannot wrap int64 at any realistic SF
    * (cents² ~1e12 × 1e12 rows = 1e24 ≪ 1e38; DuckDB's HUGEINT sum
    * covers the same range on the oracle side). μ, σ and every z are
    * then reproducible doubles: both engines evaluate the identical
    * IEEE expression tree on identical exact integers. z is emitted in
    * integer micro-units; ordering uses the raw double with event_id
    * as the tiebreaker. Degenerate groups (n=1 or all-equal values ⇒
    * zero variance) define z = 0 rather than 0/0 — guarded identically
    * in both engines, so no NaN ever reaches the sort or the cast.
    *
    * == Scale design ==
    * One grouped pass (5 groups — fully map-side combinable) produces
    * the moments; the broadcast join back keeps the detector a single
    * scan + TakeOrdered(100) — no global sort materializes at any SF.
    */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("cents"))
    val g = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)"))
          .as("ss"))
    val mu = col("s").cast("double") / col("n")
    val variance = col("ss").cast("double") / col("n") - mu * mu
    val z = when(variance > 0,
      (col("cents").cast("double") - mu) / sqrt(variance)).otherwise(lit(0.0))
    e.join(broadcast(g), "event_type")
      .select(col("event_id"), col("event_type"), col("cents"),
        floor(z * 1e6 + 0.5).cast("long").as("z_micro"),
        abs(z).as("__az"))
      .orderBy(col("__az").desc, col("event_id"))
      .limit(100)
      .drop("__az")
  }

  val eventsAnomalySql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(round(value*100) AS BIGINT) AS cents FROM events),
      |g AS (SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s,
      |    sum(cents*cents) AS ss FROM e GROUP BY event_type),
      |z AS (SELECT e.event_id, e.event_type, e.cents,
      |    CASE WHEN CAST(g.ss AS DOUBLE)/g.n - (CAST(g.s AS DOUBLE)/g.n)*(CAST(g.s AS DOUBLE)/g.n) > 0
      |    THEN (CAST(e.cents AS DOUBLE) - CAST(g.s AS DOUBLE)/g.n) /
      |    sqrt(CAST(g.ss AS DOUBLE)/g.n - (CAST(g.s AS DOUBLE)/g.n)*(CAST(g.s AS DOUBLE)/g.n))
      |    ELSE 0.0 END AS zs
      |  FROM e JOIN g USING (event_type))
      |SELECT event_id, event_type, cents,
      |  CAST(floor(zs*1e6 + 0.5) AS BIGINT) AS z_micro
      |FROM z ORDER BY abs(zs) DESC, event_id LIMIT 100""".stripMargin

  /** Robust outlier detection — the median/MAD twin of [[eventsAnomaly]]
    * with NO floating point anywhere: the interpolated median of
    * integers lives exactly in DOUBLED units (2·median = the one or two
    * middle order statistics summed), deviations d = |2c − med2| are
    * integers, the MAD is the same doubled-median trick over d, and the
    * score is one integral division (2·10⁶·d / mad2). Where the z-score
    * face leans on float moments (and needed a variance guard), this
    * face cannot produce a NaN or a last-ulp disagreement by
    * construction; constant-MAD groups score 0 under the same guard
    * pattern.
    *
    * == Scale design ==
    * Two ranking passes partitioned by the bounded type alphabet (the
    * honest cost of exact order statistics — the sketch path for
    * 100 TB is agg_approx_quantile); the two 5-row median relations
    * broadcast back. Ranks tiebreak on event_id so row_number is
    * deterministic, and order statistics are tie-order-invariant.
    */
  def eventsAnomalyRobust(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("event_id"), col("event_type"), cents(col("value")).as("c"))
    val wt = Window.partitionBy(col("event_type"))
    def med2Of(df: DataFrame, v: String): DataFrame =
      df.withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col(v), col("event_id"))))
        .withColumn("n", count(lit(1)).over(wt))
        .groupBy(col("event_type"))
        .agg(sum(
          when(col("rn") === expr("(n+1) div 2"), col(v)).otherwise(0L)
            + when(col("rn") === expr("(n+2) div 2"), col(v)).otherwise(0L))
          .as(s"med2_$v"))
    // checkpointed: `d` is re-derived by BOTH the MAD branch and the
    // final scoring join, and each re-derivation would otherwise
    // replay the full median window pass. Eager localCheckpoint (not
    // .cache()) so the O(event types) relation materializes once and
    // its blocks are freed by ContextCleaner when this DataFrame is
    // GC'd — a CacheManager entry would outlive every consumer (r9
    // ADVICE: caches never unpersisted).
    val med = med2Of(e, "c").withColumnRenamed("med2_c", "med2")
      .stableCheckpoint()
    val d = e.join(broadcast(med), "event_type")
      .withColumn("d", abs(col("c") * 2 - col("med2")))
    val mad = med2Of(d, "d").withColumnRenamed("med2_d", "mad2")
    d.join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"), col("c").as("cents"),
        when(col("mad2") > 0,
          expr("CAST(d AS DECIMAL(38,0)) * 2000000 div mad2"))
          .otherwise(lit(0L)).as("score_micro"))
      .orderBy(col("score_micro").desc, col("event_id"))
      .limit(100)
  }

  val eventsAnomalyRobustSql: String =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(round(value*100) AS BIGINT) AS c FROM events),
      |r1 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
      |med AS (SELECT event_type,
      |    CAST(sum(CASE WHEN rn = (n+1)//2 THEN c ELSE 0 END
      |      + CASE WHEN rn = (n+2)//2 THEN c ELSE 0 END) AS BIGINT) AS med2
      |  FROM r1 GROUP BY 1),
      |d AS (SELECT e.event_id, e.event_type, e.c, abs(e.c*2 - m.med2) AS d
      |  FROM e JOIN med m USING (event_type)),
      |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
      |mad AS (SELECT event_type,
      |    CAST(sum(CASE WHEN rn = (n+1)//2 THEN d ELSE 0 END
      |      + CASE WHEN rn = (n+2)//2 THEN d ELSE 0 END) AS BIGINT) AS mad2
      |  FROM r2 GROUP BY 1)
      |SELECT d.event_id, d.event_type, d.c AS cents,
      |  CASE WHEN mad.mad2 > 0
      |    THEN CAST((CAST(d.d AS HUGEINT) * 2000000) // mad.mad2 AS BIGINT)
      |    ELSE 0 END AS score_micro
      |FROM d JOIN mad USING (event_type)
      |ORDER BY score_micro DESC, event_id LIMIT 100""".stripMargin

  // ------------------------------------------------ the forecast ladder
  // Every ladder face (ml_backtest, ml_forecast_*) composes the pieces
  // below: one grid, the leak-free prior-day windows, the last_day
  // anchor, the Holt predictions and the paired MAE ledger, each
  // written once per side. Horizons and row filters stay in the faces.

  /** The ladder's one-scan grid: per (event_type, UTC epoch day) the
    * event count `n`, reshaped by `shape` (a weekday column, a derived
    * series) and checkpointed — the expanding windows and the
    * `last_day` anchor both read it, and without the checkpoint each
    * consumer re-derives the scan.
    */
  private[graft] def dailyGrid(s: SparkSession, dir: String,
      shape: DataFrame => DataFrame = identity): DataFrame =
    shape(events(s, dir)
      .select(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))
      .stableCheckpoint()

  /** Adds `dow`, the weekday of `day` ([[eventsSeasonality]]'s epoch
    * day + 3 mod 7 convention). */
  private def withDow(grid: DataFrame): DataFrame =
    grid.withColumn("dow", pmod(col("day") + 3, lit(7)))

  /** The leak-free expanding frame: every earlier observed day of the
    * partition, never the origin day itself. */
  private def priorDays(keys: String*): WindowSpec =
    Window.partitionBy(keys.map(col): _*).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
  private[graft] def wFlat: WindowSpec = priorDays("event_type")
  private def wDow: WindowSpec = priorDays("event_type", "dow")

  /** The type's prior (day, n) cells in day order: the Holt folds' input. */
  private[graft] def priorCells: Column =
    sort_array(collect_list(struct(col("day"), col("n"))).over(wFlat))

  /** `scored` with the rolling origin's anchor `last_day` (the grid's
    * last observed day) broadcast onto every row. */
  private def anchoredOn(grid: DataFrame)(scored: DataFrame): DataFrame =
    scored.join(broadcast(grid.agg(max(col("day")).as("last_day"))), lit(true))

  /** Origin days in the final `h` observed days. */
  private def lastDays(h: Int): Column = col("day") > col("last_day") - h

  /** The paired-row filter: origins in the final `h` days where both
    * the flat and the weekday window have a prior day, so every model
    * of a paired ledger scores the same cells. */
  private def pairedDays(h: Int): Column =
    lastDays(h) && col("cum_d") >= 1 && col("cum_dw") >= 1

  private def flatPred: Column = expr("cum_n div cum_d")
  private def seasPred: Column = expr("cum_nw div cum_dw")
  private[graft] def holtPred: Column = expr(sparkFloorDiv("st.lv + st.tr", 1000))
  private def dampedPred: Column =
    expr(sparkFloorDiv("sd.lv + " + sparkFloorDiv("sd.tr", 2), 1000))
  private def hwPred: Column = expr(sparkFloorDiv(
    "hw.lv + hw.tr + element_at(hw.s, CAST(dow AS INT) + 1)", 1000))

  /** The paired ledger of models `a` and `b` over the scored cells'
    * `pred_a`/`pred_b`: per event type the cell count `n_eval`, both
    * MAEs in exact milli-events and `gain_milli` = MAE(a) − MAE(b)
    * (positive ⇔ b is better). */
  private def pairedLedger(a: String, b: String)(scored: DataFrame): DataFrame =
    pairedMae(a, b)(scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("n") - col(s"pred_$a"))).as(s"abs_$a"),
        sum(abs(col("n") - col(s"pred_$b"))).as(s"abs_$b")))

  /** The ledger's MAE columns from per-type `n_eval`, `abs_a`, `abs_b`. */
  private def pairedMae(a: String, b: String)(ledger: DataFrame): DataFrame =
    ledger.select(col("event_type"), col("n_eval"),
        expr(s"abs_$a * 1000 div n_eval").as(s"mae_${a}_milli"),
        expr(s"abs_$b * 1000 div n_eval").as(s"mae_${b}_milli"),
        expr(s"abs_$a * 1000 div n_eval - abs_$b * 1000 div n_eval")
          .as("gain_milli"))
      .orderBy(col("event_type"))

  /** DuckDB twin of the ladder base: the grid `d`, its weekday form
    * `dd`, and `c` = `from` plus the anchor `last_day` and the `cols`
    * computed over the named prior-day frames `wf` (flat) and `wd`
    * (weekday; a frame no column uses is never bound).
    */
  private[graft] def ladderSql(from: String, cols: String*): String = {
    val prior = "ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    s"""WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
       |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
       |dd AS (SELECT *, (day + 3) % 7 AS dow FROM d),
       |c AS (SELECT *, (SELECT max(day) FROM d) AS last_day,
       |    ${cols.mkString(",\n    ")}
       |  FROM $from
       |  WINDOW wf AS (PARTITION BY event_type $prior),
       |    wd AS (PARTITION BY event_type, dow $prior))""".stripMargin
  }
  private val cumN = "CAST(sum(n) OVER wf AS BIGINT) AS cum_n"
  private[graft] val cumD = "CAST(count(n) OVER wf AS BIGINT) AS cum_d"
  private val cumNw = "CAST(sum(n) OVER wd AS BIGINT) AS cum_nw"
  private val cumDw = "CAST(count(n) OVER wd AS BIGINT) AS cum_dw"
  private[graft] val priorList = "list_sort(list({'day': day, 'n': n}) OVER wf) AS prior"
  private def pairedDaysSql(h: Int): String =
    s"day > last_day - $h AND cum_d >= 1 AND cum_dw >= 1"

  /** DuckDB twin of [[pairedLedger]] over the scored CTE `f`. */
  private def pairedLedgerSql(a: String, b: String): String =
    s"""l AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |    CAST(sum(abs(n - pred_$a)) AS BIGINT) AS abs_$a,
       |    CAST(sum(abs(n - pred_$b)) AS BIGINT) AS abs_$b
       |  FROM f GROUP BY event_type)
       |${pairedMaeSql(a, b, "l")}""".stripMargin

  /** DuckDB twin of [[pairedMae]]. */
  private def pairedMaeSql(a: String, b: String, from: String): String =
    s"""SELECT event_type, n_eval,
       |  abs_$a * 1000 // n_eval AS mae_${a}_milli,
       |  abs_$b * 1000 // n_eval AS mae_${b}_milli,
       |  abs_$a * 1000 // n_eval - abs_$b * 1000 // n_eval AS gain_milli
       |FROM $from ORDER BY event_type""".stripMargin

  /** Rolling-origin forecast backtest (r14, the EVALUATION face beside
    * [[q6ForecastRevenue]]'s point forecast and `events_seasonality`'s
    * profile — the ML-eval discipline of `ml_eval_langid` pointed at
    * forecasting): for each event type, walk the final 7 observed days;
    * at each origin the forecast is the expanding mean of all PRIOR
    * observed daily counts (integer div — the exact, replayable
    * baseline every fancier model must beat), and the report is the
    * per-type error ledger: evaluated days, Σ|err|, MAE in exact
    * milli-events, and signed bias. Expanding-mean-over-observed-days
    * is the documented contract (zero-days are absent from the grid,
    * not imputed).
    *
    * == Scale design ==
    * ONE scan folds map-side onto the O(types × days) daily grid; the
    * expanding windows and the ledger run entirely on that bounded
    * relation — same shape as [[eventsSeasonality]].
    */
  def mlBacktest(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir)
    daily
      .withColumn("cum_n", sum(col("n")).over(wFlat))
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .transform(anchoredOn(daily))
      .filter(lastDays(7) && col("cum_d") >= 1)
      .withColumn("pred", flatPred)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("n") - col("pred"))).as("sum_abs_err"),
        sum(col("n") - col("pred")).as("bias"))
      .select(col("event_type"), col("n_eval"), col("sum_abs_err"),
        expr("sum_abs_err * 1000 div n_eval").as("mae_milli"), col("bias"))
      .orderBy(col("event_type"))
  }

  lazy val mlBacktestSql: String =
    s"""${ladderSql("d", cumN, cumD)},
       |e AS (SELECT *, cum_n // cum_d AS pred FROM c
       |  WHERE day > last_day - 7 AND cum_d >= 1)
       |SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |  CAST(sum(abs(n - pred)) AS BIGINT) AS sum_abs_err,
       |  CAST(sum(abs(n - pred)) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT) AS mae_milli,
       |  CAST(sum(n - pred) AS BIGINT) AS bias
       |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------- seasonal forecast eval
  /** Weekday-adjusted rolling-origin backtest (r14 wave 8): the
    * "fancier model" [[mlBacktest]]'s flat expanding-mean baseline
    * exists to be beaten, evaluated under the identical leak-free
    * walk. The seasonal forecast at origin day d is the expanding mean
    * of the type's PRIOR observed days restricted to d's weekday
    * (epoch day + 3 mod 7, [[eventsSeasonality]]'s convention) — pure
    * integer division, replayable, and strictly leak-free because the
    * restricted window still ends at the previous observed day. The
    * ledger reports both models' MAE side by side plus the signed
    * improvement, per event type: the readout that decides whether
    * seasonality-aware forecasting earns its complexity. Days are
    * evaluated only where BOTH models are defined (≥1 prior overall
    * day and ≥1 prior same-weekday day) so the comparison is paired.
    *
    * == Scale design ==
    * Identical to [[mlBacktest]]: ONE scan folds map-side onto the
    * O(types × days) daily grid (checkpointed — both expanding windows
    * and the anchor read it); the flat window and the weekday window
    * are two sorted-window passes over that bounded relation, and the
    * ledger is O(types).
    */
  def mlForecastSeasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir, withDow)
    daily
      .withColumn("cum_n", sum(col("n")).over(wFlat))
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("cum_nw", sum(col("n")).over(wDow))
      .withColumn("cum_dw", count(col("n")).over(wDow))
      .transform(anchoredOn(daily))
      .filter(pairedDays(7))
      .withColumn("pred_flat", flatPred)
      .withColumn("pred_seas", seasPred)
      .transform(pairedLedger("flat", "seas"))
  }

  lazy val mlForecastSeasonalSql: String =
    s"""${ladderSql("dd", cumN, cumD, cumNw, cumDw)},
       |f AS (SELECT *, cum_n // cum_d AS pred_flat, cum_nw // cum_dw AS pred_seas
       |  FROM c WHERE ${pairedDaysSql(7)}),
       |${pairedLedgerSql("flat", "seas")}""".stripMargin

  // --------------------------------------------- trend forecast eval
  /** Spark-SQL floor division: `(x - pmod(x, m)) div m` — exact floor
    * for any sign of x (pmod is non-negative). The Holt-family folds
    * use it everywhere a dividend can go negative.
    */
  private[graft] def sparkFloorDiv(x: String, m: Int): String =
    s"(($x) - pmod($x, $m)) div $m"

  /** DuckDB floor division: DuckDB's `//` truncates toward zero, so
    * floor is emulated with the same pmod identity the Spark side
    * uses: `(x - ((x % m) + m) % m) // m`.
    */
  private[graft] def duckFloorDiv(x: String, m: Int): String =
    s"(($x) - ((($x) % $m) + $m) % $m) // $m"

  /** The integer Holt fold (α = β = ½, milli-scaled state, explicit
    * init flag) shared by [[mlForecastTrend]] and the damped rung's
    * paired column: state struct (lv, tr, init); per observed count y,
    * A = 1000y + lv + tr, lv' = ⌊A/2⌋, tr' = ⌊(lv' − lv + tr)/2⌋.
    */
  private[graft] lazy val holtFold: String = {
    val a = "1000 * y + acc.lv + acc.tr"
    val lv2 = sparkFloorDiv(a, 2)
    val tr2 = sparkFloorDiv(s"$lv2 - acc.lv + acc.tr", 2)
    s"""aggregate(
       |  transform(prior, p -> p.n),
       |  named_struct('lv', CAST(0 AS BIGINT), 'tr', CAST(0 AS BIGINT),
       |               'init', CAST(0 AS BIGINT)),
       |  (acc, y) -> IF(acc.init = 0,
       |    named_struct('lv', CAST(1000 * y AS BIGINT), 'tr', CAST(0 AS BIGINT),
       |                 'init', CAST(1 AS BIGINT)),
       |    named_struct('lv', $lv2, 'tr', $tr2,
       |                 'init', CAST(1 AS BIGINT))))""".stripMargin
  }

  /** The DAMPED integer Holt fold (α = β = ½, damping φ = ½ — dyadic,
    * so every term stays exactly representable): with D = ⌊tr/2⌋ the
    * damped trend contribution, A = 1000y + lv + D, lv' = ⌊A/2⌋,
    * tr' = ⌊(lv' − lv + D)/2⌋ (= β(lv'−lv) + (1−β)φ·tr in the
    * Gardner–McKenzie form), prediction ⌊(lv + D)/1000⌋.
    */
  private lazy val holtDampedFold: String = {
    val d = sparkFloorDiv("acc.tr", 2)
    val a = s"1000 * y + acc.lv + $d"
    val lv2 = sparkFloorDiv(a, 2)
    val tr2 = sparkFloorDiv(s"$lv2 - acc.lv + $d", 2)
    s"""aggregate(
       |  transform(prior, p -> p.n),
       |  named_struct('lv', CAST(0 AS BIGINT), 'tr', CAST(0 AS BIGINT),
       |               'init', CAST(0 AS BIGINT)),
       |  (acc, y) -> IF(acc.init = 0,
       |    named_struct('lv', CAST(1000 * y AS BIGINT), 'tr', CAST(0 AS BIGINT),
       |                 'init', CAST(1 AS BIGINT)),
       |    named_struct('lv', $lv2, 'tr', $tr2,
       |                 'init', CAST(1 AS BIGINT))))""".stripMargin
  }

  /** DuckDB twin of the Holt-family folds over `prior`. The accumulator
    * is a BIGINT LIST [lv, tr, init, then `slots` extra state longs],
    * NOT a struct: DuckDB v1.0.0 list_reduce evaluates a struct
    * accumulator's later fields against a one-iteration-stale acc
    * (verified: the 3-step fold returns tr computed from step-1 state);
    * the list accumulator folds correctly. acc[3] is the explicit init
    * flag (lv = -1 is a legitimate state on a crashing series, so it
    * cannot double as the sentinel). Items are [0, 0, n, dow]; the
    * init step seeds lv = 1000·n and keeps the extra slots, every
    * later step writes `next` (lv', tr', then the extra slots).
    */
  private def duckListFold(slots: Int, next: Seq[String]): String = {
    val zero = "CAST(0 AS BIGINT)"
    val init = Seq("CAST(1000 * x[3] AS BIGINT)", zero, "CAST(1 AS BIGINT)") ++
      (4 until 4 + slots).map(i => s"acc[$i]")
    val step = next.take(2).map(e => s"CAST($e AS BIGINT)") ++
      ("CAST(1 AS BIGINT)" +: next.drop(2))
    s"""list_reduce(
       |      list_prepend([${Seq.fill(3 + slots)(zero).mkString(", ")}],
       |        list_transform(prior, p -> [$zero, $zero,
       |          CAST(p.n AS BIGINT), CAST((p.day + 3) % 7 AS BIGINT)])),
       |      (acc, x) -> CASE WHEN acc[3] = 0
       |        THEN [${init.mkString(", ")}]
       |        ELSE [${step.mkString(", ")}] END)""".stripMargin
  }

  /** DuckDB twin of [[holtFold]] (floor emulated wherever a dividend
    * can go negative, via [[duckFloorDiv]]). */
  private[graft] lazy val duckHolt: String = {
    val lv2 = duckFloorDiv("1000 * x[3] + acc[1] + acc[2]", 2)
    duckListFold(0, Seq(lv2, duckFloorDiv(s"$lv2 - acc[1] + acc[2]", 2)))
  }

  /** DuckDB twin of [[holtDampedFold]]. */
  private lazy val duckHoltDamped: String = {
    val d = duckFloorDiv("acc[2]", 2)
    val lv2 = duckFloorDiv(s"1000 * x[3] + acc[1] + $d", 2)
    duckListFold(0, Seq(lv2, duckFloorDiv(s"$lv2 - acc[1] + $d", 2)))
  }

  /** DuckDB twin of [[holtWintersFold]]: the 10-slot accumulator
    * [lv, tr, init, s₀…s₆], the seasonal-slot update as 7 positional
    * CASE arms (DuckDB lists have no functional update). */
  private lazy val duckHoltWinters: String = {
    val d = "acc[CAST(4 + x[4] AS INT)]"
    val lv2 = duckFloorDiv(s"1000 * x[3] - $d + acc[1] + acc[2]", 2)
    val s2 = duckFloorDiv(s"1000 * x[3] - ($lv2) + $d", 2)
    duckListFold(7, Seq(lv2, duckFloorDiv(s"$lv2 - acc[1] + acc[2]", 2)) ++
      (0 until 7).map(k =>
        s"CAST(CASE WHEN x[4] = $k THEN $s2 ELSE acc[${4 + k}] END AS BIGINT)"))
  }

  private[graft] lazy val holtPredSql = duckFloorDiv("st[1] + st[2]", 1000)
  private lazy val dampedPredSql =
    duckFloorDiv(s"sd[1] + ${duckFloorDiv("sd[2]", 2)}", 1000)
  private lazy val hwPredSql =
    duckFloorDiv("hw[1] + hw[2] + hw[CAST(4 + dow AS INT)]", 1000)

  /** Holt-style level+trend backtest (r15) — the third rung of the
    * forecast ladder (flat → seasonal → trend), evaluated PAIRED
    * against [[mlForecastSeasonal]] exactly the way seasonal is paired
    * against flat: same leak-free rolling-origin walk over the final 7
    * observed days, same paired-row filter (≥1 prior overall day AND
    * ≥1 prior same-weekday day), so every evaluated (type, day) cell
    * is scored by both models and `mae_seas_milli` here reproduces
    * the seasonal key's column bit-for-bit. The trend forecast at
    * origin d folds the type's PRIOR observed days through the
    * integer Holt recurrence (α = β = ½, milli-scaled state):
    * level₀ = 1000·y₀, trend₀ = 0, then with A = 1000·y + lv + tr,
    * lv' = ⌊A/2⌋ and tr' = ⌊(lv' − lv + tr)/2⌋ — all floor divisions
    * (pmod-adjusted on the Spark side; DuckDB's `//` truncates toward
    * zero, so the oracle emulates floor with the same pmod identity
    * `(a − ((a % m) + m) % m) // m` wherever the dividend can go
    * negative), so the walk is exactly replayable. The fold carries an
    * explicit init flag — the level can legitimately reach any value,
    * including −1, on a crashing series, so no state value doubles as
    * the uninitialized sentinel. The prediction is ⌊(lv + tr)/1000⌋.
    * Steps advance per OBSERVED day (zero days are absent, not
    * imputed) — the ladder's documented contract.
    *
    * == Scale design ==
    * The shared one-scan O(types × days) grid ([[mlBacktest]]'s
    * shape, checkpointed); the per-origin prior series is a sorted
    * window collect over that bounded relation — O(days²) array cells
    * per type, trivial because days ≪ rows — and the fold itself is a
    * codegen'd higher-order `aggregate`, no extra shuffle beyond the
    * grid's. The ledger is O(types).
    */
  def mlForecastTrend(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir, withDow)
    daily
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("cum_nw", sum(col("n")).over(wDow))
      .withColumn("cum_dw", count(col("n")).over(wDow))
      .withColumn("prior", priorCells)
      .transform(anchoredOn(daily))
      .filter(pairedDays(7))
      .withColumn("st", expr(holtFold))
      .withColumn("pred_trend", holtPred)
      .withColumn("pred_seas", seasPred)
      .transform(pairedLedger("seas", "trend"))
  }

  lazy val mlForecastTrendSql: String =
    s"""${ladderSql("dd", cumD, cumNw, cumDw, priorList)},
       |e AS (SELECT *, $duckHolt AS st
       |  FROM c WHERE ${pairedDaysSql(7)}),
       |f AS (SELECT *, $holtPredSql AS pred_trend, cum_nw // cum_dw AS pred_seas FROM e),
       |${pairedLedgerSql("seas", "trend")}""".stripMargin

  // -------------------------------------------- damped-trend forecast
  /** Damped-trend Holt backtest (r16) — the FOURTH rung of the
    * forecast ladder (flat → seasonal → trend → damped), evaluated
    * PAIRED against [[mlForecastTrend]] exactly the way trend is
    * paired against seasonal: identical leak-free rolling-origin walk,
    * identical paired-row filter, so `mae_trend_milli` here reproduces
    * the trend key's column bit-for-bit. The damped model
    * (Gardner–McKenzie) multiplies the trend's contribution by φ = ½
    * each step — the standard fix for plain Holt's signature failure
    * mode, a transient slope extrapolated forever; φ dyadic keeps the
    * walk exactly integer ([[holtDampedFold]]): with D = ⌊tr/2⌋,
    * lv' = ⌊(1000y + lv + D)/2⌋, tr' = ⌊(lv' − lv + D)/2⌋, prediction
    * ⌊(lv + D)/1000⌋. All floor divisions, pmod-adjusted in Spark and
    * floor-emulated in the DuckDB oracle; explicit init flag.
    *
    * == Scale design ==
    * Identical to the trend rung: the one-scan O(types × days)
    * checkpointed grid, a sorted window collect bounded by the
    * calendar, two codegen'd higher-order folds over the same prior
    * array (no second shuffle for the pairing), ledger O(types).
    */
  def mlForecastDamped(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir, withDow)
    daily
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("cum_dw", count(col("n")).over(wDow))
      .withColumn("prior", priorCells)
      .transform(anchoredOn(daily))
      .filter(pairedDays(7))
      .withColumn("st", expr(holtFold))
      .withColumn("sd", expr(holtDampedFold))
      .withColumn("pred_trend", holtPred)
      .withColumn("pred_damped", dampedPred)
      .transform(pairedLedger("trend", "damped"))
  }

  /** DuckDB twin: the trend oracle's grid/filter chain with BOTH list
    * folds (plain + damped). */
  lazy val mlForecastDampedSql: String =
    s"""${ladderSql("dd", cumD, cumDw, priorList)},
       |e AS (SELECT *, $duckHolt AS st, $duckHoltDamped AS sd
       |  FROM c WHERE ${pairedDaysSql(7)}),
       |f AS (SELECT *, $holtPredSql AS pred_trend, $dampedPredSql AS pred_damped FROM e),
       |${pairedLedgerSql("trend", "damped")}""".stripMargin

  // ------------------------------------------- Holt–Winters forecast
  /** The integer additive Holt–Winters fold (α = β = γ = ½, weekday
    * seasonality, milli-scaled state) — state struct (lv, tr, init,
    * s[7]): per observed (count y, weekday w), with D = s[w]
    * (0 while the slot is unvisited — the general update with D = 0
    * IS the classic first-visit initialization ⌊(1000y − lv')/2⌋, so
    * no per-slot flags are needed), A = 1000y − D + lv + tr,
    * lv' = ⌊A/2⌋, tr' = ⌊(lv' − lv + tr)/2⌋,
    * s[w]' = ⌊(1000y − lv' + D)/2⌋. The global init observation seeds
    * lv = 1000y, tr = 0, s = 0⁷ (no updates that step).
    */
  private lazy val holtWintersFold: String = {
    val d = "element_at(acc.s, CAST(o.dw AS INT) + 1)"
    val a = s"1000 * o.n - $d + acc.lv + acc.tr"
    val lv2 = sparkFloorDiv(a, 2)
    val tr2 = sparkFloorDiv(s"$lv2 - acc.lv + acc.tr", 2)
    val s2 = sparkFloorDiv(s"1000 * o.n - ($lv2) + $d", 2)
    s"""aggregate(
       |  transform(prior, p -> named_struct('n', p.n,
       |    'dw', pmod(p.day + 3, 7))),
       |  named_struct('lv', CAST(0 AS BIGINT), 'tr', CAST(0 AS BIGINT),
       |               'init', CAST(0 AS BIGINT),
       |               's', array_repeat(CAST(0 AS BIGINT), 7)),
       |  (acc, o) -> IF(acc.init = 0,
       |    named_struct('lv', CAST(1000 * o.n AS BIGINT), 'tr', CAST(0 AS BIGINT),
       |                 'init', CAST(1 AS BIGINT), 's', acc.s),
       |    named_struct('lv', $lv2, 'tr', $tr2, 'init', CAST(1 AS BIGINT),
       |                 's', transform(acc.s, (v, i) ->
       |                   IF(i = CAST(o.dw AS INT), $s2, v)))))""".stripMargin
  }

  /** Holt–Winters backtest (r16) — the FIFTH rung of the forecast
    * ladder (flat → seasonal → trend → damped → holt-winters), the
    * first rung to model level, trend AND weekday seasonality in one
    * state ([[mlForecastSeasonal]] has the seasonality but no trend;
    * [[mlForecastTrend]] the trend but no seasonality). PAIRED against
    * the trend rung under the identical leak-free walk and row filter,
    * so `mae_trend_milli` reproduces that key's column bit-for-bit.
    * The paired-row filter (≥ 1 prior same-weekday day) guarantees a
    * prior same-weekday OBSERVATION exists, not that the seasonal slot
    * is nonzero: the global-init step (init = 0) sets only (lv, tr)
    * and skips the s[w] update, so when the sole prior same-weekday
    * day IS the type's first observed day the slot still holds its 0
    * initial value and the HW prediction degrades gracefully to the
    * plain trend prediction for that cell (D = 0). Both engines and
    * the spec replay share that contract — it is the intended
    * semantics, not a divergence. Integer recurrence in
    * [[holtWintersFold]];
    * prediction ⌊(lv + tr + s[w])/1000⌋ at the origin's weekday w.
    * All floor divisions, pmod-adjusted in Spark and floor-emulated in
    * the DuckDB oracle (whose accumulator is the BIGINT list
    * [lv, tr, init, s₀…s₆] — the list-not-struct rule the trend
    * oracle documents).
    *
    * == Scale design ==
    * Identical to the trend/damped rungs: one-scan O(types × days)
    * checkpointed grid, calendar-bounded window collects, two
    * codegen'd higher-order folds over the same prior array, ledger
    * O(types). The seasonal array adds 7 longs to fold state — still
    * O(1) per row.
    */
  def mlForecastHw(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir, withDow)
    daily
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("cum_dw", count(col("n")).over(wDow))
      .withColumn("prior", priorCells)
      .transform(anchoredOn(daily))
      .filter(pairedDays(7))
      .withColumn("st", expr(holtFold))
      .withColumn("hw", expr(holtWintersFold))
      .withColumn("pred_trend", holtPred)
      .withColumn("pred_hw", hwPred)
      .transform(pairedLedger("trend", "hw"))
  }

  /** DuckDB twin: the trend oracle's grid/filter chain with the plain
    * fold plus the Holt–Winters list fold. */
  lazy val mlForecastHwSql: String =
    s"""${ladderSql("dd", cumD, cumDw, priorList)},
       |e AS (SELECT *, $duckHolt AS st, $duckHoltWinters AS hw
       |  FROM c WHERE ${pairedDaysSql(7)}),
       |f AS (SELECT *, $holtPredSql AS pred_trend, $hwPredSql AS pred_hw FROM e),
       |${pairedLedgerSql("trend", "hw")}""".stripMargin

  // --------------------------------------------- forecast model select
  /** Forecast champion selection (r16) — the ladder's capstone: per
    * event type, all FIVE ladder models (flat expanding mean, weekday
    * seasonal mean, Holt trend, damped trend, Holt–Winters) are
    * backtested on a VALIDATION week (days in (last−14, last−7]) and
    * the validation winner — ties to the SIMPLER model, ladder order —
    * is deployed on the EVAL week (days > last−7), reported against
    * the eval-week oracle-best with the exact-milli REGRET. This is
    * the model-selection discipline a forecasting platform runs
    * nightly: never ship the eval winner (that is leakage); ship the
    * validation winner and MEASURE what the honesty cost. Same
    * leak-free walk and paired-row filter as every rung (≥ 1 prior
    * day AND ≥ 1 prior same-weekday day, so all five models are
    * defined on every scored cell); types without both a validation
    * and an eval row drop by contract.
    *
    * == Scale design ==
    * The rungs' one-scan O(types × days) checkpointed grid; ONE pass
    * computes all five predictions per scored cell (the three folds
    * share the same prior array — no extra shuffle); model selection
    * runs on the O(types × 5) exploded relation through two
    * row_number windows. Ledger O(types).
    */
  def mlForecastSelect(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir, withDow)
    val scored = daily
      .withColumn("cum_n", sum(col("n")).over(wFlat))
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("cum_nw", sum(col("n")).over(wDow))
      .withColumn("cum_dw", count(col("n")).over(wDow))
      .withColumn("prior", priorCells)
      .transform(anchoredOn(daily))
      .filter(pairedDays(14))
      .withColumn("st", expr(holtFold))
      .withColumn("sd", expr(holtDampedFold))
      .withColumn("hw", expr(holtWintersFold))
      .withColumn("p1", flatPred)
      .withColumn("p2", seasPred)
      .withColumn("p3", holtPred)
      .withColumn("p4", dampedPred)
      .withColumn("p5", hwPred)
      .withColumn("is_eval", lastDays(7).cast("int"))
    def maeCols(m: Int): Seq[Column] = Seq(
      sum(when(col("is_eval") === 0, abs(col("n") - col(s"p$m")))).as(s"av$m"),
      sum(when(col("is_eval") === 1, abs(col("n") - col(s"p$m")))).as(s"ae$m"))
    val agg = scored.groupBy(col("event_type"))
      .agg(sum(lit(1) - col("is_eval")).as("nv"),
        (sum(col("is_eval")).as("ne") +: (1 to 5).flatMap(maeCols)): _*)
      .filter(col("nv") >= 1 && col("ne") >= 1)
    val names = Seq("flat", "seasonal", "trend", "damped", "hw")
    val modelRows = agg.select(col("event_type"), col("nv"), col("ne"),
        explode(array((1 to 5).map(m => struct(
          lit(m.toLong).as("rank"), lit(names(m - 1)).as("model"),
          expr(s"av$m * 1000 div nv").as("val_mae_milli"),
          expr(s"ae$m * 1000 div ne").as("eval_mae_milli"))): _*)).as("m"))
      .select(col("event_type"), col("m.rank"), col("m.model"),
        col("m.val_mae_milli"), col("m.eval_mae_milli"))
    val wVal = Window.partitionBy(col("event_type"))
      .orderBy(col("val_mae_milli"), col("rank"))
    val wEval = Window.partitionBy(col("event_type"))
      .orderBy(col("eval_mae_milli"), col("rank"))
    val chosen = modelRows.withColumn("rn", row_number().over(wVal))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("model").as("chosen_model"),
        col("val_mae_milli").as("chosen_val_mae_milli"),
        col("eval_mae_milli").as("chosen_eval_mae_milli"))
    val best = modelRows.withColumn("rn", row_number().over(wEval))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("model").as("best_model"),
        col("eval_mae_milli").as("best_eval_mae_milli"))
    chosen.join(best, Seq("event_type"))
      .withColumn("regret_milli",
        col("chosen_eval_mae_milli") - col("best_eval_mae_milli"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: the grid/filter chain with all three list folds, the
    * five per-row predictions, conditional val/eval aggregates, the
    * 5-row model relation via UNION ALL, and the same two
    * (mae, ladder-rank) row_number picks. */
  lazy val mlForecastSelectSql: String = {
    val modelUnion = Seq(
      (1, "flat"), (2, "seasonal"), (3, "trend"), (4, "damped"), (5, "hw"))
      .map { case (m, nm) =>
        s"SELECT event_type, CAST($m AS BIGINT) AS rank, '$nm' AS model, av$m * 1000 // nv AS val_mae_milli, ae$m * 1000 // ne AS eval_mae_milli FROM a" }
      .mkString("\n  UNION ALL ")
    val maeSums = (1 to 5).flatMap(m => Seq(0, 1).map(e =>
      s"CAST(sum(CASE WHEN is_eval = $e THEN abs(n - p$m) END) AS BIGINT) AS a${if (e == 0) "v" else "e"}$m"))
    s"""${ladderSql("dd", cumN, cumD, cumNw, cumDw, priorList)},
       |e AS (SELECT *, $duckHolt AS st, $duckHoltDamped AS sd, $duckHoltWinters AS hw
       |  FROM c WHERE ${pairedDaysSql(14)}),
       |f AS (SELECT *,
       |    cum_n // cum_d AS p1, cum_nw // cum_dw AS p2,
       |    $holtPredSql AS p3, $dampedPredSql AS p4, $hwPredSql AS p5,
       |    CASE WHEN day > last_day - 7 THEN 1 ELSE 0 END AS is_eval
       |  FROM e),
       |a AS (SELECT event_type,
       |    CAST(sum(1 - is_eval) AS BIGINT) AS nv, CAST(sum(is_eval) AS BIGINT) AS ne,
       |    ${maeSums.mkString(",\n    ")}
       |  FROM f GROUP BY event_type
       |  HAVING sum(1 - is_eval) >= 1 AND sum(is_eval) >= 1),
       |m AS ($modelUnion),
       |ch AS (SELECT event_type, model AS chosen_model,
       |    val_mae_milli AS chosen_val_mae_milli,
       |    eval_mae_milli AS chosen_eval_mae_milli
       |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY val_mae_milli, rank) AS rn FROM m) WHERE rn = 1),
       |bs AS (SELECT event_type, model AS best_model,
       |    eval_mae_milli AS best_eval_mae_milli
       |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY eval_mae_milli, rank) AS rn FROM m) WHERE rn = 1)
       |SELECT ch.event_type, ch.chosen_model, ch.chosen_val_mae_milli,
       |  ch.chosen_eval_mae_milli, bs.best_model, bs.best_eval_mae_milli,
       |  ch.chosen_eval_mae_milli - bs.best_eval_mae_milli AS regret_milli
       |FROM ch JOIN bs USING (event_type)
       |ORDER BY ch.event_type""".stripMargin
  }

  // --------------------------------------------- conformal intervals
  /** Split-conformal prediction intervals for the daily-count forecast
    * (r14 wave 10) — the UNCERTAINTY face beside [[mlBacktest]]'s
    * point-error ledger: per event type, the 90th-percentile absolute
    * residual of the expanding-mean forecast over the CALIBRATION days
    * (everything before the final week) at the exact conformal rank
    * ⌈0.9·(n+1)⌉, then the empirical coverage of ±q90 on the held-out
    * final week in exact ppm — the table that says whether "the
    * forecast ± its calibrated error band" can be trusted at the
    * nominal rate. Rank-based (no float quantile), so both engines
    * pick the identical residual; types whose calibration set is too
    * small for the rank (n_cal < 9 at α = 0.1) drop by contract — the
    * conformal guarantee does not exist for them.
    *
    * == Scale design ==
    * The shared one-scan O(types × days) grid ([[mlBacktest]]'s shape)
    * is checkpointed and scored ONCE; calibration ranking is a window
    * over that bounded relation, the O(types) quantile row broadcasts
    * onto the 7-day eval slice.
    */
  def mlForecastInterval(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir)
    val scored = daily
      .withColumn("cum_n", sum(col("n")).over(wFlat))
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .transform(anchoredOn(daily))
      .filter(col("cum_d") >= 1)
      .withColumn("abs_err", abs(col("n") - flatPred))
      .stableCheckpoint() // feeds BOTH the calibration rank and the eval slice
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("abs_err"), col("day"))
    val q = scored.filter(col("day") <= col("last_day") - 7)
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rk") === expr("(9 * (n_cal + 1) + 9) div 10"))
      .select(col("event_type"), col("n_cal"), col("abs_err").as("q90_err"))
    scored.filter(lastDays(7))
      .join(broadcast(q), "event_type")
      .groupBy(col("event_type"), col("n_cal"), col("q90_err"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("abs_err") <= col("q90_err"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("event_type"), col("n_cal"), col("q90_err"), col("n_eval"),
        col("n_covered"), expr("n_covered * 1000000 div n_eval").as("coverage_ppm"))
      .orderBy(col("event_type"))
  }

  lazy val mlForecastIntervalSql: String =
    s"""${ladderSql("d", cumN, cumD)},
       |sc AS (SELECT event_type, day, abs(n - cum_n // cum_d) AS abs_err, last_day
       |  FROM c WHERE cum_d >= 1),
       |cal AS (SELECT *,
       |    row_number() OVER (PARTITION BY event_type ORDER BY abs_err, day) AS rk,
       |    count(*) OVER (PARTITION BY event_type) AS n_cal
       |  FROM sc WHERE day <= last_day - 7),
       |q AS (SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
       |    CAST(abs_err AS BIGINT) AS q90_err
       |  FROM cal WHERE rk = (9 * (n_cal + 1) + 9) // 10),
       |ev AS (SELECT * FROM sc WHERE day > last_day - 7)
       |SELECT ev.event_type, n_cal, q90_err, CAST(count(*) AS BIGINT) AS n_eval,
       |  CAST(sum(CASE WHEN abs_err <= q90_err THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |  CAST(sum(CASE WHEN abs_err <= q90_err THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |    // CAST(count(*) AS BIGINT) AS coverage_ppm
       |FROM ev JOIN q USING (event_type)
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  // ------------------------------------------------------ path mining
  /** Leave-one-out smoothed target encoding — the feature-engineering
    * transform that replaces a categorical column with the target mean
    * of its category, computed WITHOUT the row's own target (leave-one-
    * out) and shrunk toward the global mean with prior weight m=10
    * (the standard high-cardinality encoder; LOO is what prevents the
    * feature from leaking the row's own label into training). Category
    * = the customer's market segment, target = order total in exact
    * integer cents; all divisions are integer floor so both engines
    * agree bit-for-bit.
    *
    * == Scale design ==
    * Two fact scans (one folded map-side into the O(categories) stats,
    * one for the encode itself) and zero fact-sized shuffles: the
    * segment dimension broadcasts into both fact joins, the category
    * stats broadcast back, and the global mean derives from the stats
    * relation (Σsum ÷ Σn), not a third scan. A window formulation
    * would reach one scan but at the price of a full fact shuffle —
    * the re-scan is the cheaper side of that trade on columnar
    * storage.
    */
  def mlTargetEncode(s: SparkSession, dir: String): DataFrame = {
    val seg = t(s, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment").as("segment"))
    val o = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("target_cents"))
      .join(broadcast(seg), Seq("o_custkey"))
    // the O(categories) stats materialize ONCE (eager checkpoint) and
    // feed both the broadcast-back join and the global mean — deriving
    // the global mean from the category sums (Σsum ÷ Σn ≡ the all-rows
    // mean) saves a third full fact scan
    val catStats = o.groupBy(col("segment"))
      .agg(count(lit(1)).as("n_cat"), sum(col("target_cents")).as("sum_cat"))
      .stableCheckpoint()
    val globalMean = catStats.agg(
      expr("sum(sum_cat) div sum(n_cat)").as("global_mean_cents"))
    o.join(broadcast(catStats), Seq("segment"))
      .crossJoin(broadcast(globalMean))
      .select(col("o_orderkey"), col("segment"), col("target_cents"), col("n_cat"),
        // n_cat = 1 leaves no other row to average: the standard LOO
        // fallback is the smoothed global mean (a bare div would be
        // NULL here but a hard error in DuckDB's //)
        expr("CASE WHEN n_cat = 1 THEN global_mean_cents" +
          " ELSE (sum_cat - target_cents) div (n_cat - 1) END").as("loo_mean_cents"),
        expr("(sum_cat - target_cents + 10 * global_mean_cents) div (n_cat - 1 + 10)")
          .as("enc_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** DuckDB twin: same integer-cents stats, same floor divisions. */
  val mlTargetEncodeSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, c_mktsegment AS segment,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS target_cents
      |  FROM orders JOIN customer ON c_custkey = o_custkey),
      |cs AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_cat,
      |    CAST(sum(target_cents) AS BIGINT) AS sum_cat
      |  FROM o GROUP BY segment),
      |g AS (SELECT CAST(sum(sum_cat) AS BIGINT) // CAST(sum(n_cat) AS BIGINT) AS global_mean_cents FROM cs)
      |SELECT o_orderkey, segment, target_cents, n_cat,
      |  CASE WHEN n_cat = 1 THEN global_mean_cents
      |       ELSE (sum_cat - target_cents) // (n_cat - 1) END AS loo_mean_cents,
      |  (sum_cat - target_cents + 10 * global_mean_cents) // (n_cat - 1 + 10) AS enc_cents
      |FROM o JOIN cs USING (segment) CROSS JOIN g
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------- A/B experiment
  /** Day-of-week seasonality profile — the baseline a monitoring stack
    * subtracts before calling anything an anomaly: per event type and
    * weekday (0 = Monday; epoch day + 3 mod 7, since 1970-01-01 was a
    * Thursday), total events and exact cents, plus the weekday's
    * deviation from the type's own all-week daily mean in signed ppm —
    * integer arithmetic end to end. The deviation column IS the
    * seasonal index: a type with a real weekly cycle shows stable
    * nonzero entries, and a detector that ignores it pages on every
    * weekend.
    *
    * == Scale design ==
    * One scan → one (type, weekday) map-side-combinable aggregate
    * (35 groups here, O(types·7) anywhere); the mean join-back is on
    * the O(types) rollup, broadcast.
    */
  def eventsSeasonality(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("cents"))
    val byDow = daily
      .select(col("event_type"), pmod(col("day") + 3, lit(7)).as("dow"),
        col("n"), col("cents"))
      .groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).as("n_events"), sum(col("cents")).as("cents_sum"),
        count(lit(1)).as("n_days"))
    val mean = byDow.groupBy(col("event_type"))
      .agg(expr("sum(n_events) div sum(n_days)").as("mean_per_day"))
    byDow.join(broadcast(mean), "event_type")
      .select(col("event_type"), col("dow"), col("n_events"),
        col("cents_sum"),
        expr("1000000 * (n_events div n_days - mean_per_day) div greatest(mean_per_day, 1)")
          .as("dev_ppm"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** DuckDB twin: same weekday fold, same integer deviation. */
  val eventsSeasonalitySql: String =
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |bd AS (SELECT event_type, (day + 3) % 7 AS dow,
      |    CAST(sum(n) AS BIGINT) AS n_events,
      |    CAST(sum(cents) AS BIGINT) AS cents_sum,
      |    count(*) AS n_days
      |  FROM daily GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) // sum(n_days) AS mean_per_day
      |  FROM bd GROUP BY 1)
      |SELECT bd.event_type, CAST(dow AS BIGINT) AS dow, n_events, cents_sum,
      |  CAST(1000000 * (n_events // n_days - mean_per_day)
      |    // greatest(mean_per_day, 1) AS BIGINT) AS dev_ppm
      |FROM bd JOIN m USING (event_type)
      |ORDER BY event_type, dow""".stripMargin

  // ------------------------------------------- sample-ratio mismatch
  /** A/B sample-ratio-mismatch monitor — the assignment-integrity gate
    * every experiment dashboard runs beside [[eventsAbLift]]'s effect
    * readout: per day, the DISTINCT active users in each hash arm
    * (same "ab|" salted assignment as the lift face) checked against
    * the designed 50/50 ratio by an exact one-degree chi-square,
    * χ² = (n_a−n_b)²/(n_a+n_b), in integer micro units; `srm_flag`
    * fires above the 0.05 critical value (3.841459 → 3 841 459 μ).
    * A firing SRM means the ASSIGNMENT is broken (bot traffic,
    * logging loss, biased bucketing) and the lift number cannot be
    * trusted — which is why the two ship together. On this corpus the
    * hash assignment is healthy and every day reads green; the spec
    * proves the gate non-vacuous by planting a skewed assignment.
    *
    * == Scale design ==
    * One scan → per-(day, user) dedup → per-day conditional distinct
    * counts (map-side combinable after the dedup shuffle on the
    * high-cardinality (day, user) key); the χ² arithmetic runs on the
    * O(days) relation.
    */
  // ------------------------------------------------ a/b power design
  /** Time-series feature engineering on the dense per-user day grid —
    * the lag/rolling block every churn/forecast training matrix
    * carries: daily spend and event count per user over the complete
    * calendar span (absent days ZERO-filled — a lag over observed
    * rows only would silently compare non-adjacent days), then
    * lag-1, lag-7 and the trailing 7-day sum in exact integer cents.
    * Grid-edge lags coalesce to 0 (a fixed training-matrix encoding,
    * not a null to impute downstream).
    *
    * == Scale design ==
    * One scan folds to the (user, day) daily relation (map-side
    * combinable); the grid is users × bounded day span with the
    * 1-row bounds broadcast; one user-keyed shuffle serves the join
    * and all three window features (same partition key, per-key
    * state O(7)). At 100 TB of events the grid is users × days —
    * orders of magnitude smaller than the input.
    */
  def mlLagFeatures(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      cents(col("value")).as("vc"))
    val daily = e.groupBy(col("user_id"), col("day"))
      .agg(sum(col("vc")).as("cents"), count(lit(1)).as("n_events"))
    val bounds = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = e.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("cents"), lit(0L)).as("cents"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .withColumn("lag1_cents", coalesce(lag(col("cents"), 1).over(w), lit(0L)))
      .withColumn("lag7_cents", coalesce(lag(col("cents"), 7).over(w), lit(0L)))
      .withColumn("roll7_cents", sum(col("cents")).over(w.rowsBetween(-6, 0)))
      .select(col("user_id"),
        date_format(date_add(to_date(lit("1970-01-01")), col("day").cast("int")),
          "yyyy-MM-dd").as("day"),
        col("cents"), col("n_events"),
        col("lag1_cents"), col("lag7_cents"), col("roll7_cents"))
      .orderBy(col("user_id"), col("day"))
  }

  /** DuckDB twin: same dense grid, same zero-fill and windows. */
  val mlLagFeaturesSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |daily AS (SELECT user_id, day, CAST(sum(vc) AS BIGINT) AS cents,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM e GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM e),
      |grid AS (SELECT u.user_id, d0 + i AS day
      |  FROM (SELECT DISTINCT user_id FROM e) u
      |  CROSS JOIN b, unnest(range(0, d1 - d0 + 1)) t(i)),
      |f AS (SELECT g.user_id, g.day,
      |    COALESCE(daily.cents, 0) AS cents,
      |    COALESCE(daily.n_events, 0) AS n_events
      |  FROM grid g LEFT JOIN daily ON daily.user_id = g.user_id AND daily.day = g.day),
      |l AS (SELECT user_id, day, cents, n_events,
      |    COALESCE(lag(cents, 1) OVER w, 0) AS lag1_cents,
      |    COALESCE(lag(cents, 7) OVER w, 0) AS lag7_cents,
      |    CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll7_cents
      |  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY day))
      |SELECT user_id, strftime(DATE '1970-01-01' + CAST(day AS INT), '%Y-%m-%d') AS day,
      |  cents, n_events, lag1_cents, lag7_cents, roll7_cents
      |FROM l ORDER BY user_id, day""".stripMargin

  // --------------------------------------------------------- CUSUM
  /** CUSUM change-point monitor over the per-type daily value series —
    * the sequential drift detector (Page 1954) that catches a
    * sustained small shift long before a per-point z-score fires. The
    * textbook recurrence s_k = max(0, s_{k-1} + dev_k) looks
    * iterative, but it has a closed windowed form:
    * s_k = P_k − min(0, min_{j≤k} P_j) with P the running deviation
    * prefix — a cumulative sum and a running min over ONE sorted
    * window pass, which is what makes exact CUSUM distributable (the
    * naive fold would serialize the whole series through one task).
    * Deviations are against the type's own mean daily cents (integer
    * floor); a day alarms when the accumulated excess exceeds one
    * full target day. Dense day grid: absent days contribute their
    * full negative deviation, as they should.
    *
    * == Scale design ==
    * One scan folds to the O(types × days) daily relation; the grid
    * and per-type targets are broadcast-sized; both window functions
    * share a single (type)-keyed sort. Exact integer cents
    * throughout — no float drift across engines.
    */
  def eventsCusum(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      cents(col("value")).as("vc"))
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
      .select(col("event_type"),
        date_format(date_add(to_date(lit("1970-01-01")), col("day").cast("int")),
          "yyyy-MM-dd").as("day"),
        col("cents"), col("target_cents"), col("dev_cents"), col("cusum_cents"),
        (col("cusum_cents") > col("target_cents")).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** DuckDB twin: same closed-form prefix/running-min CUSUM. */
  val eventsCusumSql: String =
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
      |SELECT event_type,
      |  strftime(DATE '1970-01-01' + CAST(day AS INT), '%Y-%m-%d') AS day,
      |  cents, target_cents, dev_cents,
      |  prefix - least(0, minp) AS cusum_cents,
      |  prefix - least(0, minp) > target_cents AS alarm
      |FROM p ORDER BY event_type, day""".stripMargin

  // ---------------------------------------------------- changepoint
  /** Retrospective least-squares changepoint (r14 wave 17) — the
    * WHERE-did-it-shift face beside [[eventsCusum]] (which answers
    * WHETHER a shift is in progress) and [[Maintain]]'s KS face
    * (whether two known epochs differ): per event type, the split of
    * the dense daily-cents series minimizing SSE_left + SSE_right —
    * binary segmentation's first cut, the building block of every
    * offline changepoint pass. Exact integer staging: n·SSE = n·Σy² −
    * (Σy)² per side (both non-negative by Cauchy-Schwarz, so the
    * floor divisions need no shift guard); costs are reported
    * PER-DAY (÷n — an intensive unit, so the column survives any
    * data-volume decade where the extensive SSE in cents² would
    * overflow int64; dividing every candidate by the same n preserves
    * the argmin), floored to whole cents² — two candidates tying
    * within 1 cents²/day go to the earlier day by the documented
    * (cost, day) order, identically on both engines. The
    * flat-model cost rides along, so `gain_micro` is the variance the
    * cut explains — a near-zero gain means "no changepoint", which is
    * the honest reading on a stationary series.
    *
    * == Scale design ==
    * ONE fact scan folds to the checkpointed O(types × days) daily
    * relation (map-side combinable); the dense grid, prefix sums,
    * per-type totals, candidate costs and the argmin all run on that
    * ledger under a single (type)-keyed sort — at 100 TB the series
    * per type is still O(days), so the candidate sweep costs nothing.
    */
  def eventsChangepoint(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        cents(col("value")).as("vc"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vc")).as("cents"))
      .stableCheckpoint()
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val dense = grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wRun = byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = byDay.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cand = dense
      .withColumn("i", row_number().over(byDay).cast("long"))
      .withColumn("cs",
        sum(col("cents")).over(wRun).cast("decimal(38,0)"))
      .withColumn("css",
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).over(wRun)
          .cast("decimal(38,0)"))
      .withColumn("n", count(lit(1)).over(wAll).cast("long"))
      .withColumn("stot",
        sum(col("cents")).over(wAll).cast("decimal(38,0)"))
      .withColumn("sstot",
        sum(expr("CAST(cents AS DECIMAL(38,0)) * cents")).over(wAll)
          .cast("decimal(38,0)"))
      .filter(col("i") < col("n"))
      .withColumn("a_num", expr(
        """(n - i) * (i * css - cs * cs)
          | + i * ((n - i) * (sstot - css) - (stot - cs) * (stot - cs))"""
          .stripMargin))
      .withColumn("cost_split", expr(
        "CAST(a_num div (i * (n - i) * n) AS BIGINT)"))
      .withColumn("cost_flat", expr(
        "CAST((n * sstot - stot * stot) div (n * n) AS BIGINT)"))
    cand
      .withColumn("rk", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("cost_split"), col("day"))))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        date_format(date_add(to_date(lit("1970-01-01")), col("day").cast("int")),
          "yyyy-MM-dd").as("cut_day"),
        col("i").as("n_left"), expr("CAST(n - i AS BIGINT)").as("n_right"),
        expr("CAST(cs div i AS BIGINT)").as("mean_left_cents"),
        expr("CAST((stot - cs) div (n - i) AS BIGINT)").as("mean_right_cents"),
        expr("CAST((stot - cs) div (n - i) - cs div i AS BIGINT)")
          .as("shift_cents"),
        col("cost_flat"), col("cost_split"),
        (col("cost_flat") - col("cost_split")).as("gain"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: same dense grid, same prefix/total staging, same
    * (cost, day) argmin order. */
  val eventsChangepointSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
      |daily AS (SELECT event_type, day, CAST(sum(vc) AS BIGINT) AS cents
      |  FROM e GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
      |grid AS (SELECT t.event_type, d0 + i AS day
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN b, unnest(range(0, d1 - d0 + 1)) u(i)),
      |dense AS (SELECT g.event_type, g.day, COALESCE(daily.cents, 0) AS cents
      |  FROM grid g LEFT JOIN daily ON daily.event_type = g.event_type AND daily.day = g.day),
      |pre AS (SELECT event_type, day,
      |    CAST(row_number() OVER wo AS HUGEINT) AS i,
      |    CAST(sum(cents) OVER wr AS HUGEINT) AS cs,
      |    CAST(sum(CAST(cents AS HUGEINT) * cents) OVER wr AS HUGEINT) AS css,
      |    CAST(count(*) OVER wa AS HUGEINT) AS n,
      |    CAST(sum(cents) OVER wa AS HUGEINT) AS stot,
      |    CAST(sum(CAST(cents AS HUGEINT) * cents) OVER wa AS HUGEINT) AS sstot
      |  FROM dense
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
      |    wr AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wa AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |cand AS (SELECT *,
      |    (n - i) * (i * css - cs * cs)
      |      + i * ((n - i) * (sstot - css) - (stot - cs) * (stot - cs)) AS a_num
      |  FROM pre WHERE i < n),
      |cost AS (SELECT *,
      |    CAST(a_num // (i * (n - i) * n) AS BIGINT) AS cost_split,
      |    CAST((n * sstot - stot * stot) // (n * n) AS BIGINT) AS cost_flat
      |  FROM cand),
      |best AS (SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY cost_split, day) AS rk FROM cost)
      |SELECT event_type,
      |  strftime(DATE '1970-01-01' + CAST(day AS INT), '%Y-%m-%d') AS cut_day,
      |  CAST(i AS BIGINT) AS n_left, CAST(n - i AS BIGINT) AS n_right,
      |  CAST(cs // i AS BIGINT) AS mean_left_cents,
      |  CAST((stot - cs) // (n - i) AS BIGINT) AS mean_right_cents,
      |  CAST((stot - cs) // (n - i) - cs // i AS BIGINT) AS shift_cents,
      |  cost_flat, cost_split,
      |  cost_flat - cost_split AS gain
      |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------- nearest as-of join
  /** The four observation dates the PIT backfill materializes features
    * as-of (a weekly training-snapshot cadence over the event month).
    */
  private val pitCutoffs = Seq("2024-01-08", "2024-01-15", "2024-01-22", "2024-01-29")

  /** Point-in-time-correct feature backfill — the feature-store query
    * that builds a training matrix without future leakage: for every
    * (entity, observation date, feature) triple, the feature's value
    * AS OF that date — events strictly before the cutoff only, the
    * latest by (event time, arrival id) — plus the running event
    * count. Emitted in the long (entity, ts, feature, value) layout
    * feature stores materialize; a trainer pivots downstream. Using
    * tomorrow's click to predict today is the classic silent model
    * bug; this operator is the guard.
    *
    * == Scale design ==
    * The scan fans out ×|cutoffs| (bounded, broadcast literal array —
    * the standard PIT backfill shape), then ONE shuffle on the natural
    * (entity, cutoff, feature) key: the latest-row pick and the count
    * share a single window partition. No self-join per cutoff, no
    * global sort. At 100 TB with weekly snapshots this is scan ×4 +
    * one high-cardinality-keyed exchange.
    */
  def mlPitFeatures(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("cutoff"), col("event_type"))
    val e = events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), cents(col("value")).as("vc"))
      .select(col("*"),
        explode(array(pitCutoffs.map(lit(_)): _*)).as("cutoff"))
      .filter(col("us") < unix_micros(col("cutoff").cast("timestamp")))
    e.withColumn("rn", row_number().over(w.orderBy(col("us").desc, col("event_id").desc)))
      .withColumn("n_so_far", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("cutoff"), col("event_type"),
        col("n_so_far"), col("vc").as("last_value_cents"), col("us").as("last_us"))
      .orderBy(col("user_id"), col("cutoff"), col("event_type"))
  }

  /** DuckDB twin: same cutoff fan-out, same single window partition. */
  val mlPitFeaturesSql: String = {
    val cuts = pitCutoffs.map(c => s"'$c'").mkString(", ")
    s"""WITH c AS (SELECT unnest([$cuts]) AS cutoff),
       |e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
       |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
       |x AS (SELECT e.*, c.cutoff FROM e CROSS JOIN c
       |  WHERE e.us < epoch_us(CAST(c.cutoff AS TIMESTAMP))),
       |r AS (SELECT user_id, cutoff, event_type, us, event_id, vc,
       |    row_number() OVER (PARTITION BY user_id, cutoff, event_type
       |      ORDER BY us DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id, cutoff, event_type) AS n_so_far
       |  FROM x)
       |SELECT user_id, cutoff, event_type, CAST(n_so_far AS BIGINT) AS n_so_far,
       |  vc AS last_value_cents, us AS last_us
       |FROM r WHERE rn = 1
       |ORDER BY user_id, cutoff, event_type""".stripMargin
  }

  // ---------------------------------------- composed feature build
  /** The feature-store nightly build (r14 wave 30 — the third composed
    * pipeline beside pretrain/eval builds, completing the ML symmetry:
    * the verified feature faces wired into ONE leak-free training
    * matrix). Serving date C = last observed day − 7; every feature is
    * computed from events STRICTLY BEFORE C and the label strictly at
    * or after it — the point-in-time discipline [[mlPitFeatures]]
    * proves, applied end to end. Stages (each one's registered face is
    * the contract): trailing 7/28-day activity and cents
    * ([[mlLagFeatures]]' trailing windows at one origin), recency +
    * the 7-day staleness flag ([[joinAsofTolerance]]'s max-feature-age
    * rule), the modal event type ([[aggMode]]'s argmax convention),
    * a "ftr|"-salted 5-fold train/val split (decorrelated from every
    * other salt, [[eventsAbLift]]'s bucket family), and a smoothed
    * target encoding of the modal type fitted on the TRAIN FOLD ONLY
    * and served to val (the [[mlTargetEncode]] discipline — exact
    * integer ppm, prior weight 20, unseen types fall back to the
    * train-global rate).
    *
    * == Scale design ==
    * ONE fact scan folds map-side onto the checkpointed
    * O(users × days × types) ledger; every stage — features, mode,
    * label, encoding — rides that relation. The encoding table is
    * O(types) and broadcasts back; no stage re-touches raw events, so
    * the composed DAG adds stages without adding corpus scans (the
    * pipeline_pretrain_build contract).
    */
  def pipelineFeatureBuild(s: SparkSession, dir: String): DataFrame = {
    val led = events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"),
        col("event_type"), cents(col("value")).as("vc"))
      .groupBy(col("user_id"), col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("c"))
      .stableCheckpoint()
    val cutoff = led.agg((max(col("day")) - 7L).as("cd"))
    val past = led.crossJoin(broadcast(cutoff)).filter(col("day") < col("cd"))
    val feats = past.groupBy(col("user_id"), col("cd")).agg(
      sum(when(col("day") >= col("cd") - 7L, col("n")).otherwise(0L)).as("f_n7"),
      sum(when(col("day") >= col("cd") - 28L, col("n")).otherwise(0L)).as("f_n28"),
      sum(when(col("day") >= col("cd") - 28L, col("c")).otherwise(0L)).as("f_cents28"),
      (first(col("cd")) - max(col("day"))).as("f_days_since_last"))
    val wm = Window.partitionBy(col("user_id"))
      .orderBy(col("tn").desc, col("event_type"))
    val mode = past.groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("n")).as("tn"))
      .withColumn("rn", row_number().over(wm)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("f_mode_type"))
    val lab = led.crossJoin(broadcast(cutoff)).groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("day") >= col("cd"), 1L)
        .otherwise(0L)).as("label"))
    val h = polyHash(concat(lit("ftr|"), col("user_id").cast("string")), 1000000007L)
    val base = feats.join(mode, "user_id").join(lab, "user_id")
      .select(col("user_id"),
        when(h % 5L === 0L, "val").otherwise("train").as("fold"),
        col("f_n7"), col("f_n28"), col("f_cents28"), col("f_days_since_last"),
        (col("f_days_since_last") > 7L).cast("long").as("f_stale"),
        col("f_mode_type"), col("label"))
      .stableCheckpoint()
    val train = base.filter(col("fold") === "train")
    val g = train.agg(expr("1000000 * sum(label) div count(1)").as("gppm"))
    val enc = train.groupBy(col("f_mode_type")).agg(
        sum(col("label")).as("pos_t"), count(lit(1)).as("n_t"))
      .crossJoin(broadcast(g))
      .select(col("f_mode_type").as("enc_type"),
        expr("(1000000 * pos_t + 20 * gppm) div (n_t + 20)").as("enc_ppm"))
    base.join(broadcast(enc), col("enc_type") === col("f_mode_type"), "left_outer")
      .crossJoin(broadcast(g))
      .select(col("user_id"), col("fold"), col("f_n7"), col("f_n28"),
        col("f_cents28"), col("f_days_since_last"), col("f_stale"),
        col("f_mode_type"),
        coalesce(col("enc_ppm"), col("gppm")).as("f_type_enc_ppm"),
        col("label"))
      .orderBy(col("user_id"))
  }

  /** DuckDB twin: the stage CTEs chained — ledger, cutoff, features,
    * mode, label, fold, train-only encoding. */
  val pipelineFeatureBuildSql: String =
    s"""WITH led AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    event_type, count(*) AS n,
      |    CAST(sum(round(value*100)) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2, 3),
      |cdt AS (SELECT max(day) - 7 AS cd FROM led),
      |past AS (SELECT l.*, cdt.cd FROM led l CROSS JOIN cdt WHERE l.day < cdt.cd),
      |f AS (SELECT user_id,
      |    CAST(sum(CASE WHEN day >= cd - 7 THEN n ELSE 0 END) AS BIGINT) AS f_n7,
      |    CAST(sum(CASE WHEN day >= cd - 28 THEN n ELSE 0 END) AS BIGINT) AS f_n28,
      |    CAST(sum(CASE WHEN day >= cd - 28 THEN c ELSE 0 END) AS BIGINT) AS f_cents28,
      |    CAST(max(cd) - max(day) AS BIGINT) AS f_days_since_last
      |  FROM past GROUP BY 1),
      |m AS (SELECT user_id, event_type AS f_mode_type FROM (
      |    SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id
      |        ORDER BY sum(n) DESC, event_type) AS rn
      |    FROM past GROUP BY user_id, event_type) WHERE rn = 1),
      |lab AS (SELECT l.user_id,
      |    CAST(max(CASE WHEN l.event_type = 'purchase' AND l.day >= cdt.cd
      |      THEN 1 ELSE 0 END) AS BIGINT) AS label
      |  FROM led l CROSS JOIN cdt GROUP BY 1),
      |base AS (SELECT f.user_id,
      |    CASE WHEN ${polyHashSql("'ftr|' || CAST(f.user_id AS VARCHAR)", 1000000007L)} % 5 = 0
      |      THEN 'val' ELSE 'train' END AS fold,
      |    f_n7, f_n28, f_cents28, f_days_since_last,
      |    CAST(CASE WHEN f_days_since_last > 7 THEN 1 ELSE 0 END AS BIGINT) AS f_stale,
      |    m.f_mode_type, lab.label
      |  FROM f JOIN m USING (user_id) JOIN lab USING (user_id)),
      |g AS (SELECT CAST(1000000 * sum(label) // count(*) AS BIGINT) AS gppm
      |  FROM base WHERE fold = 'train'),
      |enc AS (SELECT f_mode_type,
      |    CAST((1000000 * sum(label) + 20 * max(g.gppm)) // (count(*) + 20) AS BIGINT)
      |      AS enc_ppm
      |  FROM base CROSS JOIN g WHERE fold = 'train' GROUP BY f_mode_type)
      |SELECT b.user_id, b.fold, b.f_n7, b.f_n28, b.f_cents28,
      |  b.f_days_since_last, b.f_stale, b.f_mode_type,
      |  COALESCE(enc.enc_ppm, g.gppm) AS f_type_enc_ppm, b.label
      |FROM base b LEFT JOIN enc USING (f_mode_type) CROSS JOIN g
      |ORDER BY b.user_id""".stripMargin

  // -------------------------------------- hierarchical reconciliation
  /** Hierarchical forecast reconciliation (r17) — the COHERENCE rung of
    * the forecast ladder: every prior rung forecasts each series in
    * isolation, but a consumer reading both the per-type and the total
    * forecast gets numbers that don't add up. This face runs the same
    * leak-free rolling-origin Holt walk ([[holtFold]], the
    * [[mlForecastTrend]] harness) over the 5 type series AND the
    * derived `__total` series, then evaluates two classic
    * reconciliations over the final-7-day window:
    *
    *   - bottom rows (per type): `mae_base_milli` is the direct Holt
    *     forecast's MAE; `mae_recon_milli` re-forecasts the type
    *     TOP-DOWN by forecast proportions — reconciled =
    *     ⌊top_pred × type_pred / Σ type_preds⌋ (Hyndman's
    *     forecast-proportions method, all nonneg integer math — Holt
    *     predictions are clamped at 0 first, a count series' honest
    *     floor — so `div`/`//` agree between engines).
    *   - the `__total` row: `mae_base_milli` is the DIRECT top
    *     forecast; `mae_recon_milli` is the BOTTOM-UP forecast
    *     (Σ type predictions) — whether the disaggregated signal beats
    *     forecasting the aggregate.
    *
    * `gain_milli` = base − recon on every row (positive ⇔
    * reconciliation helped). Types appear on eval days they have
    * observations for (the trend face's paired-row contract).
    *
    * == Scale design ==
    * One scan → the O(types × days) grid (checkpointed); the total
    * series is a second bounded fold of the SAME grid, not a second
    * scan. Sorted prior-window collects are calendar-bounded; the
    * per-day proportion join is O(7) rows broadcast; ledger O(types+1).
    */
  def mlForecastReconcile(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyGrid(s, dir, grid => grid.unionByName(
      grid.groupBy(col("day")).agg(sum(col("n")).as("n"))
        .select(lit("__total").as("event_type"), col("day"), col("n"))))
    val eval = daily
      .withColumn("cum_d", count(col("n")).over(wFlat))
      .withColumn("prior", priorCells)
      .transform(anchoredOn(daily))
      .filter(lastDays(7) && col("cum_d") >= 1)
      .withColumn("st", expr(holtFold))
      .withColumn("pm", greatest(lit(0L), expr("st.lv + st.tr")))
      .select(col("event_type"), col("day"), col("n"), col("pm"))
      .stableCheckpoint()
    val bottoms = eval.filter(col("event_type") =!= "__total")
    val sums = bottoms.groupBy(col("day")).agg(sum(col("pm")).as("sum_base"))
    val tops = eval.filter(col("event_type") === "__total")
      .select(col("day"), col("pm").as("top_pm"), col("n").as("n_total"))
    val bLedger = bottoms
      .join(broadcast(tops.select(col("day"), col("top_pm"))), Seq("day"))
      .join(broadcast(sums), Seq("day"))
      .withColumn("recon_pm",
        expr("CASE WHEN sum_base = 0 THEN pm ELSE (top_pm * pm) div sum_base END"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("n") - expr("pm div 1000"))).as("abs_base"),
        sum(abs(col("n") - expr("recon_pm div 1000"))).as("abs_recon"))
    val tLedger = tops
      .join(broadcast(sums), Seq("day"))
      .groupBy(lit("__total").as("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("n_total") - expr("top_pm div 1000"))).as("abs_base"),
        sum(abs(col("n_total") - expr("sum_base div 1000"))).as("abs_recon"))
    bLedger.unionByName(tLedger).transform(pairedMae("base", "recon"))
  }

  /** DuckDB twin: the same grid + `__total` union, the list-accumulator
    * Holt fold, clamped milli predictions, forecast-proportions
    * top-down + bottom-up rollup. */
  lazy val mlForecastReconcileSql: String =
    s"""${ladderSql("(SELECT * FROM d UNION ALL\n    SELECT '__total', day, CAST(sum(n) AS BIGINT) FROM d GROUP BY 2) u",
         cumD, priorList)},
       |e AS (SELECT *, $duckHolt AS st
       |  FROM c WHERE day > last_day - 7 AND cum_d >= 1),
       |p AS (SELECT event_type, day, n,
       |    greatest(CAST(0 AS BIGINT), st[1] + st[2]) AS pm FROM e),
       |bt AS (SELECT * FROM p WHERE event_type <> '__total'),
       |sm AS (SELECT day, CAST(sum(pm) AS BIGINT) AS sum_base FROM bt GROUP BY 1),
       |tp AS (SELECT day, pm AS top_pm, n AS n_total FROM p WHERE event_type = '__total'),
       |bl AS (SELECT bt.event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |    CAST(sum(abs(bt.n - bt.pm // 1000)) AS BIGINT) AS abs_base,
       |    CAST(sum(abs(bt.n - (CASE WHEN sm.sum_base = 0 THEN bt.pm
       |      ELSE (tp.top_pm * bt.pm) // sm.sum_base END) // 1000)) AS BIGINT) AS abs_recon
       |  FROM bt JOIN tp USING (day) JOIN sm USING (day)
       |  GROUP BY 1),
       |tl AS (SELECT '__total' AS event_type, CAST(count(*) AS BIGINT) AS n_eval,
       |    CAST(sum(abs(n_total - top_pm // 1000)) AS BIGINT) AS abs_base,
       |    CAST(sum(abs(n_total - sum_base // 1000)) AS BIGINT) AS abs_recon
       |  FROM tp JOIN sm USING (day)),
       |led AS (SELECT * FROM bl UNION ALL SELECT * FROM tl)
       |${pairedMaeSql("base", "recon", "led")}""".stripMargin
}
