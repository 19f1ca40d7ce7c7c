package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashExpressions.{polyHash, polyHashSql}

/** Experimentation / causal operators: A/B lift, CUPED, sequential
  * tests, power, SRM, difference-in-differences and the metric tree.
  * Mixed into [[Analytics]]; split from Analytics.scala in r17 (pure
  * refactor).
  */
trait AnalyticsExperiments extends AnalyticsBase {
  /** A/B experiment readout — deterministic hash-bucket arm assignment
    * over users ("ab|"-salted content hash, the engine's split-family
    * convention, so arms are decorrelated from every sampling salt),
    * per-arm user/conversion counts (conversion = any `purchase`
    * event), rates and lift in exact integer ppm, and the two-
    * proportion pooled z statistic in milli-units. The z² is computed
    * as STAGED integer floor divisions (documented order, identical on
    * both engines; accurate to ~3 significant digits which is all a
    * launch gate reads) and rooted with the ±1-corrected exact integer
    * sqrt. One row out — the experiment dashboard's headline.
    *
    * == Scale design ==
    * One events scan folded to per-user conversion flags (map-side
    * combinable on the natural user key), then a single 4-long global
    * aggregate; nothing downstream exceeds one row. At 100 TB this is
    * scan + two combine stages with O(1) state.
    */
  def eventsAbLift(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .select(col("user_id"), col("conv"), (h % 2L).as("armn"))
      .agg(
        sum(when(col("armn") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("armn") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("armn") === 0L, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("armn") === 1L, col("conv")).otherwise(0L)).as("conv_b"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        expr("(1000000 * conv_a) div n_a").as("rate_a_ppm"),
        expr("(1000000 * conv_b) div n_b").as("rate_b_ppm"),
        expr("(1000000 * conv_b) div n_b - (1000000 * conv_a) div n_a").as("lift_ppm"),
        // the cross-product d = conv_b*n_a - conv_a*n_b reaches ~1e18
        // at ~1e9 per-arm counts and its square would wrap int64
        // silently: promote d to DECIMAL(38,0) so d*d is exact (Spark's
        // div on decimals still returns the BIGINT floor quotient)
        expr("""CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
                ELSE ((CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
                      * (CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
                      div (n_a * n_b)) * 1000000 * (n_a + n_b)
                      div ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) END""")
          .as("z2_micro"))
      .withColumn("r0", expr("CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT)"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a_ppm"), col("rate_b_ppm"), col("lift_ppm"),
        expr("""CASE WHEN r0*r0 > z2_micro THEN r0-1
                WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END""").as("z_milli"))
  }

  /** DuckDB twin: same salted-hash arms, same staged floor z². */
  val eventsAbLiftSql: String =
    s"""WITH u AS (
      |  SELECT user_id, max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events GROUP BY user_id),
      |a AS (SELECT
      |    CAST(sum(CASE WHEN armn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN armn = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u),
      |z AS (SELECT *,
      |    (1000000 * conv_a) // n_a AS rate_a_ppm,
      |    (1000000 * conv_b) // n_b AS rate_b_ppm,
      |    (1000000 * conv_b) // n_b - (1000000 * conv_a) // n_a AS lift_ppm,
      |    CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
      |      ELSE CAST(((CAST(conv_b AS HUGEINT) * n_a - CAST(conv_a AS HUGEINT) * n_b)
      |            * (CAST(conv_b AS HUGEINT) * n_a - CAST(conv_a AS HUGEINT) * n_b)
      |            // (n_a * n_b)) * 1000000 * (n_a + n_b)
      |            // ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) AS BIGINT) END AS z2_micro
      |  FROM a),
      |r AS (SELECT *, CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT) AS r0 FROM z)
      |SELECT n_a, n_b, conv_a, conv_b, rate_a_ppm, rate_b_ppm, lift_ppm,
      |  CASE WHEN r0*r0 > z2_micro THEN r0-1
      |       WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END AS z_milli
      |FROM r""".stripMargin

  // ------------------------------------------------------ CUPED lift
  /** CUPED-adjusted experiment readout (r14 wave 16) — the variance-
    * reduction face of the experimentation family ([[eventsAbSrm]]
    * checks the split, [[eventsAbPower]] designs the size,
    * [[eventsAbLift]] reads the raw effect; this one reads the SAME
    * effect with the pre-period regressed out, the technique that
    * lets the same experiment reach significance on a fraction of the
    * traffic). Covariate X = per-user event count before the
    * 2024-01-16 cut ([[graft.operators.Maintain]]'s drift-epoch cut);
    * outcome Y = the post-cut `purchase` COUNT — the binary
    * conversion is degenerate on this window (every user eventually
    * purchases, [[eventsAbPower]]'s documented long-window trap), the
    * count metric carries real variance and real X-correlation; arms
    * = the family's "ab|" salted hash. θ = cov(X,Y)/var(X) in ppm and
    * ρ² (the theoretical
    * variance-reduction fraction, var(Y−θX) = var(Y)·(1−ρ²)) come
    * from ONE set of global sums (n, Σx, Σy, Σx², Σxy); the adjusted
    * per-arm means use the fraction-free form
    * Σ_arm(10⁶·n·y_u − θ_ppm·(n·x_u − Σx)), which needs only per-arm
    * sums — so the whole readout is a single two-level aggregate,
    * never a per-user second pass. All divisions are SHIFT-stabilized
    * (numerators made non-negative before the floor div, shift
    * subtracted after) because Spark `div` truncates toward zero
    * while DuckDB `//` floors — they agree only on non-negative
    * numerators; intermediate products are DECIMAL(38,0)/HUGEINT,
    * exact to ~10⁶ users × 10⁴ events/user (documented bound; beyond
    * that, re-stage with an upfront ÷n as the repo's z² face does).
    *
    * == Scale design ==
    * One events scan folded to per-user (x, y, arm) — map-side
    * combinable on the natural user key — then ONE global aggregate
    * producing both the pooled moment sums and the per-arm sums;
    * everything after is scalar arithmetic on a 1-row relation. At
    * 100 TB: scan + two combine stages with O(1) state, identical
    * shape to [[eventsAbLift]].
    */
  def eventsAbCuped(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val cut = lit("2024-01-16").cast("timestamp")
    val perUser = events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("x"),
        sum(when(col("ts") >= cut && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("y"))
      .select(col("x"), col("y"), (h % 2L).as("armn"))
    perUser
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("y")).cast("decimal(38,0)").as("sy"),
        sum(expr("x * x")).cast("decimal(38,0)").as("sxx"),
        sum(expr("y * y")).cast("decimal(38,0)").as("syy"),
        sum(expr("x * y")).cast("decimal(38,0)").as("sxy"),
        sum(when(col("armn") === 0L, 1L).otherwise(0L))
          .cast("decimal(38,0)").as("n_a"),
        sum(when(col("armn") === 1L, 1L).otherwise(0L))
          .cast("decimal(38,0)").as("n_b"),
        sum(when(col("armn") === 0L, col("y")).otherwise(0L))
          .cast("decimal(38,0)").as("conv_a"),
        sum(when(col("armn") === 1L, col("y")).otherwise(0L))
          .cast("decimal(38,0)").as("conv_b"),
        sum(when(col("armn") === 0L, col("x")).otherwise(0L))
          .cast("decimal(38,0)").as("sx_a"),
        sum(when(col("armn") === 1L, col("x")).otherwise(0L))
          .cast("decimal(38,0)").as("sx_b"))
      .withColumn("cov_n2", expr("n * sxy - sx * sy"))
      .withColumn("varx_n2", expr("n * sxx - sx * sx"))
      .withColumn("vary_n2", expr("n * syy - sy * sy"))
      // theta in ppm; numerator shifted by 10^13·varx so the floor div
      // runs on a non-negative value (by Cauchy-Schwarz |theta_ppm| <=
      // 10^6·sqrt(vary/varx), ~2e5 on any non-degenerate corpus where
      // purchases are a fraction of events; the 10^13 guard holds to
      // vary/varx ratios of 10^14)
      .withColumn("theta_ppm", expr(
        """CASE WHEN varx_n2 = 0 THEN 0
          |ELSE (1000000 * cov_n2 + 10000000000000 * varx_n2) div varx_n2
          |     - 10000000000000 END""".stripMargin))
      // rho^2 in ppm: cov² and var products are non-negative, no shift
      .withColumn("rho2_ppm", expr(
        """CASE WHEN varx_n2 * vary_n2 = 0 THEN 0
          |ELSE (1000000 * cov_n2 * cov_n2) div (varx_n2 * vary_n2) END"""
          .stripMargin))
      .withColumn("adjsum_a", expr(
        "1000000 * n * conv_a - theta_ppm * (n * sx_a - n_a * sx)"))
      .withColumn("adjsum_b", expr(
        "1000000 * n * conv_b - theta_ppm * (n * sx_b - n_b * sx)"))
      .select(
        col("n").cast("long").as("n"),
        col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"),
        col("theta_ppm").cast("long").as("theta_ppm"),
        col("rho2_ppm").cast("long").as("rho2_ppm"),
        expr("CAST(1000000 - rho2_ppm AS BIGINT)").as("var_ratio_ppm"),
        expr("CAST((1000000 * conv_a) div n_a AS BIGINT)").as("rate_a_micro"),
        expr("CAST((1000000 * conv_b) div n_b AS BIGINT)").as("rate_b_micro"),
        expr("CAST((1000000 * conv_b) div n_b - (1000000 * conv_a) div n_a AS BIGINT)")
          .as("lift_raw_micro"),
        expr("""CAST((adjsum_a + 10000000000000000 * (n * n_a)) div (n * n_a)
                - 10000000000000000 AS BIGINT)""").as("adj_a_micro"),
        expr("""CAST((adjsum_b + 10000000000000000 * (n * n_b)) div (n * n_b)
                - 10000000000000000 AS BIGINT)""").as("adj_b_micro"),
        expr("""CAST(((adjsum_b + 10000000000000000 * (n * n_b)) div (n * n_b))
                - ((adjsum_a + 10000000000000000 * (n * n_a)) div (n * n_a)) AS BIGINT)""")
          .as("lift_cuped_micro"))
  }

  /** DuckDB twin: same per-user fold, same HUGEINT moment sums, same
    * shift-stabilized floor divisions in the same staging order. */
  val eventsAbCupedSql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events GROUP BY user_id),
      |s AS (SELECT
      |    CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(y * y) AS HUGEINT) AS syy,
      |    CAST(sum(x * y) AS HUGEINT) AS sxy,
      |    CAST(sum(CASE WHEN armn = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS n_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS n_b,
      |    CAST(sum(CASE WHEN armn = 0 THEN y ELSE 0 END) AS HUGEINT) AS conv_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN y ELSE 0 END) AS HUGEINT) AS conv_b,
      |    CAST(sum(CASE WHEN armn = 0 THEN x ELSE 0 END) AS HUGEINT) AS sx_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN x ELSE 0 END) AS HUGEINT) AS sx_b
      |  FROM u),
      |d AS (SELECT *, n * sxy - sx * sy AS cov_n2,
      |    n * sxx - sx * sx AS varx_n2, n * syy - sy * sy AS vary_n2 FROM s),
      |t AS (SELECT *,
      |    CASE WHEN varx_n2 = 0 THEN 0
      |      ELSE (1000000 * cov_n2 + 10000000000000 * varx_n2) // varx_n2
      |           - 10000000000000 END AS theta_ppm,
      |    CASE WHEN varx_n2 * vary_n2 = 0 THEN 0
      |      ELSE (1000000 * cov_n2 * cov_n2) // (varx_n2 * vary_n2) END AS rho2_ppm
      |  FROM d),
      |a AS (SELECT *,
      |    1000000 * n * conv_a - theta_ppm * (n * sx_a - n_a * sx) AS adjsum_a,
      |    1000000 * n * conv_b - theta_ppm * (n * sx_b - n_b * sx) AS adjsum_b
      |  FROM t)
      |SELECT CAST(n AS BIGINT) AS n, CAST(n_a AS BIGINT) AS n_a,
      |  CAST(n_b AS BIGINT) AS n_b,
      |  CAST(theta_ppm AS BIGINT) AS theta_ppm,
      |  CAST(rho2_ppm AS BIGINT) AS rho2_ppm,
      |  CAST(1000000 - rho2_ppm AS BIGINT) AS var_ratio_ppm,
      |  CAST((1000000 * conv_a) // n_a AS BIGINT) AS rate_a_micro,
      |  CAST((1000000 * conv_b) // n_b AS BIGINT) AS rate_b_micro,
      |  CAST((1000000 * conv_b) // n_b - (1000000 * conv_a) // n_a AS BIGINT) AS lift_raw_micro,
      |  CAST((adjsum_a + 10000000000000000 * (n * n_a)) // (n * n_a)
      |       - 10000000000000000 AS BIGINT) AS adj_a_micro,
      |  CAST((adjsum_b + 10000000000000000 * (n * n_b)) // (n * n_b)
      |       - 10000000000000000 AS BIGINT) AS adj_b_micro,
      |  CAST(((adjsum_b + 10000000000000000 * (n * n_b)) // (n * n_b))
      |       - ((adjsum_a + 10000000000000000 * (n * n_a)) // (n * n_a)) AS BIGINT) AS lift_cuped_micro
      |FROM a""".stripMargin

  // ------------------------------------------ group-sequential test
  /** Group-sequential experiment decision (r14 wave 19) — the
    * peeking-CORRECT face the experimentation family was missing:
    * [[graft.streaming.EventStreams.streamAbLift]] makes the peeking
    * problem visible (its per-day z wanders past 1.96 and back before
    * settling), this face applies the published fix — K = 5 planned
    * looks at enrollment-time quantiles with Pocock (1977) and
    * O'Brien–Fleming (1979) alpha-adjusted boundaries, the two
    * standard group-sequential designs. Per look: the cumulative
    * per-arm enrollment / first-purchase counters (the identical
    * firsts-fold the live monitor uses, so the faces can never
    * disagree on what a look sees), the pooled two-proportion z via
    * `events_ab_lift`'s staged exact-integer z², and THREE verdicts —
    * `naive_sig` (z > 1.960, the wrong fixed-threshold peek),
    * `pocock_sig` (z > 2.413, the constant Pocock boundary for K = 5,
    * α = 0.05 two-sided) and `obf_sig` (z_k > 2.040·√(K/k), the
    * O'Brien–Fleming spend — compared EXACTLY as z²_micro >
    * (2040²·5) div k, which equals the real-valued inequality by the
    * floor-division identity z² > N div k ⇔ z²·k > N). Look days are
    * the ⌈k·D/5⌉-ranked epoch days of the daily delta ledger, so the
    * design is SF-invariant. All integer end to end; the boundary
    * constants are published table values in milli units.
    *
    * == Scale design ==
    * ONE fact scan folds to the checkpointed per-user firsts relation
    * (map-side combinable on user_id); the delta union, daily sums,
    * cumulative windows, rank and the 5-row look join all run on the
    * O(days) ledger (documented bounded-relation single-partition
    * window). Identical shape to `stream_ab_lift`'s batch face plus a
    * broadcast 5-row join.
    */
  def eventsAbSequential(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    import org.apache.spark.sql.expressions.Window
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
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = deltas.groupBy(col("day"))
      .agg(sum(col("da")).as("da"), sum(col("db")).as("db"),
        sum(col("dca")).as("dca"), sum(col("dcb")).as("dcb"))
      .select(col("day"),
        sum(col("da")).over(w).as("n_a"), sum(col("db")).over(w).as("n_b"),
        sum(col("dca")).over(w).as("conv_a"),
        sum(col("dcb")).over(w).as("conv_b"),
        row_number().over(Window.orderBy(col("day"))).as("rk"),
        count(lit(1)).over(wAll).as("nd"))
    val looks = s.range(1, 6).select(col("id").as("look"))
    cum.join(broadcast(looks),
        col("rk") === expr("(look * nd + 4) div 5"))
      .withColumn("z2_micro", expr(
        """CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
          |    OR conv_a + conv_b = n_a + n_b THEN 0
          |ELSE CAST(((CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
          |      * (CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
          |      div (n_a * n_b)) * 1000000 * (n_a + n_b)
          |      div ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) AS BIGINT) END"""
          .stripMargin))
      .withColumn("r0", expr(
        "CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT)"))
      .withColumn("z_milli", expr(
        """CASE WHEN r0*r0 > z2_micro THEN r0-1
          |WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END""".stripMargin))
      // OBF boundary² in micro units: (2040 milli)²·K div k — the floor
      // is exact for the decision (see Scaladoc identity)
      .withColumn("obf_bound2_micro", expr("20808000 div look"))
      .select(col("look"), col("day"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        col("z2_micro"), col("z_milli"),
        col("obf_bound2_micro"),
        when(col("z_milli") > 1960L, 1L).otherwise(0L).as("naive_sig"),
        when(col("z_milli") > 2413L, 1L).otherwise(0L).as("pocock_sig"),
        when(col("z2_micro") > col("obf_bound2_micro"), 1L).otherwise(0L)
          .as("obf_sig"))
      .orderBy(col("look"))
  }

  /** DuckDB twin: same firsts fold, delta union, ranked look join and
    * staged integer boundaries in the same order. */
  val eventsAbSequentialSql: String =
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
      |    CAST(sum(dcb) OVER w AS HUGEINT) AS conv_b,
      |    row_number() OVER (ORDER BY day) AS rk,
      |    count(*) OVER () AS nd
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |looks(look) AS (VALUES (1), (2), (3), (4), (5)),
      |sel AS (SELECT l.look, c.* FROM cum c
      |  JOIN looks l ON c.rk = (l.look * c.nd + 4) // 5),
      |z AS (SELECT *,
      |    CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
      |        OR conv_a + conv_b = n_a + n_b THEN 0
      |      ELSE CAST(((conv_b * n_a - conv_a * n_b)
      |            * (conv_b * n_a - conv_a * n_b)
      |            // (n_a * n_b)) * 1000000 * (n_a + n_b)
      |            // ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) AS BIGINT) END AS z2_micro
      |  FROM sel),
      |r AS (SELECT *, CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT) AS r0 FROM z),
      |m AS (SELECT *,
      |    CASE WHEN r0*r0 > z2_micro THEN r0-1
      |         WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END AS z_milli,
      |    20808000 // look AS obf_bound2_micro
      |  FROM r)
      |SELECT CAST(look AS BIGINT) AS look, CAST(day AS BIGINT) AS day,
      |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(conv_a AS BIGINT) AS conv_a, CAST(conv_b AS BIGINT) AS conv_b,
      |  z2_micro, CAST(z_milli AS BIGINT) AS z_milli,
      |  CAST(obf_bound2_micro AS BIGINT) AS obf_bound2_micro,
      |  CAST(CASE WHEN z_milli > 1960 THEN 1 ELSE 0 END AS BIGINT) AS naive_sig,
      |  CAST(CASE WHEN z_milli > 2413 THEN 1 ELSE 0 END AS BIGINT) AS pocock_sig,
      |  CAST(CASE WHEN z2_micro > obf_bound2_micro THEN 1 ELSE 0 END AS BIGINT) AS obf_sig
      |FROM m ORDER BY look""".stripMargin

  // ------------------------------------------ difference-in-differences
  /** Difference-in-differences readout (r14 wave 19) — the
    * quasi-experimental face of the family: the 2×2 table of
    * (arm × pre/post the 2024-01-16 epoch cut) with conversion per
    * ACTIVE USER-DAY in exact ppm, the pre-period gap (the balance
    * check — under the family's randomized hash arms it should sit
    * near zero, which is the A/A validation of the estimator), the
    * post-period gap, and DiD = post-gap − pre-gap. For an
    * observational grouping the same arithmetic is the
    * parallel-trends estimator; here it doubles as the proof that the
    * hash assignment carries no pre-existing difference the raw lift
    * face would misattribute. No signed division anywhere: each cell
    * rate is a floor div of non-negative integers, and the gaps/DiD
    * are SUBTRACTIONS of already-floored rates — engine-stable by
    * construction.
    *
    * == Scale design ==
    * ONE fact scan dedupes to (user, day) with a purchase flag
    * (map-side combinable), then a single 8-lane conditional
    * aggregate to one row — the events_ab_lift shape with a period
    * axis.
    */
  /** Growth-accounting metric tree — the north-star decomposition a
    * revenue dashboard runs every morning: daily purchase revenue
    * factored as DAU × purchases-per-active-user × cents-per-purchase,
    * with each day-over-day revenue delta attributed EXACTLY to the
    * three factors by sequential substitution (the standard
    * growth-accounting identity: Δ(abc) = Δa·b₁c₁ + a₂·Δb·c₁ +
    * a₂b₂·Δc, telescoping with no residual in exact rationals). Terms
    * are emitted in floor'd micro-cents with an explicit `dust_micro`
    * column, so conservation holds BY CONSTRUCTION in the output:
    * 10⁶·Δrevenue = users-term + frequency-term + value-term + dust,
    * 0 ≤ dust < 3 (one floor per term — spec-pinned). Floor division
    * of SIGNED terms is written as a sign-split CASE over nonnegative
    * integral divisions on BOTH engines, closing the Spark
    * truncate-toward-zero vs DuckDB floor divergence structurally.
    * Deltas compare against the previous OBSERVED day (the
    * cooccurrence-drift rule); days whose predecessor had no
    * purchases are excluded (p₁ = 0 has no per-purchase value to
    * substitute — the documented contract).
    *
    * == Scale design ==
    * One scan folds map-side onto the O(days) daily ledger
    * (countDistinct(user) is the only shuffle); the lag window and
    * all DECIMAL(38,0)-staged term math run on that bounded relation.
    */
  def eventsMetricTree(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("isp"),
        when(col("event_type") === "purchase",
          expr("cast(round(value * 100) as bigint)")).otherwise(0L).as("cents"))
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("u"),
        sum(col("isp")).as("p"), sum(col("cents")).as("r"))
    val w = Window.orderBy(col("day"))
    def fdiv(num: String, den: String): String =
      s"""CASE WHEN ($num) >= 0 THEN cast(($num) div ($den) as bigint)
         |ELSE cast(-((-($num) + ($den) - 1) div ($den)) as bigint) END""".stripMargin
    daily
      .withColumn("u1", lag(col("u"), 1).over(w))
      .withColumn("p1", lag(col("p"), 1).over(w))
      .withColumn("r1", lag(col("r"), 1).over(w))
      .filter(col("u1").isNotNull && col("p1") > 0)
      .withColumn("delta_cents", col("r") - col("r1"))
      .withColumn("t_users_micro", expr(fdiv(
        "cast(1000000 as decimal(38,0)) * (u - u1) * r1", "u1")))
      .withColumn("t_freq_micro", expr(fdiv(
        "cast(1000000 as decimal(38,0)) * r1 * (p * u1 - p1 * u)", "cast(u1 as decimal(38,0)) * p1")))
      .withColumn("t_value_micro", expr(fdiv(
        "cast(1000000 as decimal(38,0)) * (r * p1 - r1 * p)", "p1")))
      .withColumn("dust_micro", expr(
        "1000000 * delta_cents - t_users_micro - t_freq_micro - t_value_micro"))
      .select(col("day"), col("u").as("dau"), col("p").as("purchases"),
        col("r").as("revenue_cents"), col("delta_cents"),
        col("t_users_micro"), col("t_freq_micro"), col("t_value_micro"),
        col("dust_micro"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: same daily ledger, lag over observed days, HUGEINT
    * staging, and the identical sign-split floor division. */
  val eventsMetricTreeSql: String = {
    def fdiv(num: String, den: String): String =
      s"CASE WHEN $num >= 0 THEN CAST(($num) // ($den) AS BIGINT) " +
        s"ELSE CAST(-((-($num) + ($den) - 1) // ($den)) AS BIGINT) END"
    s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
       |    count(DISTINCT user_id) AS u,
       |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN event_type = 'purchase'
       |      THEN CAST(round(value*100) AS BIGINT) ELSE 0 END) AS BIGINT) AS r
       |  FROM events GROUP BY 1),
       |lagd AS (SELECT *, lag(u) OVER (ORDER BY day) AS u1,
       |    lag(p) OVER (ORDER BY day) AS p1, lag(r) OVER (ORDER BY day) AS r1
       |  FROM daily),
       |t AS (SELECT day, u, p, r, u1, p1, r1, r - r1 AS delta_cents,
       |    ${fdiv("CAST(1000000 AS HUGEINT) * (u - u1) * r1", "u1")} AS t_users_micro,
       |    ${fdiv("CAST(1000000 AS HUGEINT) * r1 * (p * u1 - p1 * u)", "CAST(u1 AS HUGEINT) * p1")} AS t_freq_micro,
       |    ${fdiv("CAST(1000000 AS HUGEINT) * (r * p1 - r1 * p)", "p1")} AS t_value_micro
       |  FROM lagd WHERE u1 IS NOT NULL AND p1 > 0)
       |SELECT day, u AS dau, p AS purchases, r AS revenue_cents, delta_cents,
       |  t_users_micro, t_freq_micro, t_value_micro,
       |  1000000 * delta_cents - t_users_micro - t_freq_micro - t_value_micro AS dust_micro
       |FROM t ORDER BY day""".stripMargin
  }

  def eventsDid(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val cutDay = 19738L // 2024-01-16 in epoch days
    val ud = events(s, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(col("p")).as("conv"))
      .select((h % 2L).as("armn"),
        (col("day") >= cutDay).cast("long").as("post"), col("conv"))
    def cell(arm: Int, post: Int, what: Column): Column =
      sum(when(col("armn") === arm.toLong && col("post") === post.toLong, what)
        .otherwise(0L))
    ud.agg(
        cell(0, 0, lit(1L)).as("days_a_pre"), cell(0, 0, col("conv")).as("conv_a_pre"),
        cell(0, 1, lit(1L)).as("days_a_post"), cell(0, 1, col("conv")).as("conv_a_post"),
        cell(1, 0, lit(1L)).as("days_b_pre"), cell(1, 0, col("conv")).as("conv_b_pre"),
        cell(1, 1, lit(1L)).as("days_b_post"), cell(1, 1, col("conv")).as("conv_b_post"))
      .withColumn("rate_a_pre_ppm", expr("(1000000 * conv_a_pre) div days_a_pre"))
      .withColumn("rate_a_post_ppm", expr("(1000000 * conv_a_post) div days_a_post"))
      .withColumn("rate_b_pre_ppm", expr("(1000000 * conv_b_pre) div days_b_pre"))
      .withColumn("rate_b_post_ppm", expr("(1000000 * conv_b_post) div days_b_post"))
      .select(col("days_a_pre"), col("conv_a_pre"), col("days_a_post"), col("conv_a_post"),
        col("days_b_pre"), col("conv_b_pre"), col("days_b_post"), col("conv_b_post"),
        col("rate_a_pre_ppm"), col("rate_a_post_ppm"),
        col("rate_b_pre_ppm"), col("rate_b_post_ppm"),
        (col("rate_b_pre_ppm") - col("rate_a_pre_ppm")).as("pre_gap_ppm"),
        (col("rate_b_post_ppm") - col("rate_a_post_ppm")).as("post_gap_ppm"),
        ((col("rate_b_post_ppm") - col("rate_a_post_ppm"))
          - (col("rate_b_pre_ppm") - col("rate_a_pre_ppm"))).as("did_ppm"))
  }

  /** DuckDB twin: same (user, day) dedupe, same 8-lane cell fold. */
  val eventsDidSql: String =
    s"""WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn,
      |    CASE WHEN day >= 19738 THEN 1 ELSE 0 END AS post, conv
      |  FROM ud),
      |c AS (SELECT
      |    CAST(sum(CASE WHEN armn = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_a_pre,
      |    CAST(sum(CASE WHEN armn = 0 AND post = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a_pre,
      |    CAST(sum(CASE WHEN armn = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS days_a_post,
      |    CAST(sum(CASE WHEN armn = 0 AND post = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_a_post,
      |    CAST(sum(CASE WHEN armn = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS days_b_pre,
      |    CAST(sum(CASE WHEN armn = 1 AND post = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_b_pre,
      |    CAST(sum(CASE WHEN armn = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS days_b_post,
      |    CAST(sum(CASE WHEN armn = 1 AND post = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b_post
      |  FROM t),
      |r AS (SELECT *,
      |    (1000000 * conv_a_pre) // days_a_pre AS rate_a_pre_ppm,
      |    (1000000 * conv_a_post) // days_a_post AS rate_a_post_ppm,
      |    (1000000 * conv_b_pre) // days_b_pre AS rate_b_pre_ppm,
      |    (1000000 * conv_b_post) // days_b_post AS rate_b_post_ppm
      |  FROM c)
      |SELECT days_a_pre, conv_a_pre, days_a_post, conv_a_post,
      |  days_b_pre, conv_b_pre, days_b_post, conv_b_post,
      |  rate_a_pre_ppm, rate_a_post_ppm, rate_b_pre_ppm, rate_b_post_ppm,
      |  rate_b_pre_ppm - rate_a_pre_ppm AS pre_gap_ppm,
      |  rate_b_post_ppm - rate_a_post_ppm AS post_gap_ppm,
      |  (rate_b_post_ppm - rate_a_post_ppm) - (rate_b_pre_ppm - rate_a_pre_ppm) AS did_ppm
      |FROM r""".stripMargin

  // ----------------------------------------------- weekly seasonality
  /** A/B sample-size design (r14 wave 11) — the third face of the
    * experimentation family: [[eventsAbSrm]] checks the split's
    * health, [[eventsAbLift]] analyzes the outcome, this one answers
    * the question asked BEFORE either — how many user-days per arm
    * does detecting a given relative effect require? Baseline rate =
    * the fraction of (user, active-day) units converting to each
    * event type (the per-user rate is degenerate on long windows —
    * everyone eventually does everything; the daily unit is the one
    * experiments actually randomize). The classic two-proportion
    * formula n = (z_α/2 + z_β)²·2·p(1−p)/δ² at 95 % / 80 % power
    * ((1.96 + 0.84)² = 7.84 — EXACT in the integer staging 784/100)
    * evaluated at relative MDEs of 5/10/20 % with ceil-division exact
    * ppm arithmetic, so both engines emit identical sample sizes.
    *
    * == Scale design ==
    * ONE scan dedupes to the (user, day, type) relation (map-side
    * combinable); everything after runs on O(types) rows with the
    * 1-row denominator and the 3-row MDE grid broadcast.
    */
  def eventsAbPower(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    // checkpointed: the distinct (user, day, type) relation feeds both
    // the unit denominator and the per-type conversions — one fact scan
    val ud = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("event_type"))
      .distinct()
      .stableCheckpoint()
    val tot = ud.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_units"))
    val conv = ud
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_conv"))
    val mde = s.range(0, 3).select(
      element_at(typedLit(Seq(5L, 10L, 20L)), (col("id") + 1).cast("int"))
        .as("mde_pct"))
    conv.crossJoin(broadcast(tot)).crossJoin(broadcast(mde))
      .withColumn("p_ppm", expr("n_conv * 1000000 div n_units"))
      .withColumn("delta_ppm", expr("p_ppm * mde_pct div 100"))
      // a type too rare for the MDE to round to >=1 ppm has no
      // detectable effect size — excluded by contract on BOTH engines
      // (DuckDB errors on // 0 where Spark yields NULL)
      .filter(col("delta_ppm") >= 1)
      .select(col("event_type"), col("n_units"), col("p_ppm"),
        col("mde_pct"), col("delta_ppm"),
        expr("(1568 * p_ppm * (1000000 - p_ppm) + 100 * delta_ppm * delta_ppm - 1) " +
          "div (100 * delta_ppm * delta_ppm)").as("n_per_arm"))
      .orderBy(col("event_type"), col("mde_pct"))
  }

  val eventsAbPowerSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
      |    event_type FROM events),
      |t AS (SELECT count(*) AS n_units FROM
      |  (SELECT DISTINCT user_id, day FROM ud)),
      |c AS (SELECT event_type, count(*) AS n_conv FROM ud GROUP BY 1),
      |m AS (SELECT unnest([5, 10, 20]) AS mde_pct),
      |x AS (SELECT event_type, CAST(n_units AS BIGINT) AS n_units,
      |    n_conv * 1000000 // n_units AS p_ppm, CAST(mde_pct AS BIGINT) AS mde_pct
      |  FROM c CROSS JOIN t CROSS JOIN m),
      |y AS (SELECT *, p_ppm * mde_pct // 100 AS delta_ppm FROM x
      |  WHERE p_ppm * mde_pct // 100 >= 1)
      |SELECT event_type, n_units, p_ppm, mde_pct, delta_ppm,
      |  (1568 * p_ppm * (1000000 - p_ppm) + 100 * delta_ppm * delta_ppm - 1)
      |    // (100 * delta_ppm * delta_ppm) AS n_per_arm
      |FROM y ORDER BY event_type, mde_pct""".stripMargin

  def eventsAbSrm(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    events(s, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id"), (h % 2L).as("armn"))
      .groupBy(col("day"))
      .agg(
        countDistinct(when(col("armn") === 0L, col("user_id"))).as("n_a"),
        countDistinct(when(col("armn") === 1L, col("user_id"))).as("n_b"))
      .select(col("day"), col("n_a"), col("n_b"),
        expr("1000000 * (n_a - n_b) * (n_a - n_b) div (n_a + n_b)")
          .as("chi2_micro"),
        expr("1000000 * (n_a - n_b) * (n_a - n_b) div (n_a + n_b) > 3841459")
          .as("srm_flag"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: same salted arms, same exact integer χ². */
  val eventsAbSrmSql: String =
    s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events),
      |d AS (SELECT day,
      |    CAST(count(DISTINCT CASE WHEN armn = 0 THEN user_id END) AS BIGINT) AS n_a,
      |    CAST(count(DISTINCT CASE WHEN armn = 1 THEN user_id END) AS BIGINT) AS n_b
      |  FROM e GROUP BY day)
      |SELECT CAST(day AS BIGINT) AS day, n_a, n_b,
      |  1000000 * (n_a - n_b) * (n_a - n_b) // (n_a + n_b) AS chi2_micro,
      |  1000000 * (n_a - n_b) * (n_a - n_b) // (n_a + n_b) > 3841459 AS srm_flag
      |FROM d ORDER BY day""".stripMargin

  // ------------------------------------------------- segment uplift
  /** Heterogeneous-treatment-effect readout (r17) — the uplift face of
    * the experimentation family: [[eventsAbLift]] reads ONE pooled
    * effect; real rollout decisions ask WHERE the effect lives, so this
    * face cuts the same experiment by a pre-treatment activity segment
    * and reads the per-segment lift — the deterministic two-model
    * (T-learner) readout on a binary outcome. Segments come from the
    * PRE-period only (events before the 2024-01-16 cut, bucketed
    * `least(pre_cnt div 10, 4)`) so treatment cannot leak into the
    * segmentation; the outcome is first-week post-cut conversion
    * (`purchase` in [2024-01-16, 2024-01-23) — the bounded window that
    * dodges the everyone-eventually-converts trap [[eventsAbCuped]]
    * documents). Per segment: arm sizes, conversions, exact-ppm rates,
    * `uplift_ppm` (B − A), `incr_conv_micro` = uplift × segment size
    * (the incremental-conversions ranking a targeting policy sorts
    * by — kept in exact micro-units, no signed floor division), and
    * the same staged integer-sqrt two-proportion `z_milli` as the
    * pooled face, zero-guarded for one-arm / degenerate segments.
    *
    * == Scale design ==
    * One events scan folds map-side to the per-user (pre_cnt, conv)
    * relation — the only shuffle is user-keyed; segments and arms are
    * derived columns, the ledger is O(segments) ≤ 5 rows. Same shape
    * at any corpus size.
    */
  def eventsUplift(s: SparkSession, dir: String): DataFrame = {
    val h = polyHash(concat(lit("ab|"), col("user_id").cast("string")), 1000000007L)
    val cut = lit("2024-01-16").cast("timestamp")
    val wkEnd = lit("2024-01-23").cast("timestamp")
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("ts") < cut, 1L).otherwise(0L)).as("pre_cnt"),
        max(when(col("event_type") === "purchase" &&
          col("ts") >= cut && col("ts") < wkEnd, 1L).otherwise(0L)).as("conv"))
      .select(col("conv"), (h % 2L).as("armn"),
        least(expr("pre_cnt div 10"), lit(4L)).as("seg"))
      .groupBy(col("seg"))
      .agg(
        sum(when(col("armn") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("armn") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("armn") === 0L, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("armn") === 1L, col("conv")).otherwise(0L)).as("conv_b"))
      .select(col("seg"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        expr("CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) div n_a END")
          .as("rate_a_ppm"),
        expr("CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) div n_b END")
          .as("rate_b_ppm"))
      .withColumn("uplift_ppm", col("rate_b_ppm") - col("rate_a_ppm"))
      .withColumn("incr_conv_micro", col("uplift_ppm") * (col("n_a") + col("n_b")))
      .withColumn("z2_micro",
        expr("""CASE WHEN n_a = 0 OR n_b = 0
                  OR conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
                ELSE ((CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
                      * (CAST(conv_b AS DECIMAL(38,0)) * n_a - CAST(conv_a AS DECIMAL(38,0)) * n_b)
                      div (n_a * n_b)) * 1000000 * (n_a + n_b)
                      div ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) END"""))
      .withColumn("r0", expr("CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT)"))
      .select(col("seg"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("rate_a_ppm"), col("rate_b_ppm"), col("uplift_ppm"),
        col("incr_conv_micro"),
        expr("""CASE WHEN r0*r0 > z2_micro THEN r0-1
                WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END""").as("z_milli"))
      .orderBy(col("seg"))
  }

  // ------------------------------------------------- bandit replay
  /** Prequential greedy-bandit replay (r17) — the adaptive-allocation
    * face of the experimentation family: [[eventsAbLift]] reads a
    * fixed 50/50 split after the fact; an adaptive rollout instead
    * shifts traffic toward the winning arm as evidence accrues. This
    * face replays the deterministic posterior-mean greedy policy
    * (Beta(1,1) prior; the expectation-policy core of Thompson
    * sampling with the sampling step removed so both engines replay it
    * exactly): per calendar day, the leader is the arm with the higher
    * posterior mean over all PRIOR days — (1+convₐ)/(2+nₐ) vs
    * (1+conv_b)/(2+n_b), compared by integer cross-multiplication, ties
    * to arm a — and the ledger reads what that policy would have
    * earned: the leader's realized conversion rate that day, the
    * hindsight-best arm's rate, the day's regret (best − leader, ≥ 0
    * by construction) and cumulative regret, all exact ppm. A
    * sublinear cumulative-regret path is the bandit's whole sales
    * pitch; the spec pins the replay and the regret identities.
    *
    * == Scale design ==
    * One events scan → per-(day, arm) distinct-user fold (the only
    * corpus-sized shuffle, (day, user) keyed with partial aggregation);
    * everything after rides the O(days × 2) ledger — the prequential
    * windows sort ≤ days rows, the same bounded-relation window
    * contract as the stream_* batch oracles.
    */
  def eventsAbBandit(s: SparkSession, dir: String): DataFrame = {
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
    val wPrior = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay
      .withColumn("cum_na", coalesce(sum(col("n_a")).over(wPrior), lit(0L)))
      .withColumn("cum_nb", coalesce(sum(col("n_b")).over(wPrior), lit(0L)))
      .withColumn("cum_ca", coalesce(sum(col("conv_a")).over(wPrior), lit(0L)))
      .withColumn("cum_cb", coalesce(sum(col("conv_b")).over(wPrior), lit(0L)))
      .withColumn("leader",
        when((lit(1L) + col("cum_ca")) * (lit(2L) + col("cum_nb")) >=
          (lit(1L) + col("cum_cb")) * (lit(2L) + col("cum_na")), lit("a"))
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
      .select(col("day"), col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("leader"), col("leader_rate_ppm"), col("best_rate_ppm"),
        col("regret_ppm"), col("cum_regret_ppm"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: same distinct-user day fold, prior-window posterior
    * cross-multiplication, running regret. */
  val eventsAbBanditSql: String =
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
      |    CAST(COALESCE(sum(n_a) OVER wp, 0) AS BIGINT) AS cum_na,
      |    CAST(COALESCE(sum(n_b) OVER wp, 0) AS BIGINT) AS cum_nb,
      |    CAST(COALESCE(sum(conv_a) OVER wp, 0) AS BIGINT) AS cum_ca,
      |    CAST(COALESCE(sum(conv_b) OVER wp, 0) AS BIGINT) AS cum_cb
      |  FROM d
      |  WINDOW wp AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |l AS (SELECT *,
      |    CASE WHEN (1 + cum_ca) * (2 + cum_nb) >= (1 + cum_cb) * (2 + cum_na)
      |      THEN 'a' ELSE 'b' END AS leader,
      |    CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) // n_a END AS rate_a_ppm,
      |    CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) // n_b END AS rate_b_ppm
      |  FROM c),
      |r AS (SELECT *,
      |    CASE WHEN leader = 'a' THEN rate_a_ppm ELSE rate_b_ppm END AS leader_rate_ppm,
      |    greatest(rate_a_ppm, rate_b_ppm) AS best_rate_ppm
      |  FROM l)
      |SELECT day, n_a, n_b, conv_a, conv_b, leader, leader_rate_ppm, best_rate_ppm,
      |  best_rate_ppm - leader_rate_ppm AS regret_ppm,
      |  CAST(sum(best_rate_ppm - leader_rate_ppm) OVER
      |    (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_regret_ppm
      |FROM r ORDER BY day""".stripMargin

  /** DuckDB twin: same pre-period segmentation, salted-hash arms,
    * first-week outcome window, staged floor z². */
  val eventsUpliftSql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS pre_cnt,
      |    max(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
      |      AND ts < TIMESTAMP '2024-01-23' THEN 1 ELSE 0 END) AS conv,
      |    ${polyHashSql("'ab|' || CAST(user_id AS VARCHAR)", 1000000007L)} % 2 AS armn
      |  FROM events GROUP BY user_id),
      |g AS (SELECT least(pre_cnt // 10, 4) AS seg,
      |    CAST(sum(CASE WHEN armn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN armn = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
      |    CAST(sum(CASE WHEN armn = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      |  FROM u GROUP BY 1),
      |rts AS (SELECT *,
      |    CASE WHEN n_a = 0 THEN 0 ELSE (1000000 * conv_a) // n_a END AS rate_a_ppm,
      |    CASE WHEN n_b = 0 THEN 0 ELSE (1000000 * conv_b) // n_b END AS rate_b_ppm
      |  FROM g),
      |z AS (SELECT *,
      |    rate_b_ppm - rate_a_ppm AS uplift_ppm,
      |    (rate_b_ppm - rate_a_ppm) * (n_a + n_b) AS incr_conv_micro,
      |    CASE WHEN n_a = 0 OR n_b = 0
      |        OR conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0
      |      ELSE CAST(((CAST(conv_b AS HUGEINT) * n_a - CAST(conv_a AS HUGEINT) * n_b)
      |            * (CAST(conv_b AS HUGEINT) * n_a - CAST(conv_a AS HUGEINT) * n_b)
      |            // (n_a * n_b)) * 1000000 * (n_a + n_b)
      |            // ((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b)) AS BIGINT) END AS z2_micro
      |  FROM rts),
      |r AS (SELECT *, CAST(floor(sqrt(CAST(z2_micro AS DOUBLE))) AS BIGINT) AS r0 FROM z)
      |SELECT seg, n_a, n_b, conv_a, conv_b, rate_a_ppm, rate_b_ppm, uplift_ppm,
      |  incr_conv_micro,
      |  CASE WHEN r0*r0 > z2_micro THEN r0-1
      |       WHEN (r0+1)*(r0+1) <= z2_micro THEN r0+1 ELSE r0 END AS z_milli
      |FROM r ORDER BY seg""".stripMargin
}
