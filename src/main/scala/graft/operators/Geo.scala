package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Geo / reference-pipeline operators (SURVEY.md §2, table 1).
  *
  * Re-expresses the reference map task (/root/reference/src/awsbatch-map/
  * main.py:21-96): EPSG:4326→3857 projection, NYC bounding-box filter,
  * 1400×1000 rasterization (datashader Canvas.points equivalent),
  * histogram-equalized shading (tf.shade eq_hist equivalent), and the
  * per-partition fan-out / ordered reduce of the AWS Batch array job
  * (Implementation.cs:17-80, Reduce.ps1:1-10) — all as declarative
  * DataFrame transforms.
  *
  * The testdata has no lat/lon, so a deterministic synthetic point
  * cloud is derived from `events` with pure integer Weyl-sequence
  * arithmetic — exactly reproducible in the DuckDB oracle.
  *
  * == Stages ==
  * The chain is written ONCE per stage, once on the DataFrame side and
  * once on the SQL side (the DuckDB twins share CTE builders only with
  * each other), and every face composes the stages:
  *
  *   - fold: [[projected]] → [[inBbox]] → [[binX]]/[[binY]] (cell
  *     [[pxPy]], day key [[dayKey]]); SQL [[foldSql]];
  *   - render: [[framed]] (the frame shuffle and the cell fold) →
  *     [[fanOut]] (3×3 spread) → eq-hist → [[ramp]]; the per-frame
  *     chain is [[frameRender]] / [[renderSql]];
  *   - assemble: [[frameSeq]], [[cumSum]], [[manifest]], [[frameDay]];
  *     audits: [[zoneProbe]]; tiles: [[tilePyramid]].
  *
  * A stage returns a lazy plan (only [[framed]] materializes, and only
  * a fold the face would checkpoint anyway), so each face's optimized
  * plan is the one its hand-written chain would give.
  *
  * == Scale notes ==
  * Rasterization groups on a bounded key space (1.4M pixels): map-side
  * partial aggregation absorbs virtually all input rows, so the raster
  * and churn folds shuffle O(pixels) regardless of input size (the
  * per-frame faces do not; see below). Eq-hist ranks the raster
  * (O(pixels)), never the input. The per-day fan-out is a grouped agg +
  * tiny window — the reference's 24-way array job becomes partition
  * pruning + shuffle-free combine. The per-frame render shuffles each
  * fold's binned points once, on the frame day (at most 4 longs a
  * point), and folds them into cells inside the frame's partition, so
  * that shuffle grows with the corpus, not the canvas ([[framed]]):
  * each frame is then one task with canvas-bounded work — at most 1.4M
  * spread cells sorted per frame for its rank — and no exchange or
  * broadcast past the fold. O(days) ledgers end in one partition, so
  * their final sort samples nothing.
  */
object Geo {

  /** meters per degree longitude in EPSG:3857 (20037508.342789244/180). */
  private val M = 20037508.342789244 / 180.0
  /** WGS84 sphere radius: y = R·ln(tan(π/4 + φ/2)). */
  private val R = 6378137.0
  // Reference bbox (main.py x_range/y_range), Web Mercator meters.
  private val X0 = -8254332.0
  private val X1 = -8209813.5
  private val Y0 = 4965255.5
  private val Y1 = 4988769.5
  private val W = 1400
  private val H = 1000

  /** Deterministic synthetic points: integer Weyl sequences on
    * event_id → uniform lon/lat around NYC. Integer mod arithmetic is
    * exact and engine-independent; the final double ops (div, mul, add)
    * are IEEE-identical on both engines.
    */
  def points(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select(col("event_id"), col("ts"),
        (lit(-74.15) + (col("event_id") * 2654435761L % 100000L) / 100000.0 * 0.4).as("lon"),
        (lit(40.55) + ((col("event_id") * 1103515245L + 12345L) % 100000L) / 100000.0 * 0.35).as("lat"))

  private val pointsCte: String =
    """points AS (
      |  SELECT event_id, ts,
      |    -74.15 + (event_id * 2654435761 % 100000)/100000.0 * 0.4 AS lon,
      |    40.55 + ((event_id * 1103515245 + 12345) % 100000)/100000.0 * 0.35 AS lat
      |  FROM events)""".stripMargin

  /** EPSG:4326 → EPSG:3857: x = lon·M, y = ln(tan((90+lat)·π/360))·R,
    * rounded to cm AT THE PROJECTION so every downstream consumer
    * (bbox predicate, pixel binning, output) sees identical doubles on
    * both engines — last-ulp libm differences in tan/ln can otherwise
    * flip a bin or an edge inclusion.
    *
    * The cm round is floor(v·100 + 0.5)/100 — exact IEEE mul/add/floor
    * replicated verbatim in the oracle SQL, so parity holds by
    * construction. Spark's round(x, 2) would instead round the
    * shortest-decimal repr HALF_UP (BigDecimal) while DuckDB rounds the
    * binary double — divergent exactly on .xx5 boundaries.
    */
  private def cmRound(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 100.0 + 0.5) / 100.0
  private def mercX = cmRound(col("lon") * M).as("x")
  private def mercY = cmRound(log(tan((col("lat") + 90.0) * (math.Pi / 360.0))) * R).as("y")

  private val mercCte: String =
    s"""merc AS (
       |  SELECT event_id, ts, floor((lon * $M) * 100.0 + 0.5) / 100.0 AS x,
       |    floor((ln(tan((lat + 90.0) * ${math.Pi / 360.0})) * $R) * 100.0 + 0.5) / 100.0 AS y
       |  FROM points)""".stripMargin

  // ------------------------------------------------------------ fold
  /** Projection stage: the corpus points as (`carry`…, x, y). */
  private def projected(s: SparkSession, dir: String, carry: Column*): DataFrame =
    points(s, dir).select(carry :+ mercX :+ mercY: _*)

  /** The reference bbox predicate over projected x/y. On a real dataset
    * with materialized x/y this is a pushed-down parquet range filter;
    * here it applies right above the scan (only event_id is read). */
  private def inBbox: Column =
    col("x") >= X0 && col("x") <= X1 && col("y") >= Y0 && col("y") <= Y1
  private val inBboxSql = s"x >= $X0 AND x <= $X1 AND y >= $Y0 AND y <= $Y1"

  /** Projection + bbox cut. */
  private def bboxed(s: SparkSession, dir: String, carry: Column*): DataFrame =
    projected(s, dir, carry: _*).filter(inBbox)

  /** Pixel binning of an in-bbox point onto an n-cell axis
    * (datashader's rule: the far edge folds into the last cell). The
    * canvas is n = W by H; the tile pyramid's base is n = 32. */
  private def binX(n: Int): Column = least(floor((col("x") - X0) / (X1 - X0) * n), lit(n - 1))
  private def binY(n: Int): Column = least(floor((col("y") - Y0) / (Y1 - Y0) * n), lit(n - 1))
  /** The canvas cell (px, py) of an in-bbox point. */
  private def pxPy: Seq[Column] =
    Seq(binX(W).cast("long").as("px"), binY(H).cast("long").as("py"))

  /** SQL twins of [[binX]] / [[binY]] on an n×m grid. */
  private def binSql(n: Int, m: Int): (String, String) = (
    s"CAST(least(floor((x - ($X0)) / (${X1 - X0}) * $n), ${n - 1}) AS BIGINT)",
    s"CAST(least(floor((y - ($Y0)) / (${Y1 - Y0}) * $m), ${m - 1}) AS BIGINT)")

  /** Epoch-day key of a point's timestamp (the frame a point renders in). */
  private def dayKey: Column = expr("unix_micros(ts) div 86400000000").as("dkey")
  private val dayKeySql = "epoch_us(ts) // 86400000000"

  /** The frame day an epoch-day key stands for, formatted. */
  private def frameDay: Column =
    expr("date_format(date_add(DATE'1970-01-01', CAST(dkey AS INT)), 'yyyy-MM-dd')")
      .as("frame_day")
  private def frameDaySql(dkey: String): String =
    s"strftime(DATE '1970-01-01' + CAST($dkey AS INT), '%Y-%m-%d') AS frame_day"

  /** The fold's SQL twin: in-bbox merc rows binned onto the n×m grid
    * and grouped per ([dkey,] px, py) with `aggs`. */
  private def foldSql(name: String, aggs: String, perDay: Boolean = true,
                      n: Int = W, m: Int = H): String = {
    val (px, py) = binSql(n, m)
    val (day, keys) = if (perDay) (s"$dayKeySql AS dkey, ", "1, 2, 3") else ("", "1, 2")
    s"""$name AS (
       |  SELECT $day$px AS px, $py AS py, $aggs
       |  FROM merc WHERE $inBboxSql
       |  GROUP BY $keys)""".stripMargin
  }

  // ---------------------------------------------------------- render
  /** The 3×3 ones-kernel fan-out (datashader's `tf.spread`): each
    * cell's count shifted onto its nine neighbours (qx, qy), clipped at
    * the canvas edges; `keys` ride along. */
  private def fanOut(raster: DataFrame, keys: Column*): DataFrame = {
    val offs = (for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))).toSeq
    raster.select(keys ++ Seq(col("px"), col("py"), col("cnt"),
        explode(array(offs: _*)).as("o")): _*)
      .select(keys ++ Seq((col("px") + col("o.dx")).as("qx"),
        (col("py") + col("o.dy")).as("qy"), col("cnt")): _*)
      .filter(col("qx") >= 0 && col("qx") <= (W - 1) &&
        col("qy") >= 0 && col("qy") <= (H - 1))
  }

  /** SQL twin of [[fanOut]] over the cells of `src`. */
  private def fanOutSql(src: String, keys: String): String =
    s"""SELECT ${keys}px + dx AS qx, py + dy AS qy, cnt
       |  FROM $src CROSS JOIN (SELECT o1.d AS dx, o2.d AS dy
       |    FROM (SELECT unnest(range(-1, 2)) AS d) o1
       |    CROSS JOIN (SELECT unnest(range(-1, 2)) AS d) o2) off
       |  WHERE px + dx BETWEEN 0 AND ${W - 1} AND py + dy BETWEEN 0 AND ${H - 1}""".stripMargin

  /** Fire-like color ramp (black → red → yellow → white), the shape of
    * the reference's colorcet `fire` map (main.py's tf.shade cmap):
    * piecewise-linear (red, green, blue) over the 0..255 shade with
    * integer arithmetic — identical on both engines. */
  private def ramp(shade: Column): (Column, Column, Column) = (
    least(lit(255L), shade * 3L),
    greatest(lit(0L), least(lit(255L), (shade - 85L) * 3L)),
    greatest(lit(0L), least(lit(255L), (shade - 170L) * 3L)))
  private def rampSql(shade: String): (String, String, String) = (
    s"least(255, $shade * 3)",
    s"greatest(0, least(255, ($shade - 85) * 3))",
    s"greatest(0, least(255, ($shade - 170) * 3))")

  // -------------------------------------------------------- assemble
  /** Manifest windows over an O(days) frame ledger — the documented
    * bounded-relation single-partition windows: the 1-based frame
    * sequence, a running sum, and the encoder manifest's cumulative
    * point offsets, total frame count and 2-fps presentation time. */
  private def frameSeq(order: Column): Column =
    row_number().over(Window.orderBy(order)).cast("long")
  private def cumSum(c: Column, order: Column): Column =
    sum(c).over(Window.orderBy(order).rowsBetween(Window.unboundedPreceding, Window.currentRow))
  private def manifest: Seq[Column] = Seq(
    cumSum(col("n_points"), col("frame_seq")).as("cum_points"),
    count(lit(1)).over(Window.partitionBy()).as("total_frames"),
    ((col("frame_seq") - 1) / 2.0).as("pts_sec"))

  private def seqSql(order: String): String =
    s"CAST(row_number() OVER (ORDER BY $order) AS BIGINT)"
  private def cumSumSql(c: String, order: String): String =
    s"CAST(sum($c) OVER (ORDER BY $order ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
  private val manifestSql: String =
    s"""${cumSumSql("n_points", "frame_seq")} AS cum_points,
       |  count(*) OVER () AS total_frames,
       |  (frame_seq - 1) / 2.0 AS pts_sec""".stripMargin

  // ----------------------------------------------------------- faces
  def geoMercator(s: SparkSession, dir: String): DataFrame =
    projected(s, dir, col("event_id")).orderBy(col("event_id"))

  val geoMercatorSql: String =
    s"""WITH $pointsCte, $mercCte
       |SELECT event_id, x, y
       |FROM merc ORDER BY event_id""".stripMargin

  def geoBboxFilter(s: SparkSession, dir: String): DataFrame =
    bboxed(s, dir, col("event_id")).orderBy(col("event_id"))

  val geoBboxFilterSql: String =
    s"""WITH $pointsCte, $mercCte
       |SELECT event_id, x, y
       |FROM merc
       |WHERE $inBboxSql
       |ORDER BY event_id""".stripMargin

  /** Rasterize: bin points into the 1400×1000 grid and count per pixel
    * (datashader Canvas.points equivalent). Bounded key space ⇒ partial
    * agg absorbs the input map-side.
    */
  def rasterDf(s: SparkSession, dir: String): DataFrame =
    bboxed(s, dir, col("event_id")).select(pxPy: _*)
      .groupBy("px", "py").agg(count(lit(1)).as("cnt"))

  private val rasterCte: String = foldSql("raster", "count(*) AS cnt", perDay = false)

  def geoRasterize(s: SparkSession, dir: String): DataFrame =
    rasterDf(s, dir).orderBy(col("px"), col("py"))

  val geoRasterizeSql: String =
    s"""WITH $pointsCte, $mercCte, $rasterCte
       |SELECT px, py, cnt FROM raster ORDER BY px, py""".stripMargin

  /** Histogram-equalized shading (tf.shade eq_hist equivalent) as a
    * TWO-PASS HISTOGRAM, not an un-partitioned rank over the raster:
    * pass 1 reduces the raster to its count histogram (|distinct cnt|
    * rows — tiny), pass 2 derives each count's strictly-below bin total
    * from the histogram alone (a broadcast non-equi aggregation over
    * histogram×histogram), and the shade lookup broadcast-joins back
    * onto the raster. Reproduces percent_rank exactly — shade =
    * floor((below/(n_bins−1))·255), ties shade equally — but no single
    * task ever sorts O(pixels); the only O(pixels) shuffle is the
    * histogram partial-agg, and the final join is broadcast
    * (shuffle-free). [[frameRender]] ranks with a window instead: it
    * has a partition key, the frame day, so its rank sorts one frame
    * per task; this face has none, and a window here would be the
    * un-partitioned rank it avoids.
    */
  private def eqhistShade(raster: DataFrame): DataFrame = {
    val hist = raster.groupBy(col("cnt")).agg(count(lit(1)).as("m"))
    val histO = hist.select(col("cnt").as("cnt_o"), col("m").as("m_o"))
    val below = hist.join(broadcast(histO), col("cnt_o") < col("cnt"), "left")
      .groupBy(col("cnt"))
      .agg(coalesce(sum(col("m_o")), lit(0L)).as("below"))
    val tot = hist.agg(sum(col("m")).as("n_bins"))
    // percent_rank = (rank−1)/(n−1) with rank = strictly-below + 1;
    // the double division/multiplication order matches Spark's
    // percent_rank and the oracle SQL bit-for-bit.
    val pr = when(col("n_bins") === 1, lit(0.0))
      .otherwise(col("below").cast("double") / (col("n_bins") - 1).cast("double"))
    val lookup = below.crossJoin(broadcast(tot))
      .select(col("cnt").as("cnt_l"), floor(pr * 255).as("shade"))
    raster.join(broadcast(lookup), col("cnt") === col("cnt_l"))
      .select(col("px"), col("py"), col("cnt"), col("shade"))
  }

  def geoShadeEqhist(s: SparkSession, dir: String): DataFrame =
    eqhistShade(rasterDf(s, dir))
      .select(col("px"), col("py"), col("cnt"), col("shade").cast("int").as("shade"))
      .orderBy(col("px"), col("py"))

  val geoShadeEqhistSql: String =
    s"""WITH $pointsCte, $mercCte, $rasterCte
       |SELECT px, py, cnt,
       |  CAST(floor(percent_rank() OVER (ORDER BY cnt) * 255) AS INT) AS shade
       |FROM raster ORDER BY px, py""".stripMargin

  /** The eq-hist shade through the [[ramp]]: per pixel shade and RGB. */
  def geoShadeRgb(s: SparkSession, dir: String): DataFrame = {
    val shaded = eqhistShade(rasterDf(s, dir))
      .select(col("px"), col("py"), col("cnt"), col("shade").cast("long").as("shade"))
    val (r, g, b) = ramp(col("shade"))
    shaded.select(col("px"), col("py"), col("shade"),
      r.as("red"), g.as("green"), b.as("blue"))
      .orderBy(col("px"), col("py"))
  }

  val geoShadeRgbSql: String = {
    val (r, g, b) = rampSql("shade")
    s"""WITH $pointsCte, $mercCte, $rasterCte,
       |shaded AS (
       |  SELECT px, py, cnt,
       |    CAST(floor(percent_rank() OVER (ORDER BY cnt) * 255) AS BIGINT) AS shade
       |  FROM raster)
       |SELECT px, py, shade, $r AS red, $g AS green, $b AS blue
       |FROM shaded ORDER BY px, py""".stripMargin
  }

  /** Spread pass over the shaded raster (r14 wave 25 — datashader's
    * `tf.spread` step, the one visual-pipeline stage between shade and
    * export the inventory lacked: single-pixel points are invisible at
    * display resolution, so each occupied cell's count is spread over
    * its 3×3 neighborhood before export). Implemented as the
    * [[fanOut]] of the OCCUPIED raster cells (a convolution with the
    * ones kernel), then a grouped re-sum per target cell —
    * `cnt_spread` = Σ neighbor counts, `n_src` = how many occupied
    * neighbors contributed, and the original `cnt` rides along (0
    * where spread lit a previously-empty cell). Interior mass
    * conservation — every count lands in exactly 9 cells unless
    * clipped — is what the spec pins.
    *
    * == Scale design ==
    * The fan-out rides the RASTER relation (canvas-bounded, ≤1.4M
    * cells, already reduced map-side from the point corpus), never the
    * points: ×9 of bounded is bounded. The re-sum is one
    * map-side-combinable groupBy on grid keys; the original-count
    * join-back is grid-keyed and canvas-bounded on both sides.
    */
  def geoSpread(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val raster = rasterDf(s, dir).stableCheckpoint()
    val sp = fanOut(raster)
      .groupBy(col("qx"), col("qy"))
      .agg(count(lit(1)).as("n_src"), sum(col("cnt")).as("cnt_spread"))
    sp.join(raster.select(col("px"), col("py"), col("cnt")),
        col("px") === col("qx") && col("py") === col("qy"), "left_outer")
      .select(col("qx").as("px"), col("qy").as("py"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        col("n_src"), col("cnt_spread"))
      .orderBy(col("px"), col("py"))
  }

  val geoSpreadSql: String =
    s"""WITH $pointsCte, $mercCte, $rasterCte,
       |sp AS (${fanOutSql("raster", "")}),
       |agg AS (SELECT qx, qy, count(*) AS n_src,
       |    CAST(sum(cnt) AS BIGINT) AS cnt_spread
       |  FROM sp GROUP BY 1, 2)
       |SELECT a.qx AS px, a.qy AS py,
       |  COALESCE(r.cnt, 0) AS cnt, a.n_src, a.cnt_spread
       |FROM agg a LEFT JOIN raster r ON r.px = a.qx AND r.py = a.qy
       |ORDER BY px, py""".stripMargin

  /** Per-partition (day) fan-out: one frame-summary row per day of
    * in-bbox points, with an ordered frame sequence — the Spark-native
    * equivalent of the reference's per-month AWS Batch array job
    * (Implementation.cs:41-57): partitions become group keys, the array
    * index becomes row_number over the partition order.
    */
  def mapFanout(s: SparkSession, dir: String): DataFrame =
    bboxed(s, dir, col("event_id"), col("ts"))
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("frame_day"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("event_id") % 997L).as("checksum"))
      .coalesce(1)
      .withColumn("frame_seq", frameSeq(col("frame_day")))
      .select(col("frame_seq"), col("frame_day"), col("n_points"), col("checksum"))
      .orderBy(col("frame_seq"))

  /** The fan-out's per-day frames, shared by its twin and the reduce's. */
  private val framesCte: String =
    s"""frames AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS frame_day, count(*) AS n_points,
       |    CAST(sum(event_id % 997) AS BIGINT) AS checksum
       |  FROM merc
       |  WHERE $inBboxSql
       |  GROUP BY 1)""".stripMargin

  val mapFanoutSql: String =
    s"""WITH $pointsCte, $mercCte, $framesCte
       |SELECT ${seqSql("frame_day")} AS frame_seq,
       |  frame_day, n_points, checksum
       |FROM frames ORDER BY frame_seq""".stripMargin

  /** Per-day lit-cell relation (dkey, px, py, cnt) — ONE corpus scan
    * folded map-side onto the bounded grid (≤ days × 1.4M rows), lazy:
    * each consumer reads it once (the `shuffle_budget` count and the
    * `stream_frame_churn` MemoryStream spec feed), so a checkpoint would
    * only add a job.
    */
  private[graft] def dayRaster(s: SparkSession, dir: String): DataFrame =
    bboxed(s, dir, dayKey)
      .select(col("dkey") +: pxPy: _*)
      .groupBy(col("dkey"), col("px"), col("py")).agg(count(lit(1)).as("cnt"))

  /** The day-keyed churn ledger — the epoch-day relation both churn
    * faces share (the batch key formats the date on top; the streaming
    * face consumes the long, per the feed's-own-key convention).
    *
    * ONE aggregate instead of a self-join: each in-bbox point counts in
    * its own day's cell (`c`) and in the next day's (`p`), so one fold
    * per (dkey, px, py) holds both frames' counts of a cell, and a day
    * fold turns the cells into the ledger. A day with no lit cell of its
    * own (the day after the corpus's last, or after a gap) has
    * `n_cur = 0` and is dropped.
    */
  private[graft] def frameChurnLedger(s: SparkSession, dir: String): DataFrame = {
    val cellsWhere = (c: Column) => count(when(c, 1L))
    bboxed(s, dir, dayKey)
      .select(Seq(explode(array(
          struct(col("dkey"), lit(1L).as("c"), lit(0L).as("p")),
          struct((col("dkey") + 1).as("dkey"), lit(0L).as("c"), lit(1L).as("p")))).as("e")) ++
        pxPy: _*)
      .groupBy(col("e.dkey").as("dkey"), col("px"), col("py"))
      .agg(sum(col("e.c")).as("c_cnt"), sum(col("e.p")).as("p_cnt"))
      .groupBy(col("dkey"))
      .agg(cellsWhere(col("c_cnt") > 0).as("n_cur"), cellsWhere(col("p_cnt") > 0).as("n_prev"),
        cellsWhere(col("c_cnt") > 0 && col("p_cnt") === 0).as("n_new"),
        cellsWhere(col("p_cnt") > 0 && col("c_cnt") === 0).as("n_dead"),
        (sum(col("c_cnt")) - sum(col("p_cnt"))).as("mass_delta"))
      .filter(col("n_cur") > 0)
      .coalesce(1)
      .withColumn("churn_ppm",
        expr("1000000 * (n_new + n_dead) div (n_prev + n_new)"))
  }

  /** Frame-over-frame raster churn (r16) — the temporal-diff face of
    * the animation pipeline ([[mapFanout]] plans the frames,
    * [[reduceAssemble]] sequences them; this measures what actually
    * CHANGES between consecutive frames, the signal an animation
    * pipeline reads to pick frame rate and to skip near-identical
    * frames): per frame day, against the PREVIOUS calendar day's
    * raster — lit cells now/before, newly-lit cells, extinguished
    * cells, signed point-mass delta, and cell churn in exact ppm over
    * the two frames' cell union. The corpus's first frame is
    * all-new by contract (n_prev = 0, churn 10⁶).
    *
    * == Scale design ==
    * ONE corpus scan, each point doubled into its own day and the next,
    * folds map-side onto the bounded (day, px, py) cell relation
    * (≤ (days + 1) × 1.4M rows) that carries both frames' counts, so the
    * frame pair needs no join; the day fold reads that relation once and
    * the O(days) ledger ends in one partition, sorted there.
    */
  def geoFrameChurn(s: SparkSession, dir: String): DataFrame =
    frameChurnLedger(s, dir)
      .select(col("dkey").as("day"), frameDay,
        col("n_cur"), col("n_prev"), col("n_new"), col("n_dead"), col("mass_delta"),
        col("churn_ppm"))
      .orderBy(col("day"))

  /** points → merc → per-(day, px, py) raster-cell CTE prefix (no WITH
    * keyword) — the [[dayRaster]] relation's oracle replay, shared by
    * the churn faces and [[Maintain.shuffleBudget]] so the raster
    * shuffle relation is counted by the exact binning the family runs.
    */
  private[graft] val rasterCellsCtes: String =
    s"""$pointsCte, $mercCte,
       |${foldSql("dr", "count(*) AS cnt")}""".stripMargin

  /** Shared churn-ledger CTE chain (points → merc → per-day raster →
    * day-shifted full-outer pair → O(days) ledger). */
  private val frameChurnCtes: String =
    s"""WITH $rasterCellsCtes,
       |j AS (
       |  SELECT COALESCE(c.dkey, p.dkey + 1) AS dkey,
       |    c.cnt AS c_cnt, p.cnt AS p_cnt
       |  FROM dr c FULL JOIN dr p
       |    ON p.dkey + 1 = c.dkey AND p.px = c.px AND p.py = c.py),
       |led AS (
       |  SELECT dkey, count(c_cnt) AS n_cur, count(p_cnt) AS n_prev,
       |    CAST(sum(CASE WHEN c_cnt IS NOT NULL AND p_cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(sum(CASE WHEN p_cnt IS NOT NULL AND c_cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dead,
       |    CAST(COALESCE(sum(c_cnt), 0) - COALESCE(sum(p_cnt), 0) AS BIGINT) AS mass_delta
       |  FROM j WHERE dkey IN (SELECT DISTINCT dkey FROM dr)
       |  GROUP BY 1)""".stripMargin

  /** DuckDB twin: the shared point/merc CTEs, the per-day raster, the
    * day-shifted full-outer pair, the same O(days) ledger. */
  val geoFrameChurnSql: String =
    s"""$frameChurnCtes
       |SELECT CAST(dkey AS BIGINT) AS day, ${frameDaySql("dkey")},
       |  n_cur, n_prev, n_new, n_dead, mass_delta,
       |  1000000 * (n_new + n_dead) // (n_prev + n_new) AS churn_ppm
       |FROM led ORDER BY day""".stripMargin

  /** The ledger as the streaming face consumes it: epoch-day long key,
    * no date formatting (the `stream_frame_churn` oracle). */
  private[graft] val frameChurnDaysSql: String =
    s"""$frameChurnCtes
       |SELECT CAST(dkey AS BIGINT) AS day,
       |  n_cur, n_prev, n_new, n_dead, mass_delta,
       |  1000000 * (n_new + n_dead) // (n_prev + n_new) AS churn_ppm
       |FROM led ORDER BY day""".stripMargin

  /** Ordered reduce: assemble the frame manifest the encoder would
    * consume (Reduce.ps1's ffmpeg step, encode itself stubbed as
    * out-of-scope I/O): cumulative point offsets, total frame count,
    * and the 2-fps presentation timestamp.
    */
  def reduceAssemble(s: SparkSession, dir: String): DataFrame =
    mapFanout(s, dir)
      .select(Seq(col("frame_seq"), col("frame_day"), col("n_points")) ++ manifest: _*)
      .orderBy(col("frame_seq"))

  val reduceAssembleSql: String =
    s"""WITH $pointsCte, $mercCte, $framesCte,
       |seq AS (
       |  SELECT ${seqSql("frame_day")} AS frame_seq,
       |    frame_day, n_points FROM frames)
       |SELECT frame_seq, frame_day, n_points,
       |  $manifestSql
       |FROM seq ORDER BY frame_seq""".stripMargin

  // ------------------------------------------- composed frame build
  /** The frame shuffle and the fold: binned points (dkey, px, py, …)
    * keyed on the frame day `dkey` ([[graft.plans.Checkpoints.keyed]]:
    * hash-partitioned into `spark.sql.shuffle.partitions` parts, so the
    * frames render as parallel tasks), folded per (dkey, px, py) with
    * `aggs` inside those partitions, checkpointed and declared so. The
    * fold needs no exchange of its own: the frame partitioning already
    * clusters its keys. Every later `dkey`-keyed aggregate, window and
    * join of the face — [[frameRender]], the day ledgers, the hash join
    * between them — then runs inside the frame's partition with no
    * further exchange.
    *
    * The one shuffle moves points, at most 4 longs each, not combined
    * cells: no map-side combine runs before it, so its volume is the
    * corpus's binned points. The trade turns on the points per lit
    * (dkey, px, py) cell, measured in SCALING.md ("Frame shuffle"):
    * 1.0 in the test corpora and the benchmark's `geo_job` (2.2 for
    * [[pipelineFrameBuild]], whose overflow cell takes every
    * out-of-bbox point of a day), where this saves a shuffle and a job
    * per face; 100 on an events replica, where each face ran about a
    * quarter slower than with Spark's partial aggregate and a second
    * shuffle on `dkey`. Neither measured combine keeps both: Spark's
    * costs that second shuffle, and a per-partition hash combine in
    * `mapPartitions` ran slower still at 100.
    */
  private def framed(points: DataFrame, aggs: Column*): DataFrame =
    graft.plans.Checkpoints.keyed(points, "dkey",
      _.groupBy(col("dkey"), col("px"), col("py")).agg(aggs.head, aggs.tail: _*))

  /** Shared per-frame render: stages [4-5] of [[pipelineFrameBuild]] —
    * [[fanOut]] spread + per-frame eq-hist + [[ramp]] RGB, reduced to
    * the frame ledger (n_spread, spread_mass, shade_mass, rgb_digest)
    * per `leg` key (if any) and frame day. Every frame-building face
    * pushes its legs through this ONE arithmetic. The eq-hist is
    * `floor(percent_rank() OVER (PARTITION BY frame ORDER BY cs) * 255)`
    * on the spread cells, its SQL twin's own formula: Spark's
    * percent_rank is (rank−1)/(n−1) in doubles, the same integers and
    * divisions as [[eqhistShade]]'s histogram path, so the shades are
    * bit-identical (oracle-pinned).
    *
    * Input is canvas-bounded cells (leg…, dkey, px, py, cnt). Given
    * [[framed]] cells, the spread aggregate, the rank window and the
    * ledger aggregate all read the frame's own partition: the whole
    * render is one task per partition, no exchange, no broadcast. Any
    * other input still renders correctly; Spark then adds the exchanges.
    */
  private[operators] def frameRender(cells: DataFrame, leg: Column*): DataFrame = {
    val frame = leg :+ col("dkey")
    val shade = floor(percent_rank()
      .over(Window.partitionBy(frame: _*).orderBy(col("cs"))) * 255)
    val (red, green, blue) = ramp(col("shade"))
    fanOut(cells, frame: _*)
      .groupBy(frame :+ col("qx") :+ col("qy"): _*)
      .agg(sum(col("cnt")).as("cs"))
      .select(frame ++ Seq(col("qx"), col("qy"), col("cs"), shade.as("shade")): _*)
      .select(frame ++ Seq(col("cs"), col("shade"),
        (((col("qx") * 1009L + col("qy")) *
          (red * 65536L + green * 256L + blue + 1L)) % 1000000007L).as("mix")): _*)
      .groupBy(frame: _*)
      .agg(count(lit(1)).as("n_spread"), sum(col("cs")).as("spread_mass"),
        sum(col("shade")).as("shade_mass"), sum(col("mix")).as("rgb_digest"))
  }

  /** SQL twin of [[frameRender]]: spread → per-frame percent_rank
    * eq-hist → fire-ramp ledger over a raster CTE `src`(dkey,px,py,cnt),
    * CTE names suffixed so a face can render two legs in one
    * statement; the ledger CTE is `dig<sfx>`. */
  private def renderSql(src: String, sfx: String): String = {
    val (r, g, b) = rampSql("shade")
    s"""sp$sfx AS (SELECT dkey, qx, qy, CAST(sum(cnt) AS BIGINT) AS cs
       |  FROM (${fanOutSql(src, "dkey, ")}) f
       |  GROUP BY 1, 2, 3),
       |sh$sfx AS (SELECT dkey, qx, qy, cs,
       |    CAST(floor(percent_rank() OVER (PARTITION BY dkey ORDER BY cs) * 255)
       |      AS BIGINT) AS shade
       |  FROM sp$sfx),
       |dig$sfx AS (SELECT dkey, count(*) AS n_spread,
       |    CAST(sum(cs) AS BIGINT) AS spread_mass,
       |    CAST(sum(shade) AS BIGINT) AS shade_mass,
       |    CAST(sum(((qx * 1009 + qy) * ($r * 65536 + $g * 256 + $b + 1)) % 1000000007)
       |      AS BIGINT) AS rgb_digest
       |  FROM sh$sfx GROUP BY 1)""".stripMargin
  }

  /** The composed per-frame render (r17) — the reference's actual unit
    * of work (/root/reference/src/awsbatch-map/main.py:21-96: one
    * month → read → normalize → project → filter → rasterize → shade →
    * PNG) as ONE registered key with marginal stage accounting, the
    * [[graft.operators.Multimodal.pipelineMediaBuild]] pattern applied
    * to the Geo family. Every stage is a registered face's rule; this
    * face chains them PER FRAME DAY and emits the frame ledger:
    *
    *   1. ingest — all points of the frame day (`n_points`).
    *   2. bbox cut — [[geoBboxFilter]]'s predicate (`n_bbox`
    *      survivors; the marginal `n_points − n_bbox` is the cut).
    *   3. rasterize — [[geoRasterize]]'s binning per day (`n_lit`
    *      cells; Σ cell counts = `n_bbox` by construction).
    *   4. spread — [[geoSpread]]'s 3×3 ones-kernel convolution on the
    *      day's raster (`n_spread` cells, `spread_mass`).
    *   5. shade + RGB — [[geoShadeEqhist]]'s eq-hist as a per-frame
    *      percent_rank over the day's SPREAD counts (per-frame
    *      normalization, exactly datashader's per-image eq_hist) and
    *      [[geoShadeRgb]]'s fire ramp, reduced to `shade_mass` and an
    *      order-independent exact `rgb_digest` (Σ of a per-pixel
    *      integer mix mod 1e9+7) — the frame-level checksum an encode
    *      step would consume.
    *
    * == Scale design ==
    * ONE corpus scan bins every point; the frame shuffle moves the
    * binned points and [[framed]] folds them onto the bounded (day,
    * px, py) relation inside each frame's partition — out-of-bbox rows
    * fold to the (−1,−1) overflow cell so the stage-1/2 marginals read
    * off the SAME bounded relation (≤ days × (1.4M + 1) rows). This
    * overflow-cell fold is the one fold that keeps out-of-bbox points,
    * so it composes [[inBbox]] and the binning itself rather than
    * [[bboxed]]. The stage ledger, the spread fan-out, the per-frame
    * rank and the frame ledger are all canvas-bounded and run inside
    * the frame's partition; no stage past the fold touches point
    * volume, and the frames render as parallel tasks — the reference's
    * 24-way array job as frame-keyed partitions. The O(days) ledger
    * then moves to one partition for its sort.
    */
  def pipelineFrameBuild(s: SparkSession, dir: String): DataFrame = {
    // [1-3] one scan: project, bin (overflow cell for out-of-bbox)
    val r = framed(projected(s, dir, dayKey)
      .select(col("dkey"),
        when(inBbox, binX(W)).otherwise(lit(-1L)).cast("long").as("px"),
        when(inBbox, binY(H)).otherwise(lit(-1L)).cast("long").as("py")),
      count(lit(1)).as("cnt"))
    val stages = r.groupBy(col("dkey")).agg(
      sum(col("cnt")).as("n_points"),
      sum(when(col("px") >= 0, col("cnt")).otherwise(0L)).as("n_bbox"),
      sum(when(col("px") >= 0, 1L).otherwise(0L)).as("n_lit"))
    // [4-5] both sides keep the frame partitioning: a hash join in place
    val frame = frameRender(r.filter(col("px") >= 0)).hint("shuffle_hash")
    stages.join(frame, Seq("dkey"), "left_outer")
      .select(col("dkey").as("day"), frameDay,
        col("n_points"), col("n_bbox"), col("n_lit"),
        coalesce(col("n_spread"), lit(0L)).as("n_spread"),
        coalesce(col("spread_mass"), lit(0L)).as("spread_mass"),
        coalesce(col("shade_mass"), lit(0L)).as("shade_mass"),
        coalesce(col("rgb_digest"), lit(0L)).as("rgb_digest"))
      // the O(days) ledger sorts in one partition: a range-partitioned
      // sort would sample, and so run, the whole render a second time
      .repartition(1).sortWithinPartitions(col("day"))
  }

  /** DuckDB twin: the shared point/merc CTEs, the overflow-cell day
    * binning, then [[renderSql]] over the in-bbox cells. */
  val pipelineFrameBuildSql: String = {
    val (px, py) = binSql(W, H)
    s"""WITH $pointsCte, $mercCte,
       |pr AS (
       |  SELECT $dayKeySql AS dkey,
       |    CASE WHEN $inBboxSql THEN $px ELSE -1 END AS px,
       |    CASE WHEN $inBboxSql THEN $py ELSE -1 END AS py,
       |    count(*) AS cnt
       |  FROM merc GROUP BY 1, 2, 3),
       |stg AS (SELECT dkey, CAST(sum(cnt) AS BIGINT) AS n_points,
       |    CAST(sum(CASE WHEN px >= 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_bbox,
       |    CAST(sum(CASE WHEN px >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lit
       |  FROM pr GROUP BY 1),
       |cells AS (SELECT dkey, px, py, cnt FROM pr WHERE px >= 0),
       |${renderSql("cells", "f")}
       |SELECT CAST(stg.dkey AS BIGINT) AS day, ${frameDaySql("stg.dkey")},
       |  n_points, n_bbox, n_lit,
       |  COALESCE(n_spread, 0) AS n_spread,
       |  COALESCE(spread_mass, 0) AS spread_mass,
       |  COALESCE(shade_mass, 0) AS shade_mass,
       |  COALESCE(rgb_digest, 0) AS rgb_digest
       |FROM stg LEFT JOIN digf fr ON fr.dkey = stg.dkey
       |ORDER BY day""".stripMargin
  }

  // ------------------------------------------ incremental frame build
  /** The two-leg fold both incremental faces share: ONE in-bbox corpus
    * scan folds ([[framed]]) onto the bounded (day, px, py) relation
    * carrying both leg counts — standing `cb`, total `ca`, late batch
    * `cd` (event_id ≡ 0 mod 10, [[graft.operators.Maintain.aggIncremental]]'s
    * delta convention). Out-of-bbox delta points are
    * dropped at the fold: they cannot change a frame. Returns that
    * relation and, per affected day (one the batch lands on), the
    * before/after [[frameRender]] digests named `digB` / `digA`. Both
    * legs render as ONE relation keyed (after, dkey) — the standing leg
    * keeps only its lit cells — so a face pays for one render chain.
    */
  private def twoLegFold(s: SparkSession, dir: String, digB: String, digA: String)
      : (DataFrame, DataFrame) = {
    val r = framed(bboxed(s, dir, dayKey,
        (pmod(col("event_id"), lit(10)) === 0).cast("long").as("d"))
      .select(Seq(col("dkey"), col("d")) ++ pxPy: _*),
      sum(lit(1L) - col("d")).as("cb"), count(lit(1)).as("ca"), sum(col("d")).as("cd"))
    val aff = r.filter(col("cd") > 0).select(col("dkey")).distinct()
    val legs = r.join(aff.hint("shuffle_hash"), Seq("dkey"), "left_semi")
      .select(col("dkey"), col("px"), col("py"), explode(array(
        struct(lit(false).as("after"), col("cb").as("cnt")),
        struct(lit(true).as("after"), col("ca").as("cnt")))).as("leg"))
      .select(col("leg.after").as("after"), col("dkey"), col("px"), col("py"),
        col("leg.cnt").as("cnt"))
      .filter(col("cnt") > 0)
    val dig = frameRender(legs, col("after"))
      .groupBy(col("dkey"))
      .agg(max(when(!col("after"), col("rgb_digest"))).as(digB),
        max(when(col("after"), col("rgb_digest"))).as(digA))
    (r, dig.hint("shuffle_hash"))
  }

  /** SQL twin of [[twoLegFold]]: `pr` (cb, ca, cd), `aff`, and the
    * before/after ledgers `digb` / `diga`. */
  private val twoLegCtes: String =
    s"""${foldSql("pr",
         "CAST(sum(CASE WHEN event_id % 10 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS cb, " +
         "count(*) AS ca, CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cd")},
       |aff AS (SELECT DISTINCT dkey FROM pr WHERE cd > 0),
       |rb AS (SELECT dkey, px, py, cb AS cnt FROM pr JOIN aff USING (dkey)
       |  WHERE cb > 0),
       |ra AS (SELECT dkey, px, py, ca AS cnt FROM pr JOIN aff USING (dkey)),
       |${renderSql("rb", "b")},
       |${renderSql("ra", "a")}""".stripMargin

  /** Incremental frame rebuild (r17) — [[pipelineFrameBuild]]'s
    * delta-ingest twin, completing the Geo family's build symmetry the
    * way [[graft.operators.Multimodal.pipelineMediaIncremental]]
    * completes the media side's: a late-arriving point batch lands on
    * a standing frame set, and ONLY the frames the delta actually
    * touches are re-rendered — per affected frame day, the ledger row
    * carries the arriving in-bbox point count, the before/after
    * bbox-survivor and lit-cell counts, the before/after
    * [[frameRender]] RGB digests, a `render_changed` flag (a delta CAN
    * leave the digest intact when eq-hist re-ranks to the same shades),
    * and the constant frames_total / frames_touched pair — the
    * skip-work accounting that justifies the incremental path.
    *
    * == Scale design ==
    * [[twoLegFold]]'s one scan — on the test corpus this scan plays the
    * role of the persisted base raster + the arriving batch; a
    * deployment keeps the (day, px, py, cnt) relation as a table (it is
    * exactly what [[layoutHilbertWrite]] persists) and scans only the
    * delta, so the nightly cost is O(delta) + O(affected-day rasters),
    * never the corpus. Both render legs are one canvas-bounded ×
    * affected-days relation rendered inside each frame's partition, the
    * day ledger reads the same partitions, and only the O(days)
    * constants meet in one single-partition window; untouched frames
    * are never re-shaded (the frames_touched / frames_total margin).
    */
  def pipelineFrameIncremental(s: SparkSession, dir: String): DataFrame = {
    val (r, dig) = twoLegFold(s, dir, "rgb_digest_before", "rgb_digest_after")
    val all = Window.partitionBy()
    r.groupBy(col("dkey")).agg(
        sum(col("cd")).as("n_delta"),
        sum(col("cb")).as("n_points_before"),
        sum(col("ca")).as("n_points_after"),
        sum(when(col("cb") > 0, 1L).otherwise(0L)).as("n_lit_before"),
        count(lit(1)).as("n_lit_after"))
      .join(dig, Seq("dkey"), "left_outer")
      // the constants count every frame, so they come before the cut
      .withColumn("frames_total", count(lit(1)).over(all))
      .withColumn("frames_touched", count(when(col("n_delta") > 0, 1L)).over(all))
      .filter(col("n_delta") > 0)
      .select(col("dkey").as("day"), frameDay,
        col("n_delta"), col("n_points_before"), col("n_points_after"),
        col("n_lit_before"), col("n_lit_after"),
        coalesce(col("rgb_digest_before"), lit(0L)).as("rgb_digest_before"),
        col("rgb_digest_after"),
        (coalesce(col("rgb_digest_before"), lit(-1L)) =!= col("rgb_digest_after"))
          .cast("long").as("render_changed"),
        col("frames_total"), col("frames_touched"))
      .orderBy(col("day"))
  }

  /** DuckDB twin: [[twoLegCtes]], the same ledger. */
  val pipelineFrameIncrementalSql: String =
    s"""WITH $pointsCte, $mercCte,
       |$twoLegCtes,
       |stats AS (SELECT dkey,
       |    CAST(sum(cd) AS BIGINT) AS n_delta,
       |    CAST(sum(cb) AS BIGINT) AS n_points_before,
       |    CAST(sum(ca) AS BIGINT) AS n_points_after,
       |    CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lit_before,
       |    count(*) AS n_lit_after
       |  FROM pr JOIN aff USING (dkey) GROUP BY 1),
       |tot AS (SELECT count(DISTINCT dkey) AS frames_total FROM pr),
       |tch AS (SELECT count(*) AS frames_touched FROM aff)
       |SELECT CAST(stats.dkey AS BIGINT) AS day, ${frameDaySql("stats.dkey")},
       |  n_delta, n_points_before, n_points_after, n_lit_before, n_lit_after,
       |  COALESCE(db.rgb_digest, 0) AS rgb_digest_before,
       |  da.rgb_digest AS rgb_digest_after,
       |  CAST(CASE WHEN COALESCE(db.rgb_digest, -1) <> da.rgb_digest
       |    THEN 1 ELSE 0 END AS BIGINT) AS render_changed,
       |  frames_total, frames_touched
       |FROM stats
       |LEFT JOIN digb db ON db.dkey = stats.dkey
       |JOIN diga da ON da.dkey = stats.dkey
       |CROSS JOIN tot CROSS JOIN tch
       |ORDER BY day""".stripMargin

  // ------------------------------------------------ whole-job manifest
  /** The reference's WHOLE job as one key (r18 — the last structural
    * seam closed): the reference runs fan-out (Implementation.cs:47-58,
    * one array task per month) → per-frame render (main.py:21-96) →
    * ordered assembly (Reduce.ps1:8, ffmpeg consuming the ordered frame
    * list). The registered faces cover each stage — [[mapFanout]] plans
    * the frames, [[pipelineFrameBuild]] renders one, [[reduceAssemble]]
    * sequences them — but reduceAssemble's manifest carries only the
    * fan-out's event_id checksum, while the encoder manifest the real
    * reduce step consumes carries the per-frame RENDER digest. This key
    * chains all three: per frame (in-bbox day, the fan-out contract),
    * the manifest row holds the frame sequence, in-bbox point count and
    * fan-out checksum, cumulative point offsets, total frame count, the
    * 2-fps presentation timestamp, and [[frameRender]]'s exact
    * `rgb_digest` — byte-for-byte the columns [[reduceAssemble]] emits
    * on seq/offsets and [[pipelineFrameBuild]] emits on digests (the
    * spec pins both equivalences).
    *
    * == Scale design ==
    * ONE corpus scan bins the in-bbox points and [[framed]] folds them
    * onto the bounded (day, px, py) relation inside each frame's
    * partition, the fan-out checksum folded per cell (sum of event_id
    * mod 997 rides the same aggregate as the count) — the render and
    * the day ledger both read the materialized relation in that
    * partition, never the points, and join there. The [[manifest]]
    * windows sort the O(days) ledger; the per-day render runs frames
    * as parallel tasks, exactly the reference's array job re-expressed
    * as frame-keyed partitions.
    */
  def pipelineJobBuild(s: SparkSession, dir: String): DataFrame = {
    // [fan-out] one scan: in-bbox day binning, checksum folded per cell
    val r = framed(bboxed(s, dir, col("event_id"), dayKey)
      .select(col("dkey") +: pxPy :+ (col("event_id") % 997L).as("ck"): _*),
      count(lit(1)).as("cnt"), sum(col("ck")).as("chk"))
    // [render] per-frame digest over the same bounded relation
    val frame = frameRender(r.select(col("dkey"), col("px"), col("py"), col("cnt")))
      .select(col("dkey"), col("rgb_digest")).hint("shuffle_hash")
    // [assemble] ordered manifest over the O(days) ledger
    val days = r.groupBy(col("dkey"))
      .agg(sum(col("cnt")).as("n_points"), sum(col("chk")).as("checksum"))
    days.join(frame, Seq("dkey"))
      .withColumn("frame_seq", frameSeq(col("dkey")))
      .select(Seq(col("frame_seq"), frameDay, col("n_points"), col("checksum")) ++
        manifest :+ col("rgb_digest"): _*)
      .orderBy(col("frame_seq"))
  }

  /** DuckDB twin: the in-bbox cell fold with the checksum riding the
    * combine, [[renderSql]] for the digest leg, the same ordered-
    * manifest windows. */
  val pipelineJobBuildSql: String =
    s"""WITH $pointsCte, $mercCte,
       |${foldSql("pr", "count(*) AS cnt, CAST(sum(event_id % 997) AS BIGINT) AS chk")},
       |${renderSql("pr", "j")},
       |d AS (SELECT dkey, CAST(sum(cnt) AS BIGINT) AS n_points,
       |    CAST(sum(chk) AS BIGINT) AS checksum
       |  FROM pr GROUP BY 1),
       |seq AS (SELECT ${seqSql("dkey")} AS frame_seq,
       |    dkey, n_points, checksum FROM d)
       |SELECT frame_seq, ${frameDaySql("seq.dkey")},
       |  n_points, checksum,
       |  $manifestSql,
       |  dig.rgb_digest
       |FROM seq JOIN digj dig ON dig.dkey = seq.dkey
       |ORDER BY frame_seq""".stripMargin

  // -------------------------------------------- incremental job manifest
  /** Incremental MANIFEST maintenance (r18 — [[pipelineJobBuild]]'s
    * delta twin, and the accounting [[pipelineFrameIncremental]] cannot
    * see: that face proves only TOUCHED frames re-render, but the job's
    * final artifact is the ordered manifest, and its cumulative offsets
    * make incremental assembly structurally worse than incremental
    * rendering — one touched frame shifts `cum_points` for EVERY later
    * frame, so the encoder must re-emit the whole suffix. This ledger
    * quantifies that amplification: the late batch (event_id ≡ 0 mod
    * 10, the family's delta convention) lands on the standing manifest,
    * and per after-frame the row carries both legs' point counts, the
    * delta, `touched` (delta landed on the frame), `digest_changed`
    * (the re-render actually changed the RGB digest — a delta CAN
    * re-rank eq-hist to the same shades), `offsets_shifted` (the
    * frame's sequence number or cumulative offset moved), `rewrite`
    * (any of the three — the rows the encoder re-emits), and the
    * constant totals. `frames_rewritten` ≥ `frames_touched` is the
    * structural lesson: rewrite is a SUFFIX from the first touched
    * frame (spec-pinned), which is why real encoder manifests version
    * offsets per chunk instead of globally.
    *
    * == Scale design ==
    * [[twoLegFold]]'s one scan (at 100 TB the standing leg is the
    * persisted raster table and only the delta is scanned); ONLY
    * touched frames render (both legs as one relation, canvas-bounded ×
    * affected days — untouched frames keep their digest by construction
    * and are never re-shaded); both manifest legs are one pass of
    * O(days) windows on the day ledger.
    */
  def pipelineJobIncremental(s: SparkSession, dir: String): DataFrame = {
    val (r, dig) = twoLegFold(s, dir, "dig_b", "dig_a")
    // the before manifest sequences only the frames with standing points
    val standing = col("nb") > 0
    val all = Window.partitionBy()
    r.groupBy(col("dkey")).agg(
        sum(col("cb")).as("nb"), sum(col("ca")).as("na"), sum(col("cd")).as("nd"))
      .join(dig, Seq("dkey"), "left_outer")
      .select(col("dkey"), col("nb"), col("na"), col("nd"), col("dig_b"), col("dig_a"),
        when(standing, cumSum(standing.cast("long"), col("dkey"))).as("seq_b"),
        when(standing, cumSum(col("nb"), col("dkey"))).as("cum_b"),
        frameSeq(col("dkey")).as("seq_a"), cumSum(col("na"), col("dkey")).as("cum_a"))
      .withColumn("touched", (col("nd") > 0).cast("long"))
      .withColumn("digest_changed",
        when(col("nd") > 0, coalesce(col("dig_b"), lit(-1L)) =!= col("dig_a"))
          .otherwise(lit(false)).cast("long"))
      .withColumn("offsets_shifted",
        (col("seq_b").isNull || col("seq_b") =!= col("seq_a") ||
          col("cum_b") =!= col("cum_a")).cast("long"))
      .withColumn("rewrite",
        greatest(col("touched"), col("digest_changed"), col("offsets_shifted")))
      .select(col("seq_a").as("frame_seq"), frameDay,
        col("nb").as("n_points_before"), col("na").as("n_points_after"),
        col("nd").as("delta_points"), col("touched"), col("digest_changed"),
        col("offsets_shifted"), col("rewrite"),
        count(lit(1)).over(all).as("frames_total"),
        sum(col("touched")).over(all).as("frames_touched"),
        sum(col("rewrite")).over(all).as("frames_rewritten"))
      .orderBy(col("frame_seq"))
  }

  /** DuckDB twin: [[twoLegCtes]], both manifest windows, the same
    * rewrite ledger. */
  val pipelineJobIncrementalSql: String =
    s"""WITH $pointsCte, $mercCte,
       |$twoLegCtes,
       |d AS (SELECT dkey, CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cd) AS BIGINT) AS nd
       |  FROM pr GROUP BY 1),
       |bm AS (SELECT dkey,
       |    ${seqSql("dkey")} AS seq_b,
       |    ${cumSumSql("nb", "dkey")} AS cum_b
       |  FROM d WHERE nb > 0),
       |am AS (SELECT dkey, nb, na, nd,
       |    ${seqSql("dkey")} AS seq_a,
       |    ${cumSumSql("na", "dkey")} AS cum_a
       |  FROM d),
       |led AS (SELECT am.*, bm.seq_b, bm.cum_b, db.rgb_digest AS dig_b,
       |    da.rgb_digest AS dig_a
       |  FROM am LEFT JOIN bm USING (dkey)
       |  LEFT JOIN digb db ON db.dkey = am.dkey
       |  LEFT JOIN diga da ON da.dkey = am.dkey),
       |l2 AS (SELECT *,
       |    CASE WHEN nd > 0 THEN 1 ELSE 0 END AS touched,
       |    CASE WHEN nd > 0 AND COALESCE(dig_b, -1) <> dig_a
       |      THEN 1 ELSE 0 END AS digest_changed,
       |    CASE WHEN seq_b IS NULL OR seq_b <> seq_a OR cum_b <> cum_a
       |      THEN 1 ELSE 0 END AS offsets_shifted
       |  FROM led),
       |l3 AS (SELECT *,
       |    greatest(touched, digest_changed, offsets_shifted) AS rewrite
       |  FROM l2),
       |tot AS (SELECT count(*) AS frames_total,
       |    CAST(sum(touched) AS BIGINT) AS frames_touched,
       |    CAST(sum(rewrite) AS BIGINT) AS frames_rewritten
       |  FROM l3)
       |SELECT seq_a AS frame_seq, ${frameDaySql("dkey")},
       |  nb AS n_points_before, na AS n_points_after, nd AS delta_points,
       |  CAST(touched AS BIGINT) AS touched,
       |  CAST(digest_changed AS BIGINT) AS digest_changed,
       |  CAST(offsets_shifted AS BIGINT) AS offsets_shifted,
       |  CAST(rewrite AS BIGINT) AS rewrite,
       |  frames_total, frames_touched, frames_rewritten
       |FROM l3 CROSS JOIN tot
       |ORDER BY frame_seq""".stripMargin

  // --------------------------------------------------------- Z-order
  /** 16-bit Morton spread: interleave-ready bit expansion via the
    * classic shift-or-mask ladder — pure codegen'd integer ops, and the
    * identical `<< | &` arithmetic replays in DuckDB.
    */
  private[graft] def spread16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
      .foldLeft(c.bitwiseAND(lit(0xFFFFL))) { case (e, (sh, m)) =>
        e.bitwiseOR(shiftleft(e, sh)).bitwiseAND(lit(m))
      }

  private def spreadSql(e: String): String =
    Seq((8, "16711935"), (4, "252645135"), (2, "858993459"), (1, "1431655765"))
      .foldLeft(s"(($e) & 65535)") { case (x, (sh, m)) =>
        s"((($x) | (($x) << $sh)) & $m)"
      }

  /** Morton key of (px, py), both sides. */
  private def zkey: Column = spread16(col("px")).bitwiseOR(shiftleft(spread16(col("py")), 1))
  private val zkeySql = s"(${spreadSql("px")} | (${spreadSql("py")} << 1))"

  /** Z-order (Morton) data-layout key over the raster grid: interleave
    * the bits of (px, py) and roll the raster up by 256×256-cell
    * Z-tiles (zkey >> 16). The per-tile px/py extents in the output ARE
    * the point of Z-ordering: every tile is a compact ≤256-wide
    * rectangle (spec-asserted), so files written in zkey ranges carry
    * tight min/max column stats for BOTH dimensions and a 2-D bbox
    * predicate prunes files/row-groups on either axis.
    *
    * == Scale design ==
    * This is the clustering key for the writer:
    * `repartitionByRange(col("zkey")).sortWithinPartitions("zkey")`
    * before a parquet write yields the multi-dimensional data-skipping
    * layout (the Delta OPTIMIZE ZORDER BY equivalent) with one range
    * shuffle. The key itself is a handful of codegen'd shift/mask ops —
    * no UDF, no precision loss, monotone in interleaved bit order.
    */
  def layoutZorder(s: SparkSession, dir: String): DataFrame =
    rasterDf(s, dir)
      .withColumn("zkey", zkey)
      .withColumn("tile", expr("zkey div 65536"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n_cells"), sum(col("cnt")).as("n_points"),
        min(col("px")).as("px_min"), max(col("px")).as("px_max"),
        min(col("py")).as("py_min"), max(col("py")).as("py_max"))
      .orderBy(col("tile"))

  val layoutZorderSql: String =
    s"""WITH $pointsCte, $mercCte, $rasterCte,
       |z AS (SELECT px, py, cnt, $zkeySql // 65536 AS tile FROM raster)
       |SELECT tile, count(*) AS n_cells, CAST(sum(cnt) AS BIGINT) AS n_points,
       |  min(px) AS px_min, max(px) AS px_max,
       |  min(py) AS py_min, max(py) AS py_max
       |FROM z GROUP BY tile ORDER BY tile""".stripMargin

  /** The four fixed pixel-space query boxes the skipping audits probe
    * (box_id, x0, y0, x1, y1) — a quarter, a wide band, the center,
    * and a small corner. */
  private val skipBoxes =
    "stack(4, 0L,0L,0L,349L,249L, 1L,700L,0L,1399L,499L, " +
      "2L,350L,250L,1049L,749L, 3L,1200L,800L,1399L,999L) " +
      "AS (box_id, bx0, by0, bx1, by1)"

  /** Min/max zone maps per file: `cells` (px, py) grouped by `keys`. */
  private def zoneMaps(cells: DataFrame, keys: Column*): DataFrame =
    cells.groupBy(keys: _*)
      .agg(count(lit(1)).as("n_cells"),
        min(col("px")).as("fx0"), max(col("px")).as("fx1"),
        min(col("py")).as("fy0"), max(col("py")).as("fy1"))

  /** The zone-map probe: file [[zoneMaps]] `files` (keys…, file_id)
    * against the four [[skipBoxes]], the exact matches counted on
    * `cells` (px, py). Per (keys…, box): files total / touched, cells
    * scanned / matching and the read amplification in exact ppm,
    * under the output column `layout`. */
  private def zoneProbe(s: SparkSession, files: DataFrame, cells: DataFrame,
                        layout: Column, keys: Column*): DataFrame = {
    val boxes = s.range(1).select(expr(skipBoxes))
    val matching = cells.crossJoin(broadcast(boxes))
      .filter(col("px") >= col("bx0") && col("px") <= col("bx1") &&
        col("py") >= col("by0") && col("py") <= col("by1"))
      .groupBy(col("box_id"))
      .agg(count(lit(1)).as("cells_matching"))
    files.crossJoin(broadcast(boxes))
      .withColumn("files_total", count(lit(1)).over(
        Window.partitionBy(keys :+ col("box_id"): _*)))
      .filter(col("fx1") >= col("bx0") && col("fx0") <= col("bx1") &&
        col("fy1") >= col("by0") && col("fy0") <= col("by1"))
      .groupBy(keys ++ Seq(col("box_id"), col("files_total")): _*)
      .agg(count(lit(1)).as("files_touched"),
        sum(col("n_cells")).as("cells_scanned"))
      .join(broadcast(matching), Seq("box_id"))
      .select(layout, col("box_id"), col("files_total"),
        col("files_touched"), col("cells_scanned"), col("cells_matching"),
        expr("(1000000 * cells_scanned) div greatest(cells_matching, 1)")
          .as("read_amp_ppm"))
  }

  /** A MODELED layout audit: the checkpointed raster cells laid out
    * once per layout in `layouts`, ranked by that layout's `okey`,
    * dealt into 256-cell files, then [[zoneProbe]]d. */
  private def modeledAudit(s: SparkSession, raster: DataFrame, layouts: Seq[String],
                           okey: Column): DataFrame = {
    val w = Window.partitionBy(col("layout")).orderBy(col("okey"))
    val files = raster
      .select(col("*"), explode(array(layouts.map(lit): _*)).as("layout"))
      .withColumn("okey", okey)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("file_id", expr("(rn - 1) div 256"))
    zoneProbe(s, zoneMaps(files, col("layout"), col("file_id")), raster,
        col("layout"), col("layout"))
      .orderBy(col("layout"), col("box_id"))
  }

  /** SQL twin of [[modeledAudit]]: the cells of `src` laid out as
    * `layout` by `okey`, against the Morton layout of `raster`. */
  private def modeledAuditSql(layout: String, okey: String, src: String): String =
    s"""l AS (
       |  SELECT px, py, cnt, '$layout' AS layout, $okey AS okey FROM $src
       |  UNION ALL
       |  SELECT px, py, cnt, 'zorder', $zkeySql FROM raster),
       |r AS (SELECT layout, cnt, px, py,
       |    (row_number() OVER (PARTITION BY layout ORDER BY okey) - 1) // 256 AS file_id
       |  FROM l),
       |files AS (SELECT layout, file_id, count(*) AS n_cells,
       |    min(px) AS fx0, max(px) AS fx1, min(py) AS fy0, max(py) AS fy1
       |  FROM r GROUP BY 1, 2),
       |boxes AS (SELECT * FROM (VALUES (0, 0, 0, 349, 249), (1, 700, 0, 1399, 499),
       |    (2, 350, 250, 1049, 749), (3, 1200, 800, 1399, 999))
       |  AS t(box_id, bx0, by0, bx1, by1)),
       |m AS (SELECT box_id, count(*) AS cells_matching
       |  FROM raster CROSS JOIN boxes
       |  WHERE px >= bx0 AND px <= bx1 AND py >= by0 AND py <= by1
       |  GROUP BY box_id),
       |ft AS (SELECT layout, count(*) AS files_total FROM files GROUP BY layout),
       |hit AS (SELECT layout, box_id, count(*) AS files_touched,
       |    CAST(sum(n_cells) AS BIGINT) AS cells_scanned
       |  FROM files CROSS JOIN boxes
       |  WHERE fx1 >= bx0 AND fx0 <= bx1 AND fy1 >= by0 AND fy0 <= by1
       |  GROUP BY 1, 2)
       |SELECT hit.layout, CAST(hit.box_id AS BIGINT) AS box_id,
       |  CAST(ft.files_total AS BIGINT) AS files_total,
       |  CAST(files_touched AS BIGINT) AS files_touched, cells_scanned,
       |  CAST(cells_matching AS BIGINT) AS cells_matching,
       |  (1000000 * cells_scanned) // greatest(cells_matching, 1) AS read_amp_ppm
       |FROM hit JOIN ft USING (layout) JOIN m USING (box_id)
       |ORDER BY layout, box_id""".stripMargin

  /** Data-skipping effectiveness audit — the measurement that justifies
    * a layout rewrite before anyone pays for it: the raster cells are
    * laid out into 256-cell files two ways (row-major `linear` vs
    * Morton `zorder`), each file keeps min/max zone-map stats on both
    * axes (exactly what parquet row-group stats give a 2-D predicate),
    * and four fixed query boxes are planned against each layout. Per
    * (layout, box): files touched vs total, cells scanned vs actually
    * matching, and the read amplification in exact ppm. Z-order files
    * are compact rectangles so boxes prune on BOTH axes; linear files
    * span full rows and only prune on y — the ppm gap between the two
    * rows is the business case for [[layoutZorder]].
    *
    * == Scale design ==
    * The ranking relation is the CANVAS-BOUNDED cell grid (≤1.4M
    * cells), not the point corpus — the events scan folds map-side
    * into it once ([[rasterDf]], checkpointed here since two consumers
    * read it). The per-layout row_number is over that bounded
    * relation; file summaries (≤342 files/layout) and the 4-box probe
    * are broadcast-sized. At 100 TB of points this stays grid-sized
    * after the one rasterize pass.
    */
  def layoutSkippingEval(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    modeledAudit(s, rasterDf(s, dir).stableCheckpoint(), Seq("linear", "zorder"),
      when(col("layout") === "linear", col("py") * 2048L + col("px")).otherwise(zkey))
  }

  /** DuckDB twin: same bounded ranking, same zone-map intersection. */
  val layoutSkippingEvalSql: String =
    s"""WITH $pointsCte, $mercCte, $rasterCte,
       |${modeledAuditSql("linear", "py * 2048 + px", "raster")}""".stripMargin

  // --------------------------------------------------- Hilbert layout
  /** Hilbert xy→d index over the 2048-square (the canvas's covering
    * power of two), appended as column `out` — the classic 11-round
    * bit transform (top-down quadrant descent with the rotate/reflect
    * state carried in (x, y); each round contributes s²·((3·rx)⊕ry)).
    * Materialized ROUND BY ROUND as withColumn stages: a single nested
    * expression would re-reference each round's (x, y) three times and
    * the tree would grow 3¹¹-fold; per-round projections keep it
    * linear and Catalyst's CollapseProject guard (non-cheap exprs
    * referenced more than once are not inlined) preserves that.
    */
  private[graft] def withHilbert(df: DataFrame, xCol: String, yCol: String,
                                 out: String): DataFrame = {
    var d = df.withColumn("hx", col(xCol).cast("long"))
      .withColumn("hy", col(yCol).cast("long"))
      .withColumn(out, lit(0L))
    var s = 1024L
    while (s >= 1L) {
      d = d
        .withColumn("hrx",
          when(col("hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("hry",
          when(col("hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn(out,
          col(out) + lit(s * s) * (col("hrx") * 3L).bitwiseXOR(col("hry")))
        .withColumn("hx2", when(col("hry") === 0,
          when(col("hrx") === 1, lit(s - 1) - col("hy")).otherwise(col("hy")))
          .otherwise(col("hx")))
        .withColumn("hy2", when(col("hry") === 0,
          when(col("hrx") === 1, lit(s - 1) - col("hx")).otherwise(col("hx")))
          .otherwise(col("hy")))
        .withColumn("hx", col("hx2")).withColumn("hy", col("hy2"))
      s /= 2L
    }
    d.drop("hx", "hy", "hrx", "hry", "hx2", "hy2")
  }

  /** Hilbert-vs-Morton skipping audit (r14 wave 18) — the
    * better-curve question [[layoutSkippingEval]] leaves open: Morton
    * order has quadrant-boundary JUMPS (the curve teleports across the
    * canvas between quadrants, so a 256-cell file there spans distant
    * regions), the Hilbert curve is fully adjacency-preserving
    * (consecutive indices are always Manhattan neighbors — the spec
    * pins exactly that property), so its files are tighter rectangles
    * and zone-map pruning touches fewer of them. Same harness as the
    * linear-vs-Morton face: 256-cell files per layout, min/max zone
    * maps, the four fixed probe boxes, read amplification in exact
    * ppm. The honest readout stands either way — on axis-aligned
    * probes the two curves are usually close, and the jump cost shows
    * on boxes that straddle a quadrant boundary.
    *
    * == Scale design ==
    * Identical to [[layoutSkippingEval]]: everything after the one
    * rasterize fold runs on the canvas-bounded cell grid; the Hilbert
    * transform is 11 codegen-friendly integer projection stages over
    * that bounded relation, zero extra shuffles.
    */
  def layoutHilbert(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Checkpoints.StableSyntax
    val raster = withHilbert(rasterDf(s, dir), "px", "py", "hd").stableCheckpoint()
    modeledAudit(s, raster, Seq("hilbert", "zorder"),
      when(col("layout") === "zorder", zkey).otherwise(col("hd")))
  }

  /** The Hilbert rounds as chained MATERIALIZED CTEs (same per-round
    * state transform; materialized so DuckDB cannot exponentially
    * inline the thrice-referenced hx/hy). */
  private val hilbertCtes: String = {
    val rounds = Iterator.iterate(1024L)(_ / 2L).takeWhile(_ >= 1L).toSeq
    val chain = rounds.zipWithIndex.map { case (s, i) =>
      val k = i + 1
      s"""hh$k AS MATERIALIZED (SELECT px, py, cnt,
         |  CASE WHEN (hy & $s) = 0 THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hy ELSE hy END ELSE hx END AS hx,
         |  CASE WHEN (hy & $s) = 0 THEN CASE WHEN (hx & $s) > 0 THEN ${s - 1} - hx ELSE hx END ELSE hy END AS hy,
         |  hd + ${s * s} * xor(CASE WHEN (hx & $s) > 0 THEN 3 ELSE 0 END,
         |                      CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS hd
         |FROM hh${i})""".stripMargin
    }.mkString(",\n")
    s"""hh0 AS (SELECT px, py, cnt, CAST(px AS BIGINT) AS hx,
       |  CAST(py AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM raster),
       |$chain""".stripMargin
  }

  /** DuckDB twin: same Hilbert rounds, same file ranking, same
    * zone-map probe. */
  val layoutHilbertSql: String =
    s"""WITH $pointsCte, $mercCte, $rasterCte,
       |$hilbertCtes,
       |${modeledAuditSql("hilbert", "hd", "hh11")}""".stripMargin

  // ------------------------------------------------ hilbert writer
  /** Materialize the Hilbert-clustered layout as REAL parquet files:
    * the raster cells ranked by their Hilbert index (two-phase
    * range-partitioned rank — no single-task sort), dealt into
    * 256-cell files by the audit's deterministic rule, and WRITTEN
    * partitioned by file id with one physical parquet file per unit
    * (hash repartition on file_id ⇒ each file's rows land in exactly
    * one task). The written files carry genuine row-group zone maps
    * on px/py — what [[layoutHilbert]] models, made disk truth.
    * Written once per (session, events files); see
    * [[graft.plans.SessionMemo.tables]].
    */
  private[graft] def ensureHilbertLayout(s: SparkSession, dir: String): String =
    graft.plans.SessionMemo.tables(s, dir, "hilbertLayout",
        graft.plans.SessionMemo.corpusSig(s, dir, "events"), "graft_hilbert_layout_") { tbls =>
      val ranked = graft.operators.Analytics.globalRowPos(
        withHilbert(rasterDf(s, dir), "px", "py", "hd"),
        Seq.empty, Seq(col("hd")), "rn", "n")
      ranked
        .withColumn("file_id", expr("(rn - 1) div 256"))
        .select(col("px"), col("py"), col("cnt"), col("hd"), col("file_id"))
        .repartition(col("file_id"))
        .write.mode("overwrite").format("parquet")
        .partitionBy("file_id").saveAsTable(tbls.head)
    }.head

  /** Hilbert-layout skipping audit over WRITTEN files (r17 — the
    * writer face the modeled audits plan for: [[layoutHilbert]]
    * measured the Hilbert curve's pruning win on MODELED 256-cell
    * files; this face actually WRITES the layout — a partitioned
    * parquet table, one physical file per 256-cell Hilbert range,
    * real row-group zone maps on disk — then runs the identical
    * 4-box probe against zone maps derived from the files READ BACK,
    * never from the model). The oracle is the modeled audit's
    * hilbert rows, so the hash match proves the written layout
    * delivers exactly the skipping the model promised; the spec
    * additionally opens the parquet FOOTERS and pins each file's
    * min/max stats to the audit's zone maps.
    *
    * == Scale design ==
    * The write is the [[layoutZorder]] scale note made concrete: one
    * rasterize fold, the two-phase range rank on the canvas-bounded
    * cell relation, one hash shuffle into file-sized tasks. The audit
    * reads the bounded written relation (≤1.4M cells) once; file
    * summaries and the probe are broadcast-sized.
    */
  def layoutHilbertWrite(s: SparkSession, dir: String): DataFrame = {
    val t = s.table(ensureHilbertLayout(s, dir))
    zoneProbe(s, zoneMaps(t, col("file_id")), t, lit("hilbert").as("layout"))
      .orderBy(col("box_id"))
  }

  /** DuckDB twin: the MODELED hilbert audit restricted to its hilbert
    * rows — written layout ≡ model is exactly the claim. */
  val layoutHilbertWriteSql: String =
    s"""SELECT * FROM ($layoutHilbertSql) WHERE layout = 'hilbert'
       |ORDER BY box_id""".stripMargin

  // ------------------------------------------------------ tile pyramid
  /** Multi-zoom tile pre-aggregation (r14 wave 19) — the tile-SERVING
    * face of the rasterizer: a slippy-map client asks for count tiles
    * at whatever zoom it is at, and recomputing the aggregation per
    * zoom would re-scan the corpus once per level. This face bins the
    * bbox-filtered points ONCE at the finest zoom (z = 5, a 32×32
    * grid) and derives every coarser level by integer halving of the
    * base tile coordinates (tx_z = tx₅ div 2^(5−z)) — the parent/child
    * relation real tile pyramids use. Deriving (never re-binning)
    * makes cross-zoom conservation hold BY CONSTRUCTION and dodges the
    * float-edge trap: a point on a tile boundary could bin differently
    * when the float bin width changes per zoom, silently breaking
    * parent = Σ children.
    *
    * == Scale design ==
    * ONE scan reduces to the ≤ 4^5 base tiles (bounded key space ⇒
    * map-side combine absorbs the corpus); the 6-level rollup is a
    * broadcast cross join + re-aggregate on that ≤1024-row relation.
    * At 100 TB the base binning is the only corpus-sized reduce; a
    * deeper pyramid just raises the bounded key count (4^z).
    */
  def geoTilePyramid(s: SparkSession, dir: String): DataFrame =
    tilePyramid(s, dir).orderBy(col("zoom"), col("tx"), col("ty"))

  /** The zoom ladder: zoom z reads base cells in blocks of d = 2^(5−z). */
  private def zooms(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((0L, 32L), (1L, 16L), (2L, 8L), (3L, 4L), (4L, 2L), (5L, 1L)).toDF("zoom", "d")
  }

  /** The pyramid both tile faces read, unsorted: the base fold at
    * zoom 5 (a 32×32 grid) rolled up the [[zooms]] ladder. */
  private def tilePyramid(s: SparkSession, dir: String): DataFrame = {
    val N = 32 // 2^5
    val base = bboxed(s, dir, col("event_id"))
      .select(binX(N).cast("long").as("bx"), binY(N).cast("long").as("by"))
      .groupBy("bx", "by").agg(count(lit(1)).as("cnt"))
    base.crossJoin(broadcast(zooms(s)))
      .select(col("zoom"), expr("bx div d").as("tx"), expr("by div d").as("ty"),
        col("cnt"))
      .groupBy("zoom", "tx", "ty").agg(sum(col("cnt")).as("cnt"))
  }

  /** SQL twin of [[tilePyramid]]: `zooms` and the unsorted `pyr`. */
  private val pyramidCtes: String =
    s"""${foldSql("base", "count(*) AS cnt", perDay = false, n = 32, m = 32)},
       |zooms(zoom, d) AS (VALUES (0, 32), (1, 16), (2, 8), (3, 4), (4, 2), (5, 1)),
       |pyr AS (SELECT CAST(zoom AS BIGINT) AS zoom, px // d AS tx, py // d AS ty,
       |    CAST(sum(cnt) AS BIGINT) AS cnt
       |  FROM base, zooms GROUP BY 1, 2, 3)""".stripMargin

  val geoTilePyramidSql: String =
    s"""WITH $pointsCte, $mercCte, $pyramidCtes
       |SELECT zoom, tx, ty, cnt FROM pyr ORDER BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------ tile serve
  /** Tile-serving planner (r17) — [[geoTilePyramid]]'s READ path, the
    * face that proves the pyramid's purpose: a slippy-map client asks
    * for a VIEWPORT at a display budget, and the server must pick the
    * zoom, enumerate the covering tiles, and account for what the
    * over-read costs. Four fixed viewports in base-cell coordinates
    * (the [[layoutSkippingEval]] four-box harness applied to serving):
    * center 8², corner 8², wide 24², and a full-width strip. Per
    * viewport the planner picks the DEEPEST zoom whose covering-tile
    * span is ≤ 4 per axis (the client's 4×4 tile budget), reads
    * exactly the covering tiles from the pyramid, and emits the plan
    * ledger: chosen zoom + tile size, tiles read, point mass served,
    * the viewport-exact mass (zoom-5 base cells inside the viewport —
    * the pyramid's own finest level, so exactness is by construction),
    * and the edge-overhang in exact ppm (served ≥ exact because tiles
    * overhang viewport edges — the read-amplification the budget
    * trades for fewer requests).
    *
    * == Scale design ==
    * Every relation here is pyramid-bounded (≤ Σ4^z = 1365 rows after
    * the corpus-absorbing base fold): the 4×6 viewport × zoom plan
    * grid, the covering-tile range joins and the ledger are all
    * broadcast work. The corpus is touched exactly once — inside
    * [[geoTilePyramid]]'s map-side base fold.
    */
  def geoTileServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.Checkpoints.StableSyntax
    // the unsorted pyramid: nothing here reads the face's tile order,
    // so the eager checkpoint runs no range-partitioned sort
    val pyr = tilePyramid(s, dir).stableCheckpoint()
    val vps = Seq(
      ("center", 12L, 19L, 12L, 19L),
      ("corner", 0L, 7L, 0L, 7L),
      ("strip", 0L, 31L, 14L, 17L),
      ("wide", 4L, 27L, 4L, 27L))
      .toDF("viewport", "bx0", "bx1", "by0", "by1")
    // deepest zoom whose covering span fits the 4x4 tile budget
    val plan = vps.crossJoin(broadcast(zooms(s)))
      .filter(expr("bx1 div d - bx0 div d + 1 <= 4 AND by1 div d - by0 div d + 1 <= 4"))
      .groupBy(col("viewport"), col("bx0"), col("bx1"), col("by0"), col("by1"))
      .agg(max(struct(col("zoom"), col("d"))).as("z"))
      .select(col("viewport"), col("bx0"), col("bx1"), col("by0"), col("by1"),
        col("z.zoom").as("zoom"), col("z.d").as("d"))
    val tiles = pyr.select(col("zoom").as("pz"), col("tx").as("ptx"),
      col("ty").as("pty"), col("cnt").as("pcnt"))
    val served = plan.join(broadcast(tiles),
        col("pz") === col("zoom") &&
          col("ptx").between(expr("bx0 div d"), expr("bx1 div d")) &&
          col("pty").between(expr("by0 div d"), expr("by1 div d")))
      .groupBy(col("viewport"))
      .agg(count(lit(1)).as("tiles_read"), sum(col("pcnt")).as("mass_served"))
    val exact = plan.join(broadcast(tiles.filter(col("pz") === 5L)),
        col("ptx").between(col("bx0"), col("bx1")) &&
          col("pty").between(col("by0"), col("by1")))
      .groupBy(col("viewport"))
      .agg(sum(col("pcnt")).as("mass_exact"))
    plan.select(col("viewport"), col("zoom"), col("d"))
      .join(broadcast(served), Seq("viewport"))
      .join(broadcast(exact), Seq("viewport"))
      .select(col("viewport"), col("zoom"), col("d"), col("tiles_read"),
        col("mass_served"), col("mass_exact"),
        expr("1000000 * (mass_served - mass_exact) div greatest(mass_served, 1)")
          .as("overhang_ppm"))
      .orderBy(col("viewport"))
  }

  /** DuckDB twin: the pyramid CTE, viewport VALUES, the same deepest-
    * fitting-zoom argmax, covering-tile range joins, exact ppm. */
  val geoTileServeSql: String =
    s"""WITH $pointsCte, $mercCte, $pyramidCtes,
       |vps(viewport, bx0, bx1, by0, by1) AS (VALUES
       |  ('center', 12, 19, 12, 19), ('corner', 0, 7, 0, 7),
       |  ('strip', 0, 31, 14, 17), ('wide', 4, 27, 4, 27)),
       |plan AS (SELECT viewport, bx0, bx1, by0, by1,
       |    CAST(max(zoom) AS BIGINT) AS zoom
       |  FROM vps, zooms
       |  WHERE bx1 // d - bx0 // d + 1 <= 4 AND by1 // d - by0 // d + 1 <= 4
       |  GROUP BY 1, 2, 3, 4, 5),
       |pland AS (SELECT plan.*, CAST(z.d AS BIGINT) AS d
       |  FROM plan JOIN zooms z ON z.zoom = plan.zoom),
       |served AS (SELECT viewport, CAST(count(*) AS BIGINT) AS tiles_read,
       |    CAST(sum(p.cnt) AS BIGINT) AS mass_served
       |  FROM pland JOIN pyr p ON p.zoom = pland.zoom
       |    AND p.tx BETWEEN bx0 // d AND bx1 // d
       |    AND p.ty BETWEEN by0 // d AND by1 // d
       |  GROUP BY 1),
       |ex AS (SELECT viewport, CAST(sum(p.cnt) AS BIGINT) AS mass_exact
       |  FROM pland JOIN pyr p ON p.zoom = 5
       |    AND p.tx BETWEEN bx0 AND bx1 AND p.ty BETWEEN by0 AND by1
       |  GROUP BY 1)
       |SELECT pland.viewport, zoom, d, tiles_read, mass_served, mass_exact,
       |  1000000 * (mass_served - mass_exact) // greatest(mass_served, 1)
       |    AS overhang_ppm
       |FROM pland JOIN served USING (viewport) JOIN ex USING (viewport)
       |ORDER BY viewport""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_tile_serve" -> geoTileServe,
    "geo_tile_pyramid" -> geoTilePyramid,
    "layout_hilbert" -> layoutHilbert,
    "layout_hilbert_write" -> layoutHilbertWrite,
    "layout_skipping_eval" -> layoutSkippingEval,
    "layout_zorder" -> layoutZorder,
    "geo_mercator" -> geoMercator,
    "geo_bbox_filter" -> geoBboxFilter,
    "geo_rasterize" -> geoRasterize,
    "geo_frame_churn" -> geoFrameChurn,
    "pipeline_frame_build" -> pipelineFrameBuild,
    "pipeline_frame_incremental" -> pipelineFrameIncremental,
    "pipeline_job_build" -> pipelineJobBuild,
    "pipeline_job_incremental" -> pipelineJobIncremental,
    "geo_spread" -> geoSpread,
    "geo_shade_eqhist" -> geoShadeEqhist,
    "geo_shade_rgb" -> geoShadeRgb,
    "map_fanout" -> mapFanout,
    "reduce_assemble" -> reduceAssemble)

  val oracles: Map[String, String] = Map(
    "geo_tile_serve" -> geoTileServeSql,
    "geo_tile_pyramid" -> geoTilePyramidSql,
    "layout_hilbert" -> layoutHilbertSql,
    "layout_hilbert_write" -> layoutHilbertWriteSql,
    "layout_skipping_eval" -> layoutSkippingEvalSql,
    "layout_zorder" -> layoutZorderSql,
    "geo_mercator" -> geoMercatorSql,
    "geo_bbox_filter" -> geoBboxFilterSql,
    "geo_rasterize" -> geoRasterizeSql,
    "geo_frame_churn" -> geoFrameChurnSql,
    "pipeline_frame_build" -> pipelineFrameBuildSql,
    "pipeline_frame_incremental" -> pipelineFrameIncrementalSql,
    "pipeline_job_build" -> pipelineJobBuildSql,
    "pipeline_job_incremental" -> pipelineJobIncrementalSql,
    "geo_spread" -> geoSpreadSql,
    "geo_shade_eqhist" -> geoShadeEqhistSql,
    "geo_shade_rgb" -> geoShadeRgbSql,
    "map_fanout" -> mapFanoutSql,
    "reduce_assemble" -> reduceAssembleSql)
}
