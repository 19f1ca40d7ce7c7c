package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.nio.file.{Files, Paths}
object Bench {

  /** The registered queries end in an ORDER BY — that's the determinism
    * contract Verify needs for stable output files, but the final
    * global sort (plus its single-partition exchange) is pure overhead
    * for a noop-sink benchmark and sets a ~0.2-0.5 s per-query floor.
    * Stripping the presentation Sort benches the same computation minus
    * the sort; both numbers are reported.
    *
    * The Sort is matched THROUGH trailing Projects (`...orderBy(...)
    * .select(...)` analyzes as Project-over-Sort), so nosort numbers
    * stay uniform across queries regardless of whether a final
    * column-shaping select sits above the ORDER BY. Project output is
    * a subset of Sort output (= Sort-child output), so splicing the
    * Project onto the Sort's child is always resolvable. Only the
    * FIRST global Sort on the spine is stripped — deeper sorts (e.g.
    * under a window or limit) are computation, not presentation.
    */
  private[graft] def stripPresentationSort(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    plan match {
      case s: Sort if s.global => Some(s.child)
      case p: Project => stripPresentationSort(p.child).map(c => p.copy(child = c))
      case _ => None
    }
  }

  private[graft] def unsorted(df: DataFrame): DataFrame =
    stripPresentationSort(df.queryExecution.analyzed) match {
      case Some(stripped) =>
        org.apache.spark.sql.graftshim.GraftSqlShim.dataFrame(df.sparkSession, stripped)
      case None => df
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // noop sink: forces full evaluation of every projected column
    // (count() would let Catalyst prune the actual computation away).
    def once(name: String, fn: (SparkSession, String) => DataFrame,
             strip: Boolean): Double = {
      // Label the jobs (guide §1.5) so the UI/event log maps stages to
      // queries AND so SharedRel's artifact build log can record which
      // face paid for a once-per-corpus build (set before t0 — the
      // label is not part of the timed region).
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        (if (strip) unsorted(df) else df)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => System.err.println(s"[bench] $name: $e") }
      finally spark.sparkContext.setJobDescription(null)
      (System.nanoTime() - t0) / 1e9
    }
    // Three passes: the first pays one-time janino/codegen compilation
    // (~0.5-1.5s per query — larger than the data time at sf0.1); the
    // second measures steady-state engine throughput with the output
    // sort; the third measures the computation WITHOUT the final
    // presentation sort (per-operator cost readable). All recorded.
    // Each pass also records the janino compiles it paid and their
    // seconds, so the ledger shows whether the warm pass is really warm
    // (a generated-class cache smaller than the working set recompiles
    // on every pass).
    def pass(name: String, strip: Boolean): (Map[String, Double], String) = {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val times = SparkEntry.queries.map { case (n, f) => n -> once(n, f, strip) }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      (times, s""""$name":{"compiles":$compiles,"compile_s":$compileS}""")
    }
    val (cold, coldCodegen) = pass("cold", strip = false)
    val (warm, warmCodegen) = pass("warm", strip = false)
    val (nosort, nosortCodegen) = pass("nosort", strip = true)
    val total = if (warm.nonEmpty) warm.values.sum else 0.0
    val coldTotal = if (cold.nonEmpty) cold.values.sum else 0.0
    val nosortTotal = if (nosort.nonEmpty) nosort.values.sum else 0.0
    // sf as a bare number when the dir name encodes one ("sf0.1" → 0.1).
    val sfNum = "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    val line = compactLine(total, warm, sfNum)
    // Full (unrounded, warm+cold+nosort per query) detail goes to a
    // file; only the compact line goes to stdout.
    // Attribution hygiene for shared once-per-corpus artifacts: every
    // SharedRel build that ran during the three passes, with the face
    // that paid for it — so consumer cells' amortization is readable in
    // the ledger itself (the build cost otherwise only shows up as the
    // cold/warm delta). Additive detail-file field; the compact stdout
    // line and the three-pass timing are unchanged.
    val artifacts = artifactBuildsJson(graft.plans.SharedRel.drainBuilds())
    val full = s"""{"sf_dir":${json.writeValueAsString(sfDir)},"total":$total,"cold_total":$coldTotal,"nosort_total":$nosortTotal,""" +
      s""""queries":${m2j(warm)},"cold_queries":${m2j(cold)},"nosort_queries":${m2j(nosort)},""" +
      s""""artifact_builds":$artifacts,""" +
      s""""codegen":{$coldCodegen,$warmCodegen,$nosortCodegen}}"""
    // Default detail dump goes to bench_last.json (scratch), NOT the
    // committed bench_full.json ledger: both r17 and r18 ended with an
    // un-gated round-close pass overwriting the quiet baseline. The
    // ledger updates ONLY through tools/bench_gated.sh (canary +
    // regress + isolated-re-timing adjudication), which sets
    // SPARK_GRAFT_BENCH_OUT explicitly.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    // Standing regression gate (r10 ADVICE): before overwriting the
    // committed bench_full.json, diff this run's NOSORT column (the
    // only load-robust cross-round axis — warm totals have twice been
    // recorded under machine load and graded as junk) against it and
    // persist the verdict as bench_regress.json. A query is flagged
    // only past BOTH a 2x ratio and a 0.3 s absolute floor: sub-second
    // queries routinely double on scheduling noise alone (§8e band).
    val regressFile = sys.env.getOrElse("SPARK_GRAFT_REGRESS_OUT", "bench_regress.json")
    try {
      // diff against the COMMITTED ledger, whatever this run's detail
      // file is — the scratch default must not dilute the denominator.
      // The ledger path resolves via SPARK_GRAFT_BENCH_BASELINE when
      // set (so a run launched from any cwd can still find the repo's
      // committed file); a missing baseline is recorded EXPLICITLY in
      // the report instead of silently producing a clean zero-flag
      // regress file.
      val p = Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "bench_full.json"))
      val baselineFound = Files.exists(p)
      val prev = if (baselineFound) parseNosort(Files.readString(p))
        else Map.empty[String, Double]
      // Locale-pinned formatting: the f-interpolator honors the JVM
      // default locale, so under a comma-decimal locale the report
      // would be malformed JSON ("0,250"). Locale.ROOT always dots.
      def n3(d: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
      def n2(d: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
      val flagged = nosort.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        prev.get(k).collect { case pv if pv > 0 && v >= pv * 2 && v - pv >= 0.3 =>
          s""""$k":{"prev":${n3(pv)},"now":${n3(v)},"ratio":${n2(v / pv)}}"""
        }
      }
      val report = s"""{"baseline":"${p.toString.replace("\\", "/")}","baseline_found":$baselineFound,""" +
        s""""compared":${nosort.keySet.intersect(prev.keySet).size},""" +
        s""""prev_nosort_total":${n2(prev.values.sum)},"nosort_total":${n2(nosortTotal)},""" +
        s""""flagged":${flagged.mkString("{", ",", "}")}}"""
      Files.writeString(Paths.get(regressFile), report)
    } catch { case e: Throwable => System.err.println(s"[bench] regress $regressFile: $e") }
    try Files.writeString(Paths.get(outFile), full)
    catch { case e: Throwable => System.err.println(s"[bench] write $outFile: $e") }
    spark.stop()
    // Printed after spark.stop() so no executor/log line can interleave;
    // this is the final stdout line of the run.
    println(line)
  }
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The detail file's `artifact_builds` array. Artifact ids embed the
    * corpus path, so every string goes through Jackson's escaping.
    */
  private[graft] def artifactBuildsJson(builds: Seq[graft.plans.SharedRel.Build]): String = {
    import scala.jdk.CollectionConverters._
    json.writeValueAsString(builds.map { b =>
      val rec = new java.util.LinkedHashMap[String, AnyRef]()
      rec.put("artifact", b.id)
      rec.put("face", b.face)
      rec.put("sec", Double.box(b.sec))
      rec
    }.asJava)
  }

  private def m2j(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Extract the nosort_queries map from a previously written
    * bench_full.json. Regex over our own fixed writer format (flat
    * string keys, plain numbers, no nesting inside the object) — not a
    * general JSON parser, and deliberately total: any malformed or
    * foreign file yields an empty map and the gate reports
    * compared=0 instead of failing the bench run.
    */
  private[graft] def parseNosort(json: String): Map[String, Double] = {
    val obj = """"nosort_queries":\{([^}]*)\}""".r
      .findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    """"([^"]+)":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)""".r.findAllMatchIn(obj)
      .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
      .toMap
  }

  /** The compact stdout line, HARD-CAPPED in length.
    *
    * The driver captures only the last ~2000 bytes of run output; the
    * r6 line (82 queries, 3-decimal values, cold/nosort extras) hit
    * 2011 bytes and was front-truncated → "parsed": null, an unusable
    * bench round. Query keys dominate the length, and the inventory
    * only grows, so fixed precision alone cannot stay safe forever.
    *
    * Strategy: 2-decimal values, no extras (full-precision warm/cold/
    * nosort per query always land in bench_full.json); if the line
    * exceeds CAP, first degrade every value to 1 decimal (keeps the
    * whole inventory visible — ~1 byte per query), and only if it
    * STILL exceeds CAP drop the CHEAPEST per-query entries one at a
    * time, recording how many were elided in an "omitted" field.
    * Expensive queries (the ones a perf grade hinges on) are always
    * retained; the full set lives in the committed bench_full.json.
    * CAP leaves room for a trailing sbt "[success]" line inside the
    * 2000-byte window.
    */
  private[graft] val LineCap = 1850
  private[graft] def compactLine(total: Double, warm: Map[String, Double],
                                 sfNum: String): String = {
    def r(v: Double, dec: Int): String = // locale-proof decimal point
      String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))
    def render(kept: Seq[(String, Double)], omitted: Int, dec: Int): String = {
      val qs = kept.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r(v, dec) }
        .mkString("{", ",", "}")
      val om = if (omitted > 0) s""","omitted":$omitted""" else ""
      s"""{"metric":"total","value":${r(total, 2)},"unit":"sec","queries":$qs$om,"sf":$sfNum}"""
    }
    // Cheapest-first drop order so the retained dict keeps the slow,
    // grade-relevant queries.
    var kept = warm.toSeq.sortBy { case (k, v) => (v, k) }
    var line = render(kept, 0, 2)
    var dec = 2
    if (line.length > LineCap) { dec = 1; line = render(kept, 0, dec) }
    var omitted = 0
    while (line.length > LineCap && kept.nonEmpty) {
      kept = kept.tail
      omitted += 1
      line = render(kept, omitted, dec)
    }
    line
  }
}
