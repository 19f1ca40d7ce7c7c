package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainUtils, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One entry for the ad-hoc runs on named queries:
  *
  *  - `explain <sfDir> <key>...` runs each key to the noop sink and
  *    prints the physical plan of EVERY action it triggers — the eager
  *    checkpoints and collects that run while the face is built, which
  *    the face's own plan shows only as `Scan ExistingRDD`, then the
  *    face itself — each under a `===ACTION=== <key> <n> <action>`
  *    header. An adaptive plan prints as planned (its initial plan,
  *    exchanges included): the re-planned final plan's stage ids,
  *    codegen ids and exchange reuse follow which stage finished first.
  *    Tokens that change from run to run (expression ids, `plan_id=`,
  *    RDD ids, the warehouse path, lambda and object identities, and
  *    the codegen ids of executed subquery plans) are stripped, so two
  *    dumps compare with plain `diff`.
  *  - `dump <sfDir> <outDir> <key>...` writes the keys' rows and their
  *    oracle SQL like [[Verify]], so `tools/check.py` can gate a subset.
  *  - `time <sfDir> <key>[,<key>...] [reps] [nosort]` times each key
  *    `reps` times in one session (cold vs warm separates codegen from
  *    data time); `nosort` times the Bench nosort leg. Prints
  *    `[debugtime] <key> rep<r> <sec> s` lines, which
  *    `tools/bench_canary.py` and `tools/adjudicate.py` parse.
  *
  * Usage: runMain graft.Tool <explain|dump|time> <args...>
  */
object Tool {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("explain") if args.length >= 3 => explain(args(1), args.drop(2).toSeq)
    case Some("dump") if args.length >= 4 => dump(args(1), args(2), args.drop(3).toSeq)
    case Some("time") if args.length >= 3 => time(args.drop(1))
    case _ =>
      System.err.println("usage: graft.Tool explain <sfDir> <key>... | " +
        "dump <sfDir> <outDir> <key>... | time <sfDir> <key>[,<key>...] [reps] [nosort]")
      sys.exit(2)
  }

  /** `plan` without the tokens that differ between two runs of one plan. */
  private def normalized(plan: String, warehouse: String): String =
    plan.replace(warehouse, "<warehouse>")
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("\\$Lambda[^\\s,)\\]]*", "\\$Lambda")
      .replaceAll("(\\w)@[0-9a-f]{4,}\\b", "$1@")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id]")
      .replaceAll("WholeStageCodegen \\(\\d+\\)", "WholeStageCodegen ()")

  private def explain(sfDir: String, keys: Seq[String]): Unit = {
    val spark = GraftSession.local(cpus = 4)
    val warehouse = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // listener events arrive on the bus thread, in order: each key ends
    // with a marker action, and the key is done once the marker arrives
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = seen.put(action -> qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = seen.put(action -> qe)
    })
    keys.foreach { key =>
      SparkEntry.queries(key)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val marker = spark.range(1)
      marker.collect()
      Iterator.continually(seen.take())
        .takeWhile { case (_, qe) => !(qe eq marker.queryExecution) }
        .zipWithIndex.foreach { case ((action, qe), n) =>
          println(s"===ACTION=== $key ${n + 1} $action")
          val plan = new StringBuilder
          ExplainUtils.processPlan[SparkPlan](qe.executedPlan match {
            case a: AdaptiveSparkPlanExec => a.initialPlan
            case p => p.transformUp { case a: AdaptiveSparkPlanExec => a.initialPlan }
          }, plan.append(_))
          println(normalized(plan.toString, warehouse))
        }
    }
    spark.stop()
  }

  private def dump(sfDir: String, outDir: String, keys: Seq[String]): Unit = {
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    keys.foreach { key =>
      SparkEntry.queries(key)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$key")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  private def time(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    // Fail fast on a mistyped last arg (e.g. 'nosrot'): silently timing
    // the sorted leg would hand an adjudication run the wrong column.
    val nosort = args.length > 3 && {
      require(args(3) == "nosort",
        s"unrecognized 4th arg '${args(3)}' (expected 'nosort')")
      true
    }
    val spark = GraftSession.local()
    keys.foreach { key =>
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(key)(spark, sfDir)
        (if (nosort) Bench.unsorted(df) else df)
          .write.format("noop").mode("overwrite").save()
        // Locale-pinned like Bench.compactLine: the tools parse these
        // lines with a dot-decimal regex, and the f-interpolator honors
        // the JVM default locale.
        println("[debugtime] " + key + " rep" + r + " " +
          String.format(java.util.Locale.ROOT, "%.2f",
            Double.box((System.nanoTime() - t0) / 1e9)) + " s")
      }
    }
    spark.stop()
  }
}
