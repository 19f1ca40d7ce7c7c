package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.plans.SharedRel
import graft.sources.Tables

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * Sets a session up `--setups` times (GraftSession.local plus the first
  * Tables.load of every workload table), then runs the workload's op list
  * as a closed loop with one client: a cold first pass, then warm passes
  * until `--seconds` is spent (at least `--min-warm` of them). An op is one
  * SparkEntry.queries key, built and written to the noop sink. After the
  * timed loop it forces a full GC to read the live heap, then writes every
  * op's result as parquet for the DuckDB oracle check.
  *
  * With `--trace 1` a SparkListener and a QueryExecutionListener record
  * spans and counters: traced and untraced warm passes alternate, so the
  * tracing overhead is measured inside the run. Everything is written raw
  * to `--out` as JSON; run.py derives the metrics.
  *
  * With `--variants DIR` (corpus_churn) every warm pass first replaces one
  * documents part file with the next seeded variant and refreshes the path
  * in Spark's catalog, so each pass exercises artifact invalidation as
  * well as reuse.
  */
object Main {

  private val mapper = new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def list(xs: Iterable[Any]): JList[Any] = new JList[Any](xs.toSeq.asJava)

  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Wall-clock milliseconds on the monotonic clock, comparable to the
    * millisecond timestamps Spark puts on listener events. */
  private def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  private def secs(t0: Double, t1: Double): Double = (t1 - t0) / 1000.0

  private def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + Option(e.getMessage).getOrElse("")).linesIterator
      .take(3).mkString(" | ")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val ops = args("ops").split(",").toSeq
    val tables = args("tables").split(",").toSeq
    val cores = args("cores").toInt
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val setups = args("setups").toInt
    val minWarm = args("min-warm").toInt
    val launchMs = args("launch-ms").toDouble
    val checkDir = args("check-dir")
    val variants: Seq[Path] = args.get("variants").toSeq.flatMap { d =>
      Files.list(Paths.get(d)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    }
    val docsDir = Paths.get(data, "documents.parquet")

    val queries = SparkEntry.queries
    val missing = ops.filterNot(queries.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] unknown op keys: ${missing.mkString(", ")}")
      sys.exit(2)
    }

    // ---- set-up: session + first load of each table, `setups` times
    val setupRecs = new JList[Any]()
    var spark: SparkSession = null
    var launchSetupS = 0.0
    for (i <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = nowMs()
      spark = GraftSession.local(cores)
      val t1 = nowMs()
      val loads = tables.map { t =>
        val a = nowMs(); Tables.load(spark, data, t); secs(a, nowMs())
      }
      val t2 = nowMs()
      if (i == 1) launchSetupS = secs(launchMs, t2)
      setupRecs.add(obj("create_s" -> secs(t0, t1), "load_s" -> list(loads),
        "total_s" -> secs(t0, t2)))
    }
    val sc = spark.sparkContext
    spark.conf.getOption(graft.plans.Checkpoints.ConfKey).foreach { v =>
      System.err.println(s"[perfbench] refusing to run: ${graft.plans.Checkpoints.ConfKey}=$v")
      sys.exit(3)
    }
    require(sc.master == s"local[$cores]", s"unexpected master ${sc.master}")

    val recorder = new Recorder
    val qeRecorder = new QeRecorder
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      if (on) { sc.addSparkListener(recorder); spark.listenerManager.register(qeRecorder) }
      else { sc.removeSparkListener(recorder); spark.listenerManager.unregister(qeRecorder) }
      listening = on
    }

    val spans = new JList[Any]()
    var spanSeq = 0
    def newSpanId(): Int = { spanSeq += 1; spanSeq }
    def addSpan(id: Int, name: String, start: Double, end: Double, parent: Int): Int = {
      spans.add(obj("id" -> id, "name" -> name, "start_ms" -> start, "end_ms" -> end,
        "parent" -> parent, "run" -> args.getOrElse("run-id", "")))
      id
    }
    def span(name: String, start: Double, end: Double, parent: Int): Int =
      addSpan(newSpanId(), name, start, end, parent)

    var variantIdx = 0
    def rewrite(): String =
      if (variants.isEmpty) null
      else {
        val v = variants(variantIdx % variants.size)
        variantIdx += 1
        val target = docsDir.resolve(v.getFileName.toString.replaceFirst("^v[0-9]+-", ""))
        val tmp = docsDir.resolve("." + target.getFileName + ".tmp")
        Files.copy(v, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        // What Spark asks of a client that changes files under a live
        // session: Spark's cache manager matches cached plans by path, not
        // by file contents, so Dataset caches over the old files would
        // otherwise keep serving them. The engine's own memos (Tables.load,
        // SharedRel) key on the file listing and are left to invalidate
        // themselves.
        spark.catalog.refreshByPath(docsDir.toString)
        v.getFileName.toString
      }

    /** The benchmark's own Tables.load calls before a pass: a hit returns
      * the memoized relation, a rewritten table mints a new one. */
    var lastRel = Map.empty[String, DataFrame]
    def loadTables(): JList[Any] = list(tables.map { t =>
      val a = nowMs()
      val df = Tables.load(spark, data, t)
      val s = secs(a, nowMs())
      val hit = lastRel.get(t).exists(_ eq df)
      lastRel += t -> df
      obj("table" -> t, "s" -> s, "hit" -> hit)
    })

    def runOp(key: String, traced: Boolean, passSpan: Int): JMap[String, Any] = {
      sc.setJobDescription(key)
      val t0 = nowMs()
      var t1 = t0
      var error: String = null
      try {
        sc.setLocalProperty(Recorder.PhaseKey, "build")
        val df = queries(key)(spark, data)
        t1 = nowMs()
        sc.setLocalProperty(Recorder.PhaseKey, "write")
        df.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = nowMs()
          error = errorText(e)
      } finally {
        sc.setLocalProperty(Recorder.PhaseKey, null)
        sc.setJobDescription(null)
      }
      val t2 = nowMs()
      val rec = obj("key" -> key, "wall_s" -> secs(t0, t2), "build_s" -> secs(t0, t1),
        "write_s" -> secs(t1, t2), "ok" -> (error == null), "error" -> error)
      val builds = SharedRel.drainBuilds()
      if (traced) {
        Bus.drain(sc)
        val qes = qeRecorder.drain()
        val plan = Recorder.planSummary(qes, t1)
        val planS = math.min(plan.planMs, t2 - t1) / 1000.0
        val opSpan = span("op:" + key, t0, t2, passSpan)
        val buildSpan = span("build", t0, t1, opSpan)
        span("plan", t1, t1 + planS * 1000, opSpan)
        val execSpan = span("exec", t1 + planS * 1000, t2, opSpan)
        val exec = recorder.summarize(recorder.drain(),
          phase => if (phase == "build") buildSpan else execSpan, span)
        rec.put("trace", obj(
          "plan_s" -> planS, "exec_s" -> (secs(t1, t2) - planS),
          "analysis_s" -> plan.analysisMs / 1000.0,
          "optimizer_s" -> plan.optimizerMs / 1000.0,
          "physical_s" -> plan.physicalMs / 1000.0,
          "plan_nodes" -> plan.nodes, "exchanges" -> plan.exchanges,
          "query_executions" -> list(qes.map(_.func)),
          "exec" -> exec,
          "artifact_builds" -> list(builds.map(b =>
            obj("id" -> b.id, "face" -> b.face, "s" -> b.sec)))))
      } else rec.put("artifact_builds", builds.size)
      rec
    }

    // ---- timed closed loop
    val passes = new JList[Any]()
    val loopStart = nowMs()
    var warm = 0
    var lastWall = 0.0
    var nextTraced = trace
    def elapsed = secs(loopStart, nowMs())
    while (passes.isEmpty || warm < minWarm || elapsed + lastWall <= seconds) {
      val first = passes.isEmpty
      val rewritten = if (first) null else rewrite()
      val loads = loadTables()
      val traced = nextTraced
      listen(traced)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val p0 = nowMs()
      val passSpan = if (traced) newSpanId() else 0
      val opRecs = ops.map(k => runOp(k, traced, passSpan))
      val p1 = nowMs()
      if (traced) addSpan(passSpan, s"pass:${passes.size + 1}", p0, p1, 0)
      val storage = sc.getRDDStorageInfo
      passes.add(obj(
        "index" -> (passes.size + 1), "kind" -> (if (first) "cold" else "warm"),
        "traced" -> traced, "wall_s" -> secs(p0, p1), "rewrote" -> rewritten,
        "loads" -> loads, "ops" -> list(opRecs),
        "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "codegen_compile_s" -> (CodeGenerator.compileTime - compileNs0) / 1e9,
        "storage_blocks" -> storage.map(_.numCachedPartitions.toLong).sum,
        "storage_mem_mb" -> storage.map(_.memSize).sum / 1048576.0,
        "storage_disk_mb" -> storage.map(_.diskSize).sum / 1048576.0))
      lastWall = secs(p0, p1)
      if (!first) warm += 1
      if (trace) nextTraced = !traced
    }
    listen(false)
    val loopS = elapsed

    // Live heap: the least used-after-full-GC of three collections, spaced
    // so the context cleaner can drop what the first one made unreachable.
    val heapLiveMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // ---- untimed oracle dump. It reads the session's memos as the last
    // pass left them (after that pass's rewrite, for corpus_churn), so a
    // stale artifact fails the oracle. The ops run concurrently, as in
    // graft.Verify: concurrent faces of one shared artifact must agree.
    val checkStart = nowMs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val pending = ops.map { key =>
      pool.submit(new java.util.concurrent.Callable[String] {
        override def call(): String = {
          sc.setJobDescription("check:" + key)
          try {
            queries(key)(spark, data).coalesce(1).write.mode("overwrite")
              .parquet(s"$checkDir/$key")
            null
          } catch { case e: Throwable => errorText(e) }
          finally sc.setJobDescription(null)
        }
      })
    }
    val checks = ops.zip(pending).map { case (key, f) =>
      val err = f.get()
      obj("key" -> key, "ok" -> (err == null), "error" -> err)
    }
    pool.shutdown()
    SharedRel.drainBuilds()
    Files.writeString(Paths.get(checkDir, "oracle_sql.json"), mapper.writeValueAsString(
      obj(ops.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)): _*)))

    val rt = Runtime.getRuntime
    val out = obj(
      "workload" -> args("workload"), "ops" -> list(ops), "tables" -> list(tables),
      "env" -> obj("cores" -> cores, "master" -> sc.master,
        "max_heap_mb" -> rt.maxMemory / 1048576.0,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version,
        "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      "setup_launch_s" -> launchSetupS, "setups" -> setupRecs,
      "loop_s" -> loopS, "passes" -> passes, "heap_live_mb" -> heapLiveMb,
      "check" -> obj("ops" -> list(checks),
        "wall_s" -> secs(checkStart, nowMs())),
      "spans" -> spans)
    Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(out))
    spark.stop()
    sys.exit(0)
  }
}

/** Per-op planner figures from the query executions of one op. */
final case class PlanSummary(planMs: Double, analysisMs: Double, optimizerMs: Double,
                             physicalMs: Double, nodes: Long, exchanges: Long)

/** One finished query execution: its phase times and final plan shape. */
final case class QeRec(func: String, startMs: Double,
                       phases: Map[String, (Double, Double, Double)],
                       nodes: Long, exchanges: Long)

final class QeRecorder extends QueryExecutionListener {
  private val q = new ConcurrentLinkedQueue[QeRec]()

  private def record(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble, p.durationMs.toDouble)
    }
    val plan = scala.util.Try(QeRecorder.flatten(qe.executedPlan)).getOrElse(Nil)
    val start = if (phases.isEmpty) 0.0 else phases.values.map(_._1).min
    q.add(QeRec(func, start, phases, plan.size.toLong, plan.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }.toLong))
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe)
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe)

  def drain(): Seq[QeRec] = Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
}

object QeRecorder {
  /** Every node of a physical plan as executed: adaptive plans contribute
    * their final plan, query stages the plan they wrap, and subqueries
    * are walked too. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => flatten(s.plan)
    case _ => p +: (p.children.flatMap(flatten) ++ p.subqueries.flatMap(flatten))
  }
}

/** Job, stage and task events of traced passes. Events are queued as they
  * arrive and summarized per op after the bus is drained, so everything
  * in one drain window belongs to the op that just ran. */
final class Recorder extends SparkListener {
  private val q = new ConcurrentLinkedQueue[SparkListenerEvent]()
  override def onJobStart(e: SparkListenerJobStart): Unit = q.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = q.add(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = q.add(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = q.add(e)

  def drain(): Seq[SparkListenerEvent] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  /** Counters of one op's events; also emits job spans (parented on the
    * op's build or exec span by the job's phase) and stage spans. */
  def summarize(events: Seq[SparkListenerEvent], parentOf: String => Int,
                span: (String, Double, Double, Int) => Int): JMap[String, Any] = {
    val starts = events.collect { case e: SparkListenerJobStart => e }
    val ends = events.collect { case e: SparkListenerJobEnd => e.jobId -> e }.toMap
    val stages = events.collect { case e: SparkListenerStageCompleted => e.stageInfo }
    val tasks = events.collect { case e: SparkListenerTaskEnd => e }
    val jobSpanOfStage = scala.collection.mutable.Map[Int, Int]()
    var buildJobs = 0L
    starts.foreach { j =>
      val phase = Option(j.properties).map(_.getProperty(Recorder.PhaseKey)).orNull
      if (phase == "build") buildJobs += 1
      val end = ends.get(j.jobId).map(_.time.toDouble).getOrElse(j.time.toDouble)
      val id = span(s"job:${j.jobId}", j.time.toDouble, end, parentOf(phase))
      j.stageIds.foreach(s => jobSpanOfStage.getOrElseUpdate(s, id))
    }
    stages.foreach { s =>
      span(s"stage:${s.stageId}", s.submissionTime.map(_.toDouble).getOrElse(0.0),
        s.completionTime.map(_.toDouble).getOrElse(0.0), jobSpanOfStage.getOrElse(s.stageId, 0))
    }
    val ms = tasks.flatMap(t => Option(t.taskMetrics))
    def sumL(f: org.apache.spark.executor.TaskMetrics => Long): Long = ms.map(f).sum
    val m = new JMap[String, Any]()
    m.put("jobs", starts.size.toLong)
    m.put("build_jobs", buildJobs)
    m.put("stages", stages.size.toLong)
    m.put("tasks", tasks.size.toLong)
    m.put("task_failures", tasks.count(_.reason != Success).toLong +
      stages.count(_.failureReason.isDefined).toLong)
    m.put("executor_run_s", sumL(_.executorRunTime) / 1000.0)
    m.put("executor_cpu_s", sumL(_.executorCpuTime) / 1e9)
    m.put("gc_s", sumL(_.jvmGCTime) / 1000.0)
    m.put("input_rows", sumL(_.inputMetrics.recordsRead))
    m.put("input_bytes", sumL(_.inputMetrics.bytesRead))
    m.put("shuffle_write_bytes", sumL(_.shuffleWriteMetrics.bytesWritten))
    m.put("shuffle_read_bytes", sumL(_.shuffleReadMetrics.totalBytesRead))
    m.put("spill_bytes", sumL(t => t.memoryBytesSpilled + t.diskBytesSpilled))
    m.put("peak_exec_mem_mb",
      (if (ms.isEmpty) 0L else ms.map(_.peakExecutionMemory).max) / 1048576.0)
    m
  }
}

object Recorder {
  /** Local property naming the op phase (build or write) a job ran in. */
  val PhaseKey = "perfbench.phase"

  /** Plan time of the op's write: the planning phases of the query
    * executions that started once the write began. The per-phase figures
    * cover every execution of the op, eager checkpoints and collects in
    * the build included. */
  def planSummary(qes: Seq[QeRec], writeStartMs: Double): PlanSummary = {
    val all = qes.filter(_.phases.nonEmpty)
    def phase(name: String) = all.map(_.phases.get(name).map(_._3).getOrElse(0.0)).sum
    val planMs = all.filter(_.startMs >= writeStartMs - 1).map(_.phases.values.map(_._3).sum).sum
    PlanSummary(planMs, phase("analysis"), phase("optimization"), phase("planning"),
      all.map(_.nodes).sum, all.map(_.exchanges).sum)
  }
}
