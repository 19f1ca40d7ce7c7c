package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Defaults are sized so the same code runs `local[32]` for tests and a
  * 1000-executor cluster unchanged: AQE owns runtime re-planning
  * (partition coalescing, skew-join splitting), shuffle partitions
  * default to the advisory value and get coalesced by AQE, and small
  * dimension tables are broadcast.
  */
object GraftSession {

  def builder(master: Option[String] = None,
              shufflePartitions: Int = defaultCpus): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      // testdata events.ts is parquet TIMESTAMP(NANOS) — illegal for the
      // reader unless surfaced as LongType (Tables.load converts back).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      // Generated-class cache (static, JVM-wide LRU; Spark's default is
      // 100 entries). The render job's pass generates ~265 distinct
      // classes and a corpus pass ~390-460; the ops run in a cycle, so
      // at 100 every class was evicted before its next use and every
      // warm pass recompiled ~260 classes (4-5 s of a ~10 s pass).
      // 1024 is ~2x the largest measured per-pass working set; at
      // ~25-30 KB of heap per class the worst case is ~30 MB. The size
      // is fixed when the JVM first generates code, so it holds only if
      // this builder created the JVM's first session.
      .config("spark.sql.codegen.cache.maxEntries", "1024")
      // Stable class names: with the id on, a whole-stage class embeds
      // its codegen stage id, which AQE assigns in re-optimization
      // order (varies run to run), so identical stages miss the cache
      // — the incremental faces recompiled 4-16 classes on some warm
      // passes even with a large cache, and identical stages in
      // different ops never shared a class.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // SQL status store bound (static). The UI is off and nothing in
      // graft reads the store, yet each retained execution keeps the
      // metric list of every AQE re-plan: at Spark's default of 1000
      // executions one corpus pass left ~105k SQLPlanMetric objects live.
      .config("spark.sql.ui.retainedExecutions", "1")
    // experiment knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides any
    // default above (A/B-ing config effects without a rebuild)
    val b2 = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").toSeq).filter(_.contains("="))
      .foldLeft(b) { (acc, kv) =>
        val Array(k, v) = kv.split("=", 2)
        acc.config(k, v)
      }
    master.fold(b2)(b2.master)
  }

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Local session for tests/benchmarks. */
  def local(cpus: Int = defaultCpus): SparkSession = {
    // A stopped session still set as this thread's active session would
    // be inherited (InheritableThreadLocal) by every thread a new
    // context starts, pinning the dead session and its context for the
    // new context's lifetime. `getActiveSession` hides a stopped
    // session, so clear whenever it reports none usable.
    if (SparkSession.getActiveSession.isEmpty) SparkSession.clearActiveSession()
    val s = builder(Some(s"local[$cpus]"), shufflePartitions = cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Every empty-partition window in this engine is over a BOUNDED
    // relation by construction (day ledgers, decile buckets, frame
    // manifests — each documented at its definition site), where the
    // single-task window IS the intended plan. WindowExec's blanket
    // warning for that shape would print dozens of times per bench
    // pass and bury real warnings; Catalyst folds constant partition
    // keys back out, so the logger is the only non-plan-warping
    // silencer. Scoped to the one class — other WARNs stay visible.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
