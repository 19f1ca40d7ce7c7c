package graft.plans

import org.apache.spark.sql.DataFrame

/** Checkpoint materialization policy for the operators that must pin a
  * relation to EXACTLY ONE execution (the two-phase rank's range
  * boundaries, the graph family's iterated edge relations).
  *
  * Default: `localCheckpoint(eager = true)` — executor-block storage,
  * freed by ContextCleaner when the DataFrame is GC'd, no directory to
  * manage. The documented trade is durability: blocks are UNREPLICATED,
  * so on a real cluster losing any executor mid-job fails the job
  * instead of recomputing (acceptable for a deterministic batch
  * operator whose retry is the job itself — but on a 1000-executor run
  * where single-node loss is routine, retrying a multi-hour job is
  * not).
  *
  * Escape hatch: set `spark.graft.checkpointDir` to a durable path
  * (HDFS/S3 on a cluster) and every stable checkpoint routes through
  * reliable `checkpoint()` instead — files survive executor loss and
  * downstream stages recover by re-reading, at the cost of one
  * filesystem round-trip per materialization. Results are
  * bit-identical either way (spec-pinned): the checkpoint is pure
  * materialization, never semantics.
  *
  * Operational notes: the SparkContext checkpoint location is
  * context-global; `stable` RE-PINS it whenever the conf value
  * changes (so a later caller pointing the conf at a new path gets
  * its checkpoints there, not silently into the previous — possibly
  * deleted — location). Spark only deletes reliable checkpoint files
  * on context shutdown when
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is set — point
  * the conf at a job-scoped directory the job's teardown removes.
  */
object Checkpoints {
  val ConfKey = "spark.graft.checkpointDir"

  // The conf value the context's checkpoint dir was last pinned for.
  // sc.getCheckpointDir can't be compared to the conf directly (Spark
  // appends a UUID child and scheme-qualifies the path), so remember
  // what we pinned; a conf change re-pins on the next stable() call.
  @volatile private var pinnedFor: Option[String] = None

  /** Materialize `df` once, per the session's checkpoint policy. */
  def stable(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty || !pinnedFor.contains(dir)) {
          sc.setCheckpointDir(dir)
          pinnedFor = Some(dir)
        }
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** Chain-position syntax: `df.transform(...).stableCheckpoint()`. */
  implicit class StableSyntax(private val df: DataFrame) extends AnyVal {
    def stableCheckpoint(): DataFrame = stable(df)
  }
}

/** Per-(session, corpus-signature) shared-relation memo — the
  * generalized form of the train-once artifact pattern the Dedup
  * verified-pairs / component-labels and Similarity codebook / index
  * memos already follow: a relation that production persists once per
  * corpus (a ground-truth eval table, a measured tuning curve, a
  * quality feature table) is built on first touch, pinned with a
  * stable checkpoint, and every LATER consumer face reads the
  * materialized artifact instead of re-running the build. The
  * REGISTERED face that declares the artifact's computation always
  * computes it fresh (its bench cell stays an honest measurement);
  * only cross-face consumers route through the memo. Session identity
  * is part of the key because checkpointed blocks die with their
  * context; the corpus file signature invalidates on rewritten data.
  */
object SharedRel {
  import org.apache.spark.sql.SparkSession

  /** One artifact build that actually ran: which artifact, how long the
    * blocking checkpoint took, and which query face paid for it (the
    * thread's job description at build time — Bench labels each timed
    * query). Drained by the bench so consumer cells' amortization is
    * visible in the ledger itself, not only in the cold/warm delta.
    */
  final case class Build(id: String, sec: Double, face: String)
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[Build]()

  /** Snapshot-and-clear the artifact build log. */
  def drainBuilds(): Seq[Build] = {
    val out = scala.collection.mutable.ArrayBuffer[Build]()
    var b = buildLog.poll()
    while (b != null) { out += b; b = buildLog.poll() }
    out.toSeq
  }

  // (session, STABLE artifact id — name|dir, conf dials included) →
  // (signature, relation); see SessionMemo.
  private val memo = new SessionMemo

  /** Driver-side file signature of `dir/<table>.parquet` — FS metadata
    * only, no Spark job (the Similarity.corpusKey pattern).
    */
  def corpusSig(s: SparkSession, dir: String, table: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats =
      try fs.listStatus(path).map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
      catch { case _: java.io.FileNotFoundException => Array(s"$dir:missing") }
    dir + "|" + stats.sorted.mkString(",")
  }

  /** Memoized stable checkpoint of `build`, keyed on (session, id) and
    * validated against `sig`: a hit with a stale signature rebuilds and
    * REPLACES the entry (the dropped relation's checkpoint blocks are
    * freed by ContextCleaner once unreferenced). The build runs OUTSIDE
    * the map's lock (the Ingest-fixture lesson).
    */
  def apply(s: SparkSession, id: String, sig: String)
      (build: => DataFrame): DataFrame =
    memo(s, id, sig) {
      val t0 = System.nanoTime()
      val built = Checkpoints.stable(build)
      buildLog.add(Build(id, (System.nanoTime() - t0) / 1e9,
        Option(s.sparkContext.getLocalProperty("spark.job.description"))
          .getOrElse("")))
      built
    }
}
