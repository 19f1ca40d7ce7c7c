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

  /** `n` fixed rounds of `step` from `init`, each round's state
    * materialized through [[stable]]: the loop re-reads checkpointed
    * blocks instead of stacking `n` self-referencing join trees, and a
    * round is one driver-synchronized job. */
  def rounds(n: Int, init: DataFrame)(step: DataFrame => DataFrame): DataFrame =
    (1 to n).foldLeft(init)((state, _) => stable(step(state)))

  /** The cap on [[fixpoint]] rounds. */
  val MaxRounds = 64

  /** Rounds of `step` to FIXPOINT. Each round's output is materialized
    * through [[stable]] and carries the state's columns plus `next`,
    * the round's new value of column `value` (which may only fall); the
    * next state is that output with `next` in place of `value`. The
    * loop stops after the first round where no row's value fell (the
    * `changed` count, one job per round) and throws an
    * `IllegalStateException` naming `loop` if that takes more than
    * [[MaxRounds]] rounds.
    */
  def fixpoint(loop: String, init: DataFrame, value: String, next: String)
      (step: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    var state = init
    var changed = 1L
    var n = 0
    while (changed > 0 && n < MaxRounds) {
      val out = stable(step(state))
      changed = out.filter(col(next) < col(value)).count()
      state = out.select(state.columns.toSeq.map(c =>
        if (c == value) col(next).as(c) else col(c)): _*)
      n += 1
    }
    if (changed > 0)
      throw new IllegalStateException(s"$loop did not converge in $n rounds")
    state
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
  private val memo = new SessionMemo[DataFrame]

  /** Memoized stable checkpoint of `build`, keyed on (session, id) and
    * validated against `sig`: a hit with a stale signature rebuilds and
    * REPLACES the entry (the dropped relation's checkpoint blocks are
    * freed by ContextCleaner once unreferenced). `sig` is
    * [[SessionMemo.corpusSig]] of the files the artifact derives from.
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
