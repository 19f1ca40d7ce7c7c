package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Interchange-format ingest, proven through the oracle gate: the
  * parquet-native tables round-trip through the text formats a real
  * lake ingests from (CSV here), and the result must hash-match the
  * straight-from-parquet oracle — i.e. the schema-explicit text path
  * loses nothing. The reference pipeline's own input was CSV taxi
  * data (/root/reference/src/awsbatch-map/main.py:49-57 reads
  * months.csv manifests); this is that boundary done with explicit
  * schemas instead of runtime sniffing.
  */
object Ingest {

  private def cents(c: Column): Column = round(c * 100).cast("long")

  private val csvSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value_cents", LongType),
    StructField("day", StringType)))

  /** One call of a round-trip face: `write` puts the slice's `kind`
    * files under a fresh temp directory, `load` reads them back, and
    * their `rollup` is collected before the directory is deleted. Two
    * sessions running the face at once (in one JVM or two) never read
    * each other's part files, and no call leaves its directory behind. */
  private def roundTrip(s: SparkSession, kind: String, rollup: DataFrame => DataFrame)
      (write: String => Unit)(load: String => DataFrame): DataFrame = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_${kind}_")
    try {
      val path = d.resolve("out").toString
      write(path)
      val out = rollup(load(path))
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally deleteRecursively(d.toFile)
  }

  /** The event slices' per-event-type rollup. */
  private def eventRollup(slice: DataFrame): DataFrame =
    slice.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value_cents")) / 100.0).as("sum_value"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .orderBy(col("event_type"))

  /** CSV round-trip: a deterministic ~0.1% slice of events is written
    * as headered CSV (integer cents + formatted day — the lossless
    * interchange encoding; raw doubles/timestamps in CSV invite
    * parser drift), read back through [[Tables.loadCsv]]'s
    * explicit-schema path, and aggregated. The DuckDB oracle computes
    * the same aggregate straight from parquet, so a hash match proves
    * the text boundary is bit-lossless.
    *
    * == Scale design ==
    * The write is the slice's size, not the corpus's, and the read is
    * a schema-explicit scan (no inference pass — at 100 TB schema
    * inference is a full extra read). Text sources don't carry
    * min/max stats, so this path is for INGEST; the first job a real
    * pipeline runs is exactly this shape: text in, columnar out.
    */
  def sourceCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.load(s, dir, "events")
      .filter(pmod(col("event_id"), lit(997)) === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    roundTrip(s, "csv", eventRollup)(path => slice.write.mode("overwrite").option("header", "true").csv(path))(
      path => Tables.loadCsv(s, path, csvSchema))
  }

  val sourceCsvRoundtripSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(strftime(ts, '%Y-%m-%d')) AS first_day,
      |  max(strftime(ts, '%Y-%m-%d')) AS last_day
      |FROM events WHERE event_id % 997 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** JSON-lines twin of [[sourceCsvRoundtrip]] on a disjoint slice
    * (mod 991): same lossless interchange encoding, same explicit
    * schema read through [[Tables.loadJson]], same
    * prove-it-through-the-oracle contract for the second text format
    * real feeds arrive in.
    */
  def sourceJsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.load(s, dir, "events")
      .filter(pmod(col("event_id"), lit(991)) === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    roundTrip(s, "json", eventRollup)(path => slice.write.mode("overwrite").json(path))(
      path => Tables.loadJson(s, path, csvSchema))
  }

  val sourceJsonRoundtripSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(strftime(ts, '%Y-%m-%d')) AS first_day,
      |  max(strftime(ts, '%Y-%m-%d')) AS last_day
      |FROM events WHERE event_id % 991 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** ORC twin on a third disjoint slice (mod 983). ORC is columnar
    * like parquet — pushdown and pruning survive the boundary, so
    * unlike the text formats this is also a viable at-rest format;
    * the roundtrip proves the reader/writer pair, not just parsing.
    */
  def sourceOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val slice = Tables.load(s, dir, "events")
      .filter(pmod(col("event_id"), lit(983)) === 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        cents(col("value")).as("value_cents"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
    roundTrip(s, "orc", eventRollup)(path => slice.write.mode("overwrite").orc(path))(
      path => Tables.loadOrc(s, path, csvSchema))
  }

  val sourceOrcRoundtripSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value,
      |  min(strftime(ts, '%Y-%m-%d')) AS first_day,
      |  max(strftime(ts, '%Y-%m-%d')) AS last_day
      |FROM events WHERE event_id % 983 = 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Schema evolution at the lake boundary: an "old-epoch" slice
    * written BEFORE the event_type column existed and a "new-epoch"
    * slice carrying it land under one root; `mergeSchema` unifies the
    * footers and the missing column surfaces as NULL, folded into an
    * explicit 'unknown' bucket. The oracle replays the epoch split
    * declaratively from the raw table, so the hash match proves the
    * evolved read loses no rows and misfiles no epoch.
    *
    * == Scale design ==
    * mergeSchema costs a parallel footer pass over the file listing —
    * the MIGRATION read. A production lake pins the unified schema in
    * a catalog after the first such pass instead of re-merging per
    * query; the epoch directories double as partition discovery
    * (v=1/v=2 become a partition column, pruned like any other).
    */
  // The two-epoch fixture is materialized under a root UNIQUE PER JVM
  // (and written once per (jvm, dir, source-mtime)): a fixed path
  // would let concurrent Verify/Bench JVMs overwrite each other
  // mid-read, and a per-call rewrite would make every bench iteration
  // time two side-effect parquet writes instead of the merge-read
  // under test. The source table's mtime rides in the cache key so a
  // regenerated testdata dir invalidates the fixture (pre-r11 the
  // first build was pinned for the JVM's life). All roots are removed
  // by one JVM shutdown hook.
  private val evoRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // Superseded roots are not deleted inline: a lazy DataFrame handed
  // out before a source regeneration may still be reading its (old)
  // fixture. They queue here and are swept at the START of a later
  // call — mark-and-sweep, one-call grace — so the narrow
  // delete-under-reader race of the r12 inline GC is gone for every
  // caller that materializes before invoking the operator again.
  private val evoPendingGc =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(); ()
  }

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      evoRoots.values().forEach(r => deleteRecursively(new java.io.File(r)))
      var p = evoPendingGc.poll()
      while (p != null) { deleteRecursively(new java.io.File(p)); p = evoPendingGc.poll() }
    }))
  }

  // The mtime rides after the last '@' in each cache key ("dir@mtime").
  private def keyMtime(k: String): Long =
    try k.substring(k.lastIndexOf('@') + 1).toLong catch { case _: NumberFormatException => Long.MaxValue }

  def sourceSchemaMerge(s: SparkSession, dir: String): DataFrame = {
    // Sweep roots superseded by an EARLIER call (one-call grace; see
    // evoPendingGc). Entries queued during THIS call are not visible
    // here — they wait for the next invocation or the shutdown hook.
    var gc = evoPendingGc.poll()
    while (gc != null) { deleteRecursively(new java.io.File(gc)); gc = evoPendingGc.poll() }
    val srcMtime = new java.io.File(dir, "events.parquet").lastModified()
    // lastModified() == 0 means "no such file": fail now with a clear
    // message rather than caching a fixture keyed to a phantom source
    // (the downstream Tables.load error would point at the wrong path).
    require(srcMtime != 0L, s"sourceSchemaMerge: no events.parquet under $dir")
    val key = dir + "@" + srcMtime
    val cached = evoRoots.get(key)
    // Build OUTSIDE the map: computeIfAbsent would run two Spark write
    // jobs while holding the bin lock (blocking unrelated lookups, and
    // a second thread's identical build would deadlock-prone pile up
    // behind it). A lost putIfAbsent race just deletes the loser's
    // UUID-fresh root.
    val root = if (cached != null) cached else {
      val base = Tables.load(s, dir, "events")
      val r = new java.io.File(
        sys.props("java.io.tmpdir"),
        "graft_evo_" + java.util.UUID.randomUUID().toString.take(8) +
          "_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toString
      base.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("event_id"), col("user_id"), cents(col("value")).as("value_cents"))
        .write.mode("overwrite").parquet(r + "/v=1")
      base.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("event_id"), col("user_id"), cents(col("value")).as("value_cents"),
          col("event_type"))
        .write.mode("overwrite").parquet(r + "/v=2")
      val prev = evoRoots.putIfAbsent(key, r)
      if (prev != null) { deleteRecursively(new java.io.File(r)); prev }
      else {
        // GC superseded fixtures for the SAME source dir: a long
        // bench/test loop that regenerates testdata would otherwise
        // accumulate one orphaned parquet tree per regeneration until
        // JVM shutdown. Strictly-OLDER mtimes only — a delayed thread
        // that lost the clock race must never unregister a NEWER
        // fixture another thread just published. Deletion itself is
        // deferred (queued; swept above on a later call) so a lazy
        // reader of the superseded root finishes before the files go.
        val myM = keyMtime(key)
        val stale = scala.jdk.CollectionConverters.SetHasAsScala(evoRoots.keySet())
          .asScala.filter(k => k.startsWith(dir + "@") && keyMtime(k) < myM).toList
        stale.foreach { k =>
          val old = evoRoots.remove(k)
          if (old != null) evoPendingGc.add(old)
        }
        r
      }
    }
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy(coalesce(col("event_type"), lit("unknown")).as("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value_cents")) / 100.0).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val sourceSchemaMergeSql: String =
    """SELECT CASE WHEN event_id % 2 = 0 THEN 'unknown' ELSE event_type END AS event_type,
      |  count(*) AS n_events,
      |  sum(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Plain-text-lines round trip — the format web corpora actually
    * arrive in (one document per line, tab-separated provenance — the
    * WET/JSONL-adjacent shape): the documents table is written as
    * `doc_id \t source \t text` lines with `spark.write.text`, read
    * back with an explicit 3-way limited split (tabs inside text, if
    * any ever appeared, would stay in the text field), and rolled up
    * per source. The oracle aggregates the ORIGINAL table, so the
    * hash check proves the text path lossless end-to-end.
    *
    * == Scale design ==
    * Text write/read are scan-shaped (splittable line format, no
    * small-file amplification at this slice size); the rollup is
    * map-side combinable onto O(sources).
    */
  def sourceTextRoundtrip(s: SparkSession, dir: String): DataFrame =
    textRoundTrip(s, dir)(_.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"))
      .orderBy(col("source")))

  /** [[sourceTextRoundtrip]]'s round trip with `rollup` applied to the
    * read-back (doc_id, source, text) lines. */
  private[graft] def textRoundTrip(s: SparkSession, dir: String)
      (rollup: DataFrame => DataFrame): DataFrame = {
    val slice = Tables.load(s, dir, "documents")
      .select(concat_ws("\t",
        col("doc_id"), col("source"), col("text")).as("value"))
    roundTrip(s, "text", rollup)(path => slice.write.mode("overwrite").text(path))(
      path => s.read.text(path)
        .select(split(col("value"), "\t", 3).as("p"))
        .select(col("p").getItem(0).cast("long").as("doc_id"),
          col("p").getItem(1).as("source"), col("p").getItem(2).as("text")))
  }

  val sourceTextRoundtripSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(sum(strlen(text)) AS BIGINT) AS n_chars
      |FROM documents GROUP BY 1 ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_text_roundtrip" -> sourceTextRoundtrip,
    "source_csv_roundtrip" -> sourceCsvRoundtrip,
    "source_json_roundtrip" -> sourceJsonRoundtrip,
    "source_orc_roundtrip" -> sourceOrcRoundtrip,
    "source_schema_merge" -> sourceSchemaMerge)

  val oracles: Map[String, String] = Map(
    "source_text_roundtrip" -> sourceTextRoundtripSql,
    "source_csv_roundtrip" -> sourceCsvRoundtripSql,
    "source_json_roundtrip" -> sourceJsonRoundtripSql,
    "source_orc_roundtrip" -> sourceOrcRoundtripSql,
    "source_schema_merge" -> sourceSchemaMergeSql)
}
