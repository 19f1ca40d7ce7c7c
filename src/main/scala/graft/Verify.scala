package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // 4-way concurrent dumps: Spark schedules independent jobs in
    // parallel; each query writes its own directory so this is safe
    // and roughly halves the wall time of the correctness gate.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // SPARK_GRAFT_ONLY=q1,q2 restricts the dump to a comma-separated
    // subset — the local fast path while iterating on one operator
    // (the driver never sets it, so the gate always runs everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A restricted run must be VISIBLY partial: a stale export in a
    // CI/shell environment would otherwise shrink the gate silently
    // (query_keys.json below still lists every key, so the skipped
    // queries also count as failures downstream — but say it loudly).
    only.foreach { set =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY is set — dumping ONLY " +
          s"${set.toSeq.sorted.mkString(", ")} (${set.size} of " +
          s"${SparkEntry.queries.size} queries). This is a PARTIAL gate run.")
    }
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Expected-key manifest: a query that throws before creating its
    // output dir must COUNT AS A FAILURE downstream, not vanish from
    // the gate (which iterates output dirs otherwise).
    val keys = SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/query_keys.json"), keys)
    spark.stop()
  }
}
