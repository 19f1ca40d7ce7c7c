package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: the correctness gate silently weakens
  * if an oracle key drifts from its query key, so pin the wiring.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query keys are unique across operator blocks") {
    import graft.operators._
    import graft.streaming.EventStreams
    val blocks = Seq(
      "Analytics" -> Analytics.queries.keySet,
      "Geo" -> Geo.queries.keySet,
      "TextOps" -> TextOps.queries.keySet,
      "Dedup" -> Dedup.queries.keySet,
      "Similarity" -> Similarity.queries.keySet,
      "Multimodal" -> Multimodal.queries.keySet,
      "EventStreams" -> EventStreams.queries.keySet,
      "Curate" -> Curate.queries.keySet,
      "Maintain" -> Maintain.queries.keySet,
      "Ingest" -> Ingest.queries.keySet,
      "TpcH" -> TpcH.queries.keySet)
    val all = blocks.flatMap(_._2.toSeq)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query keys: $dups")
    assert(all.size == SparkEntry.queries.size)
  }

  test("oracle SQL contains only printable characters and standard whitespace") {
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      val bad = sql.filter(c => c < ' ' && c != '\n' && c != '\r' && c != '\t')
      assert(bad.isEmpty, s"$k contains control chars: ${bad.map(_.toInt)}")
    }
  }

  test("bench regression gate parses its own writer format and nothing else") {
    val full = """{"sf_dir":"/x/sf0.1","total":12.5,"cold_total":40.1,""" +
      """"nosort_total":9.25,"queries":{"q1":0.5,"q2":1.75},""" +
      """"cold_queries":{"q1":5.0,"q2":9.9},""" +
      """"nosort_queries":{"q1":0.25,"q2":1.5,"q3":2.0E-1}}"""
    assert(Bench.parseNosort(full) ==
      Map("q1" -> 0.25, "q2" -> 1.5, "q3" -> 0.2))
    // warm "queries" must NOT leak into the nosort baseline
    assert(Bench.parseNosort(full)("q1") != 0.5)
    // malformed / foreign files degrade to an empty baseline, never throw
    assert(Bench.parseNosort("not json at all").isEmpty)
    assert(Bench.parseNosort("""{"queries":{"q1":0.5}}""").isEmpty)
  }

  // The driver parses Bench's final stdout line from a ~2000-byte
  // output tail; r6's 2011-byte line was front-truncated → an unusable
  // bench round. Pin the cap against the REAL (growing) inventory.
  test("bench compact line stays under the driver's capture window") {
    // Worst-case realistic timings: every query double-digit seconds.
    val warm = SparkEntry.queries.keys.map(k => k -> 99.99).toMap
    val line = Bench.compactLine(warm.values.sum, warm, "0.1")
    assert(line.length <= Bench.LineCap, s"line ${line.length}B > cap")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith(""","sf":0.1}"""))
    // The slowest queries must survive any eliding: grade-relevant.
    val typical = SparkEntry.queries.keys.zipWithIndex.map {
      case (k, i) => k -> (if (k == "dedup_components") 30.0 else 0.2 + i * 0.001)
    }.toMap
    val line2 = Bench.compactLine(typical.values.sum, typical, "0.1")
    assert(line2.length <= Bench.LineCap)
    // precision degrades to 1 decimal before queries are elided — the
    // slow query must survive either way ("30.0" prefixes "30.00");
    // at 112 queries the full inventory no longer fits the window, so
    // the elide path is the steady state and "omitted" must be present
    // and accurate (keys shown + omitted == inventory)
    assert(line2.contains("\"dedup_components\":30.0"))
    val omitted = "\"omitted\":(\\d+)".r.findFirstMatchIn(line2).map(_.group(1).toInt).getOrElse(0)
    val qDict = line2.substring(line2.indexOf("\"queries\":{") + 11, line2.indexOf("}"))
    val kept = "\"([a-z0-9_]+)\":".r.findAllIn(qDict).length
    assert(kept + omitted == SparkEntry.queries.size,
      s"kept($kept) + omitted($omitted) must cover the inventory (${SparkEntry.queries.size})")
  }

  test("artifact_builds escapes ids and faces that embed quotes and backslashes") {
    val dir = "C:\\corpora\\\"q\" sf"
    val builds = Seq(
      graft.plans.SharedRel.Build(s"annTruth|$dir", 1.5, "face \"a\"\\b"),
      graft.plans.SharedRel.Build("plain", 0.25, ""))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.artifactBuildsJson(builds))
    assert(parsed.size == 2)
    assert(parsed.get(0).get("artifact").asText == s"annTruth|$dir")
    assert(parsed.get(0).get("face").asText == "face \"a\"\\b")
    assert(parsed.get(0).get("sec").asDouble == 1.5)
    assert(parsed.get(1).get("artifact").asText == "plain")
  }

  // One memo for corpus artifacts: the file-listing signature and the
  // session-identity key live in plans/SessionMemo.scala only, so a new
  // operator reuses the registry instead of growing its own copy.
  test("no corpus signature or session-identity key outside SessionMemo") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val registry = files.filter(_.getFileName.toString == "SessionMemo.scala")
    assert(registry.size == 1 && files.size > 1, s"expected the registry among ${files.size} files")
    assert(java.nio.file.Files.readString(registry.head).contains("listStatus("))
    val copies = for {
      f <- files if f != registry.head
      (line, n) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("listStatus(") || line.contains("System.identityHashCode(")
    } yield s"$f:${n + 1}: ${line.trim}"
    assert(copies.isEmpty, copies.mkString("use graft.plans.SessionMemo instead:\n", "\n", ""))
  }

  /** A source file's code lines, trimmed, comment lines skipped. */
  private def code(path: java.nio.file.Path): String = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(path).asScala.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .mkString("\n")
  }
  private def copies(src: String, needle: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllIn(src).length
  private val mainRoot = java.nio.file.Paths.get("src/main/scala/graft")
  private def mainSources: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("Geo writes each fold decision once on the DataFrame side and once in SQL") {
    // the DataFrame side writes a decision as a Scala expression, the
    // DuckDB twins as interpolated SQL text (`${X1 - X0}`, `x >= $X0`);
    // a new Geo face composes the fold stages instead of adding a copy
    val geo = code(mainRoot.resolve("operators/Geo.scala"))
    val expected = Seq(
      // binning denominators: one DataFrame copy plus one SQL copy
      "X1 - X0" -> 2, "${X1 - X0}" -> 1, "Y1 - Y0" -> 2, "${Y1 - Y0}" -> 1,
      // bbox predicate, day key, frame_day: DataFrame then SQL
      "col(\"x\") >= X0" -> 1, "x >= $X0" -> 1,
      "unix_micros(ts) div 86400000000" -> 1, "epoch_us(ts) // 86400000000" -> 1,
      "date_add(DATE'1970-01-01'" -> 1, "DATE '1970-01-01' +" -> 1)
    val off = expected.collect { case (n, k) if copies(geo, n) != k => s"$n: ${copies(geo, n)} (want $k)" }
    assert(off.isEmpty, off.mkString("Geo.scala repeats a stage decision:\n", "\n", ""))
  }

  test("each iterative-loop decision is written once per side") {
    // the graph faces share one symmetric edge list per side, the merge
    // trainers one rewrite per side (the driver trainer, the Spark
    // replay, the oracle) and one driver pair count, and every fixpoint
    // loop routes through Checkpoints.fixpoint, which alone owns the
    // cap and error
    val dedup = code(mainRoot.resolve("operators/Dedup.scala"))
    val text = code(mainRoot.resolve("operators/TextOps.scala"))
    val checkpoints = mainRoot.resolve("plans/Checkpoints.scala")
    val main = mainSources.map(code).mkString("\n")
    val others = mainSources.filter(_ != checkpoints).map(code).mkString("\n")
    val expected = Seq(
      ("Dedup", dedup, """col("doc_b").as("doc_a"), col("doc_a").as("doc_b")""", 1),
      ("Dedup", dedup, "SELECT doc_b, doc_a FROM", 1),
      ("TextOps", text, """lit(s" $l  $r ")""", 1),
      ("TextOps", text, "' ' || l || '  ' || r || ' '", 1),
      ("src/main", main, """seq.replace(s" $l  $r ", s" $l$r ")""", 1),
      ("src/main", main, "syms(i) -> syms(i + 1)", 1),
      ("src/main", main, "pairCounts", 0),
      ("Checkpoints", code(checkpoints), "did not converge", 1),
      ("Checkpoints", code(checkpoints), "MaxRounds = 64", 1),
      ("src/main outside Checkpoints", others, "did not converge", 0),
      ("src/main outside Checkpoints", others, "< 64", 0))
    val off = expected.collect { case (where, src, n, k) if copies(src, n) != k =>
      s"$where: $n: ${copies(src, n)} (want $k)" }
    assert(off.isEmpty, off.mkString("a loop decision is written more than once:\n", "\n", ""))
  }

  test("one keyed-checkpoint mechanism, and the graph loops cache no relation") {
    // Checkpoints.keyed alone declares a checkpoint's hash partitioning;
    // Geo's frame shuffle and the graph loops' keyed edges and state
    // compose it. The components and BFS loops read checkpoints, not
    // CacheManager entries.
    import scala.jdk.CollectionConverters._
    val calls = for {
      f <- java.nio.file.Files.walk(java.nio.file.Paths.get("src/main")).iterator().asScala.toSeq
      if f.toString.endsWith(".scala")
      line <- code(f).split("\n") if line.contains("GraftSqlShim.hashPartitioned(")
    } yield s"${f.getFileName}: $line"
    assert(calls.size == 1 && calls.head.startsWith("Checkpoints.scala:"),
      calls.mkString("expected one hashPartitioned call, in Checkpoints:\n", "\n", ""))
    val dedup = code(mainRoot.resolve("operators/Dedup.scala"))
    def body(from: String, to: String): String = {
      val a = dedup.indexOf(from)
      assert(a >= 0 && dedup.indexOf(to, a) > a, s"$from ... $to not found in Dedup.scala")
      dedup.substring(a, dedup.indexOf(to, a))
    }
    for ((name, src) <- Seq(
        "componentsOver" -> body("def componentsOver(", "def graphComponentsIncremental("),
        "graphBfs" -> body("def graphBfs(", "val graphBfsSql")))
      assert(copies(src, ".cache()") == 0 && copies(src, "unpersist") == 0,
        s"$name caches a relation:\n$src")
  }

  test("the forecast ladder and the quality feature pass are written once per side") {
    // every ladder face composes AnalyticsForecast's grid, prior-day
    // windows, last_day anchor, Holt list folds and paired ledger, and
    // stream_forecast its grid, prior-day list and plain Holt fold;
    // every quality face composes TextOps' feature pass, and every
    // oracle gating on quality_score reads TextOps.qualityCte
    import scala.jdk.CollectionConverters._
    val forecast = code(mainRoot.resolve("operators/AnalyticsForecast.scala"))
    val operators = java.nio.file.Files.list(mainRoot.resolve("operators")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(code).mkString("\n")
    val streams = code(mainRoot.resolve("streaming/EventStreams.scala"))
    val main = mainSources.map(code).mkString("\n")
    val expected = Seq(
      // the daily grid, DataFrame then SQL
      ("AnalyticsForecast", forecast, """.groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n"))""", 1),
      ("AnalyticsForecast", forecast, "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2", 1),
      // the leak-free expanding frame and the last_day anchor
      ("AnalyticsForecast", forecast, "rowsBetween(Window.unboundedPreceding, -1)", 1),
      ("AnalyticsForecast", forecast, "UNBOUNDED PRECEDING AND 1 PRECEDING", 1),
      ("AnalyticsForecast", forecast, """max(col("day")).as("last_day")""", 1),
      ("AnalyticsForecast", forecast, "(SELECT max(day) FROM", 1),
      // the DuckDB Holt list folds' init arm, and the paired ledger
      ("AnalyticsForecast", forecast, "CAST(1000 * x[3] AS BIGINT)", 1),
      ("src/main", main, "CAST(1000 * x[3] AS BIGINT)", 1),
      ("EventStreams", streams, "CAST(1000 * x[3] AS BIGINT)", 0),
      ("AnalyticsForecast", forecast, """.as("gain_milli")""", 1),
      ("AnalyticsForecast", forecast, "AS gain_milli", 1),
      // the quality feature pass, DataFrame then SQL, and the SQL stopword literal
      ("operators", operators, """regexp_count(col("text"), lit("[^a-z0-9 ]"))""", 1),
      ("operators", operators, "isInCollection(stopwords)", 1),
      ("operators", operators, "len(regexp_extract_all(text, '[^a-z0-9 ]'))", 1),
      ("operators", operators, """stopwords.map(w => s"'$w'")""", 1))
    val off = expected.collect { case (where, src, n, k) if copies(src, n) != k =>
      s"$where: $n: ${copies(src, n)} (want $k)" }
    assert(off.isEmpty, off.mkString("a forecast or quality decision is written more than once:\n", "\n", ""))
  }

  test("poly_hash, the integer HLL and the count-min lanes are written once per side") {
    // every engine site builds StringPolyHash through
    // HashExpressions.polyHash (VectorExpressions registers the SQL
    // function) and every oracle replays it through polyHashSql; the
    // HLL register rank and estimate and the CMS lanes live once per
    // side in AnalyticsRelational
    val hash = mainRoot.resolve("functions/HashExpressions.scala")
    val vector = mainRoot.resolve("functions/VectorExpressions.scala")
    val others = mainSources.filterNot(Set(hash, vector).contains).map(code).mkString("\n")
    val main = mainSources.map(code).mkString("\n")
    val foldLines = main.split("\n").count(l =>
      l.contains("list_transform(string_split(") && l.contains("ascii("))
    val expected = Seq(
      ("src/main outside HashExpressions, VectorExpressions", others, "StringPolyHash(", 0),
      ("src/main", main, "GraftSqlShim.expression(lit(", 1),
      ("src/main", main, "list_transform(string_split(", 1),
      ("src/main", main, "709 * 4096", 2),
      ("src/main", main, "length(bin(shiftright(h, 6) + 1))", 1),
      ("src/main", main, "26 - length(bin((", 1),
      ("src/main", main, "1140671485", 1))
    val off = expected.collect { case (where, src, n, k) if copies(src, n) != k =>
      s"$where: $n: ${copies(src, n)} (want $k)" }
    assert(foldLines == 1 && off.isEmpty, off.mkString(
      s"a hash or sketch primitive is written more than once (fold lines: $foldLines):\n",
      "\n", ""))
  }
}
