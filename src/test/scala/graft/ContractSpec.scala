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

  test("Geo writes each fold decision once on the DataFrame side and once in SQL") {
    // the DataFrame side writes a decision as a Scala expression, the
    // DuckDB twins as interpolated SQL text (`${X1 - X0}`, `x >= $X0`);
    // a new Geo face composes the fold stages instead of adding a copy
    import scala.jdk.CollectionConverters._
    val code = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("src/main/scala/graft/operators/Geo.scala"))
      .asScala.map(_.trim)
      .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
      .mkString("\n")
    def copies(needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllIn(code).length
    val expected = Seq(
      // binning denominators: one DataFrame copy plus one SQL copy
      "X1 - X0" -> 2, "${X1 - X0}" -> 1, "Y1 - Y0" -> 2, "${Y1 - Y0}" -> 1,
      // bbox predicate, day key, frame_day: DataFrame then SQL
      "col(\"x\") >= X0" -> 1, "x >= $X0" -> 1,
      "unix_micros(ts) div 86400000000" -> 1, "epoch_us(ts) // 86400000000" -> 1,
      "date_add(DATE'1970-01-01'" -> 1, "DATE '1970-01-01' +" -> 1)
    val off = expected.collect { case (n, k) if copies(n) != k => s"$n: ${copies(n)} (want $k)" }
    assert(off.isEmpty, off.mkString("Geo.scala repeats a stage decision:\n", "\n", ""))
  }

  test("each iterative-loop decision is written once per side") {
    // the graph faces share one symmetric edge list per side, the merge
    // trainers one rewrite per side, and every fixpoint loop routes
    // through Checkpoints.fixpoint, which alone owns the cap and error
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    def code(path: java.nio.file.Path): String =
      java.nio.file.Files.readAllLines(path).asScala.map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//"))
        .mkString("\n")
    def copies(src: String, needle: String): Int =
      java.util.regex.Pattern.quote(needle).r.findAllIn(src).length
    val dedup = code(root.resolve("operators/Dedup.scala"))
    val text = code(root.resolve("operators/TextOps.scala"))
    val checkpoints = root.resolve("plans/Checkpoints.scala")
    val others = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != checkpoints)
      .map(code).mkString("\n")
    val expected = Seq(
      ("Dedup", dedup, """col("doc_b").as("doc_a"), col("doc_a").as("doc_b")""", 1),
      ("Dedup", dedup, "SELECT doc_b, doc_a FROM", 1),
      ("TextOps", text, """lit(s" $l  $r ")""", 1),
      ("TextOps", text, "' ' || l || '  ' || r || ' '", 1),
      ("Checkpoints", code(checkpoints), "did not converge", 1),
      ("Checkpoints", code(checkpoints), "MaxRounds = 64", 1),
      ("src/main outside Checkpoints", others, "did not converge", 0),
      ("src/main outside Checkpoints", others, "< 64", 0))
    val off = expected.collect { case (where, src, n, k) if copies(src, n) != k =>
      s"$where: $n: ${copies(src, n)} (want $k)" }
    assert(off.isEmpty, off.mkString("a loop decision is written more than once:\n", "\n", ""))
  }
}
