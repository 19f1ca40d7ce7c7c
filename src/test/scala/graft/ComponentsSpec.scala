package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Edge-case corpora for the connected-components loop: tiny
  * `documents` tables written to temp dirs (deleted afterwards), whose
  * component labels are checked against a union-find over the verified
  * pairs the jaccard face reports. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` on a temp corpus dir holding `docs` as (doc_id, text). */
  private def withCorpus[T](docs: Seq[(Long, String)])(body: String => T): T = {
    val dir = Files.createTempDirectory("graft-components-")
    try {
      docs.toDF("doc_id", "text")
        .withColumn("lang", lit("en"))
        .withColumn("source", lit("src0"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(dir.resolve("documents.parquet").toString)
      body(dir.toString)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val all = Files.walk(p).iterator().asScala.toList
    all.reverse.foreach(Files.deleteIfExists)
  }

  /** The verified near-dup pairs of `dir`, as the jaccard face reports them. */
  private def pairs(dir: String): Seq[(Long, Long)] =
    Dedup.dedupNgramJaccard(spark, dir).select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq

  /** Union-find reference: doc → the least id of its component, for
    * every doc in a pair. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  private def components(dir: String): Map[Long, Long] =
    Dedup.dedupComponents(spark, dir).select("doc_id", "component")
      .as[(Long, Long)].collect().toMap

  private def incremental(dir: String): Map[Long, Long] =
    Dedup.graphComponentsIncremental(spark, dir).select("doc_id", "component")
      .as[(Long, Long)].collect().toMap

  /** `n` words `<tag>0 .. <tag>(n-1)`. */
  private def words(tag: String, n: Int): Seq[String] = (0 until n).map(i => s"$tag$i")

  test("components of a corpus with no verified pair: zero rows, no throw") {
    withCorpus((1L to 6L).map(i => i -> words(s"d${i}w", 12).mkString(" "))) { dir =>
      assert(pairs(dir).isEmpty)
      assert(components(dir).isEmpty)
      assert(incremental(dir).isEmpty)
      assert(Dedup.graphBfs(spark, dir).count() == 0L)
    }
  }

  test("components of a hot-key star match the union-find reference") {
    // the hub (doc 7) is 12 words; each of the 20 spokes is the hub plus
    // 15 words of its own: spoke–hub trigram Jaccard 10/25, spoke–spoke
    // 10/40 (below the 0.3 cut), so the near-dup graph is a star of
    // diameter 2 whose least id (1) is a spoke, not the hub
    val hub = words("h", 12)
    val spokes = (1L to 21L).filter(_ != 7L)
    val docs = (7L -> hub.mkString(" ")) +:
      spokes.map(i => i -> (hub ++ words(s"s${i}w", 15)).mkString(" "))
    withCorpus(docs) { dir =>
      val edges = pairs(dir)
      assert(edges.toSet == spokes.map(i => (math.min(i, 7L), math.max(i, 7L))).toSet,
        s"expected exactly the 20 spoke–hub pairs, got $edges")
      val want = reference(edges)
      assert(want.values.toSet == Set(1L))
      assert(components(dir) == want)
      assert(incremental(dir) == want)
    }
  }

  test("components of a 66-doc chain converge within the cap; BFS on it throws") {
    // doc i shares 12 of its 18 words with doc i+1 and 6 with doc i+2
    // (below the 0.3 cut): a path of 65 edges, which the pointer-doubling
    // loop converges on in O(log 65) rounds while BFS needs 65
    val ws = words("t", 6 * 65 + 18)
    val docs = (0 until 66).map(i => (i + 1).toLong -> ws.slice(6 * i, 6 * i + 18).mkString(" "))
    withCorpus(docs) { dir =>
      val edges = pairs(dir)
      assert(edges.toSet == (1L to 65L).map(i => (i, i + 1)).toSet)
      val want = reference(edges)
      assert(components(dir) == want && want.size == 66 && want.values.toSet == Set(1L))
      val err = intercept[IllegalStateException](Dedup.graphBfs(spark, dir))
      assert(err.getMessage.contains("graphBfs did not converge"))
    }
  }
}
