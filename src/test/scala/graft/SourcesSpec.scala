package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Loader-layer specs: schema normalization (the reference's
  * End_Lat/dropoff_latitude sniffing, generalized) and the bucketed
  * sink used for co-located fact-fact joins at scale.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("normalize renames alias columns to canonical names") {
    // mirrors /root/reference/src/awsbatch-map/main.py:58-66 semantics
    val old = Seq((1L, 40.7, -74.0)).toDF("id", "End_Lat", "End_Lon")
    val neu = Seq((2L, 40.8, -73.9)).toDF("id", "dropoff_latitude", "dropoff_longitude")
    val aliases = Map(
      "lat" -> Seq("End_Lat", "dropoff_latitude"),
      "lon" -> Seq("End_Lon", "dropoff_longitude"))
    val a = Tables.normalize(old, aliases)
    val b = Tables.normalize(neu, aliases)
    assert(a.columns.toSet == Set("id", "lat", "lon"))
    assert(b.columns.toSet == Set("id", "lat", "lon"))
    // canonical name already present → untouched
    val c = Tables.normalize(a, aliases)
    assert(c.columns.toSet == Set("id", "lat", "lon"))
  }

  test("partitioned sink enables partition pruning on read") {
    val events = Tables.load(spark, sf, "events")
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    Tables.writePartitioned(events, "/tmp/graft-test-part", "day")
    val pruned = spark.read.parquet("/tmp/graft-test-part")
      .filter(col("day") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    // the day predicate must be a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("day"), s"expected day partition filter in:\n$plan")
    assert(pruned.count() > 0)
  }

  test("csv and json round-trip through the schema'd loaders") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
    df.write.mode("overwrite").option("header", "true").csv("/tmp/graft-test-csv")
    df.write.mode("overwrite").json("/tmp/graft-test-json")
    val fromCsv = Tables.loadCsv(spark, "/tmp/graft-test-csv", schema)
    val fromJson = Tables.loadJson(spark, "/tmp/graft-test-json", schema)
    val expect = Set((1L, "a", 1.5), (2L, "b", 2.5))
    assert(fromCsv.as[(Long, String, Double)].collect().toSet == expect)
    assert(fromJson.as[(Long, String, Double)].collect().toSet == expect)
    assert(fromCsv.schema == schema && fromJson.schema == schema)
    df.write.mode("overwrite").orc("/tmp/graft-test-orc")
    val fromOrc = Tables.loadOrc(spark, "/tmp/graft-test-orc", schema)
    assert(fromOrc.as[(Long, String, Double)].collect().toSet == expect)
    assert(fromOrc.schema == schema)
  }

  test("text-lines round trip preserves every document byte-for-byte") {
    import graft.operators.Ingest
    // the registered rollup matches the original table's rollup
    val got = Ingest.sourceTextRoundtrip(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSet
    val want = graft.sources.Tables.load(spark, sf, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")).as("t"),
        sum(expr("CAST(length(text) AS BIGINT)")).as("c"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want, "text path lost or altered documents")
    // byte-exact per-doc preservation through the written lines, read
    // back inside the face's own call (its directory is gone after)
    val back = Ingest.textRoundTrip(spark, sf)(_.select("doc_id", "text"))
      .as[(Long, String)].collect().toMap
    val orig = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(orig.length == back.size, "doc count changed in flight")
    orig.foreach { case (id, txt) =>
      assert(back(id) == txt, s"doc $id text altered by the text path")
    }
  }

  test("source_csv_roundtrip: two runs at once each match a run on its own") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import graft.operators.Ingest
    // the CSV face, then the text face on the same per-call directories
    for ((kind, face) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
        "CSV" -> Ingest.sourceCsvRoundtrip, "text" -> Ingest.sourceTextRoundtrip)) {
      val alone = face(spark, sf).collect().toSeq
      // neither run's rows are read until both calls have returned
      val written = new CyclicBarrier(2)
      val runs = Seq.fill(2)(Future {
        val df = try face(spark, sf)
          finally written.await(2, TimeUnit.MINUTES)
        df.collect().toSeq
      })
      runs.foreach(r => assert(Await.result(r, 5.minutes) == alone,
        s"a run read another run's $kind files"))
    }
  }

  test("schema-merge fixture is reused within a JVM yet tracks a regenerated dir") {
    import org.apache.spark.sql.functions._
    def writeEvents(dir: String, values: Seq[Double]): Unit =
      values.zipWithIndex.map { case (v, i) =>
        (i.toLong, 100L + i, s"t$i", v,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      }.toDF("event_id", "user_id", "event_type", "value", "ts")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/events.parquet")
    val dir = "/tmp/graft-test-evo"
    writeEvents(dir, Seq(1.0, 2.0, 3.0, 4.0))
    def total() = graft.operators.Ingest.sourceSchemaMerge(spark, dir)
      .agg(sum(col("sum_value"))).as[Double].head()
    assert(total() == 10.0)
    assert(total() == 10.0) // second call reuses the cached root
    // Regenerate the source dir: the mtime-keyed cache must rebuild
    // the two-epoch fixture instead of serving the stale root for the
    // JVM's remaining life (the pre-r11 behavior).
    Thread.sleep(1100) // parquet dir mtime granularity can be 1s
    writeEvents(dir, Seq(10.0, 20.0, 30.0, 40.0))
    assert(total() == 100.0,
      "regenerated events.parquet still served the stale evo fixture")
  }

  test("bucketed tables join without a shuffle exchange") {
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previously aborted run can leave the location behind after
      // the catalog entry is gone; CTAS then refuses the location
      new scala.reflect.io.Directory(
        new java.io.File(s"spark-warehouse/$t")).deleteRecursively()
    }
    val orders = Tables.load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    val lineitem = Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    Tables.writeBucketed(orders, "orders_b", 8, "o_orderkey", "o_orderkey")
    Tables.writeBucketed(lineitem, "lineitem_b", 8, "l_orderkey", "l_orderkey")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() > 0)
  }
}
