package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Table loaders + schema normalization + scale-aware sinks.
  *
  * The reference map task had to sniff column-name variants at runtime
  * (`End_Lat` vs `dropoff_latitude`, /root/reference/src/awsbatch-map/
  * main.py:58-66). [[normalize]] generalizes that: a canonical-name →
  * accepted-aliases map applied at load, so every downstream operator
  * sees one schema.
  */
object Tables {

  val tpch: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory. Plain parquet scan: column
    * pruning and predicate pushdown stay with the data source.
    *
    * Parquet TIMESTAMP(NANOS) columns (events.ts) are illegal for
    * Spark's vectorized reader; with `spark.sql.legacy.parquet
    * .nanosAsLong` they surface as nanos-since-epoch LongType, which we
    * convert back to a proper TIMESTAMP here (integer division — the
    * values exceed double's 2^53 exact range).
    *
    * The RELATION (not its data) is memoized per (session, path, file
    * signature): every `spark.read.parquet` call re-lists the
    * directory and re-reads a footer for schema inference — pure
    * driver-side catalog work that a metastore-backed deployment pays
    * once, not per query. ~2-3 loads × 3 passes × 368 bench queries
    * re-derived the same FileIndex/schema thousands of times. The
    * memo key carries the directory listing (paths + sizes + mtimes),
    * so rewritten files mint a fresh relation instead of serving a
    * stale plan; the DataFrame itself holds only the logical plan —
    * each execution still scans parquet.
    */
  // (session, path) → (file signature, relation); see SessionMemo.
  private val relCache = new graft.plans.SessionMemo[DataFrame]

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    relCache(spark, path, graft.plans.SessionMemo.corpusSig(spark, sfDir, name)) {
      val df = spark.read.parquet(path)
      if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        // FLOOR division, not `div` (truncate-toward-zero): for pre-1970
        // (negative) nanos the two differ by 1µs and DuckDB's
        // TIMESTAMP_NS→µs conversion floors. Identical post-1970.
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END))"))
      else df
    }
  }

  /** Register every table as a temp view so `spark.sql` works too. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tpch.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** CSV source with schema (header expected). Schema is REQUIRED, not
    * inferred: at 100 TB an inference pass is a full extra scan.
    */
  def loadCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** JSON-lines source with schema (same no-inference rule). */
  def loadJson(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** ORC source — columnar like parquet (pushdown + pruning apply);
    * schema passed for the same no-inference discipline even though
    * ORC is self-describing (a mismatched file fails fast instead of
    * silently changing dtypes downstream).
    */
  def loadOrc(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Rename any alias column to its canonical name; columns absent in
    * the input are simply not produced (caller validates with
    * [[require]]d canonical names if it needs them).
    */
  def normalize(df: DataFrame, aliases: Map[String, Seq[String]]): DataFrame =
    aliases.foldLeft(df) { case (d, (canonical, alts)) =>
      if (d.columns.contains(canonical)) d
      else alts.find(d.columns.contains).fold(d)(a => d.withColumnRenamed(a, canonical))
    }

  /** Scale sink: partitioned parquet. At 100 TB, date/month
    * partitioning turns the reference's per-month array job into
    * partition pruning on read.
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** Scale sink: bucketed table for co-located fact-fact joins
    * (orders ⋈ lineitem on orderkey avoids both shuffles when both
    * sides are bucketed the same way).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCol: String, sortCol: String): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(sortCol)
      .format("parquet").saveAsTable(table)

  /** Project to only the named columns (keeps ReadSchema minimal when
    * applied directly over a scan).
    */
  def pruned(df: DataFrame, cols: String*): DataFrame =
    df.select(cols.map(col): _*)
}
