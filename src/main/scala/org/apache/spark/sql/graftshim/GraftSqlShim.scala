package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Spark internals the engine needs:
  * building a Column from a Catalyst Expression, registering native
  * expressions in the session's FunctionRegistry, and Datasets from
  * plans (a checkpoint's declared partitioning among them). Lives under
  * `org.apache.spark.sql` for package-private access — the standard
  * pattern for Spark-native extension libraries.
  */
object GraftSqlShim {

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Engine-wide invariant: one function name ⇒ one builder. Keyed by
    * the builder's synthetic class (stable per call site), so a future
    * caller binding DIFFERENT semantics under a taken name fails
    * loudly instead of the skip-if-exists below silently keeping the
    * stale builder.
    */
  private val boundBuilders =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Register a native expression under `name`, idempotently.
    *
    * CONSTRAINT (per-call-site identity): the duplicate-builder guard
    * keys on the lambda's synthetic class name, which is stable only
    * per SOURCE CALL SITE. All registrations of one function name must
    * therefore flow through a single textual call site (the engine's
    * convention: one `GraftFunctions.register`-style chokepoint per
    * function). Routing two semantically identical registrations of
    * the same name through different call sites — a shared helper that
    * constructs the builder, a second registration module — will trip
    * the `require` below spuriously at session setup. If a future
    * refactor needs multiple sites, replace the `sig` below with an
    * explicit caller-supplied semantic tag.
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    val sig = builder.getClass.getName
    val prev = boundBuilders.putIfAbsent(name, sig)
    require(prev == null || prev == sig,
      s"function '$name' is already registered with a different builder " +
        s"($prev, new $sig) — same-name re-registration is only skipped " +
        "because builders are identical; rename one of them")
    // Registration is idempotent (same builder every time — enforced
    // above), so skip when the name is already bound:
    // createOrReplaceTempFunction WARNs on every replace, and
    // operators re-register per query.
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    if (!registry.functionExists(id))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** `ckpt`, a checkpoint written by a `repartition(n, keys)` (its plan
    * one LogicalRDD of `n` partitions), declared hash-partitioned on
    * `keys` into those `n` parts, so a consumer keyed on them needs no
    * exchange. Spark keeps a checkpoint's partitioning only without AQE
    * (an adaptive plan reports none), though AQE never coalesces or
    * splits a repartition by number. Any other `ckpt` comes back as is.
    */
  def hashPartitioned(ckpt: org.apache.spark.sql.DataFrame, keys: Seq[String], n: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    ckpt.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.getNumPartitions == n =>
        val by = keys.map(k => l.output.find(_.name == k).get)
        dataFrame(ckpt.sparkSession, l.makeCopy(Array(l.output, l.rdd,
          HashPartitioning(by, n), l.outputOrdering, Boolean.box(l.isStreaming), l.stream)))
      case _ => ckpt
    }
  }

  /** DataFrame from a (possibly custom) LogicalPlan — runs the full
    * analyzer, so unresolved attributes in custom nodes resolve against
    * their children.
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
