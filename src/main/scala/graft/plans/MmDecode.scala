package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

/** Whole-operator multimodal batch decode as a COLUMNAR physical
  * operator (SURVEY §9 r3): the honest engine form of the batched
  * blob decoder. Instead of a typed mapPartitions (encoder ser/de per
  * row, opaque to the planner), the decode is a SparkPlan that emits
  * [[ColumnarBatch]]es of 64 feature rows — the batch shape a
  * vectorized codec produces — which Spark's columnar transition rule
  * feeds into downstream whole-stage codegen through a single
  * ColumnarToRow boundary.
  *
  * The decode kernel itself stays a deterministic stub (the container
  * has no codecs — SURVEY §6); what's real is the operator plumbing:
  * logical node → strategy → columnar SparkPlan, vector allocation,
  * and the row fallback for non-columnar consumers.
  */
case class MmDecode(child: LogicalPlan, out: Seq[AttributeReference])
    extends UnaryNode {
  override def output: Seq[Attribute] = out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  // the operator consumes every child column (doc_id, kind, data) —
  // declared so column pruning doesn't strip the blob below us
  override def references: AttributeSet = AttributeSet(child.output)
  override protected def withNewChildInternal(newChild: LogicalPlan): MmDecode =
    copy(child = newChild)
}

object MmDecodeExec {
  /** Local-mode test hook: counts vector-set ALLOCATIONS. The columnar
    * path allocates once per partition and reuses via reset(), so after
    * a run this equals the partition count, not the batch count
    * (PropertySpec pins it).
    */
  val allocations = new java.util.concurrent.atomic.AtomicLong(0)
}

case class MmDecodeExec(out: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  private def batchSize: Int =
    session.sessionState.conf
      .getConfString("spark.graft.mmDecodeBatch", "64").toInt

  override def output: Seq[Attribute] = out
  override def producedAttributes: AttributeSet = AttributeSet(out)
  override def outputPartitioning = child.outputPartitioning
  override def supportsColumnar: Boolean = true

  override protected def withNewChildInternal(newChild: SparkPlan): MmDecodeExec =
    copy(child = newChild)

  private def ord(name: String): Int = {
    val i = child.output.indexWhere(_.name == name)
    require(i >= 0, s"MmDecode child must produce '$name' (has ${child.output.map(_.name)})")
    i
  }

  /** Stub decode kernel: (len, head byte, tail byte, rolling checksum
    * mod 997) — deterministic stand-in for the codec call, identical
    * to the oracle's ascii fold on the pure-ASCII corpus.
    */
  private def kernel(data: Array[Byte]): (Int, Int, Int, Long) = {
    var cs = 0L
    var i = 0
    while (i < data.length) { cs = (cs * 31 + (data(i) & 0xff)) % 997; i += 1 }
    (data.length,
      if (data.nonEmpty) data(0) & 0xff else 0,
      if (data.nonEmpty) data(data.length - 1) & 0xff else 0,
      cs)
  }

  override protected def doExecuteColumnar(): RDD[ColumnarBatch] = {
    val (idOrd, kindOrd, dataOrd) = (ord("doc_id"), ord("kind"), ord("data"))
    val schema = DataTypeUtils.fromAttributes(output)
    val bs = batchSize
    child.execute().mapPartitions { rows =>
      // ONE vector set per partition, reused across batches: the
      // consumer contract (same as Spark's vectorized parquet reader)
      // is that a batch is dead once next() is called again, so the
      // vectors are reset() and refilled in place. Freeing happens on
      // task completion — robust to downstream early-exit (limit).
      val vecs = OnHeapColumnVector.allocateColumns(bs, schema)
      val batch = new ColumnarBatch(vecs.asInstanceOf[Array[ColumnVector]])
      MmDecodeExec.allocations.incrementAndGet()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          var i = 0; while (i < vecs.length) { vecs(i).close(); i += 1 }
        })
      new Iterator[ColumnarBatch] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): ColumnarBatch = {
          var i = 0
          while (i < vecs.length) { vecs(i).reset(); i += 1 }
          var n = 0
          while (n < bs && rows.hasNext) {
            val r = rows.next()
            val data = r.getBinary(dataOrd)
            val (len, head, tail, cs) = kernel(data)
            vecs(0).putLong(n, r.getLong(idOrd))
            vecs(1).putByteArray(n, r.getUTF8String(kindOrd).getBytes)
            vecs(2).putInt(n, len)
            vecs(3).putInt(n, head)
            vecs(4).putInt(n, tail)
            vecs(5).putLong(n, cs)
            n += 1
          }
          batch.setNumRows(n)
          batch
        }
      }
    }
  }

  /** Row fallback (same kernel) for consumers that strip the columnar
    * transition. */
  override protected def doExecute(): RDD[InternalRow] = {
    val (idOrd, kindOrd, dataOrd) = (ord("doc_id"), ord("kind"), ord("data"))
    val outAttrs = output
    child.execute().mapPartitions { rows =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val buf = new GenericInternalRow(6)
      rows.map { r =>
        val data = r.getBinary(dataOrd)
        val (len, head, tail, cs) = kernel(data)
        buf.update(0, r.getLong(idOrd))
        buf.update(1, r.getUTF8String(kindOrd).copy())
        buf.update(2, len)
        buf.update(3, head)
        buf.update(4, tail)
        buf.update(5, cs)
        proj(buf)
      }
    }
  }
}

object MmDecodeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case MmDecode(child, out) => MmDecodeExec(out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** User-facing API: decode a (doc_id, kind, data binary) DataFrame
  * into the feature schema via the columnar operator.
  */
object MmOps {
  def decode(df: DataFrame): DataFrame = {
    val child = df.queryExecution.analyzed
    Seq("doc_id", "kind", "data").foreach { n =>
      require(child.output.exists(_.name == n), s"decode input needs column '$n'")
    }
    val out = Seq(
      AttributeReference("doc_id", LongType, nullable = false)(),
      AttributeReference("kind", StringType, nullable = false)(),
      AttributeReference("byte_len", IntegerType, nullable = false)(),
      AttributeReference("head_byte", IntegerType, nullable = false)(),
      AttributeReference("tail_byte", IntegerType, nullable = false)(),
      AttributeReference("checksum", LongType, nullable = false)())
    GraftSqlShim.dataFrame(df.sparkSession, MmDecode(child, out))
  }
}
