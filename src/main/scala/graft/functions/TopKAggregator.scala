package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k typed aggregator (tier-(b) custom operator: a
  * TypedColumn aggregation function Spark lacks).
  *
  * The window formulation of "top-k per group" (`row_number() OVER
  * (PARTITION BY g ORDER BY s) <= k`) sorts every group's full row set
  * after a total shuffle. This aggregator keeps a bounded k-element
  * buffer per group per partition, so the shuffle carries at most
  * k rows per (group × partition) and the sort cost is O(n·log k)
  * map-side — the shape that survives a 100 TB group.
  *
  * Ordering: descending by `sortKey`, ties broken by ascending `id`
  * (deterministic, matches the window twin's ORDER BY key DESC, id).
  */
object TopKAggregator {

  /** (sortKey, id, payload) input; retained rows come back sorted. */
  type Row3 = (Long, Long, Double)

  def topK(k: Int): Aggregator[Row3, List[Row3], Seq[Row3]] =
    new Aggregator[Row3, List[Row3], Seq[Row3]] {

      private def ord: Ordering[Row3] = new Ordering[Row3] {
        // explicit compare — negating the key would overflow on
        // Long.MinValue and rank it first instead of last
        override def compare(a: Row3, b: Row3): Int = {
          val c = java.lang.Long.compare(b._1, a._1) // sortKey DESC
          if (c != 0) c else java.lang.Long.compare(a._2, b._2) // id ASC
        }
      }

      private def bounded(xs: List[Row3]): List[Row3] =
        xs.sorted(ord).take(k)

      override def zero: List[Row3] = Nil

      override def reduce(b: List[Row3], a: Row3): List[Row3] =
        // keep the buffer tiny: sort+take on ≤ k+1 elements
        bounded(a :: b)

      override def merge(b1: List[Row3], b2: List[Row3]): List[Row3] =
        bounded(b1 ::: b2)

      override def finish(r: List[Row3]): Seq[Row3] = r.sorted(ord)

      override def bufferEncoder: Encoder[List[Row3]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Row3]]()

      override def outputEncoder: Encoder[Seq[Row3]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Row3]]()
    }
}
