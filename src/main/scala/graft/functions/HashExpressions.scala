package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine-portable string hash, `poly_hash`, built once per side:
  * [[polyHash]] on the engine and [[polyHashSql]] in the DuckDB
  * oracles. Every operator that samples, splits, fingerprints or
  * sketches by string calls these two builders.
  *
  * Contract: h = fold(units, (h·31 + u) mod m) from h = 0, over the
  * UTF-8 bytes of the string on the engine and over its code points in
  * DuckDB (`ascii` of each character). The two agree on ASCII text,
  * which is what graft's corpora hold. NULL in gives NULL out on both
  * sides; the empty string hashes to 0. Row-level Scala code (the
  * MinHash kernel, Dedup's partition loops) folds chars the same way
  * through [[MinHashKernel.polyHash]].
  */
object HashExpressions {

  /** `poly_hash(c, m)` as a Column: one [[StringPolyHash]] node. */
  def polyHash(c: Column, m: Long): Column =
    GraftSqlShim.column(StringPolyHash(GraftSqlShim.expression(c),
      GraftSqlShim.expression(lit(m))))

  /** DuckDB replay of [[polyHash]] over the SQL expression `e`. `e`
    * appears once in the text (a singleton list the NULL guard maps
    * over), so nesting folds grows the SQL linearly. */
  def polyHashSql(e: String, m: Long): String =
    s"list_transform([$e], s -> CASE WHEN s IS NULL THEN NULL ELSE list_reduce(list_prepend(" +
      "CAST(0 AS BIGINT), list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $m) END)[1]"
}

/** Codegen'd polynomial rolling hash, the engine half of
  * [[HashExpressions.polyHash]].
  *
  * Exists as a native `Expression` so fingerprint/split/dedup hashing
  * stays inside whole-stage codegen: the typed `Dataset.map`
  * formulation pays an encoder round-trip per row and fences off the
  * surrounding operators, which matters on a 100 TB corpus scan where
  * the hash is the only non-column operation in the stage.
  */
case class StringPolyHash(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure("poly_hash modulus must be a constant")
        else right.eval() match {
          case m: java.lang.Long if m > 0 => TypeCheckResult.TypeCheckSuccess
          case m => TypeCheckResult.TypeCheckFailure(
            s"poly_hash modulus must be a positive bigint constant, got $m")
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"poly_hash requires (string, bigint modulus), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(s: Any, m: Any): Any = {
    val bytes = s.asInstanceOf[UTF8String].getBytes
    val mod = m.asInstanceOf[Long]
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31L + (bytes(i) & 0xffL)) % mod; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, m) => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $s.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h * 31L + ($bytes[$i] & 0xffL)) % $m;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
