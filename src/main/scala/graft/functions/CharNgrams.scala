package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All character n-grams of a string as an array:
  * `char_ngrams(s, n)` ≡ `transform(sequence(1, length(s) - n + 1),
  *                                  i -> substring(s, i, n))`
  * (and DuckDB's `list_transform(generate_series(...), ...)` twin) but as
  * one pass over the UTF-8 bytes — no per-element lambda dispatch, no
  * sequence array allocation. The pass records each code point's byte
  * offset once, with the same `numBytesForFirstByte` boundaries SQL
  * `substring` uses, then copies every n-code-point slice into its own
  * bytes, so results are identical to the lambda formulation on any valid
  * UTF-8 input and a string of L characters costs O(L·n). (A per-gram
  * `substringSQL` re-walks the code points from byte 0 up to the gram's
  * start on every call: O(L) per gram, O(L²) per string.) Strings shorter
  * than n yield an empty array; n must be a foldable positive integer.
  *
  * This is the hot kernel of the char-ngram text operators
  * (q_text_langid_ngram, the EvalOps classifier and ranking metrics).
  */
case class CharNgrams(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"char_ngrams expects (STRING, INT), got ${left.dataType.sql} as first argument")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("char_ngrams expects a foldable INT n")
    else if (right.eval() == null || right.eval().asInstanceOf[Int] <= 0)
      TypeCheckResult.TypeCheckFailure("char_ngrams: n must be a positive integer")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "char_ngrams"

  @transient private lazy val n: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(s: Any, nv: Any): Any =
    CharNgrams.grams(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = ${classOf[CharNgrams].getName}.grams($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharNgrams =
    copy(left = newLeft, right = newRight)
}

object CharNgrams {

  /** The one-pass kernel both evaluation paths call: the n-code-point
    * slices of `s` in order. `starts(k)` is the byte offset of code point
    * k and `starts(chars)` the end, so gram k is the bytes
    * [starts(k), starts(k + n)). */
  def grams(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.numBytes()
    val starts = new Array[Int](bytes + 1)
    var i = 0
    var chars = 0
    while (i < bytes) {
      starts(chars) = i
      i += UTF8String.numBytesForFirstByte(s.getByte(i))
      chars += 1
    }
    // a truncated trailing code point ends at the last byte, not past it
    starts(chars) = math.min(i, bytes)
    val out = new Array[Any](math.max(chars - n + 1, 0))
    var k = 0
    while (k < out.length) {
      out(k) = s.copyUTF8String(starts(k), starts(k + n) - 1)
      k += 1
    }
    new GenericArrayData(out)
  }
}
