package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Character n-gram shingles of a text column in ONE byte walk per row.
  *
  * Value-identical to the declared HOF lowering
  * (`transform(sequence(1, greatest(length(text)-n+1, 1)),
  * i -> substr(text, i, n))`): one gram per start position, at least one
  * gram (the whole text, possibly "") when the text has fewer than `n`
  * characters. The HOF is O(L²) per row — every `substr` walks the UTF-8
  * bytes from the start of the string — where this pass finds each
  * character's byte offset once with `UTF8String.numBytesForFirstByte`,
  * the same rule `length` and `substr` count characters by, and emits each
  * gram as a slice between two offsets. The one divergence is on invalid
  * UTF-8: a truncated multi-byte sequence at the very end is clamped to the
  * string's bytes, where `substr` would copy past the end.
  */
case class CharShingles(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        right.eval() match {
          case null => TypeCheckResult.TypeCheckFailure(
            s"$prettyName shingle width must not be null")
          case n: Int if n < 1 => TypeCheckResult.TypeCheckFailure(
            s"$prettyName shingle width must be >= 1, got $n")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string, literal int n), got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(text: Any, n: Any): Any =
    new GenericArrayData(CharShinglesUtil.shingles(
      text.asInstanceOf[UTF8String], n.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.CharShinglesUtil.shingles($t, $n))")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CharShingles =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "char_shingles"
}

object CharShinglesUtil {
  /** Character start offsets in one byte walk, then gram g = the bytes from
    * character g's start to character min(g+n, L)'s start (the end of the
    * string for the last character). */
  def shingles(text: UTF8String, n: Int): Array[UTF8String] = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val bytes = text.getBytes
    val len = bytes.length
    val offs = new Array[Int](len + 1)
    var chars = 0
    var i = 0
    while (i < len) {
      offs(chars) = i
      chars += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    offs(chars) = len
    val count = math.max(chars - n + 1, 1)
    val out = new Array[UTF8String](count)
    var g = 0
    while (g < count) {
      val end = offs(math.min(g + n, chars))
      out(g) = UTF8String.fromBytes(bytes, offs(g), end - offs(g))
      g += 1
    }
    out
  }
}
