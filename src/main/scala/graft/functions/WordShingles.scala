package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles of a text column in ONE pass per row.
  *
  * Value-identical to the declared HOF lowering
  * (`transform(sequence(1, greatest(size(split(text,' '))-n+1, 1)),
  * i -> concat_ws(' ', slice(split(text,' '), i, n)))`) — same
  * single-space split keeping empty tokens, same at-least-one-shingle
  * floor, same short-tail join — but exploiting that tokens are
  * space-joined BY THE SAME SEPARATOR the shingle re-joins with: every
  * shingle is a byte-range SUBSTRING of the input, so the pass walks
  * the UTF-8 bytes once for token boundaries (0x20 never occurs inside
  * a multi-byte sequence) and emits zero-copy slices — no token array,
  * no per-shingle slice/concat allocations. Round-10 shingle-generation
  * fix (SURVEY §6):
  * the bloom-semijoin bench extra was 100% shingle-generation-bound
  * (1.8 s of HOF churn over a 0.22 s split).
  */
case class WordShingles(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) if right.foldable =>
        // Width is foldable: reject non-positive values HERE, at analysis
        // time, instead of a generic task-time RuntimeException per row.
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
    new GenericArrayData(WordShinglesUtil.shingles(
      text.asInstanceOf[UTF8String], n.asInstanceOf[Int]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.WordShinglesUtil.shingles($t, $n))")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): WordShingles =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "word_shingles"
}

object WordShinglesUtil {
  /** One byte walk: token boundaries at 0x20, shingle i = the substring
    * from token i's start to token min(i+n−1, T−1)'s end. Matches
    * `split(text, " ")` semantics exactly — consecutive separators yield
    * empty tokens, trailing separators a trailing empty token, "" one
    * empty token. */
  def shingles(text: UTF8String, n: Int): Array[UTF8String] = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val bytes = text.getBytes
    val len = bytes.length
    var spaces = 0
    var i = 0
    while (i < len) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val t = spaces + 1
    val starts = new Array[Int](t)
    val ends = new Array[Int](t)
    var ti = 0
    starts(0) = 0
    i = 0
    while (i < len) {
      if (bytes(i) == 0x20) { ends(ti) = i; ti += 1; starts(ti) = i + 1 }
      i += 1
    }
    ends(ti) = len
    val count = math.max(t - n + 1, 1)
    val out = new Array[UTF8String](count)
    var s = 0
    while (s < count) {
      val endTok = math.min(s + n - 1, t - 1)
      out(s) = UTF8String.fromBytes(bytes, starts(s), ends(endTok) - starts(s))
      s += 1
    }
    out
  }
}
