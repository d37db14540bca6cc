package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Exact Jaccard similarity of two SORTED-distinct string arrays in one
  * merge walk per pair.
  *
  * Value-identical to the compact verify's
  * `size(array_intersect(a,b)) / (size(a)+size(b)-i)` on sorted
  * duplicate-free inputs (the [[graft.ops.DedupOps.minhashLshDocs]]
  * contract: arrays come from `array_sort(array_distinct(...))`), but with
  * no per-pair hash-set build: `array_intersect` allocates and fills an
  * OpenHashSet for EVERY candidate pair, which at LSH-candidate volumes
  * (363k pairs / 1k docs on the dense sf0.1 corpus) is the dominant verify
  * cost. The merge walk does |A|+|B| binary UTF8String comparisons and
  * allocates nothing. The walk compares with `UTF8String.binaryCompare`,
  * the unsigned byte order that `array_sort` sorts UTF8_BINARY strings
  * by, so it is order-compatible by construction. (Not `compareTo`: in
  * Spark 4 that looks up `SPARK_TESTING`/`spark.testing` on every call
  * and throws when either is set.)
  *
  * Null elements sort last under `array_sort` and are ignored (a token SET
  * has no null member — `collect_set`/`array_distinct` of split output
  * never produces one); a pair of two empty sets yields NaN, the same
  * 0.0/0 double division the compact SQL form produces.
  */
case class JaccardSorted(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any =
    JaccardSortedUtil.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaccardSortedUtil.jaccard($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_sorted"
}

object JaccardSortedUtil {
  /** Merge-walk |A∩B| over sorted arrays; nulls (sorted last) excluded
    * from both the walk and the set sizes. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    var na = a.numElements()
    var nb = b.numElements()
    while (na > 0 && a.isNullAt(na - 1)) na -= 1
    while (nb > 0 && b.isNullAt(nb - 1)) nb -= 1
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) Double.NaN else inter.toDouble / union
  }
}
