package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's Catalyst extension seam (SURVEY.md §4.3): native functions
  * registered into the session's FunctionRegistry so they are callable from
  * SQL (`cosine_sim(a, b)`) and the Column API
  * (`call_function("cosine_sim", a, b)`).
  *
  * Wired by `graft.engine.Graft.session` via `builder.withExtensions`; an
  * external session can opt in with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.inject(ext)
    // Portable-SQL acceleration: the HOF cosine/dot lowerings rewrite to
    // the native fused expressions (bit-identical; NativeVectorRewriteSpec).
    ext.injectOptimizerRule(_ => NativeVectorRewrite)
  }
}

object GraftFunctions {

  private def info(clazz: Class[_], name: String, usage: String) =
    new ExpressionInfo(clazz.getName, null, name, usage, "", "", "", "", "", "", "built-in")

  /** Clean wrong-number-of-arguments failure instead of an
    * IndexOutOfBoundsException surfacing as an internal error. */
  private def checkArity(name: String, n: Int, e: Seq[Expression]): Unit =
    if (e.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${e.length}")

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      info(classOf[CosineSimilarity], "cosine_sim",
        "cosine_sim(a, b) - single-pass cosine similarity of two float arrays in double precision"),
      (e: Seq[Expression]) => { checkArity("cosine_sim", 2, e); CosineSimilarity(e.head, e(1)) }),
    (FunctionIdentifier("dot_f32"),
      info(classOf[DotProduct], "dot_f32",
        "dot_f32(a, b) - dot product of two float arrays in double precision"),
      (e: Seq[Expression]) => { checkArity("dot_f32", 2, e); DotProduct(e.head, e(1)) }),
    (FunctionIdentifier("dot_prefix"),
      info(classOf[DotPrefix], "dot_prefix",
        "dot_prefix(a, b) - dot product over the common prefix of two float arrays (0.0 when empty)"),
      (e: Seq[Expression]) => { checkArity("dot_prefix", 2, e); DotPrefix(e.head, e(1)) }),
    (FunctionIdentifier("simhash16"),
      info(classOf[SimHash16], "simhash16",
        "simhash16(tokens) - 16-bit SimHash of a token array, one pass per row"),
      (e: Seq[Expression]) => { checkArity("simhash16", 1, e); SimHash16(e.head) }),
    (FunctionIdentifier("minhash_sig"),
      info(classOf[MinHashSig], "minhash_sig",
        "minhash_sig(tokens, k) - k-permutation MinHash signature, one pass per row"),
      (e: Seq[Expression]) => { checkArity("minhash_sig", 2, e); MinHashSig(e.head, e(1)) }),
    (FunctionIdentifier("bloom_might_contain"),
      info(classOf[BloomMightContain], "bloom_might_contain",
        "bloom_might_contain(sketch, key) - membership probe against a serialized Bloom filter (no false negatives)"),
      (e: Seq[Expression]) => { checkArity("bloom_might_contain", 2, e); BloomMightContain(e.head, e(1)) }),
    (FunctionIdentifier("cms_estimate"),
      info(classOf[CmsEstimateCount], "cms_estimate",
        "cms_estimate(sketch, key) - count-min frequency upper bound for a key"),
      (e: Seq[Expression]) => { checkArity("cms_estimate", 2, e); CmsEstimateCount(e.head, e(1)) }),
    (FunctionIdentifier("lm_score"),
      info(classOf[NgramLmScore], "lm_score",
        "lm_score(model, text) - struct(score, oov_rate, n_grams) under a frozen char-n-gram LM, one pass per row"),
      (e: Seq[Expression]) => { checkArity("lm_score", 2, e); NgramLmScore(e.head, e(1)) }),
    (FunctionIdentifier("lang_classify"),
      info(classOf[LangClassify], "lang_classify",
        "lang_classify(pack, text) - argmax language under a pack of frozen char-n-gram LMs, one text walk per gram width"),
      (e: Seq[Expression]) => { checkArity("lang_classify", 2, e); LangClassify(e.head, e(1)) }),
    (FunctionIdentifier("word_shingles"),
      info(classOf[WordShingles], "word_shingles",
        "word_shingles(text, n) - word n-gram shingles as zero-copy substrings, one byte walk per row"),
      (e: Seq[Expression]) => { checkArity("word_shingles", 2, e); WordShingles(e.head, e(1)) }),
    (FunctionIdentifier("char_shingles"),
      info(classOf[CharShingles], "char_shingles",
        "char_shingles(text, n) - character n-gram shingles, one byte walk per row"),
      (e: Seq[Expression]) => { checkArity("char_shingles", 2, e); CharShingles(e.head, e(1)) }),
    (FunctionIdentifier("jaccard_sorted"),
      info(classOf[JaccardSorted], "jaccard_sorted",
        "jaccard_sorted(a, b) - exact Jaccard of two sorted-distinct string arrays, one merge walk per pair"),
      (e: Seq[Expression]) => { checkArity("jaccard_sorted", 2, e); JaccardSorted(e.head, e(1)) }),
  )

  def inject(ext: SparkSessionExtensions): Unit = all.foreach(ext.injectFunction)

  /** Fallback for sessions NOT built through graft.engine.Graft (no
    * extension hook ran): register the native functions directly into the
    * session's FunctionRegistry. The registry is session-internal, so this
    * goes through reflection; a non-fatal failure downgrades the session to
    * the HOF lowerings with a WARNING naming the missing functions (so a
    * later 'undefined function cosine_sim' has a visible cause), and fatal
    * VM errors propagate. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    // Existence is checked PER FUNCTION and failures are per-function too:
    // gating everything on one sentinel would make a partial failure
    // permanent (sentinel registered → later calls skip → the functions
    // that failed stay unregistered forever), and a single warning would
    // misname the working ones.
    val missing = all.filterNot { case (id, _, _) =>
      spark.catalog.functionExists(id.funcName)
    }
    if (missing.nonEmpty) {
      val failed = scala.collection.mutable.ListBuffer.empty[String]
      try {
        val ss = spark.getClass.getMethod("sessionState").invoke(spark)
        val fr = ss.getClass.getMethod("functionRegistry").invoke(ss)
        // Two 3-arg registerFunction overloads exist (…, ExpressionInfo,
        // builder) and (…, builder, String source); getMethods() order is
        // unspecified, so pin the second parameter type or a JVM could
        // hand back the wrong one and fail every registration.
        val m = fr.getClass.getMethods.find { mm =>
          mm.getName == "registerFunction" && mm.getParameterCount == 3 &&
            mm.getParameterTypes()(0) == classOf[FunctionIdentifier] &&
            mm.getParameterTypes()(1) == classOf[ExpressionInfo]
        }.getOrElse(throw new NoSuchMethodException("FunctionRegistry.registerFunction/3"))
        missing.foreach { case (id, inf, builder) =>
          try m.invoke(fr, id, inf, builder)
          catch { case scala.util.control.NonFatal(_) => failed += id.funcName }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed ++= missing.map(_._1.funcName).filterNot(failed.contains)
          System.err.println(
            s"WARN graft: native function registration failed (${e.getClass.getSimpleName}: ${e.getMessage})")
      }
      if (failed.nonEmpty)
        System.err.println(
          s"WARN graft: ${failed.mkString(", ")} could not be registered on this " +
            "session; queries using them will fail to resolve (HOF lowerings still work)")
    }
  }
}
