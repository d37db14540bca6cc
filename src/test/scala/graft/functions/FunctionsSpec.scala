package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.ops.VectorOps

/** The native expressions must be drop-in replacements for the verified HOF
  * lowerings: bit-identical doubles, identical NULL semantics. */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def pairs = {
    val emb = TestSpark.table("embeddings")
    emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
  }

  test("cosine_sim is bit-identical to the HOF lowering on every pair") {
    val df = pairs.select(
      VectorOps.cosine(col("ea"), col("eb")).as("hof"),
      VectorOps.cosineNative(col("ea"), col("eb")).as("nat"))
    val diff = df.where("hof <> nat or (hof is null) <> (nat is null)").count()
    assert(diff == 0, s"$diff pairs diverge from the HOF lowering")
  }

  test("cosine_sim int8 arm is bit-identical to the HOF cosineInt8 incl. the NaN case") {
    // Code pairs over a bounded slice (all-pairs of the FULL table
    // recomputes the collapsed quantize expression inside every HOF pass
    // — minutes of interpreted array churn for no extra coverage), with
    // an all-zero code pair appended so the NaN arm is exercised even if
    // no fixture vector quantizes to zero. NaN <> NaN is false in SQL,
    // so the compare goes through NaN-normalizing keys. localCheckpoint
    // materializes the codes so both scorings read the SAME arrays.
    val emb = TestSpark.table("embeddings").where(col("vec_id") < 300)
    val zero = emb.limit(1).select(
      expr("transform(embedding, x -> cast(0 as float))").as("embedding"))
    val one = emb.select(col("embedding")).unionAll(zero)
    val q = one.select(VectorOps.quantizeInt8(col("embedding")).as("qa"))
      .crossJoin(one.select(VectorOps.quantizeInt8(col("embedding")).as("qb")))
      .localCheckpoint()
    val df = q.select(
      VectorOps.cosineInt8(col("qa"), col("qb")).as("hof"),
      VectorOps.cosineInt8Native(col("qa"), col("qb")).as("nat"))
    val bad = df.where(
      "nanvl(hof, -9) <> nanvl(nat, -9) or (hof is null) <> (nat is null) " +
        "or isnan(hof) <> isnan(nat)").count()
    assert(bad == 0, s"$bad int8 pairs diverge from the HOF lowering")
    assert(df.where("isnan(hof)").count() > 0, "the NaN (zero-code) arm never fired")
    // Mixed element types stay rejected.
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("select cosine_sim(array(cast(1 as tinyint)), array(cast(1 as float)))").collect()
    }
    assert(e.getMessage.contains("array<tinyint>"))
  }

  test("word_shingles ≡ the HOF lowering on the corpus and every separator edge case") {
    import spark.implicits._
    val corpus = TestSpark.table("documents").select(col("text"))
    val edges = Seq("", " ", "  ", "a", "a b", "a  b", " a b ", "a b c d e",
      "многа слов юникода тут", "one\ttab inside", "t " * 40).toDF("text")
    for (n <- Seq(1, 2, 3, 5)) {
      val bad = corpus.unionAll(edges).select(
          graft.ops.TextOps.wordShingles(col("text"), n).as("nat"),
          graft.ops.TextOps.wordShinglesHof(col("text"), n).as("hof"))
        .where(not(col("nat") <=> col("hof"))).count()
      assert(bad == 0, s"n=$n: native shingles diverge from the HOF lowering")
    }
    // NULL text: the HOF yields [""] (concat_ws swallows the null slice),
    // and TextOps.wordShingles reproduces it via coalesce — a null-text
    // doc flows through shingle-driven filters instead of vanishing into
    // a null predicate (the NullSafetySpec contract). The bare registered
    // function stays null-safe (null in, null out).
    val nulls = Seq((1, null: String)).toDF("i", "text").select(
      graft.ops.TextOps.wordShingles(col("text"), 3).as("nat"),
      graft.ops.TextOps.wordShinglesHof(col("text"), 3).as("hof"))
    assert(nulls.where(not(col("nat") <=> col("hof"))).count() == 0)
    assert(nulls.head().getSeq[String](0) == Seq(""))
    val r = spark.sql("select word_shingles(cast(null as string), 3) n").head()
    assert(r.isNullAt(0))
    // Non-positive widths are rejected at ANALYSIS time (TypeCheckFailure),
    // not as a per-row task-time RuntimeException.
    for (w <- Seq(0, -1)) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"select word_shingles('a b c', $w)").collect()
      }
      assert(e.getMessage.contains("width must be >= 1"), s"w=$w: ${e.getMessage}")
    }
    val en = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("select word_shingles('a b c', cast(null as int))").collect()
    }
    assert(en.getMessage.contains("must not be null"))
  }

  test("char_shingles ≡ the HOF lowering on the corpus and every width/encoding edge case") {
    import spark.implicits._
    val corpus = TestSpark.table("documents").select(col("text"))
    // "", shorter than n, exactly n, and 2-, 3- and 4-byte characters
    // (é, 日本, 😀) inside, at the ends and as the whole text.
    val edges = Seq(null, "", "a", "ab", "abc", "abcdef", "é", "éa", "aé",
      "日本語のテキスト", "x日y本z", "😀", "a😀b😀c", "😀😀😀😀😀😀",
      "mixé日😀 text with spaces", " ").toDF("text")
    for (n <- Seq(1, 3, 5)) {
      val df = corpus.unionAll(edges).select(
        graft.ops.TextOps.charShingles(col("text"), n).as("nat"),
        graft.ops.TextOps.charShinglesHof(col("text"), n).as("hof"))
      val bad = df.where(not(col("nat") <=> col("hof"))).count()
      assert(bad == 0, s"n=$n: native char shingles diverge from the HOF lowering")
    }
    // NULL text keeps the HOF's [NULL] (null shingles never equi-join);
    // the bare registered function is null-safe (null in, null out).
    val nulls = Seq((1, null: String)).toDF("i", "text")
      .select(graft.ops.TextOps.charShingles(col("text"), 3).as("nat")).head()
    assert(nulls.getSeq[String](0) == Seq(null))
    assert(spark.sql("select char_shingles(cast(null as string), 3) n").head().isNullAt(0))
    for (w <- Seq(0, -1)) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"select char_shingles('abc', $w)").collect()
      }
      assert(e.getMessage.contains("width must be >= 1"), s"w=$w: ${e.getMessage}")
    }
  }

  test("jaccard_sorted's merge walk and lang_classify's tie-break work under Spark's test mode") {
    // UTF8String.compareTo throws once `spark.testing` is set (and looks
    // the setting up on every call); both kernels order by binaryCompare.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: String*) = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    val m = LmModelCodec.serialize(3, -5.0, Seq("hel" -> -1.0, "ell" -> -1.0))
    val pack = LmModelCodec.serializePack(Seq("de" -> m, "en" -> m))
    val key = "spark.testing"
    val old = Option(System.getProperty(key))
    System.setProperty(key, "true")
    try {
      assert(JaccardSortedUtil.jaccard(arr("a", "b", "c", "é"), arr("b", "c", "d", "é")) == 0.6)
      // Two identical models tie on every text: the binary-larger lang wins.
      assert(NgramLmUtil.classify(pack, UTF8String.fromString("hello")).toString == "en")
    } finally old.fold(System.clearProperty(key))(System.setProperty(key, _))
  }

  test("dot_f32 is bit-identical to the HOF dot fold") {
    val df = pairs.select(
      VectorOps.dot(col("ea"), col("eb")).as("hof"),
      call_function("dot_f32", col("ea"), col("eb")).as("nat"))
    assert(df.where("hof <> nat or (hof is null) <> (nat is null)").count() == 0)
  }

  test("dot_prefix ≡ the bounded hyperplane-fold HOF incl. every edge shape") {
    val spark2 = spark
    import spark2.implicits._
    // The exact HOF spelling hyperplaneProj used before going native.
    def hof(vec: org.apache.spark.sql.Column, w: Array[Float], dims: Int) = {
      val wl = lit(w.map(_.toDouble))
      val bound = least(lit(dims), size(vec))
      when(bound < 1, lit(0.0)).otherwise(
        aggregate(sequence(lit(1), bound), lit(0.0),
          (acc, i) => acc + element_at(vec, i).cast("double") * element_at(wl, i)))
    }
    val w = Array(3f, -2f, 5f, 1f, -7f)
    // Shapes: shorter than the planes, equal, longer (prefix-bounded),
    // empty (0.0, not null), null element (poisons), null array.
    val vecs: Seq[Option[Seq[Option[Float]]]] = Seq(
      Some(Seq(Some(1f), Some(2f))),
      Some(Seq(Some(0.5f), Some(-1.5f), Some(2.5f), Some(4f), Some(-3f))),
      Some(Seq.empty),
      Some(Seq(Some(1f), None, Some(3f))),
      None)
    val df = vecs.toDF("v")
      .select(hof(col("v"), w, w.length).as("hof"),
        call_function("dot_prefix", col("v").cast("array<float>"),
          lit(w)).as("nat"))
    assert(df.where("hof <> nat or (hof is null) <> (nat is null)").count() == 0,
      df.collect().mkString(", "))
    // The longer-than-planes case needs dims < |vec| to bind: check
    // explicitly that both walk only the weight prefix.
    val long = Seq(Seq(1f, 1f, 1f, 1f, 1f, 100f, 100f)).toDF("v")
      .select(hof(col("v"), w, w.length).as("hof"),
        call_function("dot_prefix", col("v").cast("array<float>"), lit(w)).as("nat"))
      .head()
    assert(long.getDouble(0) == long.getDouble(1) && long.getDouble(0) == 0.0,
      s"prefix bound diverged: $long")
  }

  test("length mismatch and null elements yield NULL (HOF null-poisoning semantics)") {
    val r = spark.sql(
      """select
         cosine_sim(array(cast(1 as float)), array(cast(1 as float), cast(2 as float))) n1,
         dot_f32(array(cast(1 as float), cast(null as float)), array(cast(1 as float), cast(2 as float))) n2,
         cosine_sim(array(cast(3 as float)), array(cast(4 as float))) ok""").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("interpreted eval (nullSafeEval) matches codegen exactly") {
    // Force the non-codegen path; it is separate code from doGenCode and
    // must produce identical bits.
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val df = pairs.select(
        VectorOps.cosine(col("ea"), col("eb")).as("hof"),
        VectorOps.cosineNative(col("ea"), col("eb")).as("nat"))
      assert(df.where("hof <> nat or (hof is null) <> (nat is null)").count() == 0)
    } finally {
      conf.set("spark.sql.codegen.wholeStage", "true")
      conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("simhash16 expression equals the declared two-shuffle q56 lowering") {
    import graft.ops.{DedupOps, TextOps}
    val docs = TestSpark.table("documents")
    val viaExpr = docs.select(col("doc_id"),
        call_function("simhash16", TextOps.tokens(col("text"))).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaAgg = DedupOps.simhash(
        DedupOps.tokenSet(docs, col("doc_id"), col("text")), 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr == viaAgg)
  }

  test("simhash16 is a pure projection — no shuffle in the plan") {
    import graft.ops.TextOps
    val df = TestSpark.table("documents").select(
      call_function("simhash16", TextOps.tokens(col("text"))).as("s"))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("minhash_sig expression equals the aggregation-based signatures") {
    import graft.ops.{DedupOps, TextOps}
    val docs = TestSpark.table("documents")
    val viaExpr = docs.select(col("doc_id"),
        call_function("minhash_sig", TextOps.tokens(col("text")), lit(4)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val viaAgg = DedupOps.minhashSignatures(
        DedupOps.tokenSet(docs, col("doc_id"), col("text")), 4)
      .collect().map { r =>
        r.getLong(0) -> (1 to 4).map(i =>
          java.lang.Long.parseLong(r.getString(i), 16)).toVector
      }.toMap
    assert(viaExpr == viaAgg)
  }

  test("expression-based dedup keep-bits equal the aggregation-based decision") {
    import graft.ops.DedupOps
    val docs = TestSpark.table("documents")
    val slow = DedupOps.minhashDedupKeep(
        DedupOps.tokenSet(docs, col("doc_id"), col("text")), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val fast = DedupOps.minhashDedupKeepFast(docs, col("doc_id"), col("text"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(fast == slow)
  }

  test("zero-norm and empty vectors: native matches the HOF arithmetic (NaN, not error)") {
    // 0/0 must surface as NaN in BOTH paths — a pipeline thresholding on
    // `sim >= t` then drops such rows, which is the intended semantics for
    // degenerate embeddings. (Spark SQL treats NaN = NaN as true, so the
    // equality predicate is meaningful here.)
    val df = spark.sql(
      """select * from values
           (array(cast(0 as float), cast(0 as float)), array(cast(1 as float), cast(2 as float))),
           (cast(array() as array<float>), cast(array() as array<float>)),
           (array(cast(3 as float)), array(cast(0 as float)))
         as t(a, b)""")
    val r = df.select(
      VectorOps.cosine(col("a"), col("b")).as("hof"),
      VectorOps.cosineNative(col("a"), col("b")).as("nat"),
      VectorOps.dot(col("a"), col("b")).as("dhof"),
      call_function("dot_f32", col("a"), col("b")).as("dnat"))
    assert(r.where("hof <> nat or (hof is null) <> (nat is null)").count() == 0)
    assert(r.where("dhof <> dnat").count() == 0)
    val rows = r.collect()
    assert(rows.forall(x => x.getDouble(0).isNaN == x.getDouble(1).isNaN))
    assert(rows.count(_.getDouble(1).isNaN) == 3) // zero norm on one side each
    assert(rows.forall(_.getDouble(3) == 0.0))    // dot of/with zero mass
  }

  test("simhash16/minhash_sig on empty or all-null token arrays are defined") {
    // An empty doc fingerprints to 0 / all-MaxValue sentinels rather than
    // erroring; a NULL array propagates NULL. (The agg lowerings simply drop
    // such docs at the explode, so the projection form must pin its own
    // semantics.)
    val r = spark.sql(
      """select
           simhash16(cast(array() as array<string>)) s_empty,
           simhash16(array(cast(null as string))) s_nulltok,
           simhash16(cast(null as array<string>)) s_null,
           minhash_sig(cast(array() as array<string>), 3) m_empty,
           minhash_sig(cast(null as array<string>), 3) m_null""").head()
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == 0L)
    assert(r.isNullAt(2))
    assert(r.getSeq[Long](3) == Seq.fill(3)(Long.MaxValue))
    assert(r.isNullAt(4))
  }

  test("type checking rejects non-float-array inputs with a clear error") {
    val e = intercept[Exception] {
      spark.sql("select cosine_sim(array(1.0, 2.0), array(1.0, 2.0))").collect()
    }
    assert(e.getMessage.contains("array<float>"), e.getMessage)
  }

  test("functions are SQL-registered through the extension seam") {
    val r = spark.sql(
      "select min(cosine_sim(embedding, embedding)) s from embeddings").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-6)
  }
}
