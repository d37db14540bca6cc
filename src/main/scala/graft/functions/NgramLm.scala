package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Scan-speed scoring under a FROZEN char-n-gram LM
  * (`graft.ops.TextOps.ngramModel`): `lm_score(model_bytes, text)` returns
  * `struct(score, oov_rate, n_grams)` — the same numbers as the
  * explode+broadcast-join+agg lowering (`TextOps.ngramScore`), computed in
  * ONE pass per row with no join and no aggregation, or NULL when the text
  * is null or shorter than one full gram (no evidence — the relational
  * form omits such docs for the same reason).
  *
  * Why an expression: the streaming LM gate must be STATELESS (a streaming
  * aggregation is a state-store operator; per-batch re-aggregation breaks
  * the zero-state contract), and a map-literal lookup is a linear scan per
  * gram (`GetMapValue` has no index). The model arrives as a foldable
  * BINARY literal ([[LmModelCodec.serialize]], built driver-side from the
  * bounded-vocabulary model artifact — the same plan-time fold as the
  * Bloom contamination filter), ships once per stage through the broadcast
  * task binary, and deserializes once per task ([[LmModelCache]], the
  * SketchCache discipline).
  *
  * Numeric parity with `ngramScore` is by construction: a document's
  * exploded grams stay contiguous in one map partition, so the batch avg
  * accumulates them as one sequential partial in gram order — exactly this
  * expression's left-to-right fold (StreamLmSpec pins bitwise equality).
  */
case class NgramLmScore(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, left.foldable, right.dataType) match {
      case (BinaryType, true, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, f, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (foldable binary model, string text), " +
          s"got (${l.catalogString}, foldable=$f, ${r.catalogString})")
    }

  override def dataType: DataType = NgramLmScore.outputType
  override def nullable: Boolean = true

  override protected def nullSafeEval(model: Any, text: Any): Any =
    NgramLmUtil.score(model.asInstanceOf[Array[Byte]], text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (m, t) => s"""
      ${ev.value} = graft.functions.NgramLmUtil.score($m, $t);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NgramLmScore =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lm_score"
}

object NgramLmScore {
  val outputType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("oov_rate", DoubleType, nullable = false),
    StructField("n_grams", LongType, nullable = false)))
}

/** Fused model-based language ID: `lang_classify(pack_bytes, text)` scores
  * the text under every model in the pack ([[LmModelCodec.serializePack]])
  * and returns the argmax language — ONE text walk per distinct gram width
  * instead of the composed lowering's k independent `lm_score` scans
  * (measured ~k× the single-gate cost at k models; the gram hashing and
  * code-point offsets are all shared here). Exactly the composed
  * `greatest(struct(lm_score(m_i).score, lang_i))` semantics
  * (TextOpsEdgeSpec pins equality): null/too-short-for-every-model text
  * classifies NULL, score ties break to the UTF8-binary-larger lang. */
case class LangClassify(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, left.foldable, right.dataType) match {
      case (BinaryType, true, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, f, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (foldable binary pack, string text), " +
          s"got (${l.catalogString}, foldable=$f, ${r.catalogString})")
    }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override protected def nullSafeEval(pack: Any, text: Any): Any =
    NgramLmUtil.classify(pack.asInstanceOf[Array[Byte]], text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (p, t) => s"""
      ${ev.value} = graft.functions.NgramLmUtil.classify($p, $t);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LangClassify =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lang_classify"
}

/** A deserialized frozen LM: gram width, OOV floor log-prob, and the
  * vocabulary in an ALLOCATION-FREE open-addressing table. The scorer
  * probes with the text window's position + polynomial hash (the
  * `String.hashCode` polynomial, so stored grams pre-hash via their own
  * hashCode) and verifies chars in place on a hit — per-gram lookup
  * allocates NOTHING (a HashMap<String> forced one substring per gram;
  * at ~10M grams/pass the allocation+GC cost dominated the scan). Exact
  * by construction: a hash hit is confirmed char-by-char, never
  * trusted. */
final class LmModel(val n: Int, val floorLogp: Double,
                    vocab: Seq[(String, Double)]) extends Serializable {
  private val mask = {
    var cap = 4
    while (cap < vocab.size * 2 + 1) cap <<= 1
    cap - 1
  }
  private val grams = new Array[String](vocab.size)
  private val logps = new Array[Double](vocab.size)
  private val hashes = new Array[Int](vocab.size)
  // table holds gram-index + 1; 0 = empty slot. Load factor <= 0.5.
  private val table = new Array[Int](mask + 1)
  vocab.zipWithIndex.foreach { case ((g, lp), idx) =>
    grams(idx) = g; logps(idx) = lp; hashes(idx) = g.hashCode
    var i = g.hashCode & mask
    while (table(i) != 0) {
      require(grams(table(i) - 1) != g, s"duplicate gram in model: $g")
      i = (i + 1) & mask
    }
    table(i) = idx + 1
  }

  /** Log-prob of the text window [st, en) or NaN when out-of-vocabulary
    * (log-probs are finite negatives, so NaN is a safe miss sentinel). */
  def lookup(s: String, st: Int, en: Int, h: Int): Double = {
    var i = h & mask
    var e = table(i)
    while (e != 0) {
      val g = e - 1
      if (hashes(g) == h) {
        val gs = grams(g)
        if (gs.length == en - st) {
          var k = 0
          while (k < gs.length && gs.charAt(k) == s.charAt(st + k)) k += 1
          if (k == gs.length) return logps(g)
        }
      }
      i = (i + 1) & mask
      e = table(i)
    }
    Double.NaN
  }
}

/** Byte image of an [[LmModel]] — a versioned little format of our own
  * (magic, n, floor, vocab) so the literal is self-contained and the
  * reader can fail loud on foreign bytes. */
object LmModelCodec {
  private val Magic = 0x4c4d3147 // "LM1G"

  def serialize(n: Int, floorLogp: Double, vocab: Seq[(String, Double)]): Array[Byte] = {
    require(n > 0, s"gram width must be positive, got $n")
    require(vocab.size < (1 << 24),
      s"vocabulary of ${vocab.size} grams is not a bounded model artifact — " +
        "raise ngramModel's minCount")
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(Magic); out.writeInt(n); out.writeDouble(floorLogp)
    out.writeInt(vocab.size)
    vocab.foreach { case (g, lp) => out.writeUTF(g); out.writeDouble(lp) }
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): LmModel = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not an lm_score model image")
    val n = in.readInt(); val floor = in.readDouble(); val size = in.readInt()
    val vocab = Seq.newBuilder[(String, Double)]
    var i = 0
    while (i < size) { vocab += ((in.readUTF(), in.readDouble())); i += 1 }
    new LmModel(n, floor, vocab.result())
  }

  private val PackMagic = 0x4c4d504b // "LMPK"

  /** Byte image of a LANGUAGE PACK: (lang, model image) entries in caller
    * order. The pack is what `lang_classify` folds into its plan-time
    * literal — one literal for k models, so the classifier walks the text
    * ONCE instead of once per language. */
  def serializePack(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    require(entries.nonEmpty, "empty language pack")
    require(entries.map(_._1).distinct.size == entries.size,
      "duplicate language in pack")
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(PackMagic); out.writeInt(entries.size)
    entries.foreach { case (lang, model) =>
      out.writeUTF(lang); out.writeInt(model.length); out.write(model)
    }
    out.flush()
    bos.toByteArray
  }

  def deserializePack(bytes: Array[Byte]): LangPack = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    require(in.readInt() == PackMagic, "not a lang_classify pack image")
    val k = in.readInt()
    require(k > 0 && k < (1 << 16), s"implausible pack size $k")
    val langs = new Array[String](k)
    val models = new Array[LmModel](k)
    var i = 0
    while (i < k) {
      langs(i) = in.readUTF()
      val len = in.readInt()
      val mb = new Array[Byte](len)
      in.readFully(mb)
      // Route through the shared content-keyed cache so the pack's models
      // are the SAME instances a single-model lm_score over the same
      // bytes would use (at most one LmModel per distinct model image).
      models(i) = NgramLmUtil.sharedModel(mb)
      i += 1
    }
    new LangPack(langs, models)
  }
}

/** A resolved language pack: parallel lang/model arrays plus the models
  * grouped by gram width so the classifier walks each distinct width's
  * gram windows exactly once (models usually share one width — then the
  * whole pack costs ONE text walk with k hash probes per gram). Lang
  * comparison is UTF8String binary order — the exact tie-break the
  * composed `greatest(struct(score, lang))` lowering applies. */
final class LangPack(val langs: Array[String], val models: Array[LmModel]) {
  val langsUtf8: Array[UTF8String] = langs.map(UTF8String.fromString)
  // Distinct gram widths and, per width, the indices of its models.
  val widths: Array[Int] = models.map(_.n).distinct.sorted
  val byWidth: Array[Array[Int]] =
    widths.map(n => models.indices.filter(i => models(i).n == n).toArray)
}

/** Per-JVM model cache + the row-side scorer (shared by eval and codegen
  * so the two paths cannot diverge). Same two-level scheme as SketchCache:
  * a ThreadLocal last-hit memo (the hot path — one model per stage, two
  * identity reads, no lock) over a synchronized weak identity map. */
object NgramLmUtil {

  /** Content key: value-equal byte-image wrapper, so at most ONE LmModel
    * exists per distinct model regardless of how many literal copies the
    * tasks deserialize (every task gets a fresh Array[Byte] identity from
    * the broadcast task binary — an identity-keyed map grows O(tasks)). */
  private final class ModelKey(val bytes: Array[Byte]) {
    private val h = java.util.Arrays.hashCode(bytes)
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case k: ModelKey => (k eq this) || java.util.Arrays.equals(bytes, k.bytes)
      case _ => false
    }
  }

  // Hard cap on distinct cached models; crossing it clears the map (a
  // degenerate workload re-deserializes rather than OOMs). Plain HashMap
  // under its own lock — weak keys are pointless once the per-thread memo
  // holds strong byte refs, and were the original leak's accomplice.
  private val MaxSharedModels = 64
  private val models = new java.util.HashMap[ModelKey, LmModel]()

  // Per-thread FIXED-SLOT last-hit memo with round-robin replacement (a
  // k-entry generalization of SketchCache's single pair): langClassify
  // scores each row under k models in turn, so one slot would miss every
  // call and serialize the scan on the shared lock, while an unbounded
  // per-thread map pins one byte image + model per TASK on reused
  // executor threads (threads outlive tasks; measured leak, round 9).
  // Slots bounds per-thread pinning at MemoSlots strong refs, replaced
  // as new literals arrive.
  private val MemoSlots = 16
  private final class Memo {
    val keys = new Array[Array[Byte]](MemoSlots)
    val vals = new Array[LmModel](MemoSlots)
    var next = 0
  }
  private val local = new ThreadLocal[Memo] {
    override def initialValue() = new Memo
  }

  private def model(bytes: Array[Byte]): LmModel = {
    val memo = local.get()
    var i = 0
    while (i < MemoSlots) {
      if (memo.keys(i) eq bytes) return memo.vals(i)
      i += 1
    }
    val m = sharedModel(bytes)
    val slot = memo.next
    memo.keys(slot) = bytes
    memo.vals(slot) = m
    memo.next = (slot + 1) % MemoSlots
    m
  }

  /** Content-keyed shared lookup (no per-thread memo) — the pack
    * deserializer resolves its entries through this so a pack's models
    * are shared with single-model `lm_score` literals of the same
    * bytes. */
  private[functions] def sharedModel(bytes: Array[Byte]): LmModel = {
    val key = new ModelKey(bytes)
    models.synchronized {
      var m = models.get(key)
      if (m == null) {
        m = LmModelCodec.deserialize(bytes)
        if (models.size >= MaxSharedModels) models.clear()
        models.put(key, m)
      }
      m
    }
  }

  // Pack cache: same two-level scheme as the model cache (per-thread
  // identity memo over a content-keyed shared map). A classify scan sees
  // ONE pack literal per stage, so the single-slot-per-entry memo hits on
  // two identity reads; the shared map bounds distinct packs like
  // MaxSharedModels bounds models.
  private val packs = new java.util.HashMap[ModelKey, LangPack]()
  private final class PackMemo {
    val keys = new Array[Array[Byte]](MemoSlots)
    val vals = new Array[LangPack](MemoSlots)
    var next = 0
  }
  private val localPacks = new ThreadLocal[PackMemo] {
    override def initialValue() = new PackMemo
  }

  private def pack(bytes: Array[Byte]): LangPack = {
    val memo = localPacks.get()
    var i = 0
    while (i < MemoSlots) {
      if (memo.keys(i) eq bytes) return memo.vals(i)
      i += 1
    }
    val key = new ModelKey(bytes)
    var p: LangPack = null
    packs.synchronized {
      p = packs.get(key)
      if (p == null) {
        p = LmModelCodec.deserializePack(bytes)
        if (packs.size >= MaxSharedModels) packs.clear()
        packs.put(key, p)
      }
    }
    val slot = memo.next
    memo.keys(slot) = bytes
    memo.vals(slot) = p
    memo.next = (slot + 1) % MemoSlots
    p
  }

  /** One pass over the text's CODE-POINT n-gram windows (the same grams as
    * `substr`-based charShingles — SQL substring counts code points):
    * mean log-prob with the OOV floor, OOV fraction, gram count. Null when
    * the text holds fewer than n code points. */
  def score(modelBytes: Array[Byte], text: UTF8String): InternalRow = {
    val m = model(modelBytes)
    val s = text.toString
    val n = m.n
    val chars = s.length
    // Code-point start offsets (UTF-16 indices); cpCount = #code points.
    val offs = new Array[Int](chars + 1)
    var cp = 0; var i = 0
    while (i < chars) { offs(cp) = i; i += Character.charCount(s.codePointAt(i)); cp += 1 }
    offs(cp) = chars
    if (cp < n) return null
    val grams = cp - n + 1
    var sum = 0.0; var oov = 0L; var g = 0
    while (g < grams) {
      val st = offs(g); val en = offs(g + n)
      // String.hashCode polynomial over the window — no substring
      // allocation; the model's stored grams pre-hash identically.
      var h = 0; var j = st
      while (j < en) { h = 31 * h + s.charAt(j); j += 1 }
      val lp = m.lookup(s, st, en, h)
      if (java.lang.Double.isNaN(lp)) { sum += m.floorLogp; oov += 1L }
      else sum += lp
      g += 1
    }
    new GenericInternalRow(Array[Any](
      sum / grams.toDouble, oov.toDouble / grams.toDouble, grams.toLong))
  }

  /** Fused argmax-language classifier: ONE pass over the text per distinct
    * gram width in the pack (usually one), probing every model of that
    * width per gram window — versus k full `lm_score` walks (k code-point
    * scans, k gram hashings) in the composed
    * `greatest(struct(lm_score(m_i), lang_i))` lowering. Result semantics
    * are EXACTLY the composed form's: best (score, lang) wins with
    * score-equal ties broken to the UTF8-binary-larger lang (struct
    * ordering), models that cannot score (text shorter than their width)
    * never win, and no scoreable model ⇒ NULL. */
  def classify(packBytes: Array[Byte], text: UTF8String): UTF8String = {
    val p = pack(packBytes)
    val s = text.toString
    val chars = s.length
    val offs = new Array[Int](chars + 1)
    var cp = 0; var i = 0
    while (i < chars) { offs(cp) = i; i += Character.charCount(s.codePointAt(i)); cp += 1 }
    offs(cp) = chars
    var bestScore = 0.0
    var bestLang: UTF8String = null
    var w = 0
    while (w < p.widths.length) {
      val n = p.widths(w)
      if (cp >= n) {
        val idx = p.byWidth(w)
        val k = idx.length
        val sums = new Array[Double](k)
        val grams = cp - n + 1
        var g = 0
        while (g < grams) {
          val st = offs(g); val en = offs(g + n)
          var h = 0; var j = st
          while (j < en) { h = 31 * h + s.charAt(j); j += 1 }
          var m = 0
          while (m < k) {
            val mod = p.models(idx(m))
            val lp = mod.lookup(s, st, en, h)
            sums(m) += (if (java.lang.Double.isNaN(lp)) mod.floorLogp else lp)
            m += 1
          }
          g += 1
        }
        var m = 0
        while (m < k) {
          val score = sums(m) / grams.toDouble
          val lang = p.langsUtf8(idx(m))
          if (bestLang == null || score > bestScore ||
              (score == bestScore && lang.binaryCompare(bestLang) > 0)) {
            bestScore = score; bestLang = lang
          }
          m += 1
        }
      }
      w += 1
    }
    bestLang
  }
}
