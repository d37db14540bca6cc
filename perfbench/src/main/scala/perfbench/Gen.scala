package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. The same seed always gives the same inputs;
  * graft only ever sees what these produce. */
object Gen {

  /** graft's language gate counts these (TextOps.defaultStopwords). */
  val stopwords: Vector[String] = Vector("the", "a", "of", "and", "to", "in", "is", "it")

  private val consonants = "bcdfglmnprstv"
  private val vowels = "aeiou"

  /** `n` distinct pronounceable words of 2-4 consonant-vowel syllables. A
    * small character alphabet gives real text a tight char-trigram model,
    * which the LM gate needs to tell it apart from gibberish. */
  def vocabulary(rng: Random, n: Int): Vector[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val syl = 2 + rng.nextInt(3)
      out += (0 until syl).map(_ =>
        s"${consonants(rng.nextInt(consonants.length))}${vowels(rng.nextInt(vowels.length))}").mkString
    }
    out.toVector
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Text model: Zipf vocabulary with a fixed stopword share. */
  final class Language(seed: Long, vocabSize: Int = 6000, stopShare: Double = 0.15) {
    private val rng0 = new Random(seed ^ 0x5eedL)
    val words: Vector[String] = vocabulary(rng0, vocabSize)
    private val zipf = new Zipf(vocabSize, 1.0)
    def word(rng: Random): String =
      if (rng.nextDouble() < stopShare) stopwords(rng.nextInt(stopwords.length))
      else words(zipf.sample(rng))
    def doc(rng: Random, minLen: Int = 70, maxLen: Int = 140): Vector[String] =
      Vector.fill(minLen + rng.nextInt(maxLen - minLen + 1))(word(rng))
    /** Replace each token with probability `rate` (a near-dup copy). */
    def edit(rng: Random, toks: Vector[String], rate: Double): Vector[String] =
      toks.map(t => if (rng.nextDouble() < rate) word(rng) else t)
    /** A paraphrase: same words in shuffled order, a few replaced. */
    def paraphrase(rng: Random, toks: Vector[String], rate: Double): Vector[String] =
      edit(rng, rng.shuffle(toks), rate)
  }

  /** Text no model of the corpus has seen: upper-case letters and digits,
    * with stopwords mixed in so it still passes the language gate. */
  def gibberish(rng: Random, len: Int): Vector[String] = {
    val chars = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    Vector.fill(len) {
      if (rng.nextDouble() < 0.15) stopwords(rng.nextInt(stopwords.length))
      else (0 until 3 + rng.nextInt(6)).map(_ => chars(rng.nextInt(chars.length))).mkString
    }
  }

  /** A web-like corpus with planted near-duplicates, gibberish pages and a
    * paraphrased eval slice.
    *
    * @param docs          (doc_id, text), ids 0 until docs.size in shuffled order
    * @param planted       (original, copy) id pairs, copies edited at `editRate`
    * @param contaminated  ids whose paraphrase is in `eval`
    * @param gibberishIds  ids of the gibberish pages
    */
  final case class Corpus(docs: Vector[(Long, String)], planted: Vector[(Long, Long)],
                          eval: Vector[String], contaminated: Vector[Long],
                          gibberishIds: Vector[Long])

  def corpus(seed: Long, nBase: Int, dupShare: Double = 0.2, editRate: Double = 0.03,
             gibShare: Double = 0.03, nEval: Int = 20): Corpus = {
    val rng = new Random(seed)
    val lang = new Language(seed)
    val base = Vector.fill(nBase)(lang.doc(rng))
    val nDup = (nBase * dupShare).toInt
    val origs = rng.shuffle((0 until nBase).toVector).take(nDup)
    val copies = origs.map(o => lang.edit(rng, base(o), editRate))
    val gib = Vector.fill(math.max(1, (nBase * gibShare).toInt))(gibberish(rng, 60 + rng.nextInt(60)))
    val all = base ++ copies ++ gib
    // Shuffled ids: copies are neither always the larger nor the smaller id.
    val ids = rng.shuffle((0 until all.size).toVector).map(_.toLong)
    val planted = origs.zipWithIndex.map { case (o, i) => (ids(o), ids(nBase + i)) }
    val gibIds = gib.indices.map(i => ids(nBase + nDup + i)).toVector
    val origSet = origs.toSet
    val clean = (0 until nBase).filterNot(origSet).toVector
    val sources = rng.shuffle(clean).take(nEval / 2)
    val eval = sources.map(s => lang.paraphrase(rng, base(s), 0.02).mkString(" ")) ++
      Vector.fill(nEval - sources.size)(lang.doc(rng).mkString(" "))
    Corpus(all.indices.map(i => ids(i) -> all(i).mkString(" ")).toVector.sortBy(_._1),
      planted, eval, sources.map(ids), gibIds)
  }

  /** Stream batch `j` of `size` documents with ids from `firstId`: fresh
    * pages, exact re-sends and near-dup edits of earlier pages. */
  def streamBatch(seed: Long, j: Int, size: Int, firstId: Long,
                  earlier: Long => String, nEarlier: Long): Vector[(Long, String)] = {
    val rng = new Random(seed * 1000003L + j)
    val lang = new Language(seed)
    Vector.tabulate(size) { i =>
      val r = rng.nextDouble()
      val text =
        if (r < 0.15) earlier((rng.nextDouble() * nEarlier).toLong)
        else if (r < 0.30) lang.edit(rng, earlier((rng.nextDouble() * nEarlier).toLong).split(" ").toVector, 0.03).mkString(" ")
        else lang.doc(rng).mkString(" ")
      (firstId + i, text)
    }
  }

  /** A directed power-law graph with string node ids plus a tail of small
    * components; returns (src, dst) edges. */
  def graph(seed: Long, nodes: Int, edges: Int, smallComponents: Int): Vector[(String, String)] = {
    val rng = new Random(seed)
    val perm = rng.shuffle((0 until nodes + smallComponents * 6).toVector)
    def name(i: Int) = f"n${perm(i)}%07d"
    val outZ = new Zipf(nodes, 0.8)
    val inZ = new Zipf(nodes, 1.1)
    val outPerm = rng.shuffle((0 until nodes).toVector)
    val inPerm = rng.shuffle((0 until nodes).toVector)
    val giant = Iterator.continually((outPerm(outZ.sample(rng)), inPerm(inZ.sample(rng))))
      .filter { case (s, d) => s != d }.take(edges).map { case (s, d) => (name(s), name(d)) }.toVector
    val small = (0 until smallComponents).flatMap { c =>
      val first = nodes + c * 6
      val size = 2 + rng.nextInt(5)
      (1 until size).map(k => (name(first + rng.nextInt(k)), name(first + k)))
    }
    giant ++ small
  }

  /** Driver-side union-find: min node id of each node's component. */
  def componentLabels(edges: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** Predicate constants of the SQL workload. */
  final case class SqlConstants(region: String, segment: String, shipCutoff: String,
                                jsonKey: String)

  def sqlConstants(seed: Long): SqlConstants = {
    val rng = new Random(seed ^ 0x5a1L)
    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val cutoff = java.time.LocalDate.of(1997, 1, 1).plusDays(rng.nextInt(1461).toLong)
    SqlConstants(regions(rng.nextInt(5)), segments(rng.nextInt(5)), cutoff.toString,
      Vector("k", "j", "m")(rng.nextInt(3)))
  }

  /** The ten tables graft's Catalog registers, at scale factor `sf` (row
    * counts of the TPC-H-like fixtures: lineitem = 6M × sf), written as
    * parquet under `dir/<table>.parquet`. Columns derive from a seeded
    * hash of the row id, so generation is parallel and deterministic. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(rows: Double) = math.max(5L, (rows * sf).toLong)
    def h(salt: Int) = s"xxhash64(id, $salt, ${seed}L)"
    def pick(salt: Int, vals: String*) =
      s"element_at(array(${vals.map(v => s"'$v'").mkString(",")}), cast(pmod(${h(salt)}, ${vals.size}) as int) + 1)"
    def day(expr: String, from: String) = s"cast(date_add(date '$from', cast($expr as int)) as timestamp_ntz)"
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000); val nOrd = n(1500000)
    def orderDate(key: String) = day(s"pmod(xxhash64($key, 20, ${seed}L), 2404)", "1995-01-01")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.sql(
        """select cast(id as int) r_regionkey,
          |element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id as int) + 1) r_name
          |from range(5)""".stripMargin),
      "nation" -> spark.sql(
        s"""select cast(id as int) n_nationkey, concat('NATION_', id) n_name,
           |cast(pmod(id + ${seed % 5}, 5) as int) n_regionkey from range(25)""".stripMargin),
      "customer" -> spark.sql(
        s"""select id + 1 c_custkey, concat('Customer#', lpad(cast(id + 1 as string), 9, '0')) c_name,
           |cast(pmod(${h(1)}, 25) as int) c_nationkey,
           |round(-999.99 + pmod(${h(2)}, 1099999) / 100.0, 2) c_acctbal,
           |${pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")} c_mktsegment
           |from range($nCust)""".stripMargin),
      "supplier" -> spark.sql(
        s"""select id + 1 s_suppkey, concat('Supplier#', lpad(cast(id + 1 as string), 9, '0')) s_name,
           |cast(pmod(${h(4)}, 25) as int) s_nationkey,
           |round(-999.99 + pmod(${h(5)}, 1099999) / 100.0, 2) s_acctbal
           |from range($nSupp)""".stripMargin),
      "part" -> spark.sql(
        s"""select id + 1 p_partkey, concat('part ', id) p_name,
           |concat('Brand#', pmod(${h(6)}, 25) + 1) p_brand,
           |${pick(7, "ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")} p_type,
           |cast(pmod(${h(8)}, 50) + 1 as int) p_size,
           |round(900 + pmod(${h(9)}, 110000) / 100.0, 2) p_retailprice
           |from range($nPart)""".stripMargin),
      "orders" -> spark.sql(
        s"""select id + 1 o_orderkey, pmod(${h(10)}, $nCust) + 1 o_custkey,
           |${pick(11, "F", "O", "P")} o_orderstatus,
           |round(1000 + pmod(${h(12)}, 49900000) / 100.0, 2) o_totalprice,
           |${orderDate("id + 1")} o_orderdate,
           |${pick(13, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")} o_orderpriority
           |from range($nOrd)""".stripMargin),
      "lineitem" -> spark.sql(
        s"""select l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           |round(l_quantity * (900 + pmod(${h(15)}, 110000) / 100.0) / 25.0, 2) l_extendedprice,
           |l_discount, l_tax, l_returnflag, l_linestatus,
           |l_shipdate
           |from (select id, div(id, 4) + 1 l_orderkey,
           |  pmod(${h(16)}, $nPart) + 1 l_partkey, pmod(${h(17)}, $nSupp) + 1 l_suppkey,
           |  cast(pmod(id, 4) + 1 as int) l_linenumber,
           |  cast(pmod(${h(18)}, 50) + 1 as double) l_quantity,
           |  pmod(${h(19)}, 11) / 100.0 l_discount, pmod(${h(21)}, 9) / 100.0 l_tax,
           |  ${pick(22, "A", "N", "R")} l_returnflag, ${pick(23, "F", "O")} l_linestatus,
           |  ${orderDate("div(id, 4) + 1")} + make_dt_interval(cast(pmod(${h(24)}, 121) + 1 as int)) l_shipdate
           |  from range(${nOrd * 4}))""".stripMargin),
      "events" -> spark.sql(
        s"""select id event_id,
           |cast(timestamp_seconds(1704067200 + pmod(${h(30)}, 2592000)) as timestamp_ntz) ts,
           |pmod(${h(31)}, 150) user_id,
           |${pick(32, "click", "error", "purchase", "signup", "view")} event_type,
           |round(0.01 + pmod(${h(33)}, 49000) / 100.0, 2) value,
           |concat('{"k": ', pmod(${h(34)}, 20), ', "j": ', pmod(${h(35)}, 35),
           |  ', "m": ', pmod(${h(36)}, 50), '}') props
           |from range(${n(1000000)})""".stripMargin),
      "documents" -> spark.sql(
        s"""select doc_id, text, lang, source, cast(length(text) as long) n_chars from (
           |select id doc_id,
           |concat_ws(' ', transform(sequence(1, cast(8 + pmod(${h(40)}, 60) as int)),
           |  i -> element_at(array('spark','join','hash','table','scan','merge','window','batch',
           |    'stream','key','value','row','column','sort','group','agg','filter','query','data',
           |    'part','line','order','customer','fast','slow','big','small','vector','the','a','of'),
           |    cast(pmod(xxhash64(id, i, ${seed}L), 31) as int) + 1))) text,
           |${pick(41, "de", "en", "es", "fr", "zh")} lang,
           |concat('src', pmod(${h(42)}, 10)) source
           |from range(${n(50000)}))""".stripMargin),
      "embeddings" -> spark.sql(
        s"""select id vec_id,
           |transform(sequence(0, 63), i -> cast((pmod(xxhash64(id, i, ${seed}L), 2001) - 1000) / 1000.0 as float)) embedding,
           |cast(pmod(${h(50)}, 10) as int) label
           |from range(${n(20000)})""".stripMargin))
    tables.foreach { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name.parquet") }
  }
}
