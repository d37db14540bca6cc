package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property/equivalence tests for the ops layer beyond what the sf0.01
  * oracle gate covers: LSH-vs-exact recall, hash determinism, vector math
  * invariants. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def documents = TestSpark.table("documents")
  private def embeddings = TestSpark.table("embeddings")

  private def withBroadcastThreshold[T](v: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A connected-components case, registered twice: at the session's
    * broadcast threshold (small graphs take the driver regime) and with
    * broadcasting off (every graph takes the distributed loop). Both runs
    * assert the same labels, throws and messages. */
  private def ccTest(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name [distributed regime]")(withBroadcastThreshold("-1")(body))
  }

  test("MinHash+LSH near-dups are a subset of exact Jaccard near-dups (no false positives)") {
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val exact = DedupOps.pairwiseJaccard(toks, "w", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLsh(toks, k = 8, bands = 4, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-near-dup pairs: ${lsh -- exact}")
    // Recall on this corpus: banding (4 bands x 2 rows) finds J>=0.8 pairs
    // w.h.p.; assert at least 80% here and full containment above.
    if (exact.nonEmpty)
      assert(lsh.size >= exact.size * 0.8,
        s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("minhashParamsFor: banding meets the recall floor and maximizes precision") {
    for (t <- Seq(0.5, 0.7, 0.8, 0.9); recall <- Seq(0.8, 0.9)) {
      val (k, bands) = DedupOps.minhashParamsFor(t, recall)
      val r = k / bands
      assert(k % bands == 0 && k <= 32, s"t=$t recall=$recall -> ($k, $bands)")
      // The S-curve guarantee the choice is built on.
      val p = 1.0 - math.pow(1.0 - math.pow(t, r), bands)
      assert(p >= recall, s"t=$t: P(candidate at threshold)=$p < $recall")
      // Maximal precision: one more row per band could not still fit maxK.
      val bNext = math.max(1, math.ceil(
        math.log1p(-recall) / math.log1p(-math.pow(t, r + 1))).toInt)
      assert((r + 1) * bNext > 32, s"t=$t: r=$r not maximal")
    }
  }

  test("minhashLshAuto: auto-sized banding keeps recall >= 0.8 vs exact Jaccard") {
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val exact = DedupOps.pairwiseJaccard(toks, "w", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = DedupOps.minhashLshAuto(toks, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(exact), s"false positives: ${auto -- exact}")
    if (exact.nonEmpty)
      assert(auto.size >= exact.size * 0.8,
        s"auto-banding recall too low: ${auto.size}/${exact.size}")
  }

  test("minhashLshDocs ≡ minhashLsh pair-for-pair (native sig + merge-walk verify)") {
    // The doc-level restructure (round 12): projection signatures +
    // jaccard_sorted verify must reproduce the token-relation pipeline
    // EXACTLY — same buckets (48-bit minima ↔ hex-min bijection), same
    // exact Jaccard values on the 4dp grid.
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val viaTokens = DedupOps.minhashLsh(toks, k = 8, bands = 4, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    val viaDocs = DedupOps.minhashLshDocs(documents, col("doc_id"), col("text"),
        k = 8, bands = 4, threshold = 0.8)
      .collect().map(_.toSeq).toSet
    assert(viaDocs == viaTokens && viaDocs.nonEmpty,
      s"doc-level diverged: only-docs=${(viaDocs -- viaTokens).take(3)} " +
        s"only-tokens=${(viaTokens -- viaDocs).take(3)}")
    // And at a second banding shape (k=16, bands=8).
    val t2 = DedupOps.minhashLsh(toks, k = 16, bands = 8, threshold = 0.7)
      .collect().map(_.toSeq).toSet
    val d2 = DedupOps.minhashLshDocs(documents, col("doc_id"), col("text"),
        k = 16, bands = 8, threshold = 0.7)
      .collect().map(_.toSeq).toSet
    assert(d2 == t2 && d2.nonEmpty)
  }

  test("jaccard_sorted equals the array_intersect form and handles edge cases") {
    import spark.implicits._
    // Random-ish token arrays incl. unicode, empties, and one-sided blanks.
    val df = Seq(
      ("a b c d", "b c d e"), ("", ""), ("x", "x"), ("x", "y"),
      ("многа слов", "слов многа тут"), ("a a a b", "a b"),
      ("one", ""), ("", "q r s")).toDF("ta", "tb")
      .select(
        array_sort(array_distinct(split(col("ta"), " "))).as("a"),
        array_sort(array_distinct(split(col("tb"), " "))).as("b"))
    val cmp = df.select(
      call_function("jaccard_sorted", col("a"), col("b")).as("nat"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        (size(col("a")) + size(col("b")) - size(array_intersect(col("a"), col("b"))))).as("hof"))
    val bad = cmp.where("nanvl(nat, -9) <> nanvl(hof, -9) or (nat is null) <> (hof is null)").count()
    assert(bad == 0, s"$bad rows diverge from the array_intersect form")
    // Null input arrays → null out.
    val r = spark.sql("select jaccard_sorted(cast(null as array<string>), array('a'))").head()
    assert(r.isNullAt(0))
    // Null ELEMENTS (sorted last) are excluded from sizes and the walk.
    val withNulls = spark.sql(
      "select jaccard_sorted(array_sort(array('a', 'b', cast(null as string))), array('a','b'))").head()
    assert(withNulls.getDouble(0) == 1.0)
  }

  test("compact (array) Jaccard verify equals the token-level join form") {
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val sig = DedupOps.minhashSignatures(toks, 8)
    val cand = DedupOps.lshCandidates(DedupOps.lshBandKeys(sig, 4, 2))
    val a = DedupOps.jaccardVerify(toks, cand, 0.8)
      .collect().map(_.toSeq).toSet
    val b = DedupOps.jaccardVerifyCompact(toks, cand, 0.8)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("SimHash: near-identical docs have small Hamming distance on exact dup pairs") {
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val sim = DedupOps.simhash(toks, 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Exact-duplicate prefixes (q33 groups) should agree on most bits.
    val dups = DedupOps.exactDupGroups(documents, col("doc_id"), col("text"))
      .collect()
    assert(sim.nonEmpty)
    assert(sim.values.forall(v => v >= 0 && v < (1 << 16)))
    assert(dups.forall(_.getLong(1) > 1))
  }

  test("spanDedup: shared boilerplate inside distinct documents is caught span-wise") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      // doc 0: boilerplate + 20 unique words → spans 0 (boiler) and 1.
      0L -> (boiler + " " + (1 to 20).map(i => s"u$i").mkString(" ")),
      // doc 1: all-unique words — no dup spans anywhere.
      1L -> (1 to 40).map(i => s"v$i").mkString(" "),
      // doc 2: different unique words but the SAME boilerplate as span 1.
      2L -> ((1 to 20).map(i => s"w$i").mkString(" ") + " " + boiler),
      // doc 3: short doc (< spanWords words) = exactly doc 1's first span.
      3L -> (1 to 20).map(i => s"v$i").mkString(" ")
    ).toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs, col("doc_id"), col("text"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out.size == 7, s"2+2+2+1 spans expected, got ${out.keySet}")
    // Whole-document dedup sees nothing: all four docs are distinct texts.
    // Span dedup catches the boilerplate: doc2's second span dups doc0's first.
    assert(out((2L, 1L)) == ((0L, 0L, true)))
    assert(out((0L, 0L)) == ((0L, 0L, false)), "first occurrence keeps itself")
    // ...and the short doc3 dups doc1's leading span.
    assert(out((3L, 0L)) == ((1L, 0L, true)))
    // Everything else is unique.
    assert(out.count(_._2._3) == 2)
  }

  test("spanDedup: a mega-hot span (half the corpus) resolves to one keeper") {
    import spark.implicits._
    val boiler = (1 to 20).map(i => s"hot$i").mkString(" ")
    // 2000 docs, every even id carries the SAME boilerplate span plus a
    // unique tail — the worst skew case for the span-keyed join.
    val docs = spark.sparkContext.parallelize(0L until 2000L, 8).map { i =>
      val tail = (1 to 20).map(j => s"u${i}_$j").mkString(" ")
      (i, if (i % 2 == 0) boiler + " " + tail else tail)
    }.toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs, col("doc_id"), col("text"), 20)
    val hot = out.where(col("span_no") === 0 && col("doc_id") % 2 === 0)
      .select("doc_id", "keep_doc", "is_dup").collect()
    assert(hot.length == 1000)
    // Exactly one keeper (doc 0), everyone else a dup pointing at it.
    assert(hot.forall(_.getLong(1) == 0L))
    assert(hot.count(!_.getBoolean(2)) == 1)
    // Unique tails never dup.
    val tails = out.where(col("doc_id") % 2 === 0 && col("span_no") === 1)
    assert(tails.where(col("is_dup")).count() == 0)
    // Auto hot-span detection (count-min heavy hitters → hot-only salted
    // join) reaches identical decisions with no caller-supplied hot list.
    val auto = DedupOps.spanDedup(docs, col("doc_id"), col("text"), 20,
      salts = 4, autoHotMinCount = 500L)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(canon(auto) == canon(out))
  }

  test("spanDedup: documents beyond 1000 spans keep correct keepers (struct min, no encoding cap)") {
    import spark.implicits._
    // spanWords=1 → every word is a span; doc 0 has 1001 spans. Its span
    // number 1000 ("w1000") also opens doc 1. The retired numeric keeper
    // (doc_id·1000 + span_no) assigned BOTH occurrences key 1000 —
    // 0·1000+1000 == 1·1000+0 — so each compared equal to the group min and
    // neither was marked a dup (and keep_doc decoded to 1, not 0). The
    // lexicographic struct keeper has no such collision: (0,1000) < (1,0).
    val docs = Seq(
      0L -> (0 to 1000).map(i => s"w$i").mkString(" "),
      1L -> "w1000"
    ).toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs, col("doc_id"), col("text"), spanWords = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out.size == 1002)
    assert(out((0L, 1000L)) == ((0L, 1000L, false)), "first occurrence keeps itself")
    assert(out((1L, 0L)) == ((0L, 1000L, true)),
      "doc 1's copy must point at doc 0's span 1000 — the old encoding called it a keeper")
    assert(out.count(_._2._3) == 1)
  }

  test("boundarySpanDedup: offset-shifted boilerplate is caught where fixed windows miss it") {
    import spark.implicits._
    // The SAME paragraph sits at word offset 4 in doc 0 and offset 7 in
    // doc 1: every fixed-width window pair misaligns (offsets differ
    // mod spanWords), so spanDedup sees nothing — the natural-boundary
    // segments travel with the text and must match exactly.
    val para = (1 to 12).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      0L -> (s"intro one two three | $para | tail a b c"),
      1L -> (s"other opening words four five six seven | $para | closing words"),
      // doc 2: no shared segment anywhere.
      2L -> "completely unrelated | content here | nothing shared",
      // doc 3: consecutive separators produce empty fragments (dropped by
      // the min-length floor), and sub-minChars fragments are dropped too.
      3L -> (s"|| x || $para || y |")
    ).toDF("doc_id", "text")
    val fixed = DedupOps.spanDedup(docs, col("doc_id"), col("text"), 4)
    assert(fixed.where(col("is_dup")).count() == 0,
      "fixed windows must MISS the offset-shifted paragraph (the case this op exists for)")
    val out = DedupOps.boundarySpanDedup(docs, col("doc_id"), col("text"),
        separator = "\\|", minChars = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // doc 3: "x" and "y" fall under minChars; only the paragraph remains,
    // numbered as its ONLY kept segment (span_no 0).
    assert(out.keySet.filter(_._1 == 3L) == Set((3L, 0L)))
    // The paragraph: doc 0 keeps, docs 1 and 3 are dups pointing at it.
    assert(out((0L, 1L)) == ((0L, 1L, false)))
    assert(out((1L, 1L)) == ((0L, 1L, true)))
    assert(out((3L, 0L)) == ((0L, 1L, true)))
    assert(out.count(_._2._3) == 2, s"exactly the two paragraph copies are dups: $out")
    // Salted path reaches identical decisions.
    val salted = DedupOps.boundarySpanDedup(docs, col("doc_id"), col("text"),
        separator = "\\|", minChars = 2, salts = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(salted == out)
  }

  test("boundarySpanDedup default separator: CRLF paragraphs split, ragged whitespace trims") {
    import spark.implicits._
    val para = "shared boilerplate paragraph text"
    val docs = Seq(
      // Unix doc: LF paragraph breaks, clean edges.
      0L -> s"unique intro alpha\n\n$para\n\ntail one",
      // Windows doc: CRLF breaks AND a stray trailing \r + tab indent —
      // \R{2,} must still split and the whitespace trim must still match.
      1L -> s"different opening beta\r\n\r\n\t$para\r\r\n\r\nother tail"
    ).toDF("doc_id", "text")
    val out = DedupOps.boundarySpanDedup(docs, col("doc_id"), col("text"), minChars = 2)
      .where(col("is_dup")).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 0L, 1L)),
      s"the CRLF doc's paragraph must dup the LF doc's (keeper 0,1): ${out.toSeq}")
  }

  test("pageRank: mass conserved, sinks handled, authority ordering, layout-exact") {
    import spark.implicits._
    // Star + chain: hub receives from 5 spokes (authority), spoke0 also
    // feeds a SINK (no out-edges — exercises dangling redistribution).
    val e = (1 to 5).map(i => (s"spoke$i", "hub")) ++
      Seq("hub" -> "spoke1", "spoke1" -> "sink")
    val edges = e.toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.size == 7)
    // Quantized mass stays ~1e9 (error ≤ iterations·N micro-units).
    assert(math.abs(pr.values.sum - 1000000000L) < 1000L, s"mass leaked: $pr")
    // hub collects 4 whole spokes + half of spoke1; spoke1 collects the
    // WHOLE hub (its only successor), so both far outrank a plain spoke,
    // and the sink (half of spoke1) beats plain spokes too.
    assert(pr("hub") > pr("spoke2") && pr("spoke1") > pr("spoke2") &&
      pr("sink") > pr("spoke2"),
      s"in-link authority ordering violated: $pr")
    assert(pr("spoke2") == pr("spoke3"), "symmetric spokes tie exactly")
    // Exact integers: a different layout yields IDENTICAL ranks.
    val pr2 = GraphOps.pageRank(edges.repartition(7), iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr2 == pr, "integer contract must be bit-reproducible across layouts")
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, iterations = 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, damping = 1.0)
    }
  }

  test("hitsCounts: hand-computed walk counts, multi-edge collapse, layout-exact") {
    import spark.implicits._
    // 3 hubs all citing a1, h1 also citing a2. Hand computation:
    // a1: (a1,a2) = (3,1); h1: (h1,h2,h3) = (4,3,3);
    // a2: (a1,a2) = (10,4); h2: (h1,h2,h3) = (14,10,10).
    val edges = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a1", "h3" -> "a1",
      "h2" -> "a1" /* dup collapses */).toDF("src", "dst")
    val out = GraphOps.hitsCounts(edges, iterations = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(
      "h1" -> (14L, 0L), "h2" -> (10L, 0L), "h3" -> (10L, 0L),
      "a1" -> (0L, 10L), "a2" -> (0L, 4L)), s"got $out")
    // Exact integers: layout-independent.
    val out2 = GraphOps.hitsCounts(edges.repartition(5), iterations = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out2 == out)
    // Null endpoints drop, never poison.
    val withNull = edges.unionAll(Seq((null: String, "a1")).toDF("src", "dst"))
    assert(GraphOps.hitsCounts(withNull, iterations = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap == out)
  }

  test("hits: normalized scores rank hubs/authorities, sum to 1, uniform on regular graphs") {
    import spark.implicits._
    val edges = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a1", "h3" -> "a1")
      .toDF("src", "dst")
    val out = GraphOps.hits(edges, iterations = 6)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(out.values.map(_._1).sum - 1.0) < 1e-9, "hub scores must sum to 1")
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-9, "auth scores must sum to 1")
    assert(out("a1")._2 > out("a2")._2 && out("a2")._2 > 0.0,
      s"a1 out-cited a2 3:1 — authority order violated: $out")
    assert(out("h1")._1 > out("h2")._1,
      s"h1 cites both authorities — hub order violated: $out")
    assert(math.abs(out("h2")._1 - out("h3")._1) < 1e-12, "symmetric hubs tie")
    assert(out("a1")._1 == 0.0 && out("h1")._2 == 0.0,
      "pure sources have no authority, pure sinks no hub score")
    // Regular symmetric graph (K3 doubled): A·1 is uniform, so every
    // half-step stays uniform — hub = auth = 1/3 exactly.
    val k3 = Seq("x" -> "y", "y" -> "x", "y" -> "z", "z" -> "y", "x" -> "z",
      "z" -> "x").toDF("src", "dst")
    val so = GraphOps.hits(k3, iterations = 4)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(so.forall { case (hb, au) =>
      math.abs(hb - 1.0 / 3) < 1e-9 && math.abs(au - 1.0 / 3) < 1e-9 },
      s"regular symmetric graph must be uniform: ${so.toSeq}")
    intercept[IllegalArgumentException] { GraphOps.hits(edges, iterations = 0) }
  }

  test("hits ≡ hitsCounts over their column sums while no rescale runs") {
    import spark.implicits._
    // Both operators run the same half-step from h0 = 1; below 9 rounds
    // hits never rescales, so normalizing the exact counts at the end
    // must give its scores. A cycle keeps every count nonzero somewhere.
    val edges = Seq("h1" -> "a1", "h1" -> "a2", "h2" -> "a1", "h3" -> "a1",
      "a1" -> "h2", "a2" -> "x", "x" -> "h1", "h2" -> "a1").toDF("src", "dst")
    for (it <- Seq(3, 8)) {
      val counts = GraphOps.hitsCounts(edges, iterations = it)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val sh = counts.values.map(_._1).sum.toDouble
      val sa = counts.values.map(_._2).sum.toDouble
      val scores = GraphOps.hits(edges, iterations = it)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(scores.keySet == counts.keySet)
      assert(scores.forall { case (n, (hb, au)) =>
        math.abs(hb - counts(n)._1 / sh) < 1e-12 && math.abs(au - counts(n)._2 / sa) < 1e-12 },
        s"$it rounds: hits $scores vs hitsCounts $counts")
    }
  }

  test("pageRankWeighted: equal weights ≡ unweighted; heavier edges pull more rank") {
    import spark.implicits._
    val e = ((1 to 5).map(i => (s"spoke$i", "hub")) ++
      Seq("hub" -> "spoke1", "spoke1" -> "sink")).toDF("src", "dst")
    // Uniform weights reduce EXACTLY to the unweighted form — same
    // integer micro-ranks, any constant weight (votes are shares of the
    // node's total out-weight, so the constant cancels).
    val flat = GraphOps.pageRank(e, iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w1 = GraphOps.pageRankWeighted(e.withColumn("w", lit(7.0)), "w",
      iterations = 12).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1 == flat, "constant weights must reduce to the unweighted ranks")
    // A two-successor node splitting 9:1 sends ~90% of its vote one way.
    val split = Seq(("a", "heavy", 9.0), ("a", "light", 1.0),
      ("heavy", "a", 1.0), ("light", "a", 1.0)).toDF("src", "dst", "w")
    val wr = GraphOps.pageRankWeighted(split, "w", iterations = 30)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wr("heavy") > 3L * wr("light"),
      s"9:1 out-weight must skew rank hard: $wr")
    // Parallel rows pre-sum (two 4.5s ≡ one 9.0); non-positive drop.
    val par = Seq(("a", "heavy", 4.5), ("a", "heavy", 4.5), ("a", "light", 1.0),
      ("heavy", "a", 1.0), ("light", "a", 1.0), ("x", "a", 0.0))
      .toDF("src", "dst", "w")
    val wp = GraphOps.pageRankWeighted(par, "w", iterations = 30)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wp - "x" == wr || wp == wr,
      s"parallel-edge pre-sum must match the single-edge graph: $wp vs $wr")
    assert(!wp.contains("x"), "a node with only non-positive edges drops")
  }

  test("pageRankWarm: warm ≡ cold at the integer fixpoint; closer after fewer rounds") {
    import spark.implicits._
    // Ring + chords (strongly connected); the append adds chords AND a
    // brand-new node the prior has never seen.
    val n = 24
    val base = (0 until n).map(i => (s"v$i", s"v${(i + 1) % n}")) ++
      (0 until n by 3).map(i => (s"v$i", s"v${(i * 7) % n}"))
    val appended = base ++ Seq(("v3", "v17"), ("v11", "v2"),
      ("new0", "v5"), ("v20", "new0"))
    val baseDf = base.toDF("src", "dst")
    val appDf = appended.toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // damping 0.5 so the EXACT integer fixed point is reached within the
    // test budget: the iteration contracts at rate d per round, so the
    // init gap (~5e8 micro-units) needs ~d^k < 1e-9 — 30 rounds at 0.5,
    // an impractical ~130 at the 0.85 default (the probe measures that
    // regime; the fixpoint-identity CLAIM is damping-generic).
    val d = 0.5
    // Cold from uniform and warm from the BASE graph's converged ranks
    // (new node seeded uniform) land on the SAME integer fixpoint,
    // rank-for-rank — unique for damping < 1, init-independent.
    val fix = m(GraphOps.pageRank(appDf, iterations = 40, damping = d))
    val prior = GraphOps.pageRank(baseDf, iterations = 25, damping = d)
      .select("node", "r")
    assert(m(GraphOps.pageRankWarm(appDf, prior, iterations = 40, damping = d)) == fix,
      "warm start must converge to the cold fixpoint")
    // Warm-starting AT the fixpoint is stationary: one round keeps it.
    val fixDf = fix.toSeq.toDF("node", "r")
    assert(m(GraphOps.pageRankWarm(appDf, fixDf, iterations = 1, damping = d)) == fix,
      "the fixpoint must be stationary under one warm round")
    // The maintenance claim: after a small append, the prior starts NEAR
    // the new fixpoint — strictly closer than uniform at every probe
    // depth (rounds-to-tolerance is the probe's measured version).
    def l1(got: Map[String, Long]): Long =
      (fix.keySet ++ got.keySet).toSeq
        .map(k => math.abs(got.getOrElse(k, 0L) - fix.getOrElse(k, 0L))).sum
    for (k <- Seq(1, 3)) {
      val warm = l1(m(GraphOps.pageRankWarm(appDf, prior, iterations = k, damping = d)))
      val cold = l1(m(GraphOps.pageRank(appDf, iterations = k, damping = d)))
      assert(warm < cold,
        s"warm start not closer to fixpoint after $k round(s): warm=$warm cold=$cold")
    }
    // REMOVALS are warm-sound too — the contraction's fixpoint is
    // init-independent, so no append-only contract exists here (the
    // contrast with connectedComponents, whose monotone labels make
    // deletions need the affected-cone fold). Drop two chords; departed
    // prior rows... there are none (node set unchanged), but ranks for
    // every node shift — warm from the FULL graph's fixpoint still
    // lands exactly on the shrunk graph's cold fixpoint.
    val removed = appended.filterNot(e => e == ("v3", "v17") || e == ("v6", "v18"))
    val remDf = removed.toDF("src", "dst")
    val fixRem = m(GraphOps.pageRank(remDf, iterations = 40, damping = d))
    assert(fixRem != fix, "fixture: the removal must actually move the fixpoint")
    // Integer quantization leaves a ±1-micro-unit PLATEAU of stationary
    // points (the RankLoopSpec-pinned phenomenon): warm and cold may
    // settle one unit apart on individual nodes, so the removal claim
    // is pinned to the plateau, not bitwise.
    val warmRem = m(GraphOps.pageRankWarm(remDf, fixDf, iterations = 40, damping = d))
    assert(warmRem.keySet == fixRem.keySet &&
      warmRem.forall { case (k, v) => math.abs(v - fixRem(k)) <= 1L },
      s"warm start after a removal-only change must land on the cold " +
        s"fixpoint's plateau: ${warmRem.toSeq.diff(fixRem.toSeq)}")
  }

  test("personalizedPageRank: mass, locality, seed degeneracy, layout-exact") {
    import spark.implicits._
    // Two MIRROR-IMAGE 3-cycles joined by a bidirectional bridge a<->x:
    // the graph is symmetric under the a<->x/b<->y/c<->z relabeling, so
    // seeding {a} is the ONLY asymmetry and must tilt every mirror pair
    // toward the seed side. (A one-way bridge would make the far cycle
    // absorbing and swamp any teleport bias — first draft's mistake.)
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "x",
      "x" -> "y", "y" -> "z", "z" -> "x", "x" -> "a").toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val pr = GraphOps.personalizedPageRank(edges, seeds, iterations = 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.size == 6)
    // Quantized mass conserved (error ≤ iterations·N micro-units).
    assert(math.abs(pr.values.sum - 1000000000L) < 1000L, s"mass leaked: $pr")
    // Teleport locality: every mirror pair tilts toward the seed side.
    assert(pr("a") > pr("x") && pr("b") > pr("y") && pr("c") > pr("z"),
      s"seed locality violated: $pr")
    // Seeding EVERY node degenerates to plain pageRank exactly — same
    // integer grid, same machinery, rank for rank.
    val allSeeds = Seq("a", "b", "c", "x", "y", "z").toDF("node")
    val uni = GraphOps.personalizedPageRank(edges, allSeeds, iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = GraphOps.pageRank(edges, iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == plain, "all-seed PPR must equal uniform pageRank exactly")
    // Exact integers across layouts; dangling mass returns to the SEEDS:
    // add a sink and check reproducibility still holds.
    val withSink = edges.unionAll(Seq("z" -> "sink").toDF("src", "dst"))
    val p1 = GraphOps.personalizedPageRank(withSink, seeds, iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val p2 = GraphOps.personalizedPageRank(withSink.repartition(7), seeds,
        iterations = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p1 == p2, "integer contract must be bit-reproducible across layouts")
    assert(math.abs(p1.values.sum - 1000000000L) < 1200L, s"sink leaked mass: $p1")
    // Seeds absent from the graph are dropped; none present is an error.
    intercept[IllegalArgumentException] {
      GraphOps.personalizedPageRank(edges, Seq("nowhere").toDF("node"))
    }
  }

  test("labelPropagation: ≡ in-memory reference, communities, multi-edge, layout-exact") {
    import spark.implicits._
    // Semantic oracle (the BpeSpec discipline): a naive synchronous LPA
    // with the SAME rules — out-neighbor votes over distinct edges,
    // most-frequent label wins, ties to the smallest, voteless nodes
    // keep theirs — run in memory and compared EXACTLY. Hand-tracing
    // LPA equilibria is error-prone (min-tie-breaking lets a bridge
    // label invade a community for a round before majorities correct
    // it); the reference pins the whole trajectory instead.
    def refLpa(edges: Seq[(String, String)], iters: Int): Map[String, String] = {
      val e = edges.distinct
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
      val out = e.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = nodes.map(n => n -> n).toMap
      for (_ <- 1 to iters) {
        val prev = lbl
        lbl = nodes.map { n =>
          out.getOrElse(n, Nil) match {
            case Nil => n -> prev(n)
            case ns =>
              val counts = ns.map(prev).groupBy(identity).view.mapValues(_.size)
              n -> counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
          }
        }.toMap
      }
      lbl
    }
    def sym(ps: (String, String)*): Seq[(String, String)] =
      ps.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    // Two 4-cliques joined by one weak bridge, plus a vote-less sink.
    val raw = sym("a" -> "b", "a" -> "c", "a" -> "d", "b" -> "c", "b" -> "d",
      "c" -> "d", "x" -> "y", "x" -> "z", "x" -> "w", "y" -> "z", "y" -> "w",
      "z" -> "w", "d" -> "x") ++ Seq("a" -> "sink0")
    val edges = raw.toDF("src", "dst")
    for (iters <- 1 to 3) {
      val lp = GraphOps.labelPropagation(edges, iterations = iters)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(lp == refLpa(raw, iters),
        s"iteration $iters diverges from the reference: $lp")
    }
    val lp3 = GraphOps.labelPropagation(edges, iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // Community shape: the seed-side clique floods to its min label ("a");
    // the far clique is still churning at 3 rounds (the bridge label
    // invades via min-tie-breaks before majorities correct it — the
    // reference equality above pins that whole trajectory exactly). The
    // voteless sink keeps its own label (the left-join preservation the
    // declared SQL twin's inner join cannot express).
    assert(Set("a", "b", "c", "d").map(lp3) == Set("a"),
      s"left clique must flood to its min label: $lp3")
    assert(lp3("sink0") == "sink0", s"voteless node must keep its label: $lp3")
    // Multi-edges collapse (one neighbor, one vote) and the result is
    // layout-independent (deterministic tie-break, not partition order).
    val lp3d = GraphOps.labelPropagation(edges.unionAll(edges), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lp3d == lp3, "multi-edges must not double-vote")
    val lp3r = GraphOps.labelPropagation(edges.repartition(7), iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lp3r == lp3, "result must be layout-independent")
    intercept[IllegalArgumentException] {
      GraphOps.labelPropagation(edges, iterations = 0)
    }
  }

  test("triangleCount: ≡ in-memory reference, hub graph, equal-degree ties, layout-exact") {
    import spark.implicits._
    // Semantic oracle (the labelPropagation discipline): brute-force
    // triple enumeration over the canonical undirected simple graph.
    def refTri(edges: Seq[(String, String)]): Map[String, Long] = {
      val und = edges.filter(e => e._1 != e._2)
        .map { case (u, v) => if (u < v) (u, v) else (v, u) }.distinct.toSet
      val nodes = und.toSeq.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      def adj(u: String, v: String) = und(if (u < v) (u, v) else (v, u))
      val tris = for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        k <- (j + 1) until nodes.size
        if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) &&
           adj(nodes(i), nodes(k))
      } yield Set(nodes(i), nodes(j), nodes(k))
      nodes.map(n => n -> tris.count(_.contains(n)).toLong).toMap
    }
    def run(edges: Seq[(String, String)]): Map[String, Long] =
      GraphOps.triangleCount(edges.toDF("src", "dst"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // Hub/star graph: max-degree node, ZERO triangles — degree and
    // triangle count must disagree (the operator's reason to exist).
    val star = (1 to 8).map(i => "hub" -> s"spoke$i")
    assert(run(star) == refTri(star))
    assert(run(star)("hub") == 0L, "a star has no triangles")
    // K5: every degree EQUAL (the orientation tie-breaks purely by id)
    // — each node sits on C(4,2) = 6 triangles.
    val k5 = for { a <- 'a' to 'e'; b <- 'a' to 'e' if a < b }
      yield a.toString -> b.toString
    assert(run(k5) == refTri(k5))
    assert(run(k5).values.toSet == Set(6L))
    // Mixed: two 4-cliques + a bridge + a hub star hanging off one side,
    // with reversed duplicates, a self-loop, and both-direction edges —
    // the canonicalization must collapse them all.
    val mixed = Seq("a" -> "b", "b" -> "a", "a" -> "c", "a" -> "d",
      "b" -> "c", "b" -> "d", "c" -> "d", "d" -> "d",
      "x" -> "y", "x" -> "z", "x" -> "w", "y" -> "z", "y" -> "w",
      "z" -> "w", "d" -> "x") ++ (1 to 5).map(i => "x" -> s"s$i")
    val got = run(mixed)
    assert(got == refTri(mixed), s"mixed graph diverges: $got")
    assert(got("a") == 3L && got("d") == 3L && got("s1") == 0L)
    // Layout-independent: exact integer counts, any partitioning.
    val rep = GraphOps.triangleCount(mixed.toDF("src", "dst").repartition(7))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == got, "triangle counts must be layout-independent")
    // Clustering coefficient = the normalized form: K5 interiors are
    // fully clique-like (1.0), star spokes/hub are 0, and every value
    // matches 2T/(d(d−1)) over the reference counts on the 4dp grid.
    val cc = GraphOps.clusteringCoefficient(mixed.toDF("src", "dst"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val refT = refTri(mixed)
    val und = mixed.filter(e => e._1 != e._2)
      .map { case (u, v) => if (u < v) (u, v) else (v, u) }.distinct
    val refD = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity).view.mapValues(_.size)
    assert(cc.nonEmpty && cc.forall { case (n, t0, d0, c0) =>
      t0 == refT(n) && d0 == refD(n).toLong &&
        c0 == (if (d0 >= 2) BigDecimal(2.0 * t0 / (d0 * (d0 - 1.0)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0)
    }, s"clustering coefficients diverge: ${cc.toSeq.sortBy(_._1)}")
    val ccK5 = GraphOps.clusteringCoefficient(k5.toDF("src", "dst"))
      .collect().map(_.getDouble(3)).toSet
    assert(ccK5 == Set(1.0), "every K5 node is fully clique-like")
  }

  test("triangleCountInc / clusteringCoefficientInc: fold ≡ cold on appended fixtures") {
    import spark.implicits._
    def triMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select("node", "triangles").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def ccMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Double)] =
      df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def check(oldE: Seq[(String, String)], newE: Seq[(String, String)]): Unit = {
      val oldDf = oldE.toDF("src", "dst")
      val newDf = newE.toDF("src", "dst")
      val unionDf = (oldE ++ newE).toDF("src", "dst")
      val priorT = GraphOps.triangleCount(oldDf).localCheckpoint()
      val inc = triMap(GraphOps.triangleCountInc(priorT, oldDf, newDf))
      val cold = triMap(GraphOps.triangleCount(unionDf))
      assert(inc == cold, s"triangle fold diverges:\n inc=$inc\n cold=$cold")
      val priorC = GraphOps.clusteringCoefficient(oldDf).localCheckpoint()
      val incC = ccMap(GraphOps.clusteringCoefficientInc(priorC, oldDf, newDf))
      val coldC = ccMap(GraphOps.clusteringCoefficient(unionDf))
      assert(incC == coldC, s"clustering fold diverges:\n inc=$incC\n cold=$coldC")
    }
    // Append closes triangles through OLD edges only (1 new edge/triangle).
    check(Seq("a" -> "b", "b" -> "c", "c" -> "d", "d" -> "a"),
      Seq("a" -> "c"))
    // Append whose triangles use 2 and 3 new edges (multi-counting must
    // dedup on the triple), plus brand-new nodes.
    check(Seq("a" -> "b"),
      Seq("b" -> "c", "c" -> "a", "x" -> "y", "y" -> "z", "z" -> "x"))
    // Append that FLIPS the (degree, id) orientation order of old
    // endpoints (the reorientation hazard the delta path sidesteps):
    // hub gains enough edges to pass every old neighbor's degree.
    check(Seq("h" -> "a", "h" -> "b", "a" -> "b", "a" -> "c", "b" -> "c"),
      (1 to 6).map(i => "h" -> s"p$i") ++ Seq("h" -> "c", "p1" -> "p2", "h" -> "p1"))
    // Duplicate/reversed/self-loop appends add nothing; fold is a no-op.
    val base = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d")
    check(base, Seq("b" -> "a", "a" -> "c", "d" -> "d", "c" -> "a"))
    // K5 grown edge-by-edge from K4 (every degree equal at the end).
    check((for { x <- 'a' to 'd'; y <- 'a' to 'd' if x < y } yield x.toString -> y.toString),
      ('a' to 'd').map(x => x.toString -> "e"))
  }

  test("deletion-aware triangle/clustering fold ≡ cold on (old ∖ removed) ∪ added") {
    import spark.implicits._
    def triMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select("node", "triangles").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def ccMap(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Double)] =
      df.collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def canon(e: Seq[(String, String)]): Set[(String, String)] =
      e.filter(p => p._1 != p._2)
        .map(p => if (p._1 < p._2) p else p.swap).toSet
    def check(oldE: Seq[(String, String)], addE: Seq[(String, String)],
              remE: Seq[(String, String)]): Unit = {
      val resulting = ((canon(oldE) -- canon(remE)) ++ canon(addE)).toSeq
      val oldDf = oldE.toDF("src", "dst")
      val addDf = addE.toDF("src", "dst")
      val remDf = remE.toDF("src", "dst")
      val priorT = GraphOps.triangleCount(oldDf).localCheckpoint()
      val inc = triMap(GraphOps.triangleCountInc(priorT, oldDf, addDf, remDf))
      val cold = triMap(GraphOps.triangleCount(resulting.toDF("src", "dst")))
      assert(inc == cold, s"signed triangle fold diverges:\n inc=$inc\n cold=$cold")
      val priorC = GraphOps.clusteringCoefficient(oldDf).localCheckpoint()
      val incC = ccMap(GraphOps.clusteringCoefficientInc(priorC, oldDf, addDf, remDf))
      val coldC = ccMap(GraphOps.clusteringCoefficient(resulting.toDF("src", "dst")))
      assert(incC == coldC, s"signed clustering fold diverges:\n inc=$incC\n cold=$coldC")
    }
    val k4 = for { x <- 'a' to 'd'; y <- 'a' to 'd' if x < y } yield x.toString -> y.toString
    // Pure deletion: K4 loses one edge (two triangles die, one survives).
    check(k4, Nil, Seq("a" -> "b"))
    // Deletion that ISOLATES a node: every incident edge of d removed —
    // the node must drop from the fold output like it does from cold.
    check(k4, Nil, Seq("a" -> "d", "b" -> "d", "d" -> "c"))
    // Removing an edge not in the graph (and a reversed duplicate and a
    // self loop) is a no-op.
    check(k4, Nil, Seq("a" -> "z", "b" -> "a", "c" -> "c"))
    // Remove + re-add the same existing edge in one batch: net no-op
    // (add wins; the pair must cancel, not double-count).
    check(k4, Seq("a" -> "b"), Seq("b" -> "a"))
    // Mixed batch sharing nodes: one triangle destroyed by the removal
    // while another is created by the addition through the same node.
    check(Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d"),
      Seq("a" -> "d"), Seq("b" -> "c"))
    // Removal + addition where the new triangle uses 2 new edges and a
    // brand-new node appears while an old one leaves.
    check(Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "x"),
      Seq("b" -> "n", "n" -> "a"), Seq("a" -> "x", "b" -> "c"))
    // Empty batch: fold is the identity.
    check(k4, Nil, Nil)
  }

  test("minhashDedupKeep: linear keep/drop decision is consistent") {
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val decisions = DedupOps.minhashDedupKeep(toks, 8).collect()
    val docCount = toks.select("doc_id").distinct().count()
    assert(decisions.length == docCount, "exactly one decision per doc")
    val keepers = decisions.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
    // Every dup points at a keeper, and keepers point at themselves.
    assert(decisions.forall(r => keepers.contains(r.getLong(1))))
    assert(decisions.filter(!_.getBoolean(2)).forall(r => r.getLong(0) == r.getLong(1)))
    // Dups really are near-dups: each dup's exact Jaccard to its keeper >= 0.5.
    val dupPairs = decisions.filter(_.getBoolean(2))
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)))).toSet
    if (dupPairs.nonEmpty) {
      val sims = DedupOps.pairwiseJaccard(toks, "w", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val covered = dupPairs.count(sims.contains)
      assert(covered >= dupPairs.size * 0.9,
        s"only $covered/${dupPairs.size} signature-dup pairs are real near-dups")
    }
  }

  test("pairwiseJaccard guard fires above the doc bound and names the scale twins") {
    import spark.implicits._
    val toks = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"))
      .toDF("doc_id", "w")
    val e = intercept[IllegalArgumentException] {
      DedupOps.pairwiseJaccard(toks, "w", 0.5, maxDocs = 3)
    }
    assert(e.getMessage.contains("minhashLsh"))
    // Under the bound (or with an explicit override) the audit form runs.
    assert(DedupOps.pairwiseJaccard(toks, "w", 0.5, maxDocs = 4).count() == 6)
  }

  ccTest("connectedComponents: labels are a fixpoint and equal component minima") {
    val toks = DedupOps.tokenSet(documents, col("doc_id"), col("text"))
    val pairs = DedupOps.pairwiseJaccard(toks, "w", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = DedupOps.connectedComponents(
      DedupOps.pairwiseJaccard(toks, "w", 0.8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Every edge's endpoints carry the same label.
    assert(pairs.forall { case (a, b) => labels(a) == labels(b) })
    // Each label is the min doc of its component.
    labels.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keys.min == label)
    }
  }

  ccTest("connectedComponents warm start: ≡ cold after a merging append; cheap at the fixpoint") {
    import spark.implicits._
    // Two far-apart components (a 40-link chain and a clique-ish blob),
    // then ONE appended edge merges them — the maintenance case.
    val chain = (100L until 140L).map(i => (i, i + 1))
    val blob = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L))
    val base = (chain ++ blob).toDF("d1", "d2")
    val prior = DedupOps.connectedComponents(base)
    val appended = (chain ++ blob ++ Seq((3L, 120L), (200L, 201L))).toDF("d1", "d2")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = m(DedupOps.connectedComponents(appended))
    val warm = m(DedupOps.connectedComponents(appended, warmStart = Some(prior)))
    assert(warm == cold, "warm start must reach the cold fixpoint")
    assert(warm(120L) == 0L && warm(200L) == 200L,
      "merged chain must adopt the blob's min; the new island labels itself")
    // Warm-starting AT the fixpoint: the merge is already folded in, so
    // maxIter=2 suffices (1 no-change round + convergence observation) —
    // a cold run under the same budget THROWS on the 40-link chain.
    val again = m(DedupOps.connectedComponents(appended, maxIter = 2,
      warmStart = Some(appended.select(col("d1").as("doc")).unionAll(
        appended.select(col("d2").as("doc"))).distinct()
        .join(DedupOps.connectedComponents(appended)
          .select(col("doc"), col("label")), Seq("doc"))
        .select(col("doc"), col("label")))))
    assert(again == cold, "fixpoint warm start must be stationary")
    intercept[IllegalStateException] {
      DedupOps.connectedComponents(appended, maxIter = 2).collect()
    }
    // Premise guard: warm-starting a SHRUNK edge set (not a superset of
    // the prior run's) leaves stale labels pointing at departed nodes —
    // refused, not silently returned (labels only decrease, so a stale
    // min looks exactly like a correct answer).
    val merged = DedupOps.connectedComponents(appended)
    val chainOnly = chain.toDF("d1", "d2")
    val g = intercept[IllegalArgumentException] {
      DedupOps.connectedComponents(chainOnly, warmStart = Some(merged)).collect()
    }
    assert(g.getMessage.contains("not a superset"))
  }

  test("connectedComponents warm start with a checkpoint dir: ≡ cold, one cut left") {
    import spark.implicits._
    // The warm-start fixture above, cut through a reliable directory: the
    // warm-start premise check must still find the edge cut it reads.
    val chain = (100L until 140L).map(i => (i, i + 1))
    val blob = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L))
    val prior = DedupOps.connectedComponents((chain ++ blob).toDF("d1", "d2"))
    val appended = (chain ++ blob ++ Seq((3L, 120L), (200L, 201L))).toDF("d1", "d2")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ccp-warm").toFile
    try {
      val warm = m(DedupOps.connectedComponents(appended,
        checkpointDir = Some(dir.toString), warmStart = Some(prior)))
      // The cold labels: the append merges the chain into the blob (min 0)
      // and adds the island {200, 201}.
      val cold = ((0L to 3L) ++ (100L to 140L)).map(_ -> 0L).toMap ++
        Map(200L -> 200L, 201L -> 200L)
      assert(warm == cold, "warm start through a checkpoint dir must reach the cold labels")
      val runDir = dir.listFiles().filter(_.isDirectory)
      assert(runDir.length == 1, s"expected one run dir, got ${runDir.toSeq}")
      assert(runDir.head.listFiles().count(_.isDirectory) == 1,
        s"expected only the final cut to remain: ${runDir.head.listFiles().toSeq}")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("appendNearDup: folded batches emit exactly the one-shot LSH pair set") {
    val spark2 = spark
    import spark2.implicits._
    val all = documents.where(col("doc_id") < 300).localCheckpoint()
    val b0 = all.where(col("doc_id") < 100)
    val b1 = all.where(col("doc_id") >= 100 && col("doc_id") < 200)
    val b2 = all.where(col("doc_id") >= 200)
    val root = java.nio.file.Files.createTempDirectory("graft-neardup-idx").toString
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      // Seed the index with b0; every LATER batch's pairs fold in O(batch).
      DedupOps.persistNearDupIndex(
        DedupOps.buildNearDupIndex(b0, col("doc_id"), col("text"), 8, 4),
        "ndup_w", s"$root/idx", buckets = 4)
      val got1 = pairsOf(DedupOps.appendNearDup(spark, "ndup_w", s"$root/idx",
        b1, col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4))
      val got2 = pairsOf(DedupOps.appendNearDup(spark, "ndup_w", s"$root/idx",
        b2, col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4))
      // Contract: pairs emitted across appends = one-shot pairs over the
      // union MINUS pairs internal to the seed (each pair surfaces when
      // its later doc arrives; seed-internal pairs predate the fold).
      val oneShot = pairsOf(DedupOps.minhashLshDocs(
        all, col("doc_id"), col("text"), 8, 4, 0.8))
      val seedOnly = pairsOf(DedupOps.minhashLshDocs(
        b0, col("doc_id"), col("text"), 8, 4, 0.8))
      assert(got1.nonEmpty && got2.nonEmpty, "fixture must have cross-batch near-dups")
      assert((got1 ++ got2) == (oneShot -- seedOnly),
        s"fold diverged: extra=${(got1 ++ got2) -- (oneShot -- seedOnly)} " +
          s"missing=${(oneShot -- seedOnly) -- (got1 ++ got2)}")
      assert(got1.intersect(got2).isEmpty, "a pair must surface exactly once")
      // Id hygiene: re-appending indexed ids / in-batch dups / nulls refuse.
      val eDup = intercept[IllegalArgumentException] {
        DedupOps.appendNearDup(spark, "ndup_w", s"$root/idx",
          b1, col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4)
      }
      assert(eDup.getMessage.contains("already indexed"))
      intercept[IllegalArgumentException] {
        DedupOps.appendNearDup(spark, "ndup_w", s"$root/idx",
          Seq((900L, "x y z"), (900L, "x y z")).toDF("doc_id", "text"),
          col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4)
      }
      intercept[IllegalArgumentException] {
        DedupOps.appendNearDup(spark, "ndup_w", s"$root/idx",
          Seq((Option.empty[Long], "x")).toDF("doc_id", "text"),
          col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS `ndup_w_bk`")
      spark.sql("DROP TABLE IF EXISTS `ndup_w_tk`")
    }
  }

  test("near-dup index takedowns: tombstoned docs stop pairing; compaction restores appendability") {
    val spark2 = spark
    import spark2.implicits._
    val all = documents.where(col("doc_id") < 200).localCheckpoint()
    val b0 = all.where(col("doc_id") < 100)
    val b1 = all.where(col("doc_id") >= 100)
    val root = java.nio.file.Files.createTempDirectory("graft-neardup-del").toString
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      // Baseline run (no deletions): which pairs does b1 form?
      DedupOps.persistNearDupIndex(
        DedupOps.buildNearDupIndex(b0, col("doc_id"), col("text"), 8, 4),
        "ndup_t0", s"$root/base", buckets = 4)
      val basePairs = pairsOf(DedupOps.appendNearDup(spark, "ndup_t0", s"$root/base",
        b1, col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4))
      val victim = basePairs.collectFirst {
        case (o, n) if o < 100 && n >= 100 => o
      }.getOrElse(fail("fixture must have a cross-batch pair"))
      // Fresh index: take the victim down BEFORE b1 arrives.
      DedupOps.persistNearDupIndex(
        DedupOps.buildNearDupIndex(b0, col("doc_id"), col("text"), 8, 4),
        "ndup_t1", s"$root/idx", buckets = 4)
      assert(DedupOps.deleteFromNearDupIndex(spark, "ndup_t1", s"$root/idx",
        Seq(victim).toDF("doc_id"), buckets = 4) == 1L)
      // Re-delete and never-indexed ids are no-ops (0 live hits).
      assert(DedupOps.deleteFromNearDupIndex(spark, "ndup_t1", s"$root/idx",
        Seq(victim, 99999L).toDF("doc_id"), buckets = 4) == 0L)
      // The live view hides the victim in BOTH attachments.
      val (lk, lt) = DedupOps.loadNearDupIndexLive(spark, "ndup_t1", s"$root/idx",
        buckets = 4)
      assert(lk.where(col("doc_id") === victim).count() == 0L &&
        lt.where(col("doc_id") === victim).count() == 0L)
      // The append now emits exactly the baseline pairs minus the victim's.
      val got = pairsOf(DedupOps.appendNearDup(spark, "ndup_t1", s"$root/idx",
        b1, col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4))
      assert(got == basePairs.filterNot(p => p._1 == victim || p._2 == victim))
      assert(got != basePairs, "the deletion must be observable")
      // Re-appending the tombstoned id refuses, naming the fix.
      val e = intercept[IllegalArgumentException] {
        DedupOps.appendNearDup(spark, "ndup_t1", s"$root/idx",
          b0.where(col("doc_id") === victim),
          col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4)
      }
      assert(e.getMessage.contains("compactNearDupIndex"))
      // Compaction clears the debt: the victim id is appendable again and
      // its pairs come back against the live corpus.
      DedupOps.compactNearDupIndex(spark, "ndup_t1", s"$root/idx",
        "ndup_t2", s"$root/idx2", buckets = 4)
      val got2 = pairsOf(DedupOps.appendNearDup(spark, "ndup_t2", s"$root/idx2",
        b0.where(col("doc_id") === victim),
        col("doc_id"), col("text"), 8, 4, 0.8, buckets = 4))
      assert(got2.exists(p => p._1 == victim || p._2 == victim))
      assert(got2.forall(p => p._1 == victim || p._2 == victim))
    } finally {
      Seq("ndup_t0", "ndup_t1", "ndup_t2").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS `${t}_bk`")
        spark.sql(s"DROP TABLE IF EXISTS `${t}_tk`")
      }
    }
  }

  ccTest("connectedComponentsInc: deletions split, adds merge, untouched components ride") {
    import spark.implicits._
    // Components: chain 100..120 (label 100), blob {0,1,2,3} (label 0),
    // pairs (500,501) and (600,601); the last is never touched — it must
    // ride from prior untouched.
    val chain = (100L until 120L).map(i => (i, i + 1))
    val blob = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L))
    val pairs = Seq((500L, 501L), (600L, 601L))
    val old = (chain ++ blob ++ pairs).toDF("d1", "d2")
    val prior = DedupOps.connectedComponents(old).localCheckpoint()
    // One batch exercising every case: a SPLITTING removal (chain cut at
    // 110), an ISOLATING removal (3's only edge), a redundant removal
    // (blob stays connected through 0-2-1), a no-op removal (edge never
    // existed), a MERGING add across affected components (blob↔chain), an
    // add to a brand-new node, and a remove+re-add that nets untouched.
    val removed = Seq((110L, 111L), (2L, 3L), (0L, 1L), (500L, 9999L),
      (800L, 801L)).toDF("d1", "d2")
    val added = Seq((501L, 700L), (0L, 100L), (800L, 801L)).toDF("d1", "d2")
    val newGraph = (chain.filterNot(_ == (110L, 111L)) ++
      blob.filterNot(e => e == (2L, 3L) || e == (0L, 1L)) ++ pairs ++
      Seq((501L, 700L), (0L, 100L), (800L, 801L))).toDF("d1", "d2")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold = m(DedupOps.connectedComponents(newGraph))
    val fold = m(DedupOps.connectedComponentsInc(prior, old, added, removed))
    assert(fold == cold, "fold must equal the cold run on (old ∖ removed) ∪ added")
    // Spot checks of each behavior.
    assert(fold(111L) == 111L && fold(120L) == 111L, "split tail relabels to its min")
    assert(!fold.contains(3L), "a node isolated by the batch drops")
    assert(fold(100L) == 0L && fold(2L) == 0L, "blob↔chain merge adopts the joint min")
    assert(fold(700L) == 500L, "new node joins the touched pair's component")
    assert(fold(800L) == 800L && fold(801L) == 800L, "remove+re-add nets to present")
    assert(fold(600L) == 600L && fold(601L) == 600L)
    // The untouched component RODE — its rows come from prior verbatim.
    val pm = m(prior)
    assert(fold(600L) == pm(600L) && fold(601L) == pm(601L))
    // Empty batch: identity.
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(m(DedupOps.connectedComponentsInc(prior, old, empty, empty)) == pm)
  }

  ccTest("connectedComponents: throws on non-convergence instead of returning split labels") {
    import spark.implicits._
    // Path graph 0-1-...-64: pointer jumping reaches distance ~2^t after t
    // rounds, so maxIter=3 covers only ~7 hops and must THROW (a silent
    // exit would return labels that look valid but split the chain).
    val chain = (0L until 64L).map(i => (i, i + 1)).toDF("d1", "d2")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, maxIter = 3).collect()
    }
    assert(e.getMessage.contains("maxIter"))
  }

  ccTest("connectedComponents: a 1000-link chain converges in O(log n) rounds") {
    import spark.implicits._
    // Plain min-label propagation needs O(diameter) = 1000 rounds here and
    // threw at maxIter=30; pointer jumping doubles the propagated distance
    // per round, so ~10 rounds suffice (+1 to observe the fixpoint).
    // maxIter=14 leaves margin while still proving the log-time claim.
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("d1", "d2")
    val labels = DedupOps.connectedComponents(chain, maxIter = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 1001 && labels.values.forall(_ == 0L))
  }

  test("connectedComponents regimes: same labels and schema; the gate reads id type, nulls and the threshold") {
    import spark.implicits._
    def onDriver(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.get(0) -> r.get(1)).toMap
    /** Both regimes' labels (equal, with equal schemas); `driver` is
      * whether the default threshold took the driver regime. */
    def both(pairs: org.apache.spark.sql.DataFrame, driver: Boolean): Map[Any, Any] = {
      val small = DedupOps.connectedComponents(pairs)
      val dist = withBroadcastThreshold("-1")(DedupOps.connectedComponents(pairs))
      assert(onDriver(small) == driver && !onDriver(dist))
      assert(small.schema == dist.schema, s"${small.schema} vs ${dist.schema}")
      assert(small.columns.toSeq == Seq("doc", "label"))
      assert(m(small) == m(dist))
      m(small)
    }
    val longs = both(Seq((2L, 1L), (2L, 3L), (11L, 10L), (4L, 4L)).toDF("d1", "d2"), driver = true)
    assert(longs == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 4L -> 4L))
    val ints = both(Seq((2, 1), (2, 3), (11, 10)).toDF("d1", "d2"), driver = true)
    assert(ints == Map(1 -> 1, 2 -> 1, 3 -> 1, 10 -> 10, 11 -> 10))
    // Nullable long columns with no null take the driver regime too.
    val boxed = both(Seq[(java.lang.Long, java.lang.Long)]((2L, 1L), (3L, 2L)).toDF("d1", "d2"),
      driver = true)
    assert(boxed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // String ids and a null endpoint keep the distributed loop.
    val strs = both(Seq(("b", "a"), ("c", "b"), ("y", "x")).toDF("d1", "d2"), driver = false)
    assert(strs == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    val withNull = both(Seq[(java.lang.Long, java.lang.Long)]((2L, 1L), (2L, null), (4L, 3L))
      .toDF("d1", "d2"), driver = false)
    assert(withNull.filter(_._1 != null) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // No edges at all: an empty result in both regimes.
    assert(both(Seq.empty[(Long, Long)].toDF("d1", "d2"), driver = true).isEmpty)
  }

  test("connectedComponents' driver regime: a 1k-edge long-id graph in at most 3 Spark jobs") {
    import spark.implicits._
    // 1000 edges over 1500 nodes: a 500-link chain plus 500 pairs.
    val pairs = ((0L until 500L).map(i => (i, i + 1)) ++
      (1000L until 1500L).map(i => (i, i + 1000L))).toDF("d1", "d2")
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    val labels = try {
      val r = DedupOps.connectedComponents(pairs).collect()
      org.apache.spark.graft.ListenerBusDrain(sc)
      r
    } finally sc.removeSparkListener(l)
    assert(n.get <= 3, s"connectedComponents ran ${n.get} jobs")
    val got = labels.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 1501)
    assert((0L to 500L).forall(got(_) == 0L) && (1000L until 1500L).forall(i => got(i + 1000L) == i))
  }

  test("connectedComponents: reliable checkpoint directory variant produces the same labels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ccp").toString
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2")
    val labels = DedupOps.connectedComponents(pairs, maxIter = 10,
        checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // No global SparkContext state was touched...
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    // ...and superseded cuts were dropped: only the final labels cut (the
    // files backing the returned DataFrame) survives in the run directory.
    val runDir = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(runDir.length == 1, s"expected one run dir, got ${runDir.toSeq}")
    assert(runDir.head.listFiles().count(_.isDirectory) == 1,
      s"expected only the final cut to remain: ${runDir.head.listFiles().toSeq}")
  }

  test("cosine6 is symmetric and 1.0 on itself") {
    val a = embeddings.select(col("vec_id"), col("embedding"))
    val self = a.select(VectorOps.cosine6(col("embedding"), col("embedding")).as("s"))
      .agg(min("s"), max("s")).head()
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-6)
  }

  test("hyperplane buckets are deterministic 4-bit strings and spread vectors") {
    val bk = embeddings
      .select(Ann.hyperplaneBucket(col("embedding"), 4).as("bucket"))
    val counts = bk.groupBy("bucket").count().collect()
    assert(counts.forall(r => r.getString(0).matches("[01]{4}")))
    assert(counts.length > 1, "all vectors hashed to one bucket")
    // Determinism: same expression, same result.
    val again = embeddings
      .select(Ann.hyperplaneBucket(col("embedding"), 4).as("bucket"))
      .groupBy("bucket").count().collect()
    assert(counts.map(r => (r.getString(0), r.getLong(1))).toMap ==
      again.map(r => (r.getString(0), r.getLong(1))).toMap)
  }

  test("neardupLsh: bucketed pairs are a subset of exact all-pairs near-dups, with usable recall") {
    val emb = embeddings
    val exact = emb.select(col("vec_id").as("d1"), col("embedding").as("a"))
      .join(emb.select(col("vec_id").as("d2"), col("embedding").as("b")),
        col("d1") < col("d2"))
      .where(VectorOps.cosine6Native(col("a"), col("b")) >= 0.44)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Ann.neardupLsh(emb, 0.44)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-near-dup pairs: ${lsh -- exact}")
    if (exact.nonEmpty)
      assert(lsh.size >= exact.size * 0.5,
        s"LSH recall too low at threshold 0.44: ${lsh.size}/${exact.size}")
  }

  test("lshBitsFor keeps bucket population ~constant as the corpus grows") {
    assert(Ann.lshBitsFor(100) == 2)     // floor
    assert(Ann.lshBitsFor(2000) == 4)    // 2000/128 -> 16 buckets
    assert(Ann.lshBitsFor(20000) == 8)   // 10x data -> +~3 bits
    assert(Ann.lshBitsFor(20000000) == 18)
    // Auto variant still returns a subset of exact near-dups.
    val auto = Ann.neardupLshAuto(embeddings, 0.44)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = embeddings.select(col("vec_id").as("d1"), col("embedding").as("a"))
      .join(embeddings.select(col("vec_id").as("d2"), col("embedding").as("b")),
        col("d1") < col("d2"))
      .where(VectorOps.cosine6Native(col("a"), col("b")) >= 0.44)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(exact))
  }

  test("IVF search agrees with brute-force kNN when the nearest neighbor shares the probe's cell") {
    val emb = embeddings
    val clu = Ann.ivfAssign(emb.where(col("vec_id") >= 8), emb.where(col("vec_id") < 8))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clu.nonEmpty)
    assert(clu.values.forall(c => c >= 0 && c < 8))
  }

  test("quality/langid columns stay in range") {
    val q = documents.select(
      TextOps.stopwordRatio(col("text")).as("sr"),
      TextOps.typeTokenRatio(col("text")).as("ttr"))
      .agg(min("sr"), max("sr"), min("ttr"), max("ttr")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
    assert(q.getDouble(2) > 0.0 && q.getDouble(3) <= 1.0)
  }
}
